package graft.ops

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data-pipeline operators beyond SURVEY.md §2 — the
  * BASELINE.json north-star extensions: scalable dedup (MinHash-LSH,
  * SimHash, fingerprinting), LSH-bucketed ANN, text analysis (language
  * ID, quality scoring, token counting), and multimodal binary-column
  * plumbing.
  *
  * Engine-parity design: every hash these operators need is derived
  * from `md5` (bit-identical lowercase hex in Spark and DuckDB; Spark's
  * `hash`/`xxhash64` seeds differ from every other engine) and every
  * vector dot product that crosses a distributed aggregation is
  * quantized to exact BIGINT arithmetic (floor(x*1e6)) so partial-agg
  * merge order cannot flip a sign bit. That makes even the sketching
  * operators (q49/q50/q55) hash-matchable against DuckDB.
  *
  * Scale notes:
  *  - MinHash-LSH (q49) is THE 100 TB dedup path: candidate pairs come
  *    from equality joins on band keys (shuffle by band), never from a
  *    doc×doc comparison; exact Jaccard is then computed only for
  *    candidates.
  *  - SimHash (q50) is one explode + two partial-agg groupBys; state per
  *    doc is 16 counters.
  *  - ANN (q55): the plane table is O(bits×dim) and broadcast; vectors
  *    shuffle once keyed by (vec, plane); probe lookup is an equality
  *    join on the bucket id.
  *  - Language ID / quality / token stats are per-row projections with
  *    codegen'd HOF lambdas — embarrassingly parallel.
  */
object Extensions extends QueryPack {

  /** doc_id → DISTINCT non-empty tokens. Dedup is PER-DOC, so it needs
    * no global `.distinct()` exchange: `array_distinct` on the split
    * array computes the same set row-locally. The docs are spread by an
    * explicit-N repartition (N = the session's shuffle-partition conf,
    * never a constant) BEFORE the explode: the downstream
    * groupBy(doc_id) then reuses this partitioning (zero further
    * exchanges), and the CPU-heavy per-token work (md5 + vote sums)
    * runs at full width. The old shape paid two exchanges (token-row
    * distinct, then doc-keyed agg) and AQE coalesced the byte-small
    * distinct output to ONE task, serializing the md5/vote loop
    * (event-log profile: 2.2 s + 1.6 s single-task stages inside q236).
    * An explicit N is load-bearing: repartition(col) without N is an
    * AQE-coalescible shuffle origin, which would re-serialize it. */
  private def toks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
      .select(col("doc_id"), explode(expr(
        "array_distinct(filter(split(text, ' '), x -> x <> ''))")).as("tok"))

  /** SimHash signatures over the per-doc distinct-token sets: bit j of
    * a token's hash is bit (3 − j%4) of md5 hex digit (j div 4); the
    * sign of the ±1 vote sum per position gives the signature bit. q50
    * reports the 16-bit signatures; q236 dedups on the 60-bit variant
    * (60 = 15 hex digits, the repo's md5 window — and shiftleft at
    * j ≤ 59 stays clear of the signed-64 overflow DuckDB errors on). */
  private def simhashSigs(s: SparkSession, dir: String, bits: Int): DataFrame = {
    // The token's bits-wide hash is ONE bigint (the first bits/4 md5 hex
    // digits, digit 0 most significant), so token-hash bit j — defined
    // above as bit (3 − j%4) of digit (j div 4) — is bit (bits−1−j) of
    // h. The ±1 vote sums are bits separate map-side-combinable sum
    // aggregates over the token rows: ONE doc-keyed shuffle of partial
    // vote vectors, versus the first formulation's ×bits per-token row
    // explode feeding two full groupBys (measured 9.6 s → 2.9 s for
    // q236 at sf0.1; identical signatures bit-for-bit).
    val votes = (0 until bits).map(j =>
      sum(expr(s"2 * cast(shiftright(h, ${bits - 1 - j}) & 1 as int) - 1")).as(s"s$j"))
    val sig = (0 until bits)
      .map(j => s"shiftleft(cast(CASE WHEN s$j >= 0 THEN 1 ELSE 0 END as bigint), $j)")
      .mkString(" + ")
    toks(s, dir)
      .withColumn("h", expr(
        s"cast(conv(substr(md5(cast(tok as binary)), 1, ${bits / 4}), 16, 10) as bigint)"))
      .groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), expr(sig).as("simhash"))
  }

  private val stopEn = Seq("the", "a", "and", "of", "to", "in", "is", "it")
  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")

  /** q51's per-document language prediction frame (doc_id, lang, pred)
    * — shared with the q210 classifier-evaluation readout so both
    * score the SAME deterministic heuristic. */
  private[ops] def langPred(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val lists = Map(
      "en" -> stopEn,
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
      "es" -> Seq("el", "los", "y", "es", "una", "que", "por", "con"),
      "fr" -> Seq("le", "les", "et", "est", "une", "dans", "pour", "sur"),
      "zh" -> Seq("的", "是", "不", "了", "在", "我", "有", "和"))
    val hits = lists.toSeq.sortBy(_._1).map { case (l, ws) =>
      expr(s"size(filter(w, x -> x IN (${inList(ws)})))").as(s"c_$l")
    }
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .select(col("doc_id") +: col("lang") +: hits: _*)
      .withColumn("pred", expr(
        "CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en' " +
        "WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de' " +
        "WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es' " +
        "WHEN c_fr >= c_zh THEN 'fr' ELSE 'zh' END"))
  }

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // MinHash(16) + LSH(4 bands × 4 rows) dedup machinery, reported as
    // per-band bucket statistics (see inline note on why pairs are not
    // enumerated). One md5 per token provides a 60-bit base hash; the 16
    // signature slots come from a universal-hash family h_i = (a_i·h +
    // b_i) mod p computed as 16 min-aggregates in ONE pass (no 16×
    // explode, no string mins — the first formulation spent 82 s at
    // sf0.1 on 24M md5 calls; this one does 1.5M). All arithmetic is
    // exact BIGINT (a_i·h < 2^63), so it hash-matches DuckDB.
    "q49_minhash_lsh" -> ((s, dir) => {
      val p = 1000000007L
      // Token sets stay IN-ROW as arrays: the signature pipeline is pure
      // per-row HOF work (one md5 per distinct token), so nothing
      // shuffles until the (tiny) band grouping. An earlier explode-
      // based draft recomputed the tokenize+distinct shuffle 5× across
      // the DAG's branches — 43 s at sf0.1; this shape runs in ~3 s and
      // shuffles only doc-keyed rows, which is the scale-correct layout.
      val sigCols = (0 until 16).map { i =>
        expr(s"array_min(transform(hs, h -> (${2 * i + 3} * h + ${5 * i + 7}) % $p))").as(s"mh$i")
      }
      val docsets = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("array_distinct(filter(split(text, ' '), x -> x <> ''))").as("toks"))
        .withColumn("hs", expr(s"transform(toks, tk -> md5_mod(tk, ${p}L))"))
        .select(col("doc_id") +: sigCols: _*)
      val bandStructs = (0 until 4).map { b =>
        val key = concat_ws(",", (0 until 4).map(r => col(s"mh${4 * b + r}")): _*)
        struct(lit(b).as("b"), key.as("bandkey"))
      }
      // This corpus is drawn from a ~30-word vocabulary, so token SETS
      // are highly degenerate — enumerating candidate PAIRS is O(k²)
      // per bucket (6.1M pairs at sf0.1) and would be insane at 100 TB.
      // The scale-correct LSH-dedup report is per-band bucket stats:
      // bucket count, multi-doc buckets, candidate-pair count (k·(k-1)/2
      // computed from bucket sizes, never enumerated), and the dedup
      // survivor count (one doc kept per band-0 bucket). Pair-level
      // Jaccard on a non-degenerate blocking key is q40.
      docsets
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
        .groupBy(col("bk.b").as("b"), col("bk.bandkey").as("bandkey"))
        .agg(count(lit(1)).as("k"))
        .groupBy(col("b"))
        .agg(
          count(lit(1)).as("n_buckets"),
          sum(when(col("k") > 1, 1).otherwise(0)).as("n_multi_buckets"),
          sum(expr("k * (k - 1) div 2")).as("n_cand_pairs"),
          max(col("k")).as("max_bucket"))
        .orderBy(col("b"))
    }),

    // ------------------------------------------------------------------
    // 16-bit SimHash from md5 hex digits: bit j of token hash is bit
    // (3 - j%4) of hex digit (j div 4); sign of the ±1 vote sum per bit
    // position gives the signature. Docs sharing a signature = dup set.
    // (Signature pipeline shared with q236's 60-bit dedup variant.)
    "q50_simhash" -> ((s, dir) =>
      simhashSigs(s, dir, 16).orderBy(col("doc_id"))),

    // ------------------------------------------------------------------
    // Language ID by stopword-hit heuristic; deterministic tie-break
    // preference en > de > es > fr > zh. Output = confusion counts
    // against the labeled lang.
    "q51_langid" -> ((s, dir) =>
      langPred(s, dir)
        .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("pred"))),

    // ------------------------------------------------------------------
    // Quality scoring: length / uniqueness / stopword-ratio composite.
    "q52_quality_score" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("w"),
          length(col("text")).as("n_chars_m"))
        .select(
          col("doc_id"),
          size(col("w")).as("n_tok"),
          size(array_distinct(col("w"))).as("n_uniq"),
          expr(s"size(filter(w, x -> x IN (${inList(stopEn)})))").as("n_stop"),
          col("n_chars_m"))
        .withColumn("uniq_ratio", round(col("n_uniq") / col("n_tok"), 6))
        .withColumn("stop_ratio", round(col("n_stop") / col("n_tok"), 6))
        // score uses the RAW ratios, not the rounded ones: rounded
        // inputs × one-decimal weights put the exact score on a 1e-7
        // grid, where 6-dp rounding hits GENUINE .5 ties that the two
        // engines' round implementations break differently (observed
        // once in 50k docs at sf0.1); raw ratios make ties ~1-ULP rare.
        .withColumn("score", round(
          least(col("n_tok") / 100.0, lit(1.0)) * 0.3
            + (col("n_uniq") / col("n_tok")) * 0.4
            + (col("n_stop") / col("n_tok")) * 0.3, 6))
        .withColumn("bucket", expr(
          "CASE WHEN score >= 0.6 THEN 'high' WHEN score >= 0.4 THEN 'mid' ELSE 'low' END"))
        .orderBy(col("doc_id"))),

    // ------------------------------------------------------------------
    // Token counting: whitespace tokens, regex (BPE-ish word/number
    // pieces) tokens, char counts.
    "q53_token_count" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          expr("size(filter(split(text, ' '), x -> x <> ''))").as("ws_toks"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("re_toks"),
          length(col("text")).as("chars"),
          length(regexp_replace(col("text"), " ", "")).as("chars_nospace"))
        .orderBy(col("doc_id"))),

    // ------------------------------------------------------------------
    // Document fingerprint: md5 over the sorted distinct token set —
    // canonical-form dedup clustering (order/duplication insensitive).
    "q54_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), md5(expr(
          "cast(array_join(array_sort(array_distinct(filter(split(text, ' '), x -> x <> ''))), ' ') as binary)"))
          .as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
        .orderBy(col("fp"))),

    // ------------------------------------------------------------------
    // Polynomial (Rabin-Karp) rolling hash over the character stream:
    // h = fold (a·131 + codepoint) mod p, seed 7 — the classic
    // content-defined fingerprint, plus the same hash over the first
    // 64 chars (the "window" a rolling dedup would slide). Exact
    // BIGINT arithmetic, sequential in-row fold → engine-identical.
    "q66_rolling_hash" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          col("doc_id"),
          expr("aggregate(split(text, ''), cast(7 as bigint), (a, c) -> (a * 131 + ascii(c)) % 1000000007)").as("rhash"),
          expr("aggregate(split(substr(text, 1, 64), ''), cast(7 as bigint), (a, c) -> (a * 131 + ascii(c)) % 1000000007)").as("rhash64"))
        .orderBy(col("doc_id"))),

    // ------------------------------------------------------------------
    // Sliding-window rolling-hash dedup (q66 is the fingerprint; THIS is
    // the dedup operator): every 64-char window of every doc is hashed
    // with the same Rabin-Karp polynomial, and docs sharing a window
    // hash become candidate pairs via the q40 group-then-expand + df-cap
    // machinery — containment = shared / min(windows), the overlap
    // detector that catches partial copies Jaccard dilutes.
    //
    // Window hashes come from the native codegen'd `rolling_win_hashes`
    // expression (functions/RollingWindowHashes.scala): one O(len)
    // generated loop per document emitting array<bigint>, exploded to
    // (doc, hash) rows. History of this hot path at sf0.1 (1.17M
    // windows): per-window `aggregate` HOF fold 13.7 s (HOFs don't
    // codegen) → prefix-sum + lag(S,64) over exploded codepoints 2.8–5 s
    // (codegen'd, but 1.17M rows through two Window operators) → native
    // expression ~1 s (no per-char row blow-up, no Window machinery).
    // Docs bounded at 8192 chars on BOTH engines (explicit, not silent;
    // longer docs chunk upstream).
    "q73_rolling_dedup" -> ((s, dir) => {
      // Window-hash distinctness is PER-DOC, so array_distinct on the
      // native expression's array replaces the old global `.distinct()`
      // exchange of 1.17M (doc, wh) rows; the explicit-N repartition
      // runs the O(len) hash loop at full width (the docs scan is one
      // parquet split locally — the old shape hashed 1.17M windows in
      // ONE task, 1.3 s of the key's 3.3 s). n_w (windows per doc)
      // rides along each wh row for 4 bytes so the pair stage needs no
      // join back to a sizes frame — the old shape joined the pair
      // output to sizes TWICE.
      val wh = Tables.documents(s, dir)
        .filter(length(col("text")).between(64, 8192))
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        .select(col("doc_id"), expr("array_distinct(rolling_win_hashes(text))").as("whs"))
        .select(col("doc_id"), size(col("whs")).cast("long").as("n_w"),
          explode(col("whs")).as("wh"))
        // materialized ONCE (localCheckpoint): the df-filter and the
        // pair join both consume wh and exchange reuse does not dedupe
        // them across branches — without this the scan→hash subtree
        // runs twice
        .localCheckpoint()
      val keep = wh.groupBy(col("wh")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 1 && col("df") <= Text.maxShingleDf)
        .select(col("wh"))
      // deliberately NO broadcast hint on keep: the multi-doc hash set
      // is not cardinality-bounded (a high-dup corpus can make it
      // arbitrarily large), and keep arrives through a shuffle, so AQE
      // holds its exact size and up-converts to a runtime broadcast
      // join precisely when it is small enough
      wh.join(keep, "wh")
        .groupBy(col("wh"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("n_w")))).as("ds"))
        .select(explode(expr(
          "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), " +
            "b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_w AS na, b.n_w AS nb))))")).as("p"))
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
          col("p.na").as("na"), col("p.nb").as("nb"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_shared"), max(col("na")).as("na"), max(col("nb")).as("nb"))
        .withColumn("containment", round(col("n_shared") / least(col("na"), col("nb")), 6))
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("na"), col("nb"), col("containment"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ------------------------------------------------------------------
    // LSH-bucketed ANN: 8 deterministic hyperplanes with integer
    // weights derived from md5 hex digits; vectors quantized to BIGINT
    // so the bucket bit = sign(exact integer dot). Output: each probe's
    // bucket + candidate-set size (the vectors a bucketed search would
    // scan instead of all N — the IVF-style contraction).
    "q55_ann_lsh" -> ((s, dir) => {
      val planes = s.range(0, 8).select(col("id").cast("int").as("j"))
        .crossJoin(s.range(1, 65).select(col("id").cast("int").as("d")))
        .withColumn("w2", expr(
          "2 * (position(substr(md5(cast(concat(cast(j as string), '_', cast(d as string)) as binary)), 1, 1), '0123456789abcdef') - 1) - 15"))
      val expl = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), (col("pos") + 1).as("d"),
          expr("cast(floor(cast(x as double) * 1000000) as bigint)").as("xq"))
      val buckets = expl.join(broadcast(planes), "d")
        .groupBy(col("vec_id"), col("j"))
        .agg(sum(col("xq") * col("w2")).as("dot"))
        .withColumn("bit", expr("CASE WHEN dot >= 0 THEN cast(1 as bigint) ELSE cast(0 as bigint) END"))
        .groupBy(col("vec_id"))
        .agg(sum(expr("shiftleft(bit, j)")).as("bucket"))
      val probes = buckets.filter(col("vec_id") < 3)
        .select(col("vec_id").as("probe_id"), col("bucket"))
      probes.join(buckets, "bucket")
        .filter(col("vec_id") =!= col("probe_id"))
        .groupBy(col("probe_id"), col("bucket"))
        .agg(count(lit(1)).as("n_candidates"))
        .orderBy(col("probe_id"))
    }),

    // ------------------------------------------------------------------
    // Multimodal binary-column plumbing: media as an opaque BLOB with
    // typed metadata alongside; byte-level ops (length, content hash,
    // header inspection, stride sampling) all all run on the binary
    // payload. The payload here is the utf-8 text bytes (no media libs
    // in-container); at 100 TB this column is image/audio bytes and the
    // pipeline shape is identical.
    "q56_multimodal" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("text").cast("binary").as("payload"))
        .select(
          col("doc_id"), col("lang"), col("n_chars"),
          octet_length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("content_hash"),
          substring(hex(col("payload")), 1, 16).as("head_hex"),
          expr("array_join(transform(sequence(0, 3), k -> substr(hex(payload), 1 + k * 64, 2)), ',')").as("stride_sample"))
        .orderBy(col("doc_id"))),

    // ------------------------------------------------------------------
    // Multimodal decode stage: the per-partition decoder pattern
    // (Spark's Scala analogue of mapInPandas) with a REAL codec —
    // encode synthesizes a deterministic RLE "image" per document
    // (GRFT header + run-length pixel pairs, see MultimodalCodec) and
    // decode then genuinely PARSES those bytes: validates magic/
    // version, reads big-endian dims, RLE-expands, and reduces the
    // decoded pixels to typed all-BIGINT features (no float to drift).
    // Decode touches ONLY payload bytes, never doc_id-derived values,
    // so the oracle — which recomputes the stats from the pixel
    // formula in SQL — matches iff the codec round-trips bit-exactly.
    // At 100 TB the payload column is real image bytes and this
    // binary-column-in → feature-row-out per-partition batch shape is
    // unchanged; the codec is synthetic-but-real RLE rather than JPEG
    // only because no media libs exist in-container
    // (MultimodalCodecSpec covers round-trip + malformed rejection).
    "q57_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => id -> MultimodalCodec.encode(id)))
        .toDF("doc_id", "payload")
        .as[(Long, Array[Byte])]
        .mapPartitions(_.map { case (id, bytes) =>
          val d = MultimodalCodec.decode(bytes)
          (id, d.w.toLong, d.h.toLong, d.nPx, d.nRuns, d.maxRun, d.sumPx, d.checksum)
        })
        .toDF("doc_id", "w", "h", "n_px", "n_runs", "max_run", "sum_px", "checksum")
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // Multimodal TRANSFORM stage (2×2 average-pool downsample) — the
    // resize/feature-extract step between q56's metadata pass and
    // q57's decode: encode → decode the RASTER from bytes → floor-pool
    // 2×2 → per-image pooled statistics, all inside ONE mapPartitions
    // batch (iterator-in/iterator-out — the exact shape a Pandas-UDF
    // media stage has at 100 TB: partition-local, no shuffle until the
    // tiny stats rows). The oracle recomputes every pooled statistic
    // from the pixel FORMULA, so it certifies byte-level decode AND
    // the pooling arithmetic end-to-end (the Spark side never consults
    // the formula). Odd trailing row/col drops (standard floor pool).
    "q354_multimodal_pool" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map { id =>
          val p = MultimodalCodec.pool2x(MultimodalCodec.encode(id))
          (id, p.w2.toLong, p.h2.toLong, p.nPx2, p.sumPx2, p.checksum2)
        })
        .toDF("doc_id", "w2", "h2", "n_px2", "sum_px2", "checksum2")
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // MinHash estimator quality: for every q40 candidate pair (the
    // memoized blocked graph), compare the 16-hash signature agreement
    // rate against the exact Jaccard — the calibration a dedup pipeline
    // runs before trusting signatures at a threshold. Signatures are
    // the q49 pipeline verbatim (md5-based, engine-reproducible); sigs
    // localCheckpoint once and join both pair sides. NOTE the estimator
    // targets TOKEN-set Jaccard while q40's exact value is 5-SHINGLE
    // Jaccard, so abs_err reports the honest end-to-end proxy gap —
    // exactly what the calibration wants to expose.
    "q190_minhash_eval" -> ((s, dir) => {
      val p = 1000000007L
      val sigCols = (0 until 16).map { i =>
        expr(s"array_min(transform(hs, h -> (${2 * i + 3} * h + ${5 * i + 7}) % $p))").as(s"mh$i")
      }
      val sig = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("array_distinct(filter(split(text, ' '), x -> x <> ''))").as("toks"))
        .withColumn("hs", expr(
          s"transform(toks, tk -> md5_mod(tk, ${p}L))"))
        .select(col("doc_id") +: sigCols: _*)
        .localCheckpoint() // joined twice: the a and b pair sides
      val matches = (0 until 16).map(i => s"cast(mha$i = mhb$i as int)").mkString(" + ")
      Text.nearDupPairs(s, dir)
        .join(sig.select(col("doc_id").as("doc_a") +:
          (0 until 16).map(i => col(s"mh$i").as(s"mha$i")): _*), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b") +:
          (0 until 16).map(i => col(s"mh$i").as(s"mhb$i")): _*), "doc_b")
        .withColumn("est", expr(s"cast($matches as double) / 16.0"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          round(col("est"), 6).as("mh_est"),
          round(expr("abs(est - jaccard)"), 6).as("abs_err"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ------------------------------------------------------------------
    // SimHash near-dup DEDUP — the operator q50's signatures exist for:
    // 60-bit signatures, 4 bands × 15 bits (any pair within Hamming
    // distance 3 shares ≥1 identical band — exact recall at the
    // threshold), band-bucket candidate generation with q40's
    // hot-bucket cap (≤1000), Hamming verify via codegen'd
    // bit_count(xor). The readout is the SCALE-CORRECT summary (q49's
    // lesson: this corpus's signatures are degenerate, so pair-level
    // output explodes; counts + Hamming profile are what a dedup
    // report needs): candidates, verified dups, docs involved,
    // min/mean Hamming.
    "q236_simhash_dedup" -> ((s, dir) => {
      val sigs = simhashSigs(s, dir, 60)
        .select(col("doc_id"), col("simhash").as("sig"))
        .localCheckpoint() // consumed 2×: stats + band buckets
      // Pairs carry both signatures INLINE from the bucket expansion
      // (struct(doc_id, sig) in the collect_list): the old shape joined
      // the 1.15M-pair frame back to sigs TWICE to fetch sa/sb — two
      // shuffled joins of every candidate pair, 7 s of executor time at
      // sf0.1 — where sa/sb are functions of the pair and can ride
      // along for 2 extra longs per row. distinct() on (doc_a, doc_b,
      // sa, sb) equals distinct on the pair. The explicit-N round-robin
      // repartition spreads the quadratic per-bucket pair expansion
      // across the cluster; without it AQE coalesces the byte-small
      // bucket rows (10k buckets) into ONE task that explodes all
      // 1.15M pairs serially (event-log: 1.8 s single-task stage).
      // Round-robin, not hash(bk): a bk-keyed repartition is elided as
      // redundant against the groupBy's own hash(bk) partitioning, and
      // round-robin is also the right load balance for expansion work
      // whose cost is quadratic in bucket size, not uniform per key.
      val ver = sigs
        .select(col("doc_id"), col("sig"), explode(expr(
          "transform(sequence(0, 3), b -> (shiftright(sig, cast(15 * b as int)) & 32767) * 4 + b)"))
          .as("bk"))
        .groupBy(col("bk"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("ds"),
          count(lit(1)).as("k"))
        .filter(col("k") > 1 && col("k") <= 1000)
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(explode(expr(
          "flatten(transform(ds, (a, i) -> transform(slice(ds, i + 2, size(ds)), " +
            "b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb))))"))
          .as("p"))
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
          col("p.sa").as("sa"), col("p.sb").as("sb"))
        .distinct()
        .withColumn("hamming", expr("bit_count(sa ^ sb)"))
        .localCheckpoint() // consumed twice: summary + dup-doc count
      val dupDocs = ver.filter(col("hamming") <= 3).select(col("doc_a").as("d"))
        .union(ver.filter(col("hamming") <= 3).select(col("doc_b").as("d")))
        .agg(countDistinct(col("d")).as("n_docs_in_dups"))
      val ns = sigs.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("sig")).as("n_distinct_sigs"))
      ver.agg(count(lit(1)).as("n_cand_pairs"),
          sum(when(col("hamming") <= 3, 1L).otherwise(0L)).as("n_dup_pairs"),
          min(col("hamming")).as("min_hamming"),
          sum(col("hamming").cast("decimal(18,6)")).as("sh"))
        .crossJoin(broadcast(ns)).crossJoin(broadcast(dupDocs))
        .select(col("n_docs"), col("n_distinct_sigs"), col("n_cand_pairs"),
          col("n_dup_pairs"), col("n_docs_in_dups"), col("min_hamming"),
          round(expr(
            "CASE WHEN n_cand_pairs = 0 THEN NULL ELSE cast(sh as double) / n_cand_pairs END"), 6)
            .as("mean_hamming"))
    }),

    // ------------------------------------------------------------------
    // LSH banding tuner: q49's 16-slot MinHash signatures re-bucketed
    // at EVERY (bands × rows) split of 16 — (2,8)/(4,4)/(8,2)/(16,1) —
    // with the measured candidate load (Σ k(k−1)/2 from bucket sizes,
    // never enumerated) next to the theoretical detection probability
    // 1−(1−j^r)^b at reference similarities j ∈ {0.3, 0.5, 0.8}. This
    // is the table that picks a banding BEFORE a billion-doc LSH run:
    // recall you need vs candidate volume you pay. Signatures are
    // built once (localCheckpoint, 4 banding consumers); powers are
    // exp/ln on both engines (the proven parity transcendentals).
    "q271_lsh_tuning" -> ((s, dir) => {
      val p = 1000000007L
      val sigCols = (0 until 16).map { i =>
        expr(s"array_min(transform(hs, h -> (${2 * i + 3} * h + ${5 * i + 7}) % $p))").as(s"mh$i")
      }
      val sig = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("array_distinct(filter(split(text, ' '), x -> x <> ''))").as("toks"))
        .withColumn("hs", expr(s"transform(toks, tk -> md5_mod(tk, ${p}L))"))
        .select(col("doc_id") +: sigCols: _*)
        .localCheckpoint() // four banding rebuckets consume it
      def banding(b: Int): org.apache.spark.sql.DataFrame = {
        val r = 16 / b
        val bandStructs = (0 until b).map { j =>
          val key = concat_ws(",", (0 until r).map(i => col(s"mh${r * j + i}")): _*)
          struct(lit(j).as("j"), key.as("bandkey"))
        }
        def pd(jac: String) =
          s"round(1.0 - exp($b * ln(1.0 - exp($r * ln($jac)))), 6)"
        sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
          .groupBy(col("bk.j").as("j"), col("bk.bandkey").as("bandkey"))
          .agg(count(lit(1)).as("k"))
          .agg(count(lit(1)).as("n_buckets"),
            sum(when(col("k") > 1, 1).otherwise(0)).as("n_multi_buckets"),
            sum(expr("k * (k - 1) div 2")).as("n_cand_pairs"),
            max(col("k")).as("max_bucket"))
          .selectExpr(s"$b AS bands", s"$r AS rows_per_band",
            "n_buckets", "n_multi_buckets", "n_cand_pairs", "max_bucket",
            pd("0.3") + " AS p_detect_j30",
            pd("0.5") + " AS p_detect_j50",
            pd("0.8") + " AS p_detect_j80")
      }
      Seq(2, 4, 8, 16).map(banding).reduce(_ union _).orderBy(col("bands"))
    }),
  )

  def oracles: Map[String, String] = Map(
    "q49_minhash_lsh" -> {
      val p = "1000000007"
      val sigSql = (0 until 16).map(i =>
        s"list_min(list_transform(hs, h -> (${2 * i + 3} * h + ${5 * i + 7}) % $p)) AS mh$i").mkString(", ")
      val bandsSql = (0 until 4).map { b =>
        val key = (0 until 4).map(r => s"mh${4 * b + r}").mkString(", ")
        s"SELECT doc_id, $b AS b, concat_ws(',', $key) AS bandkey FROM sig"
      }.mkString(" UNION ALL ")
      ("WITH docsets AS (SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks FROM documents), "
        + s"hashed AS (SELECT doc_id, toks, len(toks) AS n_tok, list_transform(toks, tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) % $p) AS hs FROM docsets), "
        + s"sig AS (SELECT doc_id, $sigSql FROM hashed), "
        + s"bands AS ($bandsSql), "
        + "buckets AS (SELECT b, bandkey, count(*) AS k FROM bands GROUP BY b, bandkey) "
        // CAST: DuckDB integer sum() returns HUGEINT → driver-side float64
        + "SELECT b, count(*) AS n_buckets, CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets, "
        + "CAST(sum(k * (k - 1) // 2) AS BIGINT) AS n_cand_pairs, max(k) AS max_bucket FROM buckets GROUP BY b ORDER BY b")
    },
    "q271_lsh_tuning" -> {
      val p = "1000000007"
      val sigSql = (0 until 16).map(i =>
        s"list_min(list_transform(hs, h -> (${2 * i + 3} * h + ${5 * i + 7}) % $p)) AS mh$i").mkString(", ")
      def bandRow(b: Int): String = {
        val r = 16 / b
        val bandsSql = (0 until b).map { j =>
          val key = (0 until r).map(i => s"mh${r * j + i}").mkString(", ")
          s"SELECT doc_id, $j AS j, concat_ws(',', $key) AS bandkey FROM sig"
        }.mkString(" UNION ALL ")
        def pd(jac: String) = s"round(1.0 - exp($b * ln(1.0 - exp($r * ln($jac)))), 6)"
        (s"(SELECT $b AS bands, $r AS rows_per_band, count(*) AS n_buckets, "
          + "CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets, "
          + "CAST(sum(k * (k - 1) // 2) AS BIGINT) AS n_cand_pairs, max(k) AS max_bucket, "
          + pd("0.3") + " AS p_detect_j30, " + pd("0.5") + " AS p_detect_j50, "
          + pd("0.8") + " AS p_detect_j80 "
          + s"FROM (SELECT j, bandkey, count(*) AS k FROM ($bandsSql) GROUP BY j, bandkey))")
      }
      ("WITH docsets AS (SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks FROM documents), "
        + s"hashed AS (SELECT doc_id, list_transform(toks, tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) % $p) AS hs FROM docsets), "
        + s"sig AS MATERIALIZED (SELECT doc_id, $sigSql FROM hashed) "
        + Seq(2, 4, 8, 16).map(bandRow).mkString(" UNION ALL ")
        + " ORDER BY bands")
    },
    "q50_simhash" ->
      ("WITH t AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "votes AS (SELECT doc_id, j, CASE WHEN (((strpos('0123456789abcdef', substr(md5(tok), 1 + j // 4, 1)) - 1) >> (3 - j % 4)) & 1) = 1 THEN 1 ELSE -1 END AS vote "
        + "FROM t CROSS JOIN (SELECT unnest(range(0, 16)) AS j)), "
        + "bits AS (SELECT doc_id, j, CASE WHEN sum(vote) >= 0 THEN 1 ELSE 0 END AS bit FROM votes GROUP BY doc_id, j) "
        + "SELECT doc_id, CAST(sum(CAST(bit AS BIGINT) << j) AS BIGINT) AS simhash FROM bits GROUP BY doc_id ORDER BY doc_id"),
    "q51_langid" ->
      ("SELECT lang, pred, count(*) AS cnt FROM (SELECT lang, CASE "
        + "WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en' "
        + "WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de' "
        + "WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es' WHEN c_fr >= c_zh THEN 'fr' ELSE 'zh' END AS pred FROM ("
        + "SELECT lang, len(list_filter(w, x -> x IN ('der', 'die', 'das', 'und', 'ist', 'nicht', 'mit', 'ein'))) AS c_de, "
        + "len(list_filter(w, x -> x IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'))) AS c_en, "
        + "len(list_filter(w, x -> x IN ('el', 'los', 'y', 'es', 'una', 'que', 'por', 'con'))) AS c_es, "
        + "len(list_filter(w, x -> x IN ('le', 'les', 'et', 'est', 'une', 'dans', 'pour', 'sur'))) AS c_fr, "
        + "len(list_filter(w, x -> x IN ('的', '是', '不', '了', '在', '我', '有', '和'))) AS c_zh "
        + "FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))) GROUP BY lang, pred ORDER BY lang, pred"),
    "q52_quality_score" ->
      ("SELECT doc_id, n_tok, n_uniq, n_stop, n_chars_m, uniq_ratio, stop_ratio, score, "
        + "CASE WHEN score >= 0.6 THEN 'high' WHEN score >= 0.4 THEN 'mid' ELSE 'low' END AS bucket FROM ("
        + "SELECT doc_id, n_tok, n_uniq, n_stop, n_chars_m, uniq_ratio, stop_ratio, "
        + "round(least(n_tok / 100.0, 1.0) * 0.3 + (CAST(n_uniq AS DOUBLE) / n_tok) * 0.4 + (CAST(n_stop AS DOUBLE) / n_tok) * 0.3, 6) AS score FROM ("
        + "SELECT doc_id, n_tok, n_uniq, n_stop, n_chars_m, round(CAST(n_uniq AS DOUBLE) / n_tok, 6) AS uniq_ratio, round(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stop_ratio FROM ("
        + "SELECT doc_id, len(w) AS n_tok, len(list_distinct(w)) AS n_uniq, "
        + "len(list_filter(w, x -> x IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'))) AS n_stop, length(text) AS n_chars_m "
        + "FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents)))) ORDER BY doc_id"),
    "q53_token_count" ->
      ("SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS ws_toks, "
        + "len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_toks, length(text) AS chars, "
        + "length(replace(text, ' ', '')) AS chars_nospace FROM documents ORDER BY doc_id"),
    "q54_fingerprint" ->
      ("SELECT fp, count(*) AS n_docs, min(doc_id) AS min_doc FROM (SELECT doc_id, "
        + "md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp "
        + "FROM documents) GROUP BY fp ORDER BY fp"),
    "q66_rolling_hash" ->
      ("SELECT doc_id, "
        + "list_reduce(list_prepend(7::BIGINT, list_transform(string_split_regex(text, ''), c -> unicode(c)::BIGINT)), (a, b) -> (a * 131 + b) % 1000000007) AS rhash, "
        + "list_reduce(list_prepend(7::BIGINT, list_transform(string_split_regex(substr(text, 1, 64), ''), c -> unicode(c)::BIGINT)), (a, b) -> (a * 131 + b) % 1000000007) AS rhash64 "
        + "FROM documents ORDER BY doc_id"),
    "q73_rolling_dedup" ->
      ("WITH wh AS (SELECT DISTINCT doc_id, wh FROM (SELECT doc_id, unnest(list_transform(range(1, length(text) - 62), i -> "
        + "list_reduce(list_prepend(7::BIGINT, list_transform(string_split_regex(substr(text, i, 64), ''), c -> unicode(c)::BIGINT)), (a, b) -> (a * 131 + b) % 1000000007))) AS wh "
        + "FROM documents WHERE length(text) BETWEEN 64 AND 8192)), "
        + "sizes AS (SELECT doc_id, count(*) AS n_w FROM wh GROUP BY doc_id), "
        + "grp AS (SELECT wh, list_sort(list(doc_id)) AS ds FROM wh GROUP BY wh HAVING count(*) > 1 AND count(*) <= 1000), "
        + "pairs AS (SELECT a AS doc_a, b AS doc_b FROM grp, "
        + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)), "
        + "shared AS (SELECT doc_a, doc_b, count(*) AS n_shared FROM pairs GROUP BY 1, 2) "
        + "SELECT doc_a, doc_b, n_shared, sa.n_w AS na, sb.n_w AS nb, "
        + "round(CAST(n_shared AS DOUBLE) / least(sa.n_w, sb.n_w), 6) AS containment "
        + "FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b ORDER BY doc_a, doc_b"),
    "q55_ann_lsh" ->
      ("WITH planes AS (SELECT j, d, 2 * (strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)) - 1) - 15 AS w2 "
        + "FROM (SELECT unnest(range(0, 8)) AS j) CROSS JOIN (SELECT unnest(range(1, 65)) AS d)), "
        + "expl AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xq FROM embeddings), "
        + "dots AS (SELECT e.vec_id, p.j, sum(e.xq * p.w2) AS dot FROM expl e JOIN planes p ON e.d = p.d GROUP BY 1, 2), "
        + "buckets AS (SELECT vec_id, CAST(sum((CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << j) AS BIGINT) AS bucket FROM dots GROUP BY vec_id), "
        + "probes AS (SELECT vec_id AS probe_id, bucket FROM buckets WHERE vec_id < 3) "
        + "SELECT p.probe_id, p.bucket, count(*) AS n_candidates FROM probes p JOIN buckets b ON b.bucket = p.bucket AND b.vec_id <> p.probe_id "
        + "GROUP BY 1, 2 ORDER BY probe_id"),
    // q57: recomputes the decoded statistics from the pixel formula
    // (dims and blocked LCG in MultimodalCodec's doc) — the Spark side
    // derives the SAME numbers by parsing the encoded bytes, so a
    // match certifies the encode→decode round trip, not shared code.
    "q354_multimodal_pool" ->
      ("WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id // 24) % 24 AS h FROM documents), "
        + "d2 AS (SELECT doc_id, w, w // 2 AS w2, h // 2 AS h2 FROM d), "
        + "u AS (SELECT doc_id, w, w2, h2, unnest(range(0, w2 * h2)) AS j FROM d2), "
        + "pv AS (SELECT doc_id, w2, h2, j, "
        + "((doc_id * 2654435761 + ((((j // w2) * 2) * w + (j % w2) * 2) // 7) * 40503) % 251 "
        + "+ (doc_id * 2654435761 + ((((j // w2) * 2) * w + (j % w2) * 2 + 1) // 7) * 40503) % 251 "
        + "+ (doc_id * 2654435761 + ((((j // w2) * 2 + 1) * w + (j % w2) * 2) // 7) * 40503) % 251 "
        + "+ (doc_id * 2654435761 + ((((j // w2) * 2 + 1) * w + (j % w2) * 2 + 1) // 7) * 40503) % 251) // 4 AS v "
        + "FROM u) "
        + "SELECT doc_id, CAST(max(w2) AS BIGINT) AS w2, CAST(max(h2) AS BIGINT) AS h2, "
        + "count(*) AS n_px2, CAST(sum(v) AS BIGINT) AS sum_px2, "
        + "CAST(sum(v * (j + 1)) % 1000000007 AS BIGINT) AS checksum2 "
        + "FROM pv GROUP BY doc_id ORDER BY doc_id"),
    "q57_multimodal_decode" ->
      ("WITH d AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id // 24) % 24 AS h FROM documents), "
        + "u AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d), "
        + "px AS (SELECT doc_id, w, h, i, (doc_id * 2654435761 + (i // 7) * 40503) % 251 AS v FROM u), "
        + "rr AS (SELECT doc_id, i, v, CASE WHEN v IS DISTINCT FROM lag(v) OVER (PARTITION BY doc_id ORDER BY i) THEN 1 ELSE 0 END AS brk FROM px), "
        + "rid AS (SELECT doc_id, i, v, sum(brk) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS run_id FROM rr), "
        + "runs AS (SELECT doc_id, run_id, count(*) AS rl FROM rid GROUP BY doc_id, run_id), "
        + "ra AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs, CAST(max(rl) AS BIGINT) AS max_run FROM runs GROUP BY doc_id), "
        + "g AS (SELECT doc_id, CAST(max(w) AS BIGINT) AS w, CAST(max(h) AS BIGINT) AS h, count(*) AS n_px, "
        + "CAST(sum(v) AS BIGINT) AS sum_px, CAST(sum(v * (i + 1)) % 1000000007 AS BIGINT) AS checksum FROM px GROUP BY doc_id) "
        + "SELECT g.doc_id, g.w, g.h, g.n_px, ra.n_runs, ra.max_run, g.sum_px, g.checksum "
        + "FROM g JOIN ra USING (doc_id) ORDER BY doc_id"),
    "q56_multimodal" ->
      ("SELECT doc_id, lang, n_chars, octet_length(CAST(text AS BLOB)) AS n_bytes, md5(text) AS content_hash, "
        + "substr(hex(CAST(text AS BLOB)), 1, 16) AS head_hex, "
        + "array_to_string(list_transform(range(0, 4), k -> substr(hex(CAST(text AS BLOB)), 1 + k * 64, 2)), ',') AS stride_sample "
        + "FROM documents ORDER BY doc_id"),
    "q190_minhash_eval" -> {
      val p = "1000000007"
      val sigSql = (0 until 16).map(i =>
        s"list_min(list_transform(hs, h -> (${2 * i + 3} * h + ${5 * i + 7}) % $p)) AS mh$i").mkString(", ")
      val matches = (0 until 16).map(i =>
        s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString(" + ")
      ("WITH sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
        + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
        + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
        + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
        + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
        + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
        + "pairs AS (SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard "
        + "FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
        + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01), "
        + "docsets AS (SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks FROM documents), "
        + s"hashed AS (SELECT doc_id, list_transform(toks, tk -> CAST('0x' || substr(md5(tk), 1, 15) AS BIGINT) % $p) AS hs FROM docsets), "
        + s"sig AS (SELECT doc_id, $sigSql FROM hashed) "
        + s"SELECT p.doc_a, p.doc_b, p.jaccard, round(($matches) / 16.0, 6) AS mh_est, "
        + s"round(abs(($matches) / 16.0 - p.jaccard), 6) AS abs_err "
        + "FROM pairs p JOIN sig a ON a.doc_id = p.doc_a JOIN sig b ON b.doc_id = p.doc_b "
        + "ORDER BY p.doc_a, p.doc_b")
    },
    // q236: the 60-bit signature pipeline + 4×15-bit banding + Hamming
    // verify mirrored step-for-step; sigs MATERIALIZED (consumed by
    // stats, bands, and both verify sides — q228's inlining lesson).
    "q236_simhash_dedup" ->
      ("WITH t AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "votes AS (SELECT doc_id, j, CASE WHEN (((strpos('0123456789abcdef', substr(md5(tok), 1 + j // 4, 1)) - 1) >> (3 - j % 4)) & 1) = 1 THEN 1 ELSE -1 END AS vote "
        + "FROM t CROSS JOIN (SELECT unnest(range(0, 60)) AS j)), "
        + "sigs AS MATERIALIZED (SELECT doc_id, CAST(sum(CAST(CASE WHEN sgn >= 0 THEN 1 ELSE 0 END AS BIGINT) << j) AS BIGINT) AS sig FROM "
        + "(SELECT doc_id, j, sum(vote) AS sgn FROM votes GROUP BY doc_id, j) GROUP BY doc_id), "
        + "grp AS (SELECT bk, list_sort(list(doc_id)) AS ds FROM "
        + "(SELECT doc_id, ((sig >> (15 * b)) & 32767) * 4 + b AS bk FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS b)) "
        + "GROUP BY bk HAVING count(*) > 1 AND count(*) <= 1000), "
        + "cand AS (SELECT DISTINCT doc_a, doc_b FROM (SELECT a AS doc_a, bb AS doc_b FROM grp, "
        + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS bb))), "
        + "ver AS MATERIALIZED (SELECT c.doc_a, c.doc_b, bit_count(xor(sa.sig, sb.sig)) AS hamming FROM cand c "
        + "JOIN sigs sa ON sa.doc_id = c.doc_a JOIN sigs sb ON sb.doc_id = c.doc_b), "
        + "dd AS (SELECT count(DISTINCT d) AS n_docs_in_dups FROM "
        + "(SELECT doc_a AS d FROM ver WHERE hamming <= 3 UNION ALL SELECT doc_b FROM ver WHERE hamming <= 3)), "
        + "ns AS (SELECT count(*) AS n_docs, count(DISTINCT sig) AS n_distinct_sigs FROM sigs), "
        + "sm AS (SELECT count(*) AS n_cand_pairs, CAST(sum(CASE WHEN hamming <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pairs, "
        + "CAST(min(hamming) AS BIGINT) AS min_hamming, sum(CAST(hamming AS DECIMAL(18,6))) AS sh FROM ver) "
        + "SELECT n_docs, n_distinct_sigs, n_cand_pairs, n_dup_pairs, n_docs_in_dups, min_hamming, "
        + "round(CASE WHEN n_cand_pairs = 0 THEN NULL ELSE CAST(sh AS DOUBLE) / n_cand_pairs END, 6) AS mean_hamming "
        + "FROM sm CROSS JOIN ns CROSS JOIN dd"),
  )
}
