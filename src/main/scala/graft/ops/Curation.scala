package graft.ops

import graft.{QueryPack, Sessions, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-curation operators a training-data pipeline runs between dedup
  * and packing: benchmark decontamination, repetition-based quality
  * metrics (the Gopher-style filters), and PII scrubbing.
  *
  * Scale notes: q75 is the canonical broadcast-contraction — the
  * benchmark n-gram set is tiny relative to the corpus, so the overlap
  * test is a broadcast hash join against it, never a corpus shuffle by
  * n-gram alone; q76 is two partial-agg shuffles keyed by doc; q77 is a
  * pure per-row projection (embarrassingly parallel).
  */
object Curation extends QueryPack {

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // EXACT-SUBSTRING span dedup (the Lee et al. "Deduplicating
    // Training Data" ExactSubstr shape, at fixed token grain — the
    // SPAN-level complement of q39's doc-level and q40's near-dup
    // passes: it finds the boilerplate/quote REGIONS shared across
    // otherwise-distinct documents): every doc emits its k=7-token
    // shingles WITH POSITIONS via one in-row HOF (one posexplode —
    // O(total tokens) rows, never O(docs²)); a shingle whose corpus
    // count exceeds 1 is duplicated text; a doc's duplicated-token
    // COVERAGE is the union of its hit intervals [p, p+k), computed
    // closed-form from one keyed lead() window (equal-length intervals:
    // each hit contributes min(k, next_p − p)). The reference method
    // builds a suffix array for all lengths ≥ 50 chars; the fixed-k
    // shingle grain is its standard distributed rendering — at 100 TB
    // you'd group on xxhash64(shingle) with a verify pass instead of
    // raw strings (same plan, 8-byte shuffle keys). Readout: per-source
    // duplication profile (docs hit, covered/total tokens, dup rate).
    "q408_exact_substr" -> ((s, dir) => {
      val k = 7
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .filter(size(col("w")) >= k)
      val sh = docs.select(col("doc_id"), col("source"), size(col("w")).as("n"),
          posexplode(expr(
            s"transform(sequence(1, size(w) - ${k - 1}), i -> array_join(slice(w, i, $k), ' '))"))
            .as(Seq("pos0", "sh")))
        .select(col("doc_id"), col("source"), col("n"),
          (col("pos0") + 1).as("pos"), col("sh"))
      val dup = sh.groupBy(col("sh")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select(col("sh"))
      val hits = sh.join(dup, "sh")
        .select(col("doc_id"), col("source"), col("n"), col("pos"))
      val wD = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val cov = hits
        .withColumn("nxt", lead(col("pos"), 1).over(wD))
        .withColumn("contrib", least(lit(k), coalesce(col("nxt") - col("pos"), lit(k))))
        .groupBy(col("doc_id"), col("source"), col("n"))
        .agg(sum(col("contrib")).as("covered"))
      val tot = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(size(col("w"))).as("total_tokens"))
      cov.groupBy(col("source"))
        .agg(count(lit(1)).as("docs_with_dup"),
          sum(col("covered")).as("covered_tokens"))
        .join(tot, Seq("source"), "right")
        .select(col("source"), col("n_docs"),
          coalesce(col("docs_with_dup"), lit(0L)).as("docs_with_dup"),
          coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
          col("total_tokens"))
        .withColumn("dup_rate",
          round(expr("cast(covered_tokens as double) / total_tokens"), 6))
        .orderBy(col("source"))
    }),

    // ------------------------------------------------------------------
    // Benchmark decontamination: docs in the "eval set" (deterministic
    // doc_id % 101 == 7 membership here; a real pipeline loads its eval
    // suites) contribute their distinct 8-gram set; every OTHER doc
    // containing any eval 8-gram is flagged with its hit count — the
    // n-gram-overlap decontamination step every LLM training corpus
    // runs against its benchmarks. The eval n-gram side is small by
    // construction → broadcast join, corpus side never self-shuffles.
    "q75_decontaminate" -> ((s, dir) => {
      val ng = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 7), i -> concat_ws(' ', slice(w, i, 8)))")).as("ng"))
        .distinct()
        // bench + corpus branches both consume the n-gram set
        .localCheckpoint()
      val bench = ng.filter(col("doc_id") % 101 === 7)
        .select(col("doc_id").as("bench_id"), col("ng"))
      val corpus = ng.filter(col("doc_id") % 101 =!= 7)
      corpus.join(broadcast(bench), "ng")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"),
          countDistinct(col("bench_id")).as("n_bench_docs"))
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // Repetition metrics (Gopher-style quality filters): per doc, the
    // most-frequent-bigram fraction and the fraction of bigrams that
    // are duplicates — the signals that kill boilerplate/spam docs.
    // explode → (doc, bigram) partial-agg count → per-doc aggregate;
    // both shuffles are keyed by doc, state per doc is its distinct
    // bigram counts.
    "q76_repetition" -> ((s, dir) => {
      val bg = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))")).as("bg"))
      bg.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_bigrams"),
          max(col("c")).as("top_c"),
          sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_bg"))
        .select(col("doc_id"), col("n_bigrams"), col("top_c"),
          round(col("top_c") / col("n_bigrams"), 6).as("top_frac"),
          round(col("dup_bg") / col("n_bigrams"), 6).as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // PII scrub, proven by inject-then-scrub: deterministic synthetic
    // PII (an email for doc_id%10==3, a phone for doc_id%10==6 — the
    // corpus itself contains none) is appended, then the scrubber
    // redacts by regex and reports match counts, the redacted text's
    // md5, and a leftover count that the oracle pins to zero. Pure
    // per-row regexp projection — the shape PII removal has at 100 TB.
    "q77_pii_scrub" -> ((s, dir) => {
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phoneRe = "555-[0-9]{3}-[0-9]{4}"
      Tables.documents(s, dir)
        .withColumn("dirty", expr(
          "concat(text, CASE WHEN doc_id % 10 = 3 THEN concat(' contact user', cast(doc_id as string), '@example.com now') " +
            "WHEN doc_id % 10 = 6 THEN concat(' call 555-', lpad(cast(doc_id % 1000 as string), 3, '0'), '-4567 now') ELSE '' END)"))
        .withColumn("scrubbed", regexp_replace(
          regexp_replace(col("dirty"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>"))
        .select(
          col("doc_id"),
          size(regexp_extract_all(col("dirty"), lit(emailRe), lit(0))).as("n_emails"),
          size(regexp_extract_all(col("dirty"), lit(phoneRe), lit(0))).as("n_phones"),
          (size(regexp_extract_all(col("scrubbed"), lit(emailRe), lit(0)))
            + size(regexp_extract_all(col("scrubbed"), lit(phoneRe), lit(0)))).as("n_leftover"),
          md5(col("scrubbed").cast("binary")).as("scrub_hash"),
          (length(col("dirty")) - length(col("scrubbed"))).as("len_delta"))
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // Domain-mixture reweighting: the "data mixing" step that turns a
    // raw crawl into a training mixture. Actual share = this source's
    // chars / total; target share comes from a deterministic integer
    // weight (1e6 div (1+source_idx) — exact BIGINT, so the total is
    // order-independent, unlike a float weight sum); sampling factor =
    // target/actual is what an upstream sampler would apply per source.
    // One partial-agg groupBy + a broadcast of the 1-row totals.
    "q84_domain_mix" -> ((s, dir) => {
      val per = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .withColumn("w", expr("1000000 div (1 + cast(substr(source, 4, 10) as int))"))
      val tot = per.agg(sum(col("chars")).as("tot_chars"), sum(col("w")).as("tot_w"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("chars"),
          round(col("chars") / col("tot_chars"), 6).as("actual_share"),
          round(col("w") / col("tot_w"), 6).as("target_share"),
          round((col("w") / col("tot_w")) / (col("chars") / col("tot_chars")), 6).as("factor"))
        .orderBy(col("source"))
    }),
    // ------------------------------------------------------------------
    // Keep-BEST dedup (the curation policy upgrade over keep-first):
    // within each canonical-fingerprint cluster (q54's md5 over the
    // sorted distinct token set) the survivor is the doc with the
    // highest token-uniqueness quality score, doc_id as tie-break —
    // "dedup, but keep the least boilerplate-y copy". One partitioned
    // window keyed by fingerprint; text never shuffles twice.
    "q100_keep_best" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.documents(s, dir)
        .withColumn("toks", expr("filter(split(text, ' '), x -> x <> '')"))
        .filter(size(col("toks")) > 0)
        .withColumn("fp", md5(expr(
          "cast(array_join(array_sort(array_distinct(toks)), ' ') as binary)")))
        .withColumn("quality",
          round(size(array_distinct(col("toks"))) / size(col("toks")), 6))
      scored
        .withColumn("rn", row_number().over(Window.partitionBy(col("fp"))
          .orderBy(col("quality").desc, col("doc_id"))))
        .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("fp"))))
        .filter(col("rn") === 1)
        .select(col("fp"), col("cluster_size"), col("doc_id").as("survivor"),
          col("quality"))
        .orderBy(col("fp"))
    }),
    // ------------------------------------------------------------------
    // Gopher-style quality gates: per doc, the rule signals (word count
    // in range, mean word length in range, >=2 distinct stopwords
    // present, distinct-token ratio) and the combined keep flag — the
    // heuristic filter battery every pretraining corpus passes through.
    // Pure per-row array expressions, embarrassingly parallel; flags
    // are INTs so both engines stringify identically.
    "q150_gopher_rules" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("w", expr("filter(split(text, ' '), x -> x <> '')"))
        .filter(size(col("w")) > 0)
        .withColumn("n_words", size(col("w")).cast("long"))
        .withColumn("mean_wlen",
          round(length(array_join(col("w"), "")) / col("n_words"), 4))
        .withColumn("stop_hits", size(array_intersect(
          array_distinct(col("w")),
          array(lit("the"), lit("a"), lit("to"), lit("of"), lit("and")))).cast("long"))
        .withColumn("distinct_ratio",
          round(size(array_distinct(col("w"))) / col("n_words"), 6))
        .withColumn("r_nwords",
          (col("n_words") >= 20 && col("n_words") <= 400).cast("int"))
        .withColumn("r_wlen",
          (col("mean_wlen") >= 3.0 && col("mean_wlen") <= 10.0).cast("int"))
        .withColumn("r_stop", (col("stop_hits") >= 2).cast("int"))
        .withColumn("r_distinct", (col("distinct_ratio") > 0.3).cast("int"))
        .select(col("doc_id"), col("n_words"), col("mean_wlen"),
          col("stop_hits"), col("distinct_ratio"),
          col("r_nwords"), col("r_wlen"), col("r_stop"), col("r_distinct"),
          (col("r_nwords") * col("r_wlen") * col("r_stop") * col("r_distinct")).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // Inter-document repetition (the RefinedWeb/C4 signal the per-doc
    // q76 can't see): per doc, the fraction of its DISTINCT 8-grams
    // that also appear in at least one other doc. The n-gram frame is
    // built once (localCheckpoint — doc-frequency branch + join-back
    // branch), both shuffles are keyed by n-gram hash, text never
    // travels: n-grams are md5-hashed to 64-bit keys before any
    // shuffle, the 100 TB trick that keeps exchange payloads tiny.
    "q151_interdoc_dup" -> ((s, dir) => {
      // Memoized shared contraction (Text.hashedGrams8): q216 reads the
      // SAME hashed-gram index; the checkpoint covers both the
      // doc-frequency branch and the join-back branch here.
      val ng = Text.hashedGrams8(s, dir)
      val df = ng.groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
      ng.join(df, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_ngrams"),
          sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_ngrams"), col("n_shared"),
          round(col("n_shared") / col("n_ngrams"), 6).as("shared_frac"))
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // Feature hashing (the "hashing trick"): every token maps to one of
    // 64 buckets via the same md5→BIGINT uniform q58 uses (never an
    // engine-private hash — cross-engine reproducible), per-(doc,
    // bucket) counts form the sparse feature matrix, and the emitted
    // surface is the corpus-level bucket profile (64 rows: docs
    // touched, total count, heaviest doc cell). Two partial-agg
    // shuffles; the doc×bucket intermediate is the real feature map.
    "q152_feature_hash" -> ((s, dir) => {
      val feats = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
        .withColumn("bucket", expr(
          "md5_mod(tok, 64L)"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
      feats.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("cnt")).as("total_cnt"),
          max(col("cnt")).as("max_cnt"))
        .orderBy(col("bucket"))
    }),

    // ------------------------------------------------------------------
    // Cross-source vocabulary overlap matrix: exact token-set Jaccard
    // for every source pair — the corpus-mixing diagnostic ("are src3
    // and src7 the same crawl?") run before weighting sources (q84).
    // One (source, token) DISTINCT contraction, then a token-keyed
    // self-join whose expansion is bounded by #sources² per token —
    // never doc-count-sized. Pair counts and set sizes are exact longs.
    "q179_source_overlap" -> ((s, dir) => {
      val st = Tables.documents(s, dir)
        .select(col("source"), explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
        .distinct()
        .localCheckpoint() // consumed thrice: sizes + both join sides
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n_tok"))
      val inter = st.select(col("source").as("src_a"), col("tok"))
        .join(st.select(col("source").as("src_b"), col("tok")), "tok")
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"), col("n_tok").as("na"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"), col("n_tok").as("nb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("inter"), col("na"), col("nb"),
          round(expr("cast(inter as double) / (na + nb - inter)"), 6).as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // ------------------------------------------------------------------
    // Temperature-scaled sampling mix (α = 0.7 and 0.3): the
    // multilingual/multi-source upsampling rule — sample source i with
    // probability ∝ p_i^α, flattening the natural char-share
    // distribution toward uniform — alongside the effective epochs each
    // source would see at a budget equal to the corpus size (the
    // "small sources repeat, big sources subsample" readout; q84 covers
    // the fixed-target variant). One per-source contraction; p^α values
    // are DECIMAL-quantized before the normalizing sum.
    "q227_temperature_mix" -> ((s, dir) => {
      val per = Tables.documents(s, dir)
        .groupBy(col("source")).agg(sum(col("n_chars")).as("chars"))
      val tot = per.agg(sum(col("chars")).as("tot"))
      val w = per.crossJoin(broadcast(tot))
        .withColumn("p", expr("chars / cast(tot as double)"))
        // p^α expressed as exp(α·ln p) on BOTH engines: ln/exp are the
        // repo's proven cross-engine parity transcendentals (q224),
        // whereas Math.pow vs DuckDB pow parity was only observed, not
        // proven. p = 0 (a source of only empty docs) guards to 0 —
        // ln(0) is NULL in Spark but -inf in DuckDB.
        .withColumn("w07", expr("cast(if(p > 0d, exp(0.7d * ln(p)), 0d) as decimal(28,12))"))
        .withColumn("w03", expr("cast(if(p > 0d, exp(0.3d * ln(p)), 0d) as decimal(28,12))"))
        .localCheckpoint() // consumed twice: normalizer + final rows
      val z = w.agg(sum(col("w07")).as("z07"), sum(col("w03")).as("z03"))
      w.crossJoin(broadcast(z))
        .select(col("source"), col("chars"),
          round(col("p"), 6).as("share_raw"),
          round(expr("cast(w07 as double) / cast(z07 as double)"), 6).as("share_t07"),
          round(expr("(cast(w07 as double) / cast(z07 as double)) / p"), 6).as("epochs_t07"),
          round(expr("cast(w03 as double) / cast(z03 as double)"), 6).as("share_t03"),
          round(expr("(cast(w03 as double) / cast(z03 as double)) / p"), 6).as("epochs_t03"))
        .orderBy(col("source"))
    }),

    // ------------------------------------------------------------------
    // Encoding audit: per-source share of characters outside printable
    // ASCII and share of documents containing any — the cheap mojibake
    // /encoding-regression tripwire a crawl pipeline runs per source
    // before deeper language processing. Pure per-row regex + one
    // partial-agg shuffle; per-doc ratios are DECIMAL-quantized before
    // the cross-doc mean.
    "q231_encoding_audit" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("source"), length(col("text")).cast("double").as("nc"),
          length(regexp_replace(col("text"), "[ -~]", "")).cast("double").as("nna"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("cast(CASE WHEN nc = 0.0d THEN 0.0d ELSE nna / nc END as decimal(28,12))")).as("sr"),
          sum(when(col("nna") > 0, 1L).otherwise(0L)).as("n_na"))
        .select(col("source"), col("n_docs"),
          round(expr("cast(sr as double) / n_docs"), 6).as("mean_nonascii_ratio"),
          round(expr("n_na / cast(n_docs as double)"), 6).as("pct_nonascii_docs"))
        .orderBy(col("source"))),

    // ------------------------------------------------------------------
    // Source-level 8-gram contamination matrix: pairwise Jaccard AND
    // containment of the per-source hashed-8-gram sets — the rigorous
    // upgrade of q179's token-level overlap (token overlap says
    // "similar vocabulary"; 8-gram overlap says "the same passages",
    // which is what cross-source contamination means). Rides the
    // memoized [[Text.hashedGrams8]] index — only 64-bit hashes ever
    // shuffle; the pair frame is bounded by #sources².
    "q237_source_gram_overlap" -> ((s, dir) => {
      val sg = Text.hashedGrams8(s, dir)
        .join(Tables.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), col("h")).distinct()
        .localCheckpoint() // consumed thrice: sizes + both join sides
      val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      val inter = sg.select(col("source").as("src_a"), col("h"))
        .join(sg.select(col("source").as("src_b"), col("h")), "h")
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"), col("n_grams").as("na"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"), col("n_grams").as("nb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("inter"), col("na"), col("nb"),
          round(expr("cast(inter as double) / (na + nb - inter)"), 6).as("jaccard"),
          round(expr("cast(inter as double) / least(na, nb)"), 6).as("containment"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // ------------------------------------------------------------------
    // Empirical-Bayes (beta-binomial) shrinkage of per-source quality
    // rates: a source with 5 docs and a perfect long-doc rate should
    // NOT outrank one with 500 docs at 90% — method-of-moments α̂/β̂
    // from the per-source rate mean/variance pull small-sample rates
    // toward the corpus prior, which is how per-domain quality scores
    // are stabilized before a mixing decision. One corpus shuffle to
    // ≤|sources| (n, x) cells; rates quantized DECIMAL(28,12) so the
    // moment sums are order-exact; everything after is a bounded
    // closed form. Degenerate variance (v = 0 or common ≤ 0) yields
    // NULL shrinkage in both engines rather than a fabricated prior.
    "q255_eb_shrinkage" -> ((s, dir) => {
      val cells = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).as("x"))
        .localCheckpoint() // moment agg + per-source output both consume it
      val prior = cells
        .select(col("n"), col("x"),
          expr("cast(x as double) / n").as("p"))
        .agg(count(lit(1)).as("s_cnt"),
          sum(expr("cast(p as decimal(28,12))")).as("sp"),
          sum(expr("cast(p * p as decimal(28,12))")).as("sp2"))
        .selectExpr("s_cnt", "cast(sp as double) / s_cnt AS m",
          "cast(sp2 as double) / s_cnt - (cast(sp as double) / s_cnt) * (cast(sp as double) / s_cnt) AS v")
        .selectExpr("s_cnt", "m", "v",
          "CASE WHEN v > 0 AND m * (1.0 - m) / v - 1.0 > 0 "
            + "THEN m * (1.0 - m) / v - 1.0 END AS common")
      cells.crossJoin(broadcast(prior))
        .selectExpr("source", "n", "x",
          "round(cast(x as double) / n, 6) AS raw_rate",
          "round(m, 6) AS prior_mean",
          "round((x + m * common) / (n + common), 6) AS shrunk_rate",
          "round((x + m * common) / (n + common) - cast(x as double) / n, 6) AS delta")
        .orderBy(col("source"))
    }),

    // ------------------------------------------------------------------
    // Source acquisition novelty curve: adding sources one at a time
    // (in id order), how many NEW 8-grams does each contribute — the
    // diminishing-returns readout a data-acquisition decision reads
    // (q237 says which sources overlap; this says when to STOP
    // buying). Rides the memoized [[Text.hashedGrams8]] index: the
    // (source, gram-hash) contraction is one hash-only shuffle;
    // first-claimer per gram is a min over the gram key; cumulative
    // novelty runs over ≤|sources| bounded cells (allowlisted).
    "q265_source_novelty" -> ((s, dir) => {
      val sg = Text.hashedGrams8(s, dir)
        .join(Tables.documents(s, dir).select(col("doc_id"),
          expr("cast(substr(source, 4) as int)").as("si")), "doc_id")
        .select(col("si"), col("h")).distinct()
        .localCheckpoint() // per-source totals + first-claim + universe
      val firstClaim = sg.groupBy(col("h")).agg(min(col("si")).as("si"))
        .groupBy(col("si")).agg(count(lit(1)).as("new_grams"))
      val tot = sg.groupBy(col("si")).agg(count(lit(1)).as("n_grams"))
      val uni = sg.agg(countDistinct(col("h")).as("uni"))
      val wd = Window.orderBy(col("si")) // bounded: ≤|sources| cells (allowlisted)
      tot.join(broadcast(firstClaim), Seq("si"), "left")
        .withColumn("new_grams", coalesce(col("new_grams"), lit(0L)))
        .withColumn("cum_new", sum(col("new_grams")).over(
          wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(uni))
        .selectExpr("si AS source_id", "n_grams", "new_grams",
          "round(cast(new_grams as double) / n_grams, 6) AS new_rate",
          "cum_new", "round(cast(cum_new as double) / uni, 6) AS cum_share")
        .orderBy(col("source_id"))
    }),

    // ------------------------------------------------------------------
    // Dedup aggressiveness sweep: exact cluster/doc/token removal at
    // FOUR Jaccard thresholds over the memoized near-dup pair graph —
    // the curve a curation owner reads before fixing the dedup
    // threshold (q239 reports savings at ONE threshold; this is the
    // decision table). Per threshold: filter the checkpointed pair
    // frame, fixpoint-certified label propagation (Text.ccMinLabels,
    // q80's CC shape), survivor = min doc per cluster,
    // removed tokens joined from the per-doc length contraction. Four
    // 1-row aggregates unioned — the pair graph is built ONCE for the
    // whole sweep (and shared with q40/q80/q190/q229 via the memo).
    "q267_dedup_threshold_sweep" -> ((s, dir) => {
      val pairs = Text.nearDupPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
      val nt = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("size(filter(split(text, ' '), x -> x <> ''))").as("nt"))
        .localCheckpoint() // joined per threshold + the corpus total
      val corpus = nt.agg(sum(col("nt")).as("corpus_toks"))
      // The four threshold branches are independent fixpoint runs over
      // an already-materialized pair frame, and each CC pass is an
      // EAGER localCheckpoint — built sequentially they serialize ~4×
      // (log diameter) tiny driver-blocking jobs. Overlapping them from
      // driver threads (guide §2.6: actions are only sequential because
      // the driver calls them sequentially) back-fills the cluster and
      // cuts the sweep to the slowest branch; each branch is
      // deterministic, so the union is order-stable by threshold.
      val res = Seq(0.01, 0.02, 0.05, 0.1).map { t =>
        Sessions.future(s) {
          val e = pairs.filter(col("jaccard") >= t)
          val edges = e.select(col("doc_a").as("u"), col("doc_b").as("v"))
            .union(e.select(col("doc_b").as("u"), col("doc_a").as("v")))
            .localCheckpoint()
          val labels = Text.ccMinLabels(edges) // fixpoint-certified, diameter-safe
          val st = labels.join(nt, col("doc") === col("doc_id"))
            .agg(count(lit(1)).as("docs_flagged"),
              countDistinct(col("lbl")).as("n_clusters"),
              sum(when(col("doc") =!= col("lbl"), col("nt")).otherwise(0)).as("tokens_removed"))
          val np = e.agg(count(lit(1)).as("n_pairs"))
          st.crossJoin(broadcast(np)).crossJoin(broadcast(corpus))
            .selectExpr(s"cast($t as double) AS threshold", "n_pairs",
              "docs_flagged", "n_clusters",
              "docs_flagged - n_clusters AS docs_removable", "tokens_removed",
              "round(cast(tokens_removed as double) / corpus_toks, 6) AS pct_corpus_tokens")
        }
      }.map(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      res.reduce(_ union _).orderBy(col("threshold"))
    }),

    // ------------------------------------------------------------------
    // Lognormal fit of the document-length distribution: MLE μ̂/σ̂ of
    // ln(n_chars) from exact DECIMAL moment sums + the one-sample KS
    // distance between the empirical CDF and the fitted normal (both
    // ECDF sides evaluated, so the sup over the step function is
    // exact). Doc lengths are the canonical lognormal in corpus work —
    // this is the modeling readout behind packing (q178/q258) and
    // length-based quality gates. ECDF rides cumCounts' prefix sums;
    // Φ via the Zelen–Severo polynomial (q212's idiom — identical
    // double literals on both engines). The 5% threshold uses the
    // Lilliefors approximation 0.886/√n (params are estimated, so the
    // plain KS critical value would be anti-conservative).
    "q275_lognormal_fit" -> ((s, dir) => {
      val y = Tables.documents(s, dir)
        .filter(col("n_chars") > 0)
        .select(expr("ln(cast(n_chars as double))").as("yv"))
      val fit = y.agg(count(lit(1)).as("n"),
        sum(expr("cast(yv as decimal(28,12))")).as("sy"),
        sum(expr("cast(yv * yv as decimal(28,12))")).as("sy2"))
        .selectExpr("n", "cast(sy as double) / n AS mu",
          "sqrt(cast(sy2 as double) / n - (cast(sy as double) / n) * (cast(sy as double) / n)) AS sigma")
      val g = y.groupBy(col("yv").as("v")).agg(count(lit(1)).as("c1"))
      val cum = Science.cumCounts(s, g)
        .select(col("v"), col("below"), col("cum1"), col("n1"))
      val phi = "CASE WHEN z >= 0 THEN 1.0 - tail ELSE tailn END"
      cum.crossJoin(broadcast(fit))
        .withColumn("z", expr("(v - mu) / sigma"))
        .withColumn("t", expr("1.0d / (1.0d + 0.2316419d * abs(z))"))
        .withColumn("tail", expr(
          "0.3989422804014327d * exp(-(z * z) / 2.0d) * " +
            "(0.319381530d * t - 0.356563782d * t * t + 1.781477937d * t * t * t " +
            "- 1.821255978d * t * t * t * t + 1.330274429d * t * t * t * t * t)"))
        .withColumn("tailn", col("tail"))
        .withColumn("gap", expr(
          s"greatest(abs(cast(cum1 as double) / n1 - ($phi)), abs(cast(below as double) / n1 - ($phi)))"))
        .agg(first(col("n1")).as("n"), first(col("mu")).as("mu"),
          first(col("sigma")).as("sigma"), max(col("gap")).as("ks"))
        .selectExpr("n", "round(mu, 6) AS mu", "round(sigma, 6) AS sigma",
          "round(ks, 6) AS ks_stat",
          "round(0.886 / sqrt(cast(n as double)), 6) AS lilliefors_crit_5pct",
          "ks < 0.886 / sqrt(cast(n as double)) AS lognormal_ok_5pct")
    }),

    // ------------------------------------------------------------------
    // Per-SOURCE benchmark-contamination attribution — q75 finds the
    // contaminated docs, this answers the follow-up a curation owner
    // actually asks: WHICH ingestion source leaks eval data, at what
    // rate, and what share of total contamination does each source own
    // (the table that decides whether to drop a source or just its
    // hits). Bench set = q75's held-out slice (doc_id % 101 = 7);
    // gram machinery = the memoized 60-bit hashed-8-gram index shared
    // with q151/q237/q265, so the fact-table pass is already paid. The
    // bench gram set is eval-sized → broadcast; hit docs contract to
    // distinct doc_ids before the source rollup; the grand total rides
    // as a broadcast 1-row frame.
    // ------------------------------------------------------------------
    // DSIR-style importance weights (Xie et al. 2023, "Data Selection
    // via Importance Resampling") — the principled replacement for
    // q84's fixed domain-mix: score every raw doc by how target-like
    // its hashed-bigram distribution is, log w(d) = Σ_f c_f·[ln
    // p̂_t(f) − ln p̂_r(f)] with add-1-smoothed bucket estimates (B=512
    // md5 buckets, q58's hash discipline — never a vocabulary map).
    // Target = the src1 seed corpus; raw = everything. The bucket
    // histograms are two B-cell aggregates off ONE (doc, bucket,
    // count) contraction; the ≤B-row log-ratio table broadcasts back
    // for the per-doc weighted sum (DECIMAL-quantized). Top-20 by
    // weight via TakeOrderedAndProject — the resampling step would
    // sample ∝ exp(log w), this reports the ranking it keys on.
    "q322_dsir_weights" -> ((s, dir) => {
      val perDoc = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          expr("filter(split(text, ' '), x -> x <> '')").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(1, size(w) - 1), i -> md5_mod(concat_ws(' ', slice(w, i, 2)), 512L))")).as("b"))
        .groupBy(col("doc_id"), col("source"), col("b"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // consumed twice: bucket histograms + per-doc weights
      // raw and target histograms FUSE into one B-cell groupBy (the
      // target rides as a conditional sum), replacing two passes over
      // the checkpointed contraction plus their join with one exchange;
      // ct = 0 where src1 never hits a bucket, exactly what the old
      // left join's coalesce(ct, 0) produced.
      val hist = perDoc.groupBy(col("b"))
        .agg(sum(col("c")).as("cr"),
          sum(when(col("source") === "src1", col("c")).otherwise(0L)).as("ct"))
      val tot = hist.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
      val lw = hist.crossJoin(broadcast(tot))
        .withColumn("lw", expr(
          "ln((ct + 1.0d) / (nt + 512.0d)) - ln((cr + 1.0d) / (nr + 512.0d))"))
        .select(col("b"), col("lw"))
      val scored = perDoc.join(broadcast(lw), "b")
        .groupBy(col("doc_id"), col("source"))
        .agg(sum(expr("cast(c * lw as decimal(28,12))")).as("logw_x"),
          sum(col("c")).as("n_bigrams"))
      val top = scored.orderBy(col("logw_x").desc, col("doc_id")).limit(20)
      top.withColumn("rank",
          row_number().over(Window.orderBy(col("logw_x").desc, col("doc_id"))))
        .select(col("rank"), col("doc_id"), col("source"), col("n_bigrams"),
          round(col("logw_x").cast("double"), 6).as("log_weight"))
        .orderBy(col("rank"))
    }),

    "q296_contamination_attr" -> ((s, dir) => {
      val sg = Text.hashedGrams8(s, dir)
      val bench = sg.filter(col("doc_id") % 101 === 7).select(col("h")).distinct()
      val hitDocs = sg.filter(col("doc_id") % 101 =!= 7)
        .join(broadcast(bench), "h")
        .select(col("doc_id")).distinct()
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id") % 101 =!= 7)
        .select(col("doc_id"), col("source"))
      val tot = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val hits = docs.join(hitDocs, "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as("n_contam"))
        .localCheckpoint() // per-source rollup + grand total both consume it
      val grand = hits.agg(coalesce(sum(col("n_contam")), lit(0L)).as("tot_contam"))
      tot.join(hits, Seq("source"), "left")
        .withColumn("n_contam", coalesce(col("n_contam"), lit(0L)))
        .crossJoin(broadcast(grand))
        .select(col("source"), col("n_docs"), col("n_contam"),
          round(col("n_contam").cast("double") / col("n_docs"), 6).as("contam_rate"),
          // no contaminated doc at all (tot_contam = 0, as at sf0.1):
          // the share is undefined — NULL, as in the oracle — not an
          // ANSI divide-by-zero
          round(col("n_contam").cast("double") / nullif(col("tot_contam"), lit(0L)), 6)
            .as("contam_share"))
        .orderBy(col("source"))
    }),
  )

  def oracles: Map[String, String] = Map(
    // q408: the shingle→dup→interval-union chain replayed with
    // DuckDB's list slicing and the same lead() union identity.
    "q408_exact_substr" ->
      ("WITH t AS (SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS w "
        + "FROM documents), td AS (SELECT * FROM t WHERE len(w) >= 7), "
        + "sh AS (SELECT doc_id, source, len(w) AS n, i AS pos, array_to_string(w[i:i+6], ' ') AS s "
        + "FROM td, UNNEST(range(1, len(w) - 5)) AS g(i)), "
        + "dup AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 1), "
        + "hits AS (SELECT doc_id, source, n, pos FROM sh JOIN dup USING (s)), "
        + "contrib AS (SELECT doc_id, source, n, least(7, coalesce(lead(pos) OVER "
        + "(PARTITION BY doc_id ORDER BY pos), pos + 7) - pos) AS c FROM hits), "
        + "cov AS (SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS covered FROM contrib GROUP BY 1, 2), "
        + "tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(len(w)) AS BIGINT) AS total_tokens "
        + "FROM td GROUP BY 1), "
        + "agg AS (SELECT source, CAST(count(*) AS BIGINT) AS docs_with_dup, "
        + "CAST(sum(covered) AS BIGINT) AS covered_tokens FROM cov GROUP BY 1) "
        + "SELECT tot.source, n_docs, coalesce(docs_with_dup, 0) AS docs_with_dup, "
        + "coalesce(covered_tokens, 0) AS covered_tokens, total_tokens, "
        + "round(CAST(coalesce(covered_tokens, 0) AS DOUBLE) / total_tokens, 6) AS dup_rate "
        + "FROM tot LEFT JOIN agg USING (source) ORDER BY tot.source"),
    "q322_dsir_weights" ->
      ("WITH db AS (SELECT doc_id, source, unnest(list_transform(range(1, len(w)), i -> "
        + "CAST('0x' || substr(md5(array_to_string(w[i:i+1], ' ')), 1, 15) AS BIGINT) % 512)) AS b "
        + "FROM (SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents) WHERE len(w) >= 2), "
        + "pd AS (SELECT doc_id, source, b, count(*) AS c FROM db GROUP BY 1, 2, 3), "
        + "raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM pd GROUP BY b), "
        + "tgt AS (SELECT b, CAST(sum(c) AS BIGINT) AS ct FROM pd WHERE source = 'src1' GROUP BY b), "
        + "tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr, (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS nt), "
        + "lw AS (SELECT raw.b, ln((coalesce(ct, 0) + CAST(1 AS DOUBLE)) / (nt + CAST(512 AS DOUBLE))) - "
        + "ln((cr + CAST(1 AS DOUBLE)) / (nr + CAST(512 AS DOUBLE))) AS lw FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot), "
        + "sc AS (SELECT doc_id, source, sum(CAST(c * lw AS DECIMAL(28,12))) AS logw_x, CAST(sum(c) AS BIGINT) AS n_bigrams "
        + "FROM pd JOIN lw USING (b) GROUP BY 1, 2) "
        + "SELECT rank, doc_id, source, n_bigrams, round(CAST(logw_x AS DOUBLE), 6) AS log_weight FROM ("
        + "SELECT *, row_number() OVER (ORDER BY logw_x DESC, doc_id) AS rank FROM sc) WHERE rank <= 20 ORDER BY rank"),
    "q296_contamination_attr" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "ng AS (SELECT DISTINCT doc_id, h FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), i -> "
        + "CAST('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15) AS BIGINT))) AS h FROM t WHERE len(w) >= 8)), "
        + "bench AS (SELECT DISTINCT h FROM ng WHERE doc_id % 101 = 7), "
        + "hits AS (SELECT DISTINCT doc_id FROM ng WHERE doc_id % 101 <> 7 AND h IN (SELECT h FROM bench)), "
        + "docs AS (SELECT doc_id, source FROM documents WHERE doc_id % 101 <> 7), "
        + "tot AS (SELECT source, count(*) AS n_docs FROM docs GROUP BY source), "
        + "hs AS (SELECT d.source, count(*) AS n_contam FROM docs d JOIN hits USING (doc_id) GROUP BY d.source), "
        + "tc AS (SELECT CAST(coalesce(sum(n_contam), 0) AS BIGINT) AS tot_contam FROM hs) "
        + "SELECT t.source, t.n_docs, CAST(coalesce(h.n_contam, 0) AS BIGINT) AS n_contam, "
        + "round(CAST(coalesce(h.n_contam, 0) AS DOUBLE) / t.n_docs, 6) AS contam_rate, "
        + "round(CAST(coalesce(h.n_contam, 0) AS DOUBLE) / tot_contam, 6) AS contam_share "
        + "FROM tot t LEFT JOIN hs h USING (source) CROSS JOIN tc ORDER BY t.source"),
    "q275_lognormal_fit" ->
      ("WITH y AS (SELECT ln(CAST(n_chars AS DOUBLE)) AS yv FROM documents WHERE n_chars > 0), "
        + "fit AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(CAST(yv AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mu, "
        + "sqrt(CAST(sum(CAST(yv * yv AS DECIMAL(28,12))) AS DOUBLE) / count(*) "
        + "- (CAST(sum(CAST(yv AS DECIMAL(28,12))) AS DOUBLE) / count(*)) * (CAST(sum(CAST(yv AS DECIMAL(28,12))) AS DOUBLE) / count(*))) AS sigma FROM y), "
        + "g AS (SELECT yv AS v, CAST(count(*) AS BIGINT) AS c FROM y GROUP BY 1), "
        + "cum AS (SELECT v, CAST(sum(c) OVER w AS BIGINT) AS cum1, CAST(sum(c) OVER w AS BIGINT) - c AS below FROM g "
        + "WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        + "nn AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM g), "
        + "zz AS (SELECT cum1, below, n1, (v - mu) / sigma AS z FROM cum CROSS JOIN fit CROSS JOIN nn), "
        + "tt AS (SELECT cum1, below, n1, z, 1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM zz), "
        + "pp AS (SELECT cum1, below, n1, CASE WHEN z >= 0 THEN 1.0 - tail ELSE tail END AS ph FROM ("
        + "SELECT cum1, below, n1, z, 0.3989422804014327 * exp(-(z * z) / 2.0) * "
        + "(0.319381530 * t - 0.356563782 * t * t + 1.781477937 * t * t * t "
        + "- 1.821255978 * t * t * t * t + 1.330274429 * t * t * t * t * t) AS tail FROM tt)), "
        + "k AS (SELECT max(greatest(abs(CAST(cum1 AS DOUBLE) / n1 - ph), abs(CAST(below AS DOUBLE) / n1 - ph))) AS ks FROM pp) "
        + "SELECT n, round(mu, 6) AS mu, round(sigma, 6) AS sigma, round(ks, 6) AS ks_stat, "
        + "round(0.886 / sqrt(CAST(n AS DOUBLE)), 6) AS lilliefors_crit_5pct, "
        + "ks < 0.886 / sqrt(CAST(n AS DOUBLE)) AS lognormal_ok_5pct "
        + "FROM k CROSS JOIN fit"),
    // q267: q40's candidate-pair CTEs (kept with their jaccard), then
    // per threshold an unrolled 5-step min-label propagation (q228's
    // AS MATERIALIZED lesson) and a 1-row stats select, unioned.
    "q267_dedup_threshold_sweep" -> {
      val pairCtes =
        ("sh AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(list_transform(range(1, greatest(len(string_split(text, ' ')) - 3, 1)), i -> "
          + "array_to_string(string_split(text, ' ')[i:i+4], ' '))) AS sh FROM documents)), "
          + "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
          + "grp AS (SELECT sh, list_sort(list(doc_id)) AS ds FROM sh GROUP BY sh HAVING count(*) > 1 AND count(*) <= 1000), "
          + "inter AS (SELECT doc_a, doc_b, count(*) AS inter FROM (SELECT a AS doc_a, b AS doc_b FROM grp, "
          + "LATERAL (SELECT unnest(ds) AS a, generate_subscripts(ds, 1) AS ia), LATERAL (SELECT unnest(ds[ia+1:]) AS b)) GROUP BY 1, 2), "
          + "pairsj AS MATERIALIZED (SELECT doc_a, doc_b, round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS j "
          + "FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
          + "WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) >= 0.01), "
          + "ntab AS (SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt FROM documents), "
          + "corpus AS (SELECT CAST(sum(nt) AS BIGINT) AS corpus_toks FROM ntab)")
      def sweep(t: String, x: String): String = {
        val e = s"e$x AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairsj WHERE j >= $t " +
          s"UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairsj WHERE j >= $t), " +
          s"l${x}0 AS MATERIALIZED (SELECT DISTINCT u AS doc, u AS lbl FROM e$x), "
        val steps = (0 until 5).map { i =>
          s"l$x${i + 1} AS MATERIALIZED (SELECT doc, min(lbl) AS lbl FROM (" +
            s"SELECT doc, lbl FROM l$x$i UNION ALL " +
            s"SELECT e.u AS doc, l.lbl FROM e$x e JOIN l$x$i l ON l.doc = e.v) GROUP BY doc), "
        }.mkString
        val row = s"r$x AS (SELECT CAST($t AS DOUBLE) AS threshold, " +
          s"(SELECT CAST(count(*) AS BIGINT) FROM pairsj WHERE j >= $t) AS n_pairs, " +
          "CAST(count(*) AS BIGINT) AS docs_flagged, CAST(count(DISTINCT lbl) AS BIGINT) AS n_clusters, " +
          "CAST(count(*) AS BIGINT) - CAST(count(DISTINCT lbl) AS BIGINT) AS docs_removable, " +
          "CAST(sum(CASE WHEN doc <> lbl THEN nt ELSE 0 END) AS BIGINT) AS tokens_removed, " +
          "round(CAST(sum(CASE WHEN doc <> lbl THEN nt ELSE 0 END) AS DOUBLE) / any_value(corpus_toks), 6) AS pct_corpus_tokens " +
          s"FROM l${x}5 JOIN ntab ON doc = doc_id CROSS JOIN corpus), "
        e + steps + row
      }
      ("WITH " + pairCtes + ", "
        + sweep("0.01", "a") + sweep("0.02", "b") + sweep("0.05", "c") + sweep("0.1", "d")
        + "u AS (SELECT * FROM ra UNION ALL SELECT * FROM rb UNION ALL SELECT * FROM rc UNION ALL SELECT * FROM rd) "
        + "SELECT * FROM u ORDER BY threshold")
    },
    "q265_source_novelty" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "ng AS (SELECT DISTINCT doc_id, h FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), i -> "
        + "CAST('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15) AS BIGINT))) AS h FROM t WHERE len(w) >= 8)), "
        + "sg AS (SELECT DISTINCT CAST(substr(d.source, 4) AS INT) AS si, ng.h FROM ng JOIN documents d USING (doc_id)), "
        + "fc AS (SELECT si, CAST(count(*) AS BIGINT) AS new_grams FROM (SELECT h, min(si) AS si FROM sg GROUP BY h) GROUP BY si), "
        + "tot AS (SELECT si, CAST(count(*) AS BIGINT) AS n_grams FROM sg GROUP BY si), "
        + "uni AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS uni FROM sg) "
        + "SELECT tot.si AS source_id, n_grams, coalesce(new_grams, 0) AS new_grams, "
        + "round(CAST(coalesce(new_grams, 0) AS DOUBLE) / n_grams, 6) AS new_rate, "
        + "CAST(sum(coalesce(new_grams, 0)) OVER (ORDER BY tot.si ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_new, "
        + "round(CAST(sum(coalesce(new_grams, 0)) OVER (ORDER BY tot.si ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / uni, 6) AS cum_share "
        + "FROM tot LEFT JOIN fc USING (si) CROSS JOIN uni ORDER BY source_id"),
    "q255_eb_shrinkage" ->
      ("WITH cells AS (SELECT source, CAST(count(*) AS BIGINT) AS n, "
        + "CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS x FROM documents GROUP BY source), "
        + "prior AS (SELECT CAST(count(*) AS BIGINT) AS s_cnt, "
        + "sum(CAST(CAST(x AS DOUBLE) / n AS DECIMAL(28,12))) AS sp, "
        + "sum(CAST((CAST(x AS DOUBLE) / n) * (CAST(x AS DOUBLE) / n) AS DECIMAL(28,12))) AS sp2 FROM cells), "
        + "mv AS (SELECT s_cnt, CAST(sp AS DOUBLE) / s_cnt AS m, "
        + "CAST(sp2 AS DOUBLE) / s_cnt - (CAST(sp AS DOUBLE) / s_cnt) * (CAST(sp AS DOUBLE) / s_cnt) AS v FROM prior), "
        + "pr AS (SELECT m, CASE WHEN v > 0 AND m * (1.0 - m) / v - 1.0 > 0 "
        + "THEN m * (1.0 - m) / v - 1.0 END AS common FROM mv) "
        + "SELECT source, n, x, round(CAST(x AS DOUBLE) / n, 6) AS raw_rate, "
        + "round(m, 6) AS prior_mean, "
        + "round((x + m * common) / (n + common), 6) AS shrunk_rate, "
        + "round((x + m * common) / (n + common) - CAST(x AS DOUBLE) / n, 6) AS delta "
        + "FROM cells CROSS JOIN pr ORDER BY source"),
    "q150_gopher_rules" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "m AS (SELECT doc_id, len(w) AS n_words, "
        + "round(CAST(length(array_to_string(w, '')) AS DOUBLE) / len(w), 4) AS mean_wlen, "
        + "len(list_intersect(list_distinct(w), ['the', 'a', 'to', 'of', 'and'])) AS stop_hits, "
        + "round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS distinct_ratio "
        + "FROM t WHERE len(w) > 0), "
        + "f AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_wlen, CAST(stop_hits AS BIGINT) AS stop_hits, distinct_ratio, "
        + "CASE WHEN n_words >= 20 AND n_words <= 400 THEN 1 ELSE 0 END AS r_nwords, "
        + "CASE WHEN mean_wlen >= 3.0 AND mean_wlen <= 10.0 THEN 1 ELSE 0 END AS r_wlen, "
        + "CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r_stop, "
        + "CASE WHEN distinct_ratio > 0.3 THEN 1 ELSE 0 END AS r_distinct FROM m) "
        + "SELECT doc_id, n_words, mean_wlen, stop_hits, distinct_ratio, r_nwords, r_wlen, r_stop, r_distinct, "
        + "r_nwords * r_wlen * r_stop * r_distinct AS keep FROM f ORDER BY doc_id"),
    "q151_interdoc_dup" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "ng AS (SELECT DISTINCT doc_id, h FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), i -> "
        + "CAST('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15) AS BIGINT))) AS h FROM t WHERE len(w) >= 8)), "
        + "df AS (SELECT h, count(*) AS ndocs FROM ng GROUP BY h) "
        + "SELECT doc_id, count(*) AS n_ngrams, "
        + "CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared, "
        + "round(CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS shared_frac "
        + "FROM ng JOIN df USING (h) GROUP BY doc_id ORDER BY doc_id"),
    "q152_feature_hash" ->
      ("WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok FROM documents), "
        + "f AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 64 AS bucket, count(*) AS cnt "
        + "FROM tok GROUP BY 1, 2) "
        + "SELECT bucket, count(*) AS n_docs, CAST(sum(cnt) AS BIGINT) AS total_cnt, max(cnt) AS max_cnt "
        + "FROM f GROUP BY bucket ORDER BY bucket"),
    "q100_keep_best" ->
      ("WITH sc AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents), "
        + "sc2 AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp, "
        + "round(len(list_distinct(toks)) / len(toks), 6) AS quality FROM sc WHERE len(toks) > 0), "
        + "r AS (SELECT fp, doc_id, quality, row_number() OVER (PARTITION BY fp ORDER BY quality DESC, doc_id) AS rn, "
        + "count(*) OVER (PARTITION BY fp) AS cluster_size FROM sc2) "
        + "SELECT fp, CAST(cluster_size AS BIGINT) AS cluster_size, doc_id AS survivor, quality "
        + "FROM r WHERE rn = 1 ORDER BY fp"),
    "q84_domain_mix" ->
      ("WITH per AS (SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars, "
        + "1000000 // (1 + CAST(substr(source, 4, 10) AS INT)) AS w FROM documents GROUP BY source), "
        + "tot AS (SELECT CAST(sum(chars) AS BIGINT) AS tot_chars, CAST(sum(w) AS BIGINT) AS tot_w FROM per) "
        + "SELECT source, n_docs, chars, round(CAST(chars AS DOUBLE) / tot_chars, 6) AS actual_share, "
        + "round(CAST(w AS DOUBLE) / tot_w, 6) AS target_share, "
        + "round((CAST(w AS DOUBLE) / tot_w) / (CAST(chars AS DOUBLE) / tot_chars), 6) AS factor "
        + "FROM per CROSS JOIN tot ORDER BY source"),
    "q75_decontaminate" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "ng AS (SELECT DISTINCT doc_id, ng FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), i -> "
        + "array_to_string(w[i:i+7], ' '))) AS ng FROM toks WHERE len(w) >= 8)), "
        + "bench AS (SELECT doc_id AS bench_id, ng FROM ng WHERE doc_id % 101 = 7), "
        + "corpus AS (SELECT doc_id, ng FROM ng WHERE doc_id % 101 <> 7) "
        + "SELECT c.doc_id, count(*) AS n_hits, count(DISTINCT b.bench_id) AS n_bench_docs "
        + "FROM corpus c JOIN bench b USING (ng) GROUP BY c.doc_id ORDER BY c.doc_id"),
    "q76_repetition" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "bg AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bg "
        + "FROM toks WHERE len(w) >= 2), "
        + "bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2) "
        + "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_c, "
        + "round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_frac, "
        + "round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS dup_frac "
        + "FROM bgc GROUP BY doc_id ORDER BY doc_id"),
    "q77_pii_scrub" ->
      ("WITH dirty AS (SELECT doc_id, text || CASE WHEN doc_id % 10 = 3 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' "
        + "WHEN doc_id % 10 = 6 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-4567 now' ELSE '' END AS dirty FROM documents), "
        + "scrub AS (SELECT doc_id, dirty, regexp_replace(regexp_replace(dirty, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'), '555-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed FROM dirty) "
        + "SELECT doc_id, len(regexp_extract_all(dirty, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS n_emails, "
        + "len(regexp_extract_all(dirty, '555-[0-9]{3}-[0-9]{4}')) AS n_phones, "
        + "len(regexp_extract_all(scrubbed, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) + len(regexp_extract_all(scrubbed, '555-[0-9]{3}-[0-9]{4}')) AS n_leftover, "
        + "md5(scrubbed) AS scrub_hash, length(dirty) - length(scrubbed) AS len_delta "
        + "FROM scrub ORDER BY doc_id"),
    "q179_source_overlap" ->
      ("WITH st AS (SELECT DISTINCT source, tok FROM ("
        + "SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "sizes AS (SELECT source, count(*) AS n_tok FROM st GROUP BY source), "
        + "inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter "
        + "FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source GROUP BY 1, 2) "
        + "SELECT src_a, src_b, inter, sa.n_tok AS na, sb.n_tok AS nb, "
        + "round(CAST(inter AS DOUBLE) / (sa.n_tok + sb.n_tok - inter), 6) AS jaccard "
        + "FROM inter JOIN sizes sa ON sa.source = src_a JOIN sizes sb ON sb.source = src_b "
        + "ORDER BY src_a, src_b"),
    "q227_temperature_mix" ->
      ("WITH per AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars FROM documents GROUP BY source), "
        + "tot AS (SELECT CAST(sum(chars) AS BIGINT) AS tot FROM per), "
        + "p0 AS (SELECT source, chars, chars / CAST(tot AS DOUBLE) AS p FROM per, tot), "
        + "w AS (SELECT source, chars, p, "
        + "CAST(CASE WHEN p > 0 THEN exp(0.7 * ln(p)) ELSE 0 END AS DECIMAL(28,12)) AS w07, "
        + "CAST(CASE WHEN p > 0 THEN exp(0.3 * ln(p)) ELSE 0 END AS DECIMAL(28,12)) AS w03 FROM p0), "
        + "z AS (SELECT sum(w07) AS z07, sum(w03) AS z03 FROM w) "
        + "SELECT source, chars, round(p, 6) AS share_raw, "
        + "round(CAST(w07 AS DOUBLE) / CAST(z07 AS DOUBLE), 6) AS share_t07, "
        + "round((CAST(w07 AS DOUBLE) / CAST(z07 AS DOUBLE)) / p, 6) AS epochs_t07, "
        + "round(CAST(w03 AS DOUBLE) / CAST(z03 AS DOUBLE), 6) AS share_t03, "
        + "round((CAST(w03 AS DOUBLE) / CAST(z03 AS DOUBLE)) / p, 6) AS epochs_t03 "
        + "FROM w, z ORDER BY source"),
    "q231_encoding_audit" ->
      ("WITH d AS (SELECT source, CAST(length(text) AS DOUBLE) AS nc, "
        + "CAST(length(regexp_replace(text, '[ -~]', '', 'g')) AS DOUBLE) AS nna FROM documents) "
        + "SELECT source, count(*) AS n_docs, "
        + "round(CAST(sum(CAST(CASE WHEN nc = 0.0 THEN 0.0 ELSE nna / nc END AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mean_nonascii_ratio, "
        + "round(sum(CASE WHEN nna > 0 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS pct_nonascii_docs "
        + "FROM d GROUP BY source ORDER BY source"),
    // q237: q151's hashed-8-gram CTE lifted to the source level.
    "q237_source_gram_overlap" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents), "
        + "ng AS (SELECT DISTINCT doc_id, h FROM (SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), i -> "
        + "CAST('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15) AS BIGINT))) AS h FROM t WHERE len(w) >= 8)), "
        + "sg AS MATERIALIZED (SELECT DISTINCT d.source, ng.h FROM ng JOIN documents d USING (doc_id)), "
        + "sizes AS (SELECT source, count(*) AS n_grams FROM sg GROUP BY source), "
        + "inter AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter "
        + "FROM sg a JOIN sg b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2) "
        + "SELECT src_a, src_b, inter, sa.n_grams AS na, sb.n_grams AS nb, "
        + "round(CAST(inter AS DOUBLE) / (sa.n_grams + sb.n_grams - inter), 6) AS jaccard, "
        + "round(CAST(inter AS DOUBLE) / least(sa.n_grams, sb.n_grams), 6) AS containment "
        + "FROM inter JOIN sizes sa ON sa.source = src_a JOIN sizes sb ON sb.source = src_b "
        + "ORDER BY src_a, src_b"),
  )
}
