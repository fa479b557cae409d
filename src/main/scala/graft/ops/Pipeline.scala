package graft.ops

import graft.{QueryPack, Sessions, Tables}
import org.apache.spark.sql.functions._

/** Training-data pipeline mechanics beyond analysis/dedup: the
  * reshaping operators an LLM data pipeline runs after filtering —
  * deterministic dataset splitting, text normalization, and greedy
  * sequence packing. All per-row or single-shuffle; all oracle-backed
  * (hash splits use the md5→BIGINT parity recipe, packing is exact
  * integer window arithmetic).
  */
object Pipeline extends QueryPack {

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // Deterministic 80/10/10 train/val/test split: bucket = 60-bit
    // md5(doc_id) mod 100. Hash-based (never random()) so the split is
    // stable across runs, engines, and repartitioning — the only
    // correct way to split at 100 TB.
    "q58_sample_split" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("b", expr(
          "md5_mod(cast(doc_id as string), 100L)"))
        .withColumn("split", expr(
          "CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("split"))),

    // ------------------------------------------------------------------
    // Normalization pass: lowercase, digits → <num>, collapse runs of
    // whitespace, trim; emit the canonical hash + length per doc.
    "q59_text_clean" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("cleaned", trim(regexp_replace(
          regexp_replace(lower(col("text")), "[0-9]+", "<num>"), " +", " ")))
        .select(col("doc_id"),
          md5(col("cleaned").cast("binary")).as("clean_hash"),
          length(col("cleaned")).as("clean_len"),
          (length(col("text")) - length(col("cleaned"))).as("removed"))
        .orderBy(col("doc_id"))),

    // ------------------------------------------------------------------
    // Greedy sequence packing: per source, docs in doc_id order are
    // packed into 512-token chunks by starting offset (running token
    // count). One partitioned window — packing state never leaves its
    // source partition, so the operator scales with source count.
    "q60_seq_pack" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          expr("size(filter(split(text, ' '), x -> x <> ''))").as("n_tok"))
        .selectExpr("doc_id", "source", "n_tok",
          "sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum")
        .withColumn("chunk", expr("(cum - n_tok) div 512"))
        .groupBy(col("source"), col("chunk"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("source"), col("chunk"))),
    // ------------------------------------------------------------------
    // Deterministic stratified sampling: fixed n per stratum, selection
    // ordered by a per-row md5 (never rand()) so the sample is stable
    // across runs/engines/partitionings — the reproducible-subset
    // primitive every training-data pipeline needs.
    "q68_stratified_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("h", md5(concat(lit("strat|"), col("doc_id").cast("string")).cast("binary")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("rn"), col("doc_id"), col("source"))
        .orderBy(col("lang"), col("rn"))
    }),

    // ------------------------------------------------------------------
    // CDC changelog compaction: events replayed as a per-user changelog
    // (version order = ts, event_id); the compacted state is the LATEST
    // version per key, and a key whose latest op is a tombstone (the
    // 'error' type here) is dropped entirely — the upsert/delete
    // semantics every ingestion pipeline materializes. One partitioned
    // window keyed by user, so compaction state never leaves its key
    // partition and the operator scales with key count, not log length.
    "q85_cdc_compact" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"),
          col("value"), col("event_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_versions",
          count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .filter(col("rn") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("n_versions"), col("ts").as("last_ts"),
          col("event_type").as("last_type"), col("value").as("last_value"))
        .orderBy(col("user_id"))
    }),

    // ------------------------------------------------------------------
    // Incremental aggregation via MERGEABLE STATE: two ingest tranches
    // each produce algebraic partial state (count/decimal-sum/min/max
    // per key); merging the two state tables — never re-touching raw
    // rows — must equal the full recompute, which is exactly what the
    // oracle asserts. This is the materialized-view/incremental-ETL
    // property that makes 100 TB daily pipelines affordable: avg is
    // deliberately DERIVED from (sum, n) at read time because it is
    // not itself mergeable.
    "q95_incremental_agg" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("day", date_trunc("day", col("ts")))
      def state(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sv"),
          min(col("value")).as("mn"), max(col("value")).as("mx"))
      val s1 = state(e.filter(col("user_id") % 2 === 0))
      val s2 = state(e.filter(col("user_id") % 2 === 1))
      s1.unionAll(s2)
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("n"), sum(col("sv")).as("svm"),
          min(col("mn")).as("min_v"), max(col("mx")).as("max_v"))
        .select(col("event_type"), col("day"), col("n"),
          round(col("svm").cast("double"), 6).as("sum_v"),
          round(col("svm").cast("double") / col("n"), 6).as("avg_v"),
          col("min_v"), col("max_v"))
        .orderBy(col("event_type"), col("day"))
    }),

    // ------------------------------------------------------------------
    // Incremental ingest dedup: the existing corpus (even doc_ids)
    // exposes only its canonical-fingerprint index (q54's md5 over the
    // sorted distinct token set); an incoming batch (odd doc_ids) is
    // first deduped within itself (deterministic min-doc survivor per
    // fingerprint), then anti-joined against the index — the "admit
    // only genuinely new content" gate an append-only 100 TB corpus
    // runs per batch. The index side carries fingerprints only, never
    // text, so the anti-join shuffles hashes, not documents.
    "q96_incremental_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val fp = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), md5(expr(
          "cast(array_join(array_sort(array_distinct(filter(split(text, ' '), x -> x <> ''))), ' ') as binary)"))
          .as("fp"))
      val existing = fp.filter(col("doc_id") % 2 === 0).select(col("fp")).distinct()
      val admitted = fp.filter(col("doc_id") % 2 === 1)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
        .join(existing, Seq("fp"), "left_anti")
      admitted.select(col("doc_id"), col("lang"), col("fp"))
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // The q05 star join run through Skew.saltedJoin (8-way salt on the
    // orders→customer edge): identical oracle as a plain join — proof
    // under the hash gate that salting is semantics-preserving.
    "q67_skew_salted_join" -> ((s, dir) => {
      val r = Tables.region(s, dir); val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir); val o = Tables.orders(s, dir)
      val dims = r.join(n, n("n_regionkey") === r("r_regionkey"))
        .join(c, c("c_nationkey") === n("n_nationkey"))
        .select(col("r_name"), col("n_name"), col("c_custkey").as("o_custkey"))
      Skew.saltedJoin(o, dims, "o_custkey", col("o_orderkey"), 8)
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 6).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // ------------------------------------------------------------------
    // The fact⋈fact join through bucketed tables (q67's sibling: same
    // prove-the-technique-under-the-oracle pattern). Both sides are
    // written bucketBy(8).sortBy on the join key into a per-run
    // warehouse, and the join consumes the bucket layout — at 100 TB
    // this is the co-located join that removes the shuffle entirely
    // (the no-Exchange plan property is asserted in BucketingSpec; the
    // oracle here proves the layout is semantics-preserving).
    "q82_bucketed_join" -> ((s, dir) => {
      // stable per-JVM warehouse (Stage.dir) — CREATE DATABASE pins its
      // LOCATION on first run, so a fresh temp dir per invocation would
      // leak one orphan dir per later run (ADVICE round 3); the stable
      // dir is reused in place and hook-deleted at exit
      val wh = Stage.dir("bkt82")
      s.sql(s"CREATE DATABASE IF NOT EXISTS graft_bkt82 LOCATION '$wh'")
      // the bucketed layout stores only the workload's columns — a
      // bucketed table is a join INDEX for its key, not an archive;
      // writing all columns tripled the (measured) index-build cost.
      // The two index builds are independent writes into different
      // tables, so they overlap from driver threads (guide §2.6): each
      // alone underfills the cluster (8 bucket tasks + commit), and
      // sequential driver calls were the only thing serializing them.
      val writes = Seq(
        () => Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
          .write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable("graft_bkt82.orders_b"),
        () => Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
          .write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable("graft_bkt82.lineitem_b"))
        .map(wf => Sessions.future(s)(wf()))
      writes.foreach(f =>
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      s.table("graft_bkt82.lineitem_b")
        .join(s.table("graft_bkt82.orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 6).as("rev"))
        .orderBy(col("o_orderstatus"), col("l_returnflag"))
    }),

    // ------------------------------------------------------------------
    // Pipeline observability via `observe()`: data-quality metrics
    // (row count, exact decimal sum, predicate counters) are collected
    // DURING the main job's single pass over the data — the
    // CollectMetrics operator costs no extra scan, which is how a
    // 100 TB pipeline affords per-run health metrics. The observed
    // values are emitted as the result so the oracle can gate them
    // against plain SQL aggregates.
    "q113_observe" -> ((s, dir) => {
      val obs = org.apache.spark.sql.Observation()
      val main = Tables.lineitem(s, dir)
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"),
          count(when(col("l_discount") > 0.05, 1)).as("n_hi_disc"),
          count(when(col("l_extendedprice").isNull, 1)).as("n_null_price"))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      main.count() // the one action; metrics ride along with it
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("sum_qty").asInstanceOf[java.math.BigDecimal].doubleValue,
        m("n_hi_disc").asInstanceOf[Long],
        m("n_null_price").asInstanceOf[Long]))
        .toDF("n_rows", "sum_qty_raw", "n_hi_disc", "n_null_price")
        .select(col("n_rows"), round(col("sum_qty_raw"), 2).as("sum_qty"),
          col("n_hi_disc"), col("n_null_price"))
    }),
    // ------------------------------------------------------------------
    // Snapshot reconciliation (table diff): two deterministic "versions"
    // of orders — old drops key%97==0, new drops key%89==0 and bumps
    // price 1% where key%7==0 — are compared by key with a canonical
    // md5 row hash: added / removed / changed / unchanged counts plus
    // key ranges. One key-partitioned full-outer join; row content
    // never shuffles twice (only the 32-char hash travels). This is
    // the drift check run after every backfill or migration.
    "q114_reconcile" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          col("o_orderdate").cast("date").as("dt"),
          col("o_totalprice").cast("decimal(18,2)").as("tp"))
      val hash = (tp: org.apache.spark.sql.Column) => md5(concat_ws("|",
        col("st"), col("dt").cast("string"), tp.cast("string")).cast("binary"))
      val old = base.filter(col("k") % 97 =!= 0)
        .select(col("k"), hash(col("tp")).as("h_old"))
      val neu = base.filter(col("k") % 89 =!= 0)
        // exact decimal 1.01 (a double literal would detour through
        // binary float and break .xx50 rounding ties vs DuckDB's
        // exact-decimal multiply)
        .withColumn("tp", when(col("k") % 7 === 0,
          (col("tp") * lit(new java.math.BigDecimal("1.01"))).cast("decimal(18,2)"))
          .otherwise(col("tp")))
        .select(col("k"), hash(col("tp")).as("h_new"))
      old.join(neu, Seq("k"), "full_outer")
        .withColumn("status",
          when(col("h_old").isNull, "added")
            .when(col("h_new").isNull, "removed")
            .when(col("h_old") =!= col("h_new"), "changed")
            .otherwise("unchanged"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_key"), max(col("k")).as("max_key"))
        .orderBy(col("status"))
    }),

    // ------------------------------------------------------------------
    // Weight-proportional sampling WITHOUT replacement (Efraimidis–
    // Spirakis A-Res): each doc gets key ln(u)/w with u a DETERMINISTIC
    // md5-derived uniform (never rand() — q58's 100 TB reproducibility
    // rule) and w = n_chars; the k largest keys are the sample. The
    // top-k is ORDER BY + LIMIT → TakeOrderedAndProject (per-partition
    // heaps), so the corpus is scanned once and never sorted globally —
    // the importance-sampling step of a data-mixing pipeline.
    "q137_weighted_sample" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("u", expr(
          "(cast(md5_mod(cast(doc_id as string), 9223372036854775807L) as double) + 0.5) / 1152921504606846976.0"))
        .withColumn("k", expr("ln(u) / n_chars"))
        .orderBy(col("k").desc, col("doc_id"))
        .limit(20)
        .select(col("doc_id"), col("n_chars"), round(col("k") * 1000.0, 9).as("key_x1000"))),

    // ------------------------------------------------------------------
    // k-fold cross-validation assignment (k=5) with the complement
    // trick: folds come from the q58 md5 uniform (reproducible at any
    // scale, never rand()); each fold's TRAIN side is total − fold,
    // computed from ONE per-fold aggregate + a broadcast 1-row total —
    // never k passes over the corpus. The balance columns are what a
    // split-health check monitors before training.
    "q159_kfold" -> ((s, dir) => {
      val per = Tables.documents(s, dir)
        .withColumn("fold", expr(
          "md5_mod(cast(doc_id as string), 5L)"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_val"), sum(col("n_chars")).as("val_chars"))
      val tot = per.agg(sum(col("n_val")).as("n_tot"), sum(col("val_chars")).as("chars_tot"))
      per.crossJoin(broadcast(tot))
        .select(col("fold"), col("n_val"),
          (col("n_tot") - col("n_val")).as("n_train"),
          col("val_chars"),
          (col("chars_tot") - col("val_chars")).as("train_chars"),
          round(col("n_val") / col("n_tot"), 6).as("val_share"))
        .orderBy(col("fold"))
    }),

    // ------------------------------------------------------------------
    // Span-corruption planning (the T5/MLM preprocessing step): each
    // (doc, pos) token is masked by a deterministic md5 coin (15%), and
    // the per-doc mask profile — count, rate, number of contiguous
    // masked SPANS, longest span — is computed with the gaps-and-
    // islands idiom: island id = pos − row_number() within the doc's
    // masked positions, a doc-partitioned window (never global). This
    // is the plan a span-corruption data loader needs per document.
    "q160_span_mask" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(expr("filter(split(text, ' '), x -> x <> '')")).as(Seq("pos", "tok")))
        .withColumn("masked", expr(
          "md5_mod(concat(cast(doc_id as string), ':', cast(pos as string)), 100L) < 15"))
      val nTok = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      val spans = toks.filter(col("masked"))
        .withColumn("island", col("pos") -
          row_number().over(Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
        .groupBy(col("doc_id"), col("island"))
        .agg(count(lit(1)).as("span_len"))
        .groupBy(col("doc_id"))
        .agg(sum(col("span_len")).as("n_masked"),
          count(lit(1)).as("n_spans"),
          max(col("span_len")).as("max_span"))
      nTok.join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_masked"), lit(0L)).as("n_masked"),
          round(coalesce(col("n_masked"), lit(0L)) / col("n_tokens"), 4).as("mask_rate"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("max_span"), lit(0L)).as("max_span"))
        .orderBy(col("doc_id"))
    }),

    // ------------------------------------------------------------------
    // Context-length packing planner: for each candidate context size
    // (128/256/512 tokens) report how much of the corpus fits, how many
    // docs truncate, and the bin-count LOWER BOUND ceil(Σmin(len,ctx)/
    // ctx) vs the naive one-doc-per-bin count — the numbers that pick a
    // sequence length before running the (q60) packer. One doc-length
    // contraction × 3 exploded contexts; ceil via integer (x+c-1) div c
    // on both engines (no float).
    "q178_packing_eff" -> ((s, dir) => {
      val lens = Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("size(filter(split(text, ' '), x -> x <> ''))").cast("long").as("len"))
      lens.select(col("len"), explode(expr("array(128, 256, 512)")).as("ctx"))
        .groupBy(col("ctx"))
        .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("total_tokens"),
          sum(least(col("len"), col("ctx"))).as("kept_tokens"),
          sum(when(col("len") > col("ctx"), 1).otherwise(0)).as("n_truncated"))
        .withColumn("bins_lb", expr("(kept_tokens + ctx - 1) div ctx"))
        .select(col("ctx"), col("n_docs"), col("total_tokens"), col("kept_tokens"),
          col("n_truncated"), col("bins_lb"),
          round(expr("cast(kept_tokens as double) / (bins_lb * ctx)"), 6).as("fill_lb"),
          round(expr("cast(kept_tokens as double) / (n_docs * ctx)"), 6).as("fill_naive"))
        .orderBy(col("ctx"))
    }),

    // ------------------------------------------------------------------
    // Z-ORDER data-layout audit — the file-skipping decision a 100 TB
    // table layout lives or dies by. Each order's (custkey, orderdate)
    // is quantized to 8 bits per dim (pure integer arithmetic against
    // broadcast min/max), bit-interleaved into a 16-bit Morton code
    // (in-row HOF fold — no UDF), and bucketed into 64 Z-buckets vs 64
    // natural insertion-order buckets (orderkey ranges). The per-bucket
    // min/max SPAN of each dimension is exactly what parquet row-group
    // pruning sees: small spans on BOTH dims ⇒ a predicate on either
    // column skips most buckets. Output: one row per layout with the
    // average spans — the Z-order rows should crush the natural layout
    // on custkey while staying competitive on date.
    "q250_zorder_layout" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
        col("o_custkey").as("c"),
        expr("datediff(cast(o_orderdate as date), date'1970-01-01')").as("d"))
      val b = o.agg(min(col("c")).as("minc"), max(col("c")).as("maxc"),
        min(col("d")).as("mind"), max(col("d")).as("maxd"),
        min(col("k")).as("mink"), max(col("k")).as("maxk"))
      val g = o.crossJoin(broadcast(b))
        .withColumn("cx", expr("cast(floor(256.0 * (c - minc) / (maxc - minc + 1)) as int)"))
        .withColumn("dx", expr("cast(floor(256.0 * (d - mind) / (maxd - mind + 1)) as int)"))
        .withColumn("z", expr("aggregate(sequence(0, 7), 0, (acc, j) -> "
          + "acc + shiftleft(shiftright(cx, j) & 1, 2 * j + 1) + shiftleft(shiftright(dx, j) & 1, 2 * j))"))
        .withColumn("zb", expr("z div 1024"))
        .withColumn("nb", expr("cast(floor(64.0 * (k - mink) / (maxk - mink + 1)) as int)"))
        .localCheckpoint() // two layout rollups consume it
      def spans(bucket: String, name: String) = g.groupBy(col(bucket))
        .agg((max(col("c")) - min(col("c"))).as("cs"), (max(col("d")) - min(col("d"))).as("ds"))
        .agg(count(lit(1)).as("n_buckets"),
          round(expr("sum(cs) / cast(count(1) as double)"), 6).as("avg_cust_span"),
          round(expr("sum(ds) / cast(count(1) as double)"), 6).as("avg_date_span"))
        .select(lit(name).as("layout"), col("n_buckets"), col("avg_cust_span"), col("avg_date_span"))
      spans("zb", "zorder").union(spans("nb", "natural")).orderBy(col("layout"))
    }),

    // ------------------------------------------------------------------
    // Context-length sweep: how many tokens would a training run KEEP
    // vs TRUNCATE at each candidate context length — the sizing table
    // consulted before fixing max_seq_len on a 100 TB corpus. The
    // corpus contracts FIRST to per-length doc counts (one shuffle to
    // ≤|distinct lengths| cells, lengths computed in-row with no
    // explode); the ×5 candidate-length expansion then runs on that
    // bounded frame, never on docs. Exact integer token arithmetic
    // throughout; only the percentages are rounded on output.
    "q258_context_sweep" -> ((s, dir) => {
      val perLen = Tables.documents(s, dir)
        .select(expr("size(filter(split(text, ' '), x -> x <> ''))").as("nt"))
        .groupBy(col("nt")).agg(count(lit(1)).as("n_docs"))
      perLen
        .select(col("nt"), col("n_docs"),
          explode(array(lit(16), lit(32), lit(64), lit(96), lit(128))).as("ctx_len"))
        .groupBy(col("ctx_len"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(when(col("nt") > col("ctx_len"), col("n_docs")).otherwise(0L)).as("docs_truncated"),
          sum(col("nt") * col("n_docs")).as("toks_total"),
          sum(least(col("nt"), col("ctx_len")) * col("n_docs")).as("toks_kept"),
          sum(greatest(col("nt") - col("ctx_len"), lit(0)) * col("n_docs")).as("toks_lost"))
        .selectExpr("ctx_len", "n_docs", "docs_truncated",
          "round(cast(docs_truncated as double) / n_docs, 6) AS docs_truncated_pct",
          "toks_total", "toks_kept", "toks_lost",
          "round(cast(toks_lost as double) / toks_total, 6) AS loss_pct")
        .orderBy(col("ctx_len"))
    }),

    // ------------------------------------------------------------------
    // Hash-uniformity audit of the engine's own md5_mod splitter — the
    // machinery q58/q67/q137/q152/q159 ALL trust: 64-bucket chi²
    // goodness-of-fit for the two hot key populations (event ids,
    // order keys), plus min/max bucket occupancy (what a salt skew
    // would show first). One partial-agg shuffle to ≤64 cells per key;
    // (o−e)²/e terms DECIMAL-quantized; empty buckets cannot occur at
    // these populations (n ≥ 6k over 64 buckets) and both engines sum
    // over occupied cells identically regardless. χ²(63) 5% = 82.529.
    "q269_hash_uniformity" -> ((s, dir) => {
      def audit(name: String, df: org.apache.spark.sql.DataFrame, key: String) = {
        val cells = df
          .select(expr(s"md5_mod(cast($key as string), 64L)").as("b"))
          .groupBy(col("b")).agg(count(lit(1)).as("c"))
          .localCheckpoint() // totals + per-cell terms both consume it
        val tot = cells.agg(sum(col("c")).as("n"),
          count(lit(1)).as("n_buckets"), min(col("c")).as("min_bucket_n"),
          max(col("c")).as("max_bucket_n"))
        cells.crossJoin(broadcast(tot))
          // cast(n as double) FIRST: a bare n/64.0 is bigint/decimal →
          // Spark's decimal division truncates each term at scale 6
          // (measured 1.3e-5 chi² drift vs the exact double sum)
          .withColumn("term", expr(
            "cast((c - cast(n as double) / 64.0) * (c - cast(n as double) / 64.0) "
              + "/ (cast(n as double) / 64.0) as decimal(28,12))"))
          .agg(first(col("n")).as("n"), first(col("n_buckets")).as("n_buckets"),
            first(col("min_bucket_n")).as("min_bucket_n"),
            first(col("max_bucket_n")).as("max_bucket_n"),
            sum(col("term")).as("chi2q"))
          .selectExpr(s"'$name' AS key_name", "n", "n_buckets",
            "min_bucket_n", "max_bucket_n",
            "round(cast(chi2q as double), 6) AS chi2",
            "cast(chi2q as double) < 82.529 AS uniform_ok_5pct")
      }
      audit("event_id", Tables.events(s, dir), "event_id")
        .union(audit("o_orderkey", Tables.orders(s, dir), "o_orderkey"))
        .orderBy(col("key_name"))
    }),

    // ------------------------------------------------------------------
    // Join-key skew audit — the diagnosis that justifies (or rejects)
    // q67's salting BEFORE a shuffle is launched: per-key row counts
    // for events.user_id (one contraction), the heavy-key profile
    // (max/p99 key rows, top-1 share), and the measured max-partition
    // share at 32 md5 buckets of the RAW key vs the SALTED key
    // (key‖md5-salt mod 8, q67's scatter). balance_gain = raw/salted
    // max-share: >1 means salting would flatten the hot partition.
    // Everything after the per-key contraction is ≤32 bounded cells;
    // exact integer counts, 6dp output rounding only.
    "q272_skew_audit" -> ((s, dir) => {
      val perKey = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // profile agg + both bucket rollups
      val prof = perKey.agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
        max(col("c")).as("max_key_rows"),
        expr("cast(percentile(c, 0.99) as double)").as("p99_key_rows"))
      val rawB = perKey
        .withColumn("b", expr("md5_mod(cast(user_id as string), 32L)"))
        .groupBy(col("b")).agg(sum(col("c")).as("load"))
        .agg(max(col("load")).as("max_raw_load"))
      val saltB = Tables.events(s, dir)
        .withColumn("b", expr(
          "md5_mod(concat(cast(user_id as string), '#', cast(md5_mod(cast(event_id as string), 8L) as string)), 32L)"))
        .groupBy(col("b")).agg(count(lit(1)).as("load"))
        .agg(max(col("load")).as("max_salt_load"))
      prof.crossJoin(broadcast(rawB)).crossJoin(broadcast(saltB))
        .selectExpr("n_keys", "n_rows", "max_key_rows",
          "round(p99_key_rows, 6) AS p99_key_rows",
          "round(cast(max_key_rows as double) / n_rows, 6) AS top1_share",
          "round(cast(max_raw_load as double) / n_rows, 6) AS max_bucket_share_raw",
          "round(cast(max_salt_load as double) / n_rows, 6) AS max_bucket_share_salted",
          "round(cast(max_raw_load as double) / max_salt_load, 6) AS balance_gain")
    }),

    // ------------------------------------------------------------------
    // Exact Neyman allocation: the optimal stratified-sampling design
    // n_h ∝ N_h·S_h (big AND variable strata get more budget) for a
    // 200-doc sample stratified by lang, with LARGEST-REMAINDER
    // rounding so the allocations sum to exactly 200 — q68 samples
    // uniformly per stratum; this computes the budget a survey
    // statistician would. S_h from exact integer (N, Σx, Σx²) cells in
    // one fixed-order closed form (bit-identical both engines), the
    // remainder rank over ≤|langs| cells (bounded window, allowlisted),
    // the sample itself by the md5-order row_number (q68's idiom, but
    // with the PER-STRATUM cutoff joined in), and the realized sample
    // mean vs the stratum mean as the design audit.
    "q292_neyman_alloc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), col("n_chars"))
      val cells = d.groupBy(col("lang"))
        .agg(count(lit(1)).as("nh"), sum(col("n_chars")).as("sx"),
          sum(col("n_chars") * col("n_chars")).as("sx2"))
        .withColumn("sh", expr(
          "sqrt((sx2 - cast(sx as double) * sx / nh) / (nh - 1))"))
        .withColumn("wh", expr("nh * sh"))
        .localCheckpoint() // Σw + base-sum + the ranked allocation all consume it
      val tot = cells.agg(sum(col("wh")).as("sw"))
      val quotas = cells.crossJoin(broadcast(tot))
        .withColumn("quota", expr("200.0 * wh / sw"))
        .withColumn("base", expr("cast(floor(quota) as bigint)"))
        .withColumn("rem", expr("quota - floor(quota)"))
        .localCheckpoint() // base-sum + ranked allocation
      val baseTot = quotas.agg(sum(col("base")).as("tb"))
      val wr = Window.orderBy(col("rem").desc, col("lang")) // bounded: ≤|langs| cells
      val alloc = quotas.crossJoin(broadcast(baseTot))
        .withColumn("rk", row_number().over(wr))
        .withColumn("n_h", col("base") + when(col("rk") <= lit(200L) - col("tb"), 1L).otherwise(0L))
        .select(col("lang"), col("nh"), col("sh"), col("n_h"))
      val ws = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      val sample = d
        .withColumn("h", md5(concat(lit("ney|"), col("doc_id").cast("string")).cast("binary")))
        .withColumn("rn", row_number().over(ws))
        .join(broadcast(alloc.select(col("lang"), col("n_h"))), "lang")
        .filter(col("rn") <= col("n_h"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("samp_sx"))
      alloc.join(sample, Seq("lang"), "left")
        .select(col("lang"), col("nh").as("stratum_n"),
          round(col("sh"), 6).as("stratum_sd"), col("n_h").as("alloc"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          round(expr("cast(samp_sx as double) / n_sampled"), 6).as("sample_mean"))
        .orderBy(col("lang"))
    }),

    // ------------------------------------------------------------------
    // Leave-one-out TARGET ENCODING with a leakage audit — the
    // feature-engineering step that turns a categorical into its
    // group-mean target (q152 hashes features; this encodes them), and
    // the audit every pipeline should run: the naive encoder e_i =
    // ȳ_{g(i)} contains y_i itself, so corr(e, y) overstates signal;
    // the LOO encoder l_i = (S_g − y_i)/(n_g − 1) strips it. BOTH
    // correlations are CLOSED-FORM from the per-group (n, Σy, Σy²)
    // cells — the per-row encoded column is never materialized:
    // Σe·y = Σ_g S_g²/n_g, Σl·y = Σ_g (S_g²−Q_g)/(n_g−1), Σl² =
    // Σ_g ((n_g−2)S_g²+Q_g)/(n_g−1)² — one contraction, zero joins.
    // leakage_gap = corr_naive − corr_loo is the self-leak bill.
    "q343_target_encoding" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderpriority").as("grp"),
          col("o_totalprice").cast("decimal(18,2)").as("y"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_g"), sum(col("y")).as("s_g"),
          sum(expr("cast(y * y as decimal(38,4))")).as("q_g"))
        .agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
          sum(col("s_g")).as("sy"), sum(col("q_g")).as("qy"),
          sum(expr("cast(cast(s_g as double) * cast(s_g as double) / n_g as decimal(38,6))")).as("se2"),
          sum(expr("cast((cast(s_g as double) * cast(s_g as double) - cast(q_g as double)) / (n_g - 1) as decimal(38,6))")).as("sly"),
          sum(expr("cast(((n_g - 2) * cast(s_g as double) * cast(s_g as double) + cast(q_g as double)) / (cast(n_g - 1 as double) * (n_g - 1)) as decimal(38,6))")).as("sl2"))
        .withColumn("cyy", expr("cast(qy as double) - cast(sy as double) * cast(sy as double) / n"))
        .withColumn("cee", expr("cast(se2 as double) - cast(sy as double) * cast(sy as double) / n"))
        .withColumn("cly", expr("cast(sly as double) - cast(sy as double) * cast(sy as double) / n"))
        .withColumn("cll", expr("cast(sl2 as double) - cast(sy as double) * cast(sy as double) / n"))
        .selectExpr("n", "k",
          "round(sqrt(cee / cyy), 6) AS corr_naive",
          "round(cly / sqrt(cll * cyy), 6) AS corr_loo",
          "round(sqrt(cee / cyy) - cly / sqrt(cll * cyy), 6) AS leakage_gap")
    }),
  )

  def oracles: Map[String, String] = Map(
    "q343_target_encoding" ->
      ("WITH g AS (SELECT o_orderpriority AS grp, count(*) AS n_g, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s_g, "
        + "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS q_g "
        + "FROM orders GROUP BY 1), "
        + "agg AS (SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS sy, sum(q_g) AS qy, "
        + "sum(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g AS DECIMAL(38,6))) AS se2, "
        + "sum(CAST((CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) - CAST(q_g AS DOUBLE)) / (n_g - 1) AS DECIMAL(38,6))) AS sly, "
        + "sum(CAST(((n_g - 2) * CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) + CAST(q_g AS DOUBLE)) / (CAST(n_g - 1 AS DOUBLE) * (n_g - 1)) AS DECIMAL(38,6))) AS sl2 FROM g), "
        + "c AS (SELECT n, k, CAST(qy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cyy, "
        + "CAST(se2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cee, "
        + "CAST(sly AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cly, "
        + "CAST(sl2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cll FROM agg) "
        + "SELECT n, k, round(sqrt(cee / cyy), 6) AS corr_naive, "
        + "round(cly / sqrt(cll * cyy), 6) AS corr_loo, "
        + "round(sqrt(cee / cyy) - cly / sqrt(cll * cyy), 6) AS leakage_gap FROM c"),
    "q292_neyman_alloc" ->
      ("WITH cells AS (SELECT lang, CAST(count(*) AS BIGINT) AS nh, CAST(sum(n_chars) AS BIGINT) AS sx, "
        + "CAST(sum(n_chars * n_chars) AS BIGINT) AS sx2 FROM documents GROUP BY 1), "
        + "c2 AS (SELECT lang, nh, sqrt((sx2 - CAST(sx AS DOUBLE) * sx / nh) / (nh - 1)) AS sh, "
        + "nh * sqrt((sx2 - CAST(sx AS DOUBLE) * sx / nh) / (nh - 1)) AS wh FROM cells), "
        + "q AS (SELECT lang, nh, sh, 200.0 * wh / (SELECT sum(wh) FROM c2) AS quota FROM c2), "
        + "q2 AS (SELECT lang, nh, sh, CAST(floor(quota) AS BIGINT) AS base, quota - floor(quota) AS rem FROM q), "
        + "alloc AS (SELECT lang, nh, sh, base + (CASE WHEN row_number() OVER (ORDER BY rem DESC, lang) "
        + "<= 200 - (SELECT sum(base) FROM q2) THEN 1 ELSE 0 END) AS n_h FROM q2), "
        + "ranked AS (SELECT lang, doc_id, n_chars, row_number() OVER (PARTITION BY lang "
        + "ORDER BY md5('ney|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents), "
        + "samp AS (SELECT r.lang, CAST(count(*) AS BIGINT) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS samp_sx "
        + "FROM ranked r JOIN alloc a ON r.lang = a.lang AND r.rn <= a.n_h GROUP BY 1) "
        + "SELECT a.lang, a.nh AS stratum_n, round(a.sh, 6) AS stratum_sd, a.n_h AS alloc, "
        + "coalesce(s.n_sampled, 0) AS n_sampled, "
        + "round(CAST(samp_sx AS DOUBLE) / s.n_sampled, 6) AS sample_mean "
        + "FROM alloc a LEFT JOIN samp s ON a.lang = s.lang ORDER BY a.lang"),
    "q269_hash_uniformity" -> {
      def audit(name: String, table: String, key: String) =
        (s"SELECT '$name' AS key_name, n, n_buckets, min_bucket_n, max_bucket_n, "
          + "round(CAST(chi2q AS DOUBLE), 6) AS chi2, CAST(chi2q AS DOUBLE) < 82.529 AS uniform_ok_5pct FROM ("
          + "SELECT any_value(n) AS n, CAST(count(*) AS BIGINT) AS n_buckets, "
          + "min(c) AS min_bucket_n, max(c) AS max_bucket_n, "
          + "sum(CAST((c - CAST(n AS DOUBLE) / 64.0) * (c - CAST(n AS DOUBLE) / 64.0) / (CAST(n AS DOUBLE) / 64.0) AS DECIMAL(28,12))) AS chi2q FROM ("
          + s"SELECT b, CAST(count(*) AS BIGINT) AS c FROM (SELECT CAST('0x' || substr(md5(CAST($key AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS b FROM $table) GROUP BY b"
          + ") cells CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n FROM " + table + ") tot)")
      audit("event_id", "events", "event_id") + " UNION ALL " +
        audit("o_orderkey", "orders", "o_orderkey") + " ORDER BY key_name"
    },
    "q272_skew_audit" ->
      ("WITH perkey AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY user_id), "
        + "prof AS (SELECT CAST(count(*) AS BIGINT) AS n_keys, CAST(sum(c) AS BIGINT) AS n_rows, "
        + "max(c) AS max_key_rows, CAST(quantile_cont(c, 0.99) AS DOUBLE) AS p99_key_rows FROM perkey), "
        + "rawb AS (SELECT max(load) AS max_raw_load FROM (SELECT CAST(sum(c) AS BIGINT) AS load FROM ("
        + "SELECT c, CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 32 AS b FROM perkey) GROUP BY b)), "
        + "saltb AS (SELECT max(load) AS max_salt_load FROM (SELECT CAST(count(*) AS BIGINT) AS load FROM ("
        + "SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#' || "
        + "CAST(CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS VARCHAR)), 1, 15) AS BIGINT) % 32 AS b FROM events) GROUP BY b)) "
        + "SELECT n_keys, n_rows, max_key_rows, round(p99_key_rows, 6) AS p99_key_rows, "
        + "round(CAST(max_key_rows AS DOUBLE) / n_rows, 6) AS top1_share, "
        + "round(CAST(max_raw_load AS DOUBLE) / n_rows, 6) AS max_bucket_share_raw, "
        + "round(CAST(max_salt_load AS DOUBLE) / n_rows, 6) AS max_bucket_share_salted, "
        + "round(CAST(max_raw_load AS DOUBLE) / max_salt_load, 6) AS balance_gain "
        + "FROM prof CROSS JOIN rawb CROSS JOIN saltb"),
    "q258_context_sweep" ->
      ("WITH per AS (SELECT len(list_filter(string_split(text, ' '), x -> x <> '')) AS nt, "
        + "CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1), "
        + "sw AS (SELECT nt, n_docs, unnest([16, 32, 64, 96, 128]) AS ctx_len FROM per) "
        + "SELECT ctx_len, CAST(sum(n_docs) AS BIGINT) AS n_docs, "
        + "CAST(sum(CASE WHEN nt > ctx_len THEN n_docs ELSE 0 END) AS BIGINT) AS docs_truncated, "
        + "round(CAST(sum(CASE WHEN nt > ctx_len THEN n_docs ELSE 0 END) AS DOUBLE) / sum(n_docs), 6) AS docs_truncated_pct, "
        + "CAST(sum(nt * n_docs) AS BIGINT) AS toks_total, "
        + "CAST(sum(least(nt, ctx_len) * n_docs) AS BIGINT) AS toks_kept, "
        + "CAST(sum(greatest(nt - ctx_len, 0) * n_docs) AS BIGINT) AS toks_lost, "
        + "round(CAST(sum(greatest(nt - ctx_len, 0) * n_docs) AS DOUBLE) / sum(nt * n_docs), 6) AS loss_pct "
        + "FROM sw GROUP BY ctx_len ORDER BY ctx_len"),
    "q159_kfold" ->
      ("WITH per AS (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 5 AS fold, "
        + "count(*) AS n_val, CAST(sum(n_chars) AS BIGINT) AS val_chars FROM documents GROUP BY 1), "
        + "tot AS (SELECT CAST(sum(n_val) AS BIGINT) AS n_tot, CAST(sum(val_chars) AS BIGINT) AS chars_tot FROM per) "
        + "SELECT fold, n_val, n_tot - n_val AS n_train, val_chars, chars_tot - val_chars AS train_chars, "
        + "round(CAST(n_val AS DOUBLE) / n_tot, 6) AS val_share "
        + "FROM per CROSS JOIN tot ORDER BY fold"),
    "q160_span_mask" ->
      ("WITH toks AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS tok FROM ("
        + "SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents)), "
        + "m AS (SELECT doc_id, pos, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 15 AS masked FROM toks), "
        + "nt AS (SELECT doc_id, count(*) AS n_tokens FROM m GROUP BY doc_id), "
        + "isl AS (SELECT doc_id, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM m WHERE masked), "
        + "sp AS (SELECT doc_id, island, count(*) AS span_len FROM isl GROUP BY 1, 2), "
        + "agg AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS n_masked, count(*) AS n_spans, max(span_len) AS max_span FROM sp GROUP BY doc_id) "
        + "SELECT nt.doc_id, n_tokens, coalesce(n_masked, 0) AS n_masked, "
        + "round(CAST(coalesce(n_masked, 0) AS DOUBLE) / n_tokens, 4) AS mask_rate, "
        + "CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans, CAST(coalesce(max_span, 0) AS BIGINT) AS max_span "
        + "FROM nt LEFT JOIN agg ON nt.doc_id = agg.doc_id ORDER BY nt.doc_id"),
    "q137_weighted_sample" ->
      ("SELECT doc_id, n_chars, round(k * 1000.0, 9) AS key_x1000 FROM ("
        + "SELECT doc_id, n_chars, ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 0.5) "
        + "/ 1152921504606846976.0) / n_chars AS k FROM documents) "
        + "ORDER BY k DESC, doc_id LIMIT 20"),
    "q114_reconcile" ->
      ("WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS st, CAST(o_orderdate AS DATE) AS dt, "
        + "CAST(o_totalprice AS DECIMAL(18,2)) AS tp FROM orders), "
        + "old AS (SELECT k, md5(st || '|' || CAST(dt AS VARCHAR) || '|' || CAST(tp AS VARCHAR)) AS h_old FROM base WHERE k % 97 <> 0), "
        + "neu AS (SELECT k, md5(st || '|' || CAST(dt AS VARCHAR) || '|' || CAST(tp2 AS VARCHAR)) AS h_new FROM ("
        + "SELECT k, st, dt, CASE WHEN k % 7 = 0 THEN CAST(tp * 1.01 AS DECIMAL(18,2)) ELSE tp END AS tp2 FROM base) WHERE k % 89 <> 0) "
        + "SELECT CASE WHEN h_old IS NULL THEN 'added' WHEN h_new IS NULL THEN 'removed' "
        + "WHEN h_old <> h_new THEN 'changed' ELSE 'unchanged' END AS status, "
        + "count(*) AS n, min(k) AS min_key, max(k) AS max_key "
        + "FROM old FULL OUTER JOIN neu USING (k) GROUP BY status ORDER BY status"),
    "q113_observe" ->
      ("SELECT count(*) AS n_rows, "
        + "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty, "
        + "count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_hi_disc, "
        + "count(CASE WHEN l_extendedprice IS NULL THEN 1 END) AS n_null_price "
        + "FROM lineitem"),
    // the oracle IS the full recompute — merging partial states must equal it
    "q95_incremental_agg" ->
      ("SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n, "
        + "round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_v, "
        + "round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_v, "
        + "min(value) AS min_v, max(value) AS max_v "
        + "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
    "q96_incremental_dedup" ->
      ("WITH fp AS (SELECT doc_id, lang, md5(array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp FROM documents), "
        + "ex AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0), "
        + "surv AS (SELECT doc_id, lang, fp FROM (SELECT doc_id, lang, fp, "
        + "row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM fp WHERE doc_id % 2 = 1) WHERE rn = 1) "
        + "SELECT doc_id, lang, fp FROM surv s WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.fp = s.fp) "
        + "ORDER BY doc_id"),
    "q85_cdc_compact" ->
      ("WITH ranked AS (SELECT user_id, ts, event_type, value, event_id, "
        + "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn, "
        + "count(*) OVER (PARTITION BY user_id) AS n_versions FROM events) "
        + "SELECT user_id, n_versions, ts AS last_ts, event_type AS last_type, value AS last_value "
        + "FROM ranked WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id"),
    "q68_stratified_sample" ->
      ("SELECT lang, rn, doc_id, source FROM (SELECT lang, doc_id, source, "
        + "row_number() OVER (PARTITION BY lang ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id) AS rn "
        + "FROM documents) WHERE rn <= 20 ORDER BY lang, rn"),
    "q82_bucketed_join" ->
      ("SELECT o_orderstatus, l_returnflag, count(*) AS n, "
        + "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS rev "
        + "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        + "GROUP BY o_orderstatus, l_returnflag ORDER BY o_orderstatus, l_returnflag"),
    "q67_skew_salted_join" ->
      "SELECT r_name, n_name, count(*) AS n_orders, round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS revenue FROM region JOIN nation ON n_regionkey = r_regionkey JOIN customer ON c_nationkey = n_nationkey JOIN orders ON o_custkey = c_custkey GROUP BY r_name, n_name ORDER BY r_name, n_name",
    "q58_sample_split" ->
      ("SELECT lang, split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM ("
        + "SELECT lang, n_chars, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split FROM ("
        + "SELECT lang, n_chars, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS b FROM documents)) "
        + "GROUP BY lang, split ORDER BY lang, split"),
    "q59_text_clean" ->
      ("SELECT doc_id, md5(cleaned) AS clean_hash, length(cleaned) AS clean_len, length(text) - length(cleaned) AS removed FROM ("
        + "SELECT doc_id, text, trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '<num>', 'g'), ' +', ' ', 'g')) AS cleaned "
        + "FROM documents) ORDER BY doc_id"),
    "q60_seq_pack" ->
      ("SELECT source, chunk, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tok, min(doc_id) AS first_doc FROM ("
        + "SELECT doc_id, source, n_tok, (cum - n_tok) // 512 AS chunk FROM ("
        // cum is cast so the derived group key `chunk` stays BIGINT, not HUGEINT
        + "SELECT doc_id, source, n_tok, CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM ("
        + "SELECT doc_id, source, len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok FROM documents))) "
        + "GROUP BY source, chunk ORDER BY source, chunk"),
    "q178_packing_eff" ->
      ("WITH lens AS (SELECT doc_id, CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS len FROM documents), "
        + "x AS (SELECT len, unnest([CAST(128 AS INT), CAST(256 AS INT), CAST(512 AS INT)]) AS ctx FROM lens), "
        + "g AS (SELECT ctx, count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS total_tokens, "
        + "CAST(sum(least(len, ctx)) AS BIGINT) AS kept_tokens, "
        + "CAST(sum(CASE WHEN len > ctx THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated FROM x GROUP BY ctx) "
        + "SELECT ctx, n_docs, total_tokens, kept_tokens, n_truncated, "
        + "(kept_tokens + ctx - 1) // ctx AS bins_lb, "
        + "round(CAST(kept_tokens AS DOUBLE) / (((kept_tokens + ctx - 1) // ctx) * ctx), 6) AS fill_lb, "
        + "round(CAST(kept_tokens AS DOUBLE) / (n_docs * ctx), 6) AS fill_naive "
        + "FROM g ORDER BY ctx"),
    "q250_zorder_layout" ->
      ("WITH o AS (SELECT o_orderkey AS k, o_custkey AS c, CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS d FROM orders), "
        + "b AS (SELECT min(c) AS minc, max(c) AS maxc, min(d) AS mind, max(d) AS maxd, min(k) AS mink, max(k) AS maxk FROM o), "
        + "g AS (SELECT k, c, d, "
        + "CAST(floor(256.0 * (c - minc) / (maxc - minc + 1)) AS INT) AS cx, "
        + "CAST(floor(256.0 * (d - mind) / (maxd - mind + 1)) AS INT) AS dx, "
        + "CAST(floor(64.0 * (k - mink) / (maxk - mink + 1)) AS INT) AS nb FROM o CROSS JOIN b), "
        + "z AS (SELECT c, d, nb, CAST(list_sum(list_transform(range(0, 8), j -> "
        + "((cx >> j) & 1) * (1 << (2 * j + 1)) + ((dx >> j) & 1) * (1 << (2 * j)))) AS INT) // 1024 AS zb FROM g), "
        + "zs AS (SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS n_buckets, "
        + "round(sum(cs) / CAST(count(*) AS DOUBLE), 6) AS avg_cust_span, round(sum(ds) / CAST(count(*) AS DOUBLE), 6) AS avg_date_span "
        + "FROM (SELECT zb, max(c) - min(c) AS cs, max(d) - min(d) AS ds FROM z GROUP BY zb)), "
        + "ns AS (SELECT 'natural' AS layout, CAST(count(*) AS BIGINT) AS n_buckets, "
        + "round(sum(cs) / CAST(count(*) AS DOUBLE), 6) AS avg_cust_span, round(sum(ds) / CAST(count(*) AS DOUBLE), 6) AS avg_date_span "
        + "FROM (SELECT nb, max(c) - min(c) AS cs, max(d) - min(d) AS ds FROM z GROUP BY nb)) "
        + "SELECT * FROM zs UNION ALL SELECT * FROM ns ORDER BY layout"),
  )
}
