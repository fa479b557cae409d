package graft.ops

import graft.{QueryPack, Sessions, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** SURVEY.md §2.1: the csv/json format surface as a DRIVER-VISIBLE
  * oracle-gated query (the loaders themselves live in Tables and are
  * unit-tested in SourcesSpec; this pack proves the full read path —
  * explicit schema, header handling, type round-trip — produces
  * byte-identical analytics to the parquet originals).
  *
  * Scale notes: csv/json are splittable line formats, so the staged
  * reads parallelize per file-split exactly like the parquet scans;
  * schemas are always EXPLICIT (inference is a full extra pass and
  * yields driver-version-dependent types).
  */
object Sources extends QueryPack {

  private val ordersSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))

  private val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // Stage orders→csv and customer→json in a per-run temp dir, read
    // both back through the explicit-schema loaders, then join+aggregate
    // FROM THE STAGED FORMATS. The oracle runs the same aggregation on
    // the parquet originals, so any loss in the csv/json round-trip
    // (type, precision, header, timestamp format) breaks the hash.
    "q74_sources" -> ((s, dir) => {
      val stage = Stage.dir("sources74")
      Tables.orders(s, dir).write.mode("overwrite")
        .option("header", "true").csv(s"$stage/orders_csv")
      Tables.customer(s, dir).write.mode("overwrite").json(s"$stage/customer_json")
      val o = Tables.readCsv(s, s"$stage/orders_csv", ordersSchema)
      val c = Tables.readJson(s, s"$stage/customer_json", customerSchema)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 6).as("revenue"),
          min(col("o_orderdate")).as("first_order"))
        .orderBy(col("c_mktsegment"), col("o_orderstatus"))
    }),
    // ------------------------------------------------------------------
    // The partitioned-parquet SINK surface: documents written
    // hive-partitioned by lang (the layout a 100 TB corpus store uses so
    // language slices are directory-prunable), read back, and aggregated
    // from a 2-lang slice. The lang filter must become PartitionFilters
    // on the read (asserted in SourcesSpec) — only those directories are
    // scanned. Oracle runs the same slice on the parquet originals, so
    // any loss in the partitioned round-trip breaks the hash. The read
    // takes the schema just written (partition column `lang` included)
    // instead of inferring it from a footer in another job.
    "q88_sink_partitioned" -> ((s, dir) => {
      val stage = Stage.dir("sink88")
      val docs = Tables.documents(s, dir)
      docs.write.mode("overwrite").partitionBy("lang").parquet(s"$stage/docs_by_lang")
      s.read.schema(docs.schema).parquet(s"$stage/docs_by_lang")
        .filter(col("lang").isin("en", "de"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("lang"), col("source"))
    }),
    // ------------------------------------------------------------------
    // Schema evolution: two parquet generations of the same table (v1
    // lacks the `source` column) unioned by a mergeSchema read — the
    // standard long-lived-dataset surface. Legacy rows surface as NULL
    // source; the agg proves column alignment AND the null back-fill.
    // Oracle reconstructs the same split arithmetic on the base table.
    "q184_schema_evolution" -> ((s, dir) => {
      val stage = Stage.dir("evo184")
      val d = Tables.documents(s, dir)
      d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$stage/v1")
      d.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        .write.mode("overwrite").parquet(s"$stage/v2")
      s.read.option("mergeSchema", "true").parquet(s"$stage/v1", s"$stage/v2")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("source").isNull, 1).otherwise(0)).as("n_legacy_rows"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),

    // ------------------------------------------------------------------
    // The ORC format surface as a declared round-trip: lineitem staged
    // to ORC (columnar like parquet — splittable, predicate-pushdown-
    // capable), read back, aggregated; oracle runs the same agg on the
    // parquet originals, so type/precision/timestamp loss in the ORC
    // round-trip breaks the hash.
    "q94_orc_roundtrip" -> ((s, dir) => {
      val stage = Stage.dir("orc94")
      Tables.lineitem(s, dir).write.mode("overwrite").orc(s"$stage/lineitem_orc")
      s.read.orc(s"$stage/lineitem_orc")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 6).as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 6).as("sum_price"),
          min(col("l_shipdate")).as("first_ship"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ------------------------------------------------------------------
    // Write-side MERGE (upsert + delete) — the transactional-table
    // surface q85/q91 only READ: a staged base table and a CDC change
    // batch (op ∈ U/D/I, disjoint keys by mod-10 slice: %10=1 updates
    // acctbal, %10=2 deletes, %10=3 inserts under new keys) are merged
    // by ONE full-outer join on the key — matched+D drops, matched+U
    // takes the change row, unmatched+I inserts, unmatched base rows
    // pass through — then written, read back, and aggregated, so the
    // hash covers the POST-MERGE table content end-to-end. The join is
    // the scale shape (changes ⋈ base shuffles keys once; a small batch
    // broadcasts under AQE); update arithmetic runs in DECIMAL(18,2) so
    // both engines produce bit-identical balances. Oracle recomputes
    // the merge INDEPENDENTLY as (base ∖ changed-keys) ∪ upserts —
    // set algebra, not a join — so a merge bug can't cancel out. Each
    // read-back takes the schema just written, so none infers it again.
    "q278_merge_upsert" -> ((s, dir) => {
      val stage = Stage.dir("merge278")
      val cust = Tables.customer(s, dir)
      cust.write.mode("overwrite").parquet(s"$stage/base")
      val upd = cust.filter(col("c_custkey") % 10 === 1)
        .withColumn("c_acctbal",
          (col("c_acctbal").cast("decimal(18,2)") + lit(100)).cast("double"))
        .withColumn("op", lit("U"))
      val del = cust.filter(col("c_custkey") % 10 === 2).withColumn("op", lit("D"))
      val ins = cust.filter(col("c_custkey") % 10 === 3)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000L))
        .withColumn("c_name", concat(lit("new|"), col("c_name")))
        .withColumn("op", lit("I"))
      val changes = upd.unionByName(del).unionByName(ins)
      changes.write.mode("overwrite").parquet(s"$stage/changes")
      val base = s.read.schema(cust.schema).parquet(s"$stage/base").alias("b")
      val chg = s.read.schema(changes.schema).parquet(s"$stage/changes").alias("c")
      val dataCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      val merged = base.join(chg, col("b.c_custkey") === col("c.c_custkey"), "full_outer")
        .filter(col("c.op").isNull || col("c.op") =!= "D")
        .select(dataCols.map(x =>
          when(col("c.op").isNotNull, col(s"c.$x")).otherwise(col(s"b.$x")).as(x)): _*)
      merged.write.mode("overwrite").parquet(s"$stage/merged")
      s.read.schema(merged.schema).parquet(s"$stage/merged")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 6).as("sum_bal"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"),
          sum(when(col("c_name").startsWith("new|"), 1L).otherwise(0L)).as("n_inserted"))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // Custom DataSource V2 connector end-to-end (sources/GraftSeqSource
    // .scala): the full TableProvider → ScanBuilder → Batch →
    // InputPartition → PartitionReader chain behind
    // spark.read.format("graftseq"), with 8 independent range readers
    // (the multi-executor scan shape) and column pruning pushed into
    // the reader — this query touches only (bucket, tok), so the scan's
    // readSchema drops `id` entirely (asserted in DsV2Spec). The table
    // is deterministic (bucket = md5_mod(id, 97), tok = 't'||id%50), so
    // DuckDB replays it from range() — the oracle certifies the
    // connector serves exactly the declared table, across all slices,
    // no row lost or duplicated at partition boundaries.
    "q286_dsv2_scan" -> ((s, dir) => {
      s.read.format("graftseq")
        .option("rows", "200000").option("slices", "8").load()
        .select(col("bucket"), col("tok"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), countDistinct(col("tok")).as("n_tok"),
          min(col("tok")).as("min_tok"), max(col("tok")).as("max_tok"))
        .orderBy(col("bucket"))
    }),

    // ------------------------------------------------------------------
    // DSv2 FILTER PUSHDOWN (SupportsPushDownFilters): the id-range
    // predicates reach the connector and narrow partition PLANNING —
    // [50k,150k) is split into 8 slices covering only the kept range,
    // so the pruned half of the table is never planned, let alone read
    // (the partition-pruning shape: at 100 TB, `id >= X` skips
    // files/splits below X instead of scanning-then-filtering). The
    // `tok` predicate is NOT pushable and comes back as a residual
    // Spark evaluates post-scan — both paths in one query. DsV2Spec
    // asserts the mechanics (pushedFilters non-empty, planned
    // partitions shrink to the range); this oracle certifies values.
    "q290_dsv2_pushdown" -> ((s, dir) => {
      s.read.format("graftseq")
        .option("rows", "200000").option("slices", "8").load()
        .filter(col("id") >= 50000L && col("id") < 150000L && col("tok") =!= "t7")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"), countDistinct(col("tok")).as("n_tok"))
        .orderBy(col("bucket"))
    }),

    // ------------------------------------------------------------------
    // DSv2 AGGREGATE pushdown (SupportsPushDownAggregates on graftseq):
    // the global count/min/max/sum over a filter-narrowed id-range is
    // answered COMPLETELY by the source in one closed-form row — no
    // aggregate exec in the plan, one InputPartition, zero data rows
    // generated (DsV2Spec asserts all three). This is the metadata-only
    // query shape: at 100 TB, `SELECT count(*) ... WHERE id >= X` comes
    // from range/footer/manifest metadata, not a scan. The filter
    // pushdown (q290) composes: the range narrows FIRST, then the
    // aggregate collapses over the narrowed range.
    "q305_dsv2_agg_pushdown" -> ((s, dir) => {
      s.read.format("graftseq")
        .option("rows", "200000").option("slices", "8").load()
        .filter(col("id") >= 50000L && col("id") < 150000L)
        .agg(expr("count(*)").as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"), sum(col("id")).as("sum_id"))
    }),

    // ------------------------------------------------------------------
    // DSv2 LIMIT pushdown (SupportsPushDownLimit on graftseq): LIMIT n
    // truncates the planned id-range to [lo, lo+n) AFTER the pushed
    // filter narrows lo — so `filter(id >= X).limit(n)` plans exactly
    // n rows instead of scanning-then-discarding (a 100 TB "peek at
    // the data" query touches n rows, not the table). The sequence
    // source emits ids in range order so the truncated range IS the
    // limit's row set — the aggregate below it is deterministic. The
    // aggregate sits ABOVE the limit, so aggregate pushdown correctly
    // does NOT fire here (DsV2Spec pins planned span == n).
    "q306_dsv2_limit" -> ((s, dir) => {
      s.read.format("graftseq")
        .option("rows", "200000").option("slices", "8").load()
        .filter(col("id") >= 50000L).limit(1000)
        .groupBy((col("id") % 10).as("m"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
        .orderBy(col("m"))
    }),

    // ------------------------------------------------------------------
    // DSv2 OFFSET pushdown (SupportsPushDownOffset on graftseq) — the
    // pagination shape completing the read-pushdown matrix: OFFSET o
    // advances the planned range head, so `filter.offset(o).limit(n)`
    // plans exactly the n-row page window [lo+o, lo+o+n) — keyset
    // pagination where page k never reads (or even plans) the skipped
    // prefix. Spark pushes LIMIT(o+n) first, then OFFSET(o) (removing
    // its Offset operator — offset pushdown has no partial mode), so
    // the window composes with the pushed `id >= 50000` filter. The
    // aggregate reads `bucket` so the md5 content of the page is
    // hashed, not just its ids; DsV2Spec pins the planned span.
    "q324_dsv2_offset" -> ((s, dir) => {
      s.read.format("graftseq")
        .option("rows", "200000").option("slices", "8").load()
        .filter(col("id") >= 50000L).offset(20000).limit(1000)
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"), sum(col("bucket")).as("sum_bucket"))
    }),

    // ------------------------------------------------------------------
    // DSv2 STREAMING read (MICRO_BATCH_READ on graftseq): the same
    // deterministic id-range consumed as an admission-controlled
    // microbatch stream — rowsPerBatch=25000 ids per trigger via
    // ReadLimit.maxRows, so Trigger.AvailableNow drains 100k rows in
    // exactly 4 batches (the Kafka-shaped source contract — offsets,
    // per-batch partition planning, commit — without a broker; at
    // 100 TB this is the backfill-then-stream path a V2 connector must
    // serve). Rows land in a memory sink and the batch rollup hashes
    // the per-bucket counts + id sums, so the oracle certifies no row
    // was lost or duplicated across batch boundaries; DsV2Spec
    // additionally pins the batch COUNT and kill-and-resume.
    "q325_dsv2_stream" -> ((s, dir) => {
      s.catalog.dropTempView("q325_mem")
      val q = s.readStream.format("graftseq")
        .option("rows", "100000").option("slices", "4")
        .option("rowsPerBatch", "25000").load()
        .writeStream.format("memory").queryName("q325_mem")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("q325_mem")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
          countDistinct(col("id")).as("n_distinct"))
        .orderBy(col("bucket"))
    }),

    // ------------------------------------------------------------------
    // DSv2 TOP-N pushdown (SupportsPushDownTopN on graftseq): ORDER BY
    // id DESC LIMIT n truncates the planned range to its TAIL
    // [hi−n, hi), so the "newest n rows" query PLANS n rows instead of
    // scanning and sorting the table (at 100 TB: the tail file/split,
    // not a table sort). Pushdown is PARTIAL per the interface
    // contract — Spark's TakeOrdered still runs above, but over
    // exactly the n planned rows (DsV2Spec pins the planned span to
    // the tail and the exact row set for both directions).
    "q311_dsv2_topn" -> ((s, dir) => {
      s.read.format("graftseq")
        .option("rows", "200000").option("slices", "8").load()
        .select(col("id"), col("tok"))
        .orderBy(col("id").desc).limit(500)
    }),

    // ------------------------------------------------------------------
    // DSv2 REPORTED STATISTICS (SupportsReportStatistics on graftseq):
    // both sides are graftseq scans, and the join picks its strategy
    // from the stats the CONNECTOR reports — the 1M-row side reports
    // ~32 MB (over the 10 MB auto-broadcast threshold), the 2000-row
    // side ~16 KB, so Catalyst auto-broadcasts the small side with NO
    // broadcast() hint. Without SupportsReportStatistics a V2 scan
    // defaults to "unknown = huge" and can never be auto-broadcast;
    // these stats are how a real connector steers a 100 TB plan away
    // from a shuffle join (DsV2Spec asserts the hint-free
    // BroadcastHashJoin with the SMALL scan on the build side).
    "q312_dsv2_stats_bcast" -> ((s, dir) => {
      val big = s.read.format("graftseq")
        .option("rows", "1000000").option("slices", "8").load()
        .select(col("id"), col("tok"))
      val small = s.read.format("graftseq")
        .option("rows", "2000").option("slices", "4").load()
        .select(col("id").as("sid"))
      big.join(small, col("id") % 2000 === col("sid"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"), min(col("sid")).as("min_sid"),
          max(col("sid")).as("max_sid"))
        .orderBy(col("tok"))
    }),

    // ------------------------------------------------------------------
    // DSv2 RUNTIME FILTERING (SupportsRuntimeV2Filtering on graftseq):
    // the selective dim filter (c_custkey % 7 = 3) triggers Spark's
    // dynamic partition pruning — after the broadcast side executes,
    // the scan receives the observed join keys as `id IN (...)` and
    // re-narrows its planned range to their envelope BEFORE partitions
    // are planned, so the 500k-row fact scan plans only the ≤|customer|
    // ids a dim row can actually match. This is DPP for a V2 source:
    // the mechanism that keeps a 100 TB fact scan from reading slices
    // the dim cannot join (DsV2Spec asserts the executed scan's
    // runtime range collapsed from 500000 to the dim envelope).
    "q313_dsv2_runtime_prune" -> ((s, dir) => {
      val fact = s.read.format("graftseq")
        .option("rows", "500000").option("slices", "16").load()
      val dim = Tables.customer(s, dir)
        .filter(col("c_custkey") % 7 === lit(3)).select(col("c_custkey"))
      fact.join(dim, col("id") === col("c_custkey"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
        .orderBy(col("bucket"))
    }),

    // ------------------------------------------------------------------
    // DSv2 WRITE surface (sources/GraftSinkSource.scala): customer is
    // pushed through the staged-commit sink twice — even keys via
    // OVERWRITE (SupportsTruncate), odd keys via APPEND (manifest
    // merge + schema check) — then read back through the sink's own
    // BATCH_READ and aggregated. The oracle computes the same result
    // straight from parquet, so any loss anywhere in the write path
    // (row encoding, null codec, tab/escape handling via the
    // deliberately tab-embedded `tagged` column, task commit, driver
    // rename, manifest merge) breaks the hash. Two-phase commit:
    // tasks stage under _staging/<queryId>/, driver renames then
    // publishes the manifest LAST — the atomic-publish idiom.
    "q291_dsv2_sink" -> ((s, dir) => {
      val stage = Stage.dir("sink291")
      val c = Tables.customer(s, dir).select(
        col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        expr("nullif(c_mktsegment, 'BUILDING')").as("seg"),
        concat_ws("\t", col("c_name"), col("c_mktsegment")).as("tagged"))
      c.filter(col("c_custkey") % 2 === 0)
        .write.format("graftsink").mode("overwrite").option("path", stage).save()
      c.filter(col("c_custkey") % 2 === 1)
        .write.format("graftsink").mode("append").option("path", stage).save()
      s.read.format("graftsink").option("path", stage).load()
        .groupBy(expr("coalesce(seg, 'OTHER')").as("segment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 6).as("sum_bal"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"),
          sum(length(col("tagged"))).as("sum_tag_len"))
        .orderBy(col("segment"))
    }),

    // ------------------------------------------------------------------
    // V2 sink with a CONNECTOR-REQUESTED write layout — the
    // RequiresDistributionAndOrdering half of the write contract q291's
    // staged commit leaves unexercised: the per-user rollup writes
    // through graftsink with clusterBy=user_id & shards=4, so the SINK
    // declares "hash-cluster by key into exactly 4 sorted files" and
    // SPARK inserts the shuffle+sort (the user never repartitions) —
    // the mechanism that gives a table format key-disjoint,
    // internally-sorted files at any scale (without it, every key is
    // sprayed across all writer tasks' files and read-side pruning is
    // impossible). DsV2Spec asserts the 4 published files are
    // key-disjoint and sorted; the oracle replays the rollup from
    // events so the hash certifies the written+read-back content.
    "q335_dsv2_clustered_sink" -> ((s, dir) => {
      val stage = Stage.dir("sink335")
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(sum(col("value").cast("decimal(18,2)")),
            lit(0).cast("decimal(18,2)")).cast("double").as("sum_val"))
        .write.format("graftsink").mode("overwrite")
        .option("path", stage).option("clusterBy", "user_id").option("shards", "4")
        .save()
      s.read.format("graftsink").option("path", stage).load()
        .groupBy((col("user_id") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"),
          round(sum(col("sum_val").cast("decimal(18,2)")).cast("double"), 2).as("sum_val"))
        .orderBy(col("bucket"))
    }),

    // ------------------------------------------------------------------
    // STORAGE-PARTITIONED JOIN (SPJ) — the final DSv2 read surface:
    // with keyed=true the graftseq scan reports KeyGroupedPartitioning
    // on `grp` (one InputPartition per grp value, each carrying its key
    // via HasPartitionKey), so under spark.sql.sources.v2.bucketing
    // two co-keyed scans JOIN WITHOUT ANY SHUFFLE — the Iceberg/Hive-
    // bucketing mechanism that makes two 100 TB co-bucketed tables
    // joinable with zero exchange (without the interface, BOTH sides
    // pay a full shuffle on every join). Here: self-shaped tables a
    // (sum per id) ⋈ b on (grp, id) — partition keys ⊆ join keys, the
    // SPJ condition — then a per-grp rollup. DsV2Spec asserts the join
    // subtree is exchange-free; the oracle replays from range().
    "q350_dsv2_spj" -> ((s, dir) => {
      // SPJ confs are scoped to THIS query (around the eager build):
      // requireAllClusterKeysForCoPartition=false relaxes co-partitioning
      // for every later join in the session, so leaking it would make
      // other queries' physical plans depend on whether q350 ran first
      // (ADVICE r9). Partition keys [grp] ⊂ join keys (grp, id): the
      // default requires ALL cluster keys, which would demand bucketing
      // by id too.
      Sessions.withConfs(s, Sessions.SpjConfs: _*) {
        def rd = s.read.format("graftseq")
          .option("rows", "100000").option("slices", "8").option("keyed", "true").load()
        val a = rd.select(col("grp"), col("id"), col("bucket").as("bucket_a"))
        val b = rd.select(col("grp"), col("id"), (col("id") % 50).as("m_b"))
        // merge hint: the reported post-pruning stats are under the
        // broadcast threshold at this fixture size; the hint forces the
        // shuffle-join path SPJ exists to fix (a broadcast would hide it)
        a.join(b.hint("merge"), Seq("grp", "id"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
            sum(col("bucket_a")).as("sum_bucket"), sum(col("m_b")).as("sum_m"))
          .orderBy(col("grp"))
          // materialize WHILE the SPJ confs hold (the exchange-free plan
          // is fixed here); downstream consumers re-read this plan-free
          .localCheckpoint()
      }
    }),

    // ------------------------------------------------------------------
    // TIME TRAVEL on the V2 sink — the snapshot-isolation read surface
    // every real table format ships (Iceberg VERSION AS OF / Delta
    // versionAsOf): each graftsink commit publishes an immutable
    // `_manifest.vN` BEFORE updating the latest-pointer, so
    // option("version", N) reads snapshot N exactly as committed even
    // after later overwrites replaced the table. Here: v1 = the
    // mod-3 customer slice, v2 = a full overwrite with +50 balances;
    // both snapshots are read back THROUGH THE PINS and aggregated
    // side-by-side — the audit/repro query shape ("what did the table
    // say before the backfill?"). Oracle replays both versions from
    // the parquet originals; DsV2Spec additionally pins stale reads,
    // loud missing-version failure, and write-through-pin refusal.
    "q351_dsv2_time_travel" -> ((s, dir) => {
      val stage = Stage.dir("tt351")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.filter(col("c_custkey") % 3 === 0)
        .write.format("graftsink").mode("overwrite").option("path", stage).save()
      cust.withColumn("bal",
          (col("bal").cast("decimal(18,2)") + lit(50)).cast("double"))
        .write.format("graftsink").mode("overwrite").option("path", stage).save()
      def snap(v: Int) = s.read.format("graftsink")
        .option("path", stage).option("version", v.toString).load()
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"))
        .withColumn("version", lit(v))
      snap(1).unionByName(snap(2))
        .select(col("version"), col("c_mktsegment"), col("n"), col("sum_bal"))
        .orderBy(col("version"), col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // Row-level SQL DELETE through the catalog identifier
    // (sources/GraftCatalog.scala + SupportsRowLevelOperations in
    // GraftSinkSource.scala): the statement Spark rewrites into a
    // group-based copy-on-write ReplaceData — scan the snapshot, keep
    // the survivors, publish a NEW manifest version (the deleted rows'
    // files become time-travelable ghosts). This is the lakehouse verb
    // q278 could only emulate with a DataFrame join; here the TEXT
    // `DELETE FROM` runs against the connector. Oracle recomputes the
    // post-delete content straight from parquet with the negated
    // predicate, so a row lost, kept, or double-written anywhere in
    // scan→filter→rewrite→commit breaks the hash.
    "q359_dsv2_delete" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.cust359")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .writeTo("graft.g.cust359").create()
      s.sql("DELETE FROM graft.g.cust359 WHERE c_custkey % 7 = 0 OR bal < 0.0")
      s.table("graft.g.cust359")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // SQL MERGE INTO through the catalog — the full upsert verb (q278's
    // CDC semantics as the real statement): matched+D deletes,
    // matched+U updates the balance, unmatched inserts under new keys.
    // Spark rewrites it into ONE group-based ReplaceData over the
    // target (scan ⟕ source, merge logic inline, rewrite commit) — the
    // scale shape is the same single shuffled join as q278, now owned
    // by the engine. Update arithmetic runs in DECIMAL(18,2) before
    // the TSV round-trip (doubles re-read bit-exact). The oracle
    // recomputes the merge INDEPENDENTLY as set algebra over parquet
    // (base ∖ touched-keys ∪ upserts), never a join, so a merge bug
    // cannot cancel out.
    "q360_dsv2_merge" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.cust360")
      val cust = Tables.customer(s, dir)
      cust.select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("c_acctbal"), col("c_mktsegment"))
        .writeTo("graft.g.cust360").create()
      val upd = cust.filter(col("c_custkey") % 10 === 1)
        .withColumn("c_acctbal",
          (col("c_acctbal").cast("decimal(18,2)") + lit(100)).cast("double"))
        .withColumn("op", lit("U"))
      val del = cust.filter(col("c_custkey") % 10 === 2).withColumn("op", lit("D"))
      val ins = cust.filter(col("c_custkey") % 10 === 3)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000L))
        .withColumn("c_name", concat(lit("new|"), col("c_name")))
        .withColumn("op", lit("I"))
      upd.unionByName(del).unionByName(ins).createOrReplaceTempView("chg360")
      s.sql("""
        MERGE INTO graft.g.cust360 t USING chg360 c ON t.c_custkey = c.c_custkey
        WHEN MATCHED AND c.op = 'D' THEN DELETE
        WHEN MATCHED THEN UPDATE SET c_acctbal = c.c_acctbal
        WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
          VALUES (c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment)""")
      s.table("graft.g.cust360")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 6).as("sum_bal"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"),
          sum(when(col("c_name").startsWith("new|"), 1L).otherwise(0L)).as("n_inserted"))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // MERGE with NOT MATCHED BY SOURCE — the TABLE-SYNC verb (q360
    // covers matched/not-matched; this adds the third clause family
    // SQL:2023 / Delta's "apply changes" ship): rows the SOURCE no
    // longer carries are aged out — conditionally DELETEd (even keys)
    // or flagged STALE (odd keys) — in the SAME single statement that
    // upserts the live feed, so one engine-owned ReplaceData pass
    // replaces per-key anti-join housekeeping pipelines. Update
    // arithmetic in DECIMAL(18,2); oracle recomputes the final state
    // INDEPENDENTLY as set algebra over parquet (live ∪ inserts ∪
    // aged), never a merge, so a clause-routing bug cannot cancel out.
    "q410_merge_by_source" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.sync410")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.sync410").create()
      // today's feed: the %3==2 cohort churned away, the rest re-arrive
      // with +7 balances, and a fresh cohort appears under new keys
      cust.filter(col("c_custkey") % 3 =!= 2)
        .withColumn("bal", (col("bal").cast("decimal(18,2)") + lit(7)).cast("double"))
        .unionByName(cust.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_custkey", col("c_custkey") + lit(2000000L))
          .withColumn("c_mktsegment", lit("FRESH")))
        .createOrReplaceTempView("feed410")
      s.sql("""
        MERGE INTO graft.g.sync410 t USING feed410 f ON t.c_custkey = f.c_custkey
        WHEN MATCHED THEN UPDATE SET bal = f.bal
        WHEN NOT MATCHED THEN INSERT (c_custkey, c_mktsegment, bal)
          VALUES (f.c_custkey, f.c_mktsegment, f.bal)
        WHEN NOT MATCHED BY SOURCE AND t.c_custkey % 2 = 0 THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET c_mktsegment = 'STALE'""")
      s.table("graft.g.sync410")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // DYNAMIC PARTITION OVERWRITE (`writeTo(t).overwritePartitions()` /
    // INSERT OVERWRITE under partitionOverwriteMode=dynamic — the
    // daily-reload verb every partitioned warehouse job runs): exactly
    // the partitions the INCOMING data touches are replaced in ONE
    // commit; untouched partitions survive byte-identically, and the
    // pre-reload state stays one `VERSION AS OF` away. Here two
    // segments restate (BUILDING +1000 balances; MACHINERY keeps only
    // even keys) while the other segments never move. Round12Spec pins
    // exact-touch replacement, the refusals, and time travel across
    // the reload; oracle recomputes the final state as set algebra.
    "q411_sink_dynamic_overwrite" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.dyn412")
      s.sql("""CREATE TABLE graft.g.dyn412
        (c_custkey BIGINT, c_mktsegment STRING, bal DOUBLE)
        PARTITIONED BY (c_mktsegment)""")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.dyn412").append()
      cust.filter(col("c_mktsegment") === "BUILDING")
        .withColumn("bal", (col("bal").cast("decimal(18,2)") + lit(1000)).cast("double"))
        .unionByName(cust.filter(col("c_mktsegment") === "MACHINERY" &&
          col("c_custkey") % 2 === 0))
        .writeTo("graft.g.dyn412").overwritePartitions()
      val snaps = s.table("graft.g.dyn412.snapshots")
        .agg(count(lit(1)).as("n_snapshots"))
      s.table("graft.g.dyn412")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"))
        .crossJoin(broadcast(snaps))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // OVERWRITE BY FILTER (`writeTo(t).overwrite(cond)` — Iceberg's
    // REPLACE WHERE / the static INSERT OVERWRITE PARTITION spec): the
    // condition names the partitions to replace UP FRONT (equality/IN
    // on identity partition columns), and the write REFUSES any
    // incoming row outside it — without that guard a stray row would
    // silently ADD instead of replace, the classic static-overwrite
    // footgun. BUILDING restates to halved balances on even keys only;
    // every other partition survives untouched. Oracle = set algebra;
    // Round12Spec pins the row-containment refusal and the
    // non-partition-predicate refusal.
    "q412_sink_replace_where" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.rw413")
      s.sql("""CREATE TABLE graft.g.rw413
        (c_custkey BIGINT, c_mktsegment STRING, bal DOUBLE)
        PARTITIONED BY (c_mktsegment)""")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.rw413").append()
      cust.filter(col("c_mktsegment") === "BUILDING" && col("c_custkey") % 2 === 0)
        .withColumn("bal", (col("bal").cast("decimal(18,2)") - lit(100)).cast("double"))
        .writeTo("graft.g.rw413").overwrite(col("c_mktsegment") === "BUILDING")
      s.table("graft.g.rw413")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // DURABLE SQL VIEWS (V2 ViewCatalog + the ResolveGraftViews
    // analyzer rule): `CALL graft.sys.create_view` stores the SQL (+
    // analysis context) as a `_view` definition next to the tables,
    // and any fully-qualified reference re-resolves it at READ time —
    // so the view tracks its base table across inserts, unlike a
    // materialized snapshot. Spark 4.1 has no SQL route into a V2
    // ViewCatalog (ResolveSessionCatalog refuses), so DDL rides the
    // CALL surface — the same split Iceberg's view support makes with
    // its extensions. create_view enforces context-freedom (every
    // referenced relation catalog-qualified). The query creates the
    // view over a sink table, INSERTS MORE ROWS AFTER, and reads
    // through the view — the readout can only match if the view
    // re-resolved. ViewCatalogSpec drives the full DDL matrix
    // (collisions, rename, alter, nested views, fresh-catalog reload).
    "q413_catalog_views" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("CALL graft.sys.drop_view('g.v413')")
      s.sql("DROP TABLE IF EXISTS graft.g.vbase413")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .writeTo("graft.g.vbase413").create()
      s.sql("CALL graft.sys.create_view('g.v413', " +
        "'SELECT c_mktsegment AS seg, count(1) AS n, " +
        "round(cast(sum(cast(bal as decimal(18,2))) as double), 2) AS sum_bal " +
        "FROM graft.g.vbase413 GROUP BY c_mktsegment')")
      // rows landing AFTER the view was defined — visible iff the view
      // re-resolves its base instead of freezing a snapshot
      s.sql("INSERT INTO graft.g.vbase413 VALUES " +
        "(9000001, 'ZVIEW', cast(12.34 as double)), " +
        "(9000002, 'ZVIEW', cast(0.66 as double))")
      s.table("graft.g.v413").orderBy(col("seg"))
    }),

    // ------------------------------------------------------------------
    // TEXTUAL time travel — `SELECT ... FROM graft.g.t VERSION AS OF n`
    // resolved through TableCatalog.loadTable(ident, version), the SQL
    // surface q351 exposed only as a read option. CTAS commits v1 (the
    // empty created table) + v2 (the mod-3 slice); the overwrite is v3
    // (full table, +50 balances). Both pinned snapshots are read back
    // via the statement and aggregated side by side; oracle replays
    // them from parquet.
    "q361_sql_time_travel" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.tt361")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.filter(col("c_custkey") % 3 === 0).writeTo("graft.g.tt361").create()
      cust.withColumn("bal",
          (col("bal").cast("decimal(18,2)") + lit(50)).cast("double"))
        .writeTo("graft.g.tt361").overwrite(lit(true))
      s.sql("""
        SELECT 2 AS version, c_mktsegment, count(*) AS n,
          round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal
        FROM graft.g.tt361 VERSION AS OF 2 GROUP BY c_mktsegment
        UNION ALL
        SELECT 3 AS version, c_mktsegment, count(*) AS n,
          round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal
        FROM graft.g.tt361 VERSION AS OF 3 GROUP BY c_mktsegment
        ORDER BY version, c_mktsegment""")
    }),

    // ------------------------------------------------------------------
    // Row-level SQL UPDATE through the catalog: reprice one order slice
    // (status flip + 10% uplift) via the same group-based
    // copy-on-write rewrite as q359. The uplift runs entirely in
    // DECIMAL (18,2 × 4,2 — exact in both engines) and the readback
    // sums DECIMAL(18,3) so the 3-decimal updated prices and
    // 2-decimal untouched ones are both represented exactly.
    "q362_dsv2_update" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.ord362")
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
        .writeTo("graft.g.ord362").create()
      s.sql("""
        UPDATE graft.g.ord362
        SET price = CAST(CAST(price AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(4,2)) AS DOUBLE),
            o_orderstatus = 'R'
        WHERE o_orderstatus = 'F' AND o_orderkey % 4 = 1""")
      s.table("graft.g.ord362")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast("decimal(18,3)")).cast("double"), 3).as("sum_price"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy(col("o_orderstatus"))
    }),

    // ------------------------------------------------------------------
    // DSv2 METADATA COLUMN (SupportsMetadataColumns on graftseq): the
    // hidden `_slice` column — which InputPartition served the row —
    // resolves by NAME only (never via SELECT *), the `_metadata`
    // surface a file source uses for provenance/skew audits. The
    // rollup groups BY the metadata column, so the hash certifies both
    // the hidden-column plumbing and the partition-planning grid
    // (ids land in slice id div 25000 at rows=200000/slices=8);
    // Round10Spec asserts it stays out of readSchema when unselected.
    "q363_dsv2_metadata_col" -> ((s, dir) => {
      s.read.format("graftseq")
        .option("rows", "200000").option("slices", "8").load()
        .select(col("id"), col("bucket"), col("_slice").as("slice"))
        .groupBy(col("slice"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"), sum(col("bucket")).as("sum_bucket"))
        .orderBy(col("slice"))
    }),

    // ------------------------------------------------------------------
    // V2 FunctionCatalog: the native kernels invoked through their
    // CATALOG-QUALIFIED names (graft.fns.md5_mod / jaro_winkler),
    // bound via the magic-method Invoke path — no session registration,
    // no row-boxing wrapper (Round10Spec asserts the Invoke plan and
    // bit-parity with the registry route). The jw sum quantizes each
    // similarity to DECIMAL(18,12) pre-sum (order-free exact total),
    // the house convention for averaging irrational doubles.
    "q364_catalog_function" -> ((s, dir) => {
      ensureCatalog(s)
      Tables.customer(s, dir).createOrReplaceTempView("cust364")
      s.sql("""
        SELECT graft.fns.md5_mod(CAST(c_custkey AS STRING), 64) AS bucket,
          count(*) AS n,
          round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal,
          round(CAST(sum(CAST(graft.fns.jaro_winkler(c_name, c_mktsegment) AS DECIMAL(18,12))) AS DOUBLE)
            / count(*), 6) AS avg_jw
        FROM cust364 GROUP BY 1 ORDER BY 1""")
    }),

    // ------------------------------------------------------------------
    // DSv2 STREAMING WRITE (StreamingWrite on graftsink): the graftseq
    // microbatch stream lands in the sink through the connector's OWN
    // epoch-keyed staged commits — `.writeStream.format("graftsink")`
    // with no foreachBatch — and AvailableNow drains 100k ids in 4
    // batches, each published exactly once (identical replayed epochs
    // are detected in the manifest and dropped; kill/resume asserted
    // in Round10Spec). Read back through the sink's BATCH_READ and
    // rolled up per bucket, the oracle certifies no row lost or
    // duplicated across epoch commits.
    "q365_dsv2_stream_sink" -> ((s, dir) => {
      val stage = Stage.fresh("sinkstream365")
      s.readStream.format("graftseq")
        .option("rows", "100000").option("slices", "4")
        .option("rowsPerBatch", "25000").load()
        .writeStream.format("graftsink")
        .option("path", s"$stage/out").option("checkpointLocation", s"$stage/ck")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      val out = s.read.format("graftsink").option("path", s"$stage/out").load()
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
        .orderBy(col("bucket"))
        .localCheckpoint() // materialize before the staging tree is released
      Stage.release(stage)
      out
    }),

    // ------------------------------------------------------------------
    // STREAMING write into a PARTITIONED table (q379 × q365 — the
    // refusal this composition replaces): each epoch's tasks route
    // rows through the shared tuple router, so every published file
    // carries its `part:` tag and the streamed table prunes EXACTLY
    // like a batch-written one; commits stay epoch-keyed exactly-once
    // (replayed epochs drop whole). The readout certifies the tags the
    // hard way: the per-bucket DATA rollup joins the per-bucket
    // MANIFEST live-row rollup — equality means every streamed file's
    // tag matches every row inside it. Round11cSpec pins the pruning
    // (planned files for one bucket) and per-file tag presence; oracle
    // replays graftseq's deterministic md5 stream.
    "q397_stream_partitioned_sink" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.psk397")
      s.sql("""CREATE TABLE graft.g.psk397 (bucket BIGINT, id BIGINT)
        PARTITIONED BY (bucket)""")
      val stage = Stage.fresh("pstream397")
      val tbl = s"${Stage.dir("graft_warehouse")}/g/psk397"
      s.readStream.format("graftseq")
        .option("rows", "100000").option("slices", "4")
        .option("rowsPerBatch", "25000").load()
        .select(col("bucket"), col("id"))
        .writeStream.format("graftsink")
        .option("path", tbl).option("checkpointLocation", s"$stage/ck")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      val data = s.table("graft.g.psk397")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sum_id"),
          min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      val manifest = s.table("graft.g.psk397.files")
        .select(expr("cast(split(part, '=')[1] as bigint)").as("bucket"),
          col("live_rows"))
        .groupBy(col("bucket"))
        .agg(sum(col("live_rows")).as("n_manifest"))
      val out = data.join(broadcast(manifest), Seq("bucket"))
        .orderBy(col("bucket"))
        .localCheckpoint() // materialize before the staging tree is released
      Stage.release(stage)
      out
    }),

    // ------------------------------------------------------------------
    // CHANGELOG over BRANCH REFS (q376 × q382 — the audit-side read of
    // write-audit-publish): `changesFrom`/`changesTo` accept NAMED refs,
    // so the auditor tails exactly the staged branch's commits —
    // `changesFrom='base'` (a tag pinned at the main head) to
    // `changesTo='audit'` (the branch head) — without knowing any
    // snapshot number; works because branch commits join the SAME
    // immutable global version chain. Two branch appends = two
    // attributed insert deltas; main readers still see the pre-branch
    // table (pinned in the readout alongside the deltas). Oracle
    // replays both slices closed-form; Round11cSpec pins the ref
    // resolution equivalence and the bad-ref refusal.
    "q398_branch_changelog" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.bch398")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.bch398").create()                        // v1+v2
      s.sql("CALL graft.sys.create_tag('g.bch398', 'base', 2)").collect()
      val tbl = s"${Stage.dir("graft_warehouse")}/g/bch398"
      cust.filter(col("c_custkey") % 4 === 0)
        .withColumn("bal", (col("bal").cast("decimal(18,2)") + lit(10)).cast("double"))
        .write.format("graftsink").mode("append")
        .option("path", tbl).option("toBranch", "audit").save()      // v3 (branch)
      cust.filter(col("c_custkey") % 4 === 1)
        .withColumn("bal", (col("bal").cast("decimal(18,2)") + lit(20)).cast("double"))
        .write.format("graftsink").mode("append")
        .option("path", tbl).option("toBranch", "audit").save()      // v4 (branch)
      val deltas = s.read.format("graftsink").option("path", tbl)
        .option("changesFrom", "base").option("changesTo", "audit").load()
        .groupBy(col("_commit_version"), col("_change"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"))
      val mainRows = s.table("graft.g.bch398")
        .agg(count(lit(1)).as("rows_main")) // main untouched by the staging
      deltas.crossJoin(broadcast(mainRows))
        .orderBy(col("_commit_version"), col("_change"))
    }),

    // ------------------------------------------------------------------
    // SIZE-AWARE COMPACTION (`CALL graft.sys.compact_bins` — Iceberg's
    // binpack rewrite strategy; q371's compact() rewrites the WHOLE
    // table, this packs small files into ~max_rows bins WITHIN each
    // partition tuple and leaves right-sized files alone): files sort
    // by rows DESC and pack by floor(exclusive-cumsum / max_rows) — a
    // rule whose bin COUNT is invariant under tie order, so the oracle
    // replays it from parquet row counts alone; multi-file bins
    // rewrite through one connector read each (DVs absorb), singles
    // pass through untouched, `part:` tuples survive (bins never cross
    // them), and everything commits as ONE snapshot. Input = 3 keyed
    // appends per tuple (3 files/tuple, one per append — clustered
    // identity writes); readout joins data and manifest rollups per
    // tuple + the audit row. Round11cSpec pins DV absorption, stats
    // merging, single-snapshot commit, and pass-through bins.
    "q400_compact_bins" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.bins400")
      s.sql("""CREATE TABLE graft.g.bins400
        (o_orderkey BIGINT, o_orderpriority STRING, price DOUBLE)
        PARTITIONED BY (o_orderpriority)""")
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
      (0 until 3).foreach(i => base.filter(col("o_orderkey") % 3 === i)
        .writeTo("graft.g.bins400").append())
      val audit = s.sql("CALL graft.sys.compact_bins('g.bins400', 2500)")
        .select(col("files_before"), col("files_after"), col("bins_rewritten"))
      val files = s.table("graft.g.bins400.files")
        // part values are URL-encoded; the priorities' only special
        // char is the space ('4-NOT SPECIFIED' → '+')
        .select(expr("replace(split(part, '=')[1], '+', ' ')").as("pr"),
          col("live_rows"))
        .groupBy(col("pr"))
        .agg(count(lit(1)).as("n_files"), sum(col("live_rows")).as("rows_manifest"))
      val data = s.table("graft.g.bins400")
        .groupBy(col("o_orderpriority").as("pr"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("price").cast("decimal(18,2)")).cast("double"), 2).as("sum_price"))
      data.join(broadcast(files), Seq("pr"))
        .crossJoin(broadcast(audit))
        .orderBy(col("pr"))
    }),

    // ------------------------------------------------------------------
    // SET/UNSET TBLPROPERTIES — flipping the row-level WRITE MODE
    // mid-life (`ALTER TABLE ... SET TBLPROPERTIES ('write.mode' =
    // 'merge-on-read')` — the Iceberg write.delete.mode knob): the
    // mode is a WRITE-PATH POLICY, so the flip touches no data and no
    // existing snapshot; every FUTURE row-level statement switches
    // from copy-on-write rewrites to delete vectors. The query runs
    // the same DELETE twice around the flip: the pre-flip delete
    // rewrites files (COW), the post-flip delete lands as DV
    // positions only — and the readout pins BOTH the surviving
    // content and the exact DV count the manifest now carries (the
    // structural proof the second delete rewrote nothing). Property
    // changes commit a snapshot (Iceberg-style audit trail): 5
    // versions total, pinned. Round11cSpec pins file-set identity
    // across the post-flip delete, the UNSET round-trip, and the
    // non-write.* refusal.
    "q403_set_write_mode" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.mode403")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .writeTo("graft.g.mode403").create()                          // v1+v2 (COW default)
      s.sql("DELETE FROM graft.g.mode403 WHERE c_custkey % 11 = 0")   // v3: COW rewrite
      s.sql("ALTER TABLE graft.g.mode403 SET TBLPROPERTIES ('write.mode' = 'merge-on-read')") // v4
      s.sql("DELETE FROM graft.g.mode403 WHERE c_custkey % 11 = 1")   // v5: DVs only
      val audit = s.table("graft.g.mode403.files")
        .agg(sum(col("dv_positions")).as("dv_positions"))
      val snaps = s.table("graft.g.mode403.snapshots")
        .agg(count(lit(1)).as("n_snapshots"))
      s.table("graft.g.mode403")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"))
        .crossJoin(broadcast(audit)).crossJoin(broadcast(snaps))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // BUCKETED storage-partitioned join (q384 is the identity-transform
    // form; this is the HASH-layout form two co-bucketed FACT tables
    // live on — Iceberg bucket SPJ / Hive bucketed-join economics): both
    // tables are PARTITIONED BY (bucket(8, user_id)), their grouped
    // scans report one InputPartition per bucket id keyed by the
    // TRANSFORM's output, and the catalog's `bucket` function (the same
    // portable md5_mod kernel the write path routes files with) lets
    // Spark verify the two sides hash compatibly — so the sort-merge
    // join plans with ZERO exchange on either side. At 100 TB this is
    // the one join shape that co-locates two UNBOUNDED-cardinality fact
    // tables (identity partitioning can't: per-user directories would
    // explode); the merge hint forces the shuffle-join path SPJ
    // eliminates. Round12Spec pins the exchange-free plan + the
    // key/kernel agreement; oracle replays both aggregates and the
    // join closed-form from parquet — bucketing must never change the
    // result.
    "q405_sink_bucket_spj" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.bspjf405")
      s.sql("DROP TABLE IF EXISTS graft.g.bspjd405")
      s.sql("""CREATE TABLE graft.g.bspjf405
        (user_id BIGINT, n_events BIGINT, sum_val DOUBLE)
        PARTITIONED BY (bucket(8, user_id))""")
      s.sql("""CREATE TABLE graft.g.bspjd405
        (user_id BIGINT, n_types BIGINT, max_val DOUBLE)
        PARTITIONED BY (bucket(8, user_id))""")
      val ev = Tables.events(s, dir)
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(sum(col("value").cast("decimal(18,2)")),
            lit(0).cast("decimal(18,2)")).cast("double").as("sum_val"))
        .writeTo("graft.g.bspjf405").append()
      ev.groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("n_types"),
          max(col("value").cast("decimal(18,2)")).cast("double").as("max_val"))
        .writeTo("graft.g.bspjd405").append()
      Sessions.withConfs(s, Sessions.SpjConfs: _*) {
        val f = s.read.option("grouped", "true").table("graft.g.bspjf405")
        val d = s.read.option("grouped", "true").table("graft.g.bspjd405")
        f.join(d.hint("merge"), "user_id")
          .groupBy(col("n_types"), (col("user_id") % 7).as("cohort"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("n_events")).as("n_events"),
            round(sum(col("sum_val").cast("decimal(18,2)")).cast("double"), 2).as("sum_val"),
            round(sum(col("max_val").cast("decimal(18,2)")).cast("double"), 2).as("sum_max"))
          .orderBy(col("n_types"), col("cohort"))
          // materialize WHILE the SPJ confs hold (q384's discipline)
          .localCheckpoint()
      }
    }),

    // ------------------------------------------------------------------
    // BINARY + ARRAY<FLOAT> columns IN the lakehouse (the multimodal /
    // embedding payload types q56/q57 and q41/q61 process, now as
    // first-class sink columns): payloads encode as base64 (bit-exact,
    // escape-layer-proof), vectors as base64 of the packed little-
    // endian IEEE lanes — so a training-data table can carry its raw
    // bytes and its embeddings THROUGH the snapshot/time-travel/DV
    // machinery instead of beside it. The query writes the embeddings
    // table (id, label, a derived binary payload, the vector) into a
    // sink table and recomputes everything FROM THE ROUND-TRIP: byte
    // lengths, base64 extrema, and the per-row vector norm² — any
    // lane-level bit drift moves the DECIMAL-quantized norm sum.
    // Oracle replays from parquet; Round12Spec pins the bit-exact
    // codec round-trip per type (incl. empty payload/vector and the
    // escape-hostile byte patterns).
    "q406_sink_binary_vectors" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.mm406")
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label").cast("int").as("label"),
          expr("cast(concat('v', cast(vec_id as string), ':', " +
            "cast(coalesce(label, -1) as string)) as binary)").as("payload"),
          col("embedding"))
        .writeTo("graft.g.mm406").create()
      s.table("graft.g.mm406")
        .groupBy((col("vec_id") % 5).as("cohort"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("payload"))).as("payload_bytes"),
          min(base64(col("payload"))).as("min_b64"),
          max(base64(col("payload"))).as("max_b64"),
          round(sum(expr(
            "cast(aggregate(embedding, cast(0.0 as double), " +
              "(acc, x) -> acc + cast(x as double) * cast(x as double)) " +
              "as decimal(28,12))")).cast("double"), 4).as("norm2_sum"))
        .orderBy(col("cohort"))
    }),

    // ------------------------------------------------------------------
    // Z-ORDER clustered rewrite (`CALL graft.sys.zorder` — Delta's
    // OPTIMIZE ZORDER BY; q250 AUDITS the layout, this WRITES it): the
    // orders table rewrites into 16 Z-curve range files keyed on
    // (custkey, order-day), every file carrying tight min/max stats on
    // BOTH dims — so the 2-dim range query below prunes on either
    // column at planning time (Round12Spec pins the planned-file
    // count; the readout pins that pruning never changes the result).
    // At 100 TB this layout is the difference between scanning the
    // table and scanning the predicate's Z blocks. Oracle replays the
    // filtered rollup from parquet; the audit columns (files_after =
    // the requested range-partition count, version = create+CTAS+
    // rewrite) are deterministic.
    "q407_sink_zorder" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.zo407")
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)").as("d"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
        .writeTo("graft.g.zo407").create()
      val audit = s.sql("CALL graft.sys.zorder('g.zo407', 'c, d', 16)")
        .select(col("files_after"), col("version"))
      s.table("graft.g.zo407")
        .filter(col("c").between(10, 120) && col("d").between(9500, 10000))
        .groupBy((col("c") % 8).as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("price").cast("decimal(18,2)")).cast("double"), 2).as("sum_price"),
          min(col("k")).as("min_key"), max(col("k")).as("max_key"))
        .crossJoin(broadcast(audit))
        .orderBy(col("bucket"))
    }),

    // ------------------------------------------------------------------
    // k-DIMENSIONAL Z-order (q407 generalized — Delta's OPTIMIZE ZORDER
    // BY accepts any arity): three BIGINT dims quantize to ⌊32/3⌋ = 10
    // bits each and interleave into a 30-bit Morton code; the per-file
    // min/max envelopes (now computed INSIDE the writer tasks via the
    // statsCols option — no checkpoint, no second stats job) let a
    // 3-dim corner predicate prune on ALL THREE columns at planning.
    // Round13Spec pins the planned-file count for the corner query;
    // the oracle replays the filtered rollup from parquet (pruning is
    // an optimization, never a correctness transfer).
    "q414_zorder_kdim" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.zo414")
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
          expr("cast(datediff(cast(o_orderdate as date), date'1970-01-01') as bigint)").as("d"),
          expr("cast(floor(cast(o_totalprice as decimal(18,2))) as bigint)").as("t"))
        .writeTo("graft.g.zo414").create()
      val audit = s.sql("CALL graft.sys.zorder('g.zo414', 'c, d, t', 27)")
        .select(col("files_after"), col("version"))
      s.table("graft.g.zo414")
        .filter(col("c").between(10, 120) && col("d").between(9500, 10000) &&
          col("t").between(50000, 150000))
        .groupBy((col("c") % 8).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("t")).as("sum_t"),
          min(col("k")).as("min_key"), max(col("k")).as("max_key"))
        .crossJoin(broadcast(audit))
        .orderBy(col("bucket"))
    }),

    // ------------------------------------------------------------------
    // Streaming CDC INTO the lakehouse — the composition a real
    // ingestion pipeline runs hourly (q285's foreachBatch discipline ×
    // q360's MERGE × q351's snapshots): two CDC tranches (batch 1:
    // update %10=1 +100, delete %10=2; batch 2: re-insert %20=2 at
    // bal 0, update %10=3 +7) stream through foreachBatch, and each
    // microbatch applies ONE SQL `MERGE INTO` against the catalog
    // table — every batch therefore lands as its own copy-on-write
    // snapshot, so the table ends at exactly 4 versions (create + CTAS
    // + 2 merges; the n_versions column pins the audit trail). An
    // empty trailing batch is guarded out (it would commit a phantom
    // version). Oracle recomputes the FINAL state closed-form from
    // parquet — the change algebra, not the merge path.
    "q369_stream_cdc_merge" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.cdc369")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.cdc369").create()
      val t1 = cust.filter(col("c_custkey") % 10 === 1)
        .withColumn("bal", (col("bal").cast("decimal(18,2)") + lit(100)).cast("double"))
        .withColumn("op", lit("U"))
        .unionByName(cust.filter(col("c_custkey") % 10 === 2).withColumn("op", lit("D")))
      val t2 = cust.filter(col("c_custkey") % 20 === 2)
        .withColumn("bal", lit(0.0)).withColumn("op", lit("I"))
        .unionByName(cust.filter(col("c_custkey") % 10 === 3)
          .withColumn("bal", (col("bal").cast("decimal(18,2)") + lit(7)).cast("double"))
          .withColumn("op", lit("U")))
      val in = Stage.fresh("cdc369")
      // tranches under in/, checkpoint BESIDE them — the source glob
      // must never see the checkpoint's own metadata files
      t1.coalesce(1).write.mode("overwrite").parquet(s"$in/in/b0")
      t2.coalesce(1).write.mode("overwrite").parquet(s"$in/in/b1")
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_mktsegment", StringType),
        StructField("bal", DoubleType), StructField("op", StringType)))
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/in/*/")
        .writeStream.option("checkpointLocation", s"$in/ck")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          if (!b.isEmpty) {
            b.createOrReplaceTempView("cdc369_batch")
            b.sparkSession.sql("""
              MERGE INTO graft.g.cdc369 t USING cdc369_batch c ON t.c_custkey = c.c_custkey
              WHEN MATCHED AND c.op = 'D' THEN DELETE
              WHEN MATCHED THEN UPDATE SET bal = c.bal
              WHEN NOT MATCHED AND c.op <> 'D' THEN
                INSERT (c_custkey, c_mktsegment, bal) VALUES (c.c_custkey, c.c_mktsegment, c.bal)""")
            ()
          }
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      val nv = graft.sources.GraftSink
        .listVersions(s"${Stage.dir("graft_warehouse")}/g/cdc369").length
      val out = s.table("graft.g.cdc369")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          sum(when(col("bal") === 0.0, 1L).otherwise(0L)).as("n_zero_bal"))
        .withColumn("n_versions", lit(nv.toLong))
        .orderBy(col("c_mktsegment"))
        .localCheckpoint() // materialize before the staging tree is released
      Stage.release(in)
      out
    }),

    // ------------------------------------------------------------------
    // CALL-able lakehouse MAINTENANCE (ProcedureCatalog on the graft
    // catalog — the Iceberg-procedures surface): compact rewrites the
    // live snapshot into one file AS A SPARK JOB (one more
    // time-travelable commit), rollback republishes an old snapshot as
    // a NEW version (history kept, never rewritten), expire_snapshots
    // drops old manifests AND GCs the data files no surviving snapshot
    // references — closing the "a real format GCs by snapshot-expiry
    // policy" loop every write-path comment deferred. Chain here:
    // CTAS evens (v1+v2) → append odds (v3) → compact (v4, 1 file) →
    // rollback to v2 (v5 = evens) → expire keep 2 (v1–v3 dropped, the
    // odds file GC'd, v5's even files survive because v5 references
    // them). Readout = the post-rollback table + the procedures' audit
    // numbers; Round10Spec pins the full chain including GC'd-file
    // invisibility and loud expired-pin failure.
    "q371_catalog_procedures" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.proc371")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.filter(col("c_custkey") % 2 === 0).writeTo("graft.g.proc371").create()
      cust.filter(col("c_custkey") % 2 === 1).writeTo("graft.g.proc371").append()
      val c = s.sql("CALL graft.sys.compact('g.proc371', 1)").collect().head
      s.sql("CALL graft.sys.rollback('g.proc371', 2)").collect()
      val e = s.sql("CALL graft.sys.expire_snapshots('g.proc371', 2)").collect().head
      val nLeft = graft.sources.GraftSink
        .listVersions(s"${Stage.dir("graft_warehouse")}/g/proc371").length
      s.table("graft.g.proc371")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"))
        .withColumn("n_versions_left", lit(nLeft.toLong))
        .withColumn("compacted_files", lit(c.getLong(2)))
        .withColumn("versions_removed", lit(e.getLong(0)))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // MERGE-ON-READ row-level DELETE (SupportsDelta + delete vectors —
    // the other half of the row-level story; q359 is copy-on-write):
    // with TBLPROPERTIES('write.mode'='merge-on-read') a DELETE records
    // (file, position) DELETE VECTORS in the new manifest version and
    // NEVER rewrites a data file — at 100 TB a one-row delete costs one
    // manifest line, not a file rewrite; readers suppress the positions
    // until `CALL graft.sys.compact` applies and drops them. Two
    // successive deletes fold their DVs into the same entries; the
    // audit columns pin BOTH mechanisms: files_added = 0 (nothing
    // rewritten) and dv_positions = exactly the deleted row count
    // (closed-form in the oracle). Round10Spec pins the rest: stable
    // (_file,_pos) row ids, UPDATE/MERGE as DV+insert, DV-dropping
    // compaction, pre-delete snapshot pins.
    "q372_dsv2_mor_delete" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.mor372")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .writeTo("graft.g.mor372")
        .tableProperty("write.mode", "merge-on-read").create()
      val path = s"${Stage.dir("graft_warehouse")}/g/mor372"
      val preNames = graft.sources.GraftSink.readManifest(path).get.entries
        .map(_.name).toSet
      s.sql("DELETE FROM graft.g.mor372 WHERE c_custkey % 7 = 0")
      s.sql("DELETE FROM graft.g.mor372 WHERE bal < 1000.0")
      val entries = graft.sources.GraftSink.readManifest(path).get.entries
      val added = entries.count(e => !preNames(e.name))
      val dvPositions = entries.map(_.deletes.length).sum
      s.table("graft.g.mor372")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"))
        .withColumn("files_added", lit(added.toLong))
        .withColumn("dv_positions", lit(dvPositions.toLong))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // CATALOG schema evolution — `ALTER TABLE ADD COLUMNS` as a
    // VERSIONED manifest commit (q184 is the parquet mergeSchema form;
    // this is the table-format form a lakehouse user runs): the DDL
    // gains the nullable column, the file list is untouched, legacy
    // rows back-fill NULL on read (short TSV lines pad), pre-evolution
    // snapshot pins keep the OLD schema, and the post-evolution append
    // writes the full width. The rollup keys on coalesce(tier,
    // 'legacy') so the hash certifies the back-fill AND the mixed-
    // generation union; Round10Spec pins the refusals (non-nullable,
    // positioned, rename).
    "q373_catalog_evolution" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.evo373")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.evo373").create()                        // v1+v2
      s.sql("ALTER TABLE graft.g.evo373 ADD COLUMNS (tier STRING)")  // v3
      cust.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(1000000L))
        .withColumn("tier", concat(lit("T"), (col("c_custkey") % 3).cast("string")))
        .writeTo("graft.g.evo373").append()                          // v4
      s.table("graft.g.evo373")
        .groupBy(expr("coalesce(tier, 'legacy')").as("tier"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        .orderBy(col("tier"))
    }),

    // ------------------------------------------------------------------
    // FILE SKIPPING on the V2 sink — the read-side payoff of q335's
    // clustered write: layout=range requests an ORDERED distribution
    // (files become contiguous, non-overlapping key ranges), the task
    // writers record each file's user_id min/max as manifest STATS, and
    // the scan prunes whole files whose [min, max] misses the pushed
    // range envelope BEFORE partitions are planned — the parquet
    // row-group / Iceberg manifest-stats mechanism, now on the
    // connector's own metadata (at 100 TB a keyed range query plans
    // the one file holding the range, not the table). Pruning is an
    // optimization, never a correctness transfer: every predicate
    // comes back as a residual Spark re-evaluates; Round10Spec pins
    // the planned-partition counts (head/tail/none) and the range
    // layout's disjoint coverage. Oracle replays the slice from
    // events straight off parquet.
    "q374_sink_file_skipping" -> ((s, dir) => {
      val stage = Stage.dir("skip374")
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(sum(col("value").cast("decimal(18,2)")),
            lit(0).cast("decimal(18,2)")).cast("double").as("sum_val"))
        .write.format("graftsink").mode("overwrite")
        .option("path", stage).option("clusterBy", "user_id")
        .option("shards", "4").option("layout", "range").save()
      s.read.format("graftsink").option("path", stage).load()
        .filter(col("user_id") >= 2L && col("user_id") <= 9L)
        .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"),
          round(sum(col("sum_val").cast("decimal(18,2)")).cast("double"), 2).as("sum_val"),
          min(col("user_id")).as("min_u"), max(col("user_id")).as("max_u"))
    }),

    // ------------------------------------------------------------------
    // METADATA-ONLY count(*) on the V2 sink (SupportsPushDownAggregates
    // + the manifest's `rows:` segments, which every commit records):
    // a global unfiltered COUNT is answered as Σ(rows − |dv|) straight
    // from the manifest — ZERO data files opened, the parquet-footer /
    // Iceberg-manifest count shape on the connector's own metadata (at
    // 100 TB, "how many rows?" costs one small-file read). The second
    // half composes with merge-on-read: after a DV delete the metadata
    // count subtracts the vectors EXACTLY — no scan, still right.
    // Round10Spec pins the mechanics (GraftSinkCountScan in the plan,
    // no aggregate exec, one metadata partition, filter fallback);
    // this oracle certifies both values.
    "q375_sink_metadata_count" -> ((s, dir) => {
      ensureCatalog(s)
      val stage = Stage.dir("cnt375")
      Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .write.format("graftsink").mode("overwrite")
        .option("path", stage).option("clusterBy", "user_id")
        .option("shards", "4").save()
      val users = s.read.format("graftsink").option("path", stage).load()
        .agg(expr("count(*)").as("n_users"))
      s.sql("DROP TABLE IF EXISTS graft.g.cnt375")
      Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
        .writeTo("graft.g.cnt375").tableProperty("write.mode", "merge-on-read").create()
      s.sql("DELETE FROM graft.g.cnt375 WHERE c_custkey % 4 = 1")
      val custs = s.table("graft.g.cnt375").agg(expr("count(*)").as("n_custs"))
      users.crossJoin(custs)
    }),

    // ------------------------------------------------------------------
    // CHANGELOG read OUT of the sink (the consumption half of q369's
    // CDC-in loop — Delta CDF / Iceberg incremental-scan shape): a
    // version-range scan (`changesFrom`=base exclusive, `changesTo`=
    // target inclusive) serves EXACTLY the delta between snapshots —
    // files that entered a commit as `insert` rows, files that left
    // plus new DELETE-VECTOR positions as `delete` rows — each tagged
    // `_change` / `_commit_version`, planned entirely from the
    // immutable manifests: a week's changelog costs the week's files,
    // never the q114-style two-full-scan diff. History here: CTAS (v1
    // empty + v2 all rows) → merge-on-read DELETE (v3 = DV positions
    // only, nothing rewritten) → append (v4). The rollup per (commit,
    // change) pins insert AND delete row content; oracle recomputes
    // each commit's delta closed-form from parquet. Round11Spec
    // asserts the scan plans ONLY delta files and the refusal matrix.
    "q376_sink_changelog" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.chg376")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.chg376")
        .tableProperty("write.mode", "merge-on-read").create() // v1 + v2
      s.sql("DELETE FROM graft.g.chg376 WHERE c_custkey % 5 = 0") // v3: DVs only
      cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(2000000L))
        .writeTo("graft.g.chg376").append() // v4: new file(s)
      s.read.format("graftsink")
        .option("path", s"${Stage.dir("graft_warehouse")}/g/chg376")
        .option("changesFrom", "0").load()
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change").as("change"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        .orderBy(col("commit_version"), col("change"))
    }),

    // ------------------------------------------------------------------
    // STREAMING changelog source (MICRO_BATCH_READ on graftsink —
    // composing q376's delta scan with snapshot numbers as stream
    // OFFSETS): `readStream.option("changesFrom", 0)` tails the table's
    // commits, each microbatch serving the snapshots committed since
    // the last offset; the checkpoint pins the commit boundary, so a
    // restart resumes mid-history without re-serving or skipping a
    // commit. AvailableNow drains create → two MOR deletes → append
    // (v1..v5) into a memory sink; the per-(commit, change) rollup over
    // the collected feed must equal the batch changelog — the oracle
    // recomputes it closed-form. This is the pipeline a downstream
    // consumer runs hourly: state feeds off deltas, never a re-scan.
    "q377_sink_changelog_stream" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.chg377")
      s.catalog.dropTempView("q377_mem")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.chg377")
        .tableProperty("write.mode", "merge-on-read").create() // v1 + v2
      s.sql("DELETE FROM graft.g.chg377 WHERE c_custkey % 4 = 1") // v3
      s.sql("DELETE FROM graft.g.chg377 WHERE c_custkey % 4 = 2") // v4
      cust.filter(col("c_custkey") % 9 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(3000000L))
        .writeTo("graft.g.chg377").append() // v5
      val ck = Stage.fresh("chg377ck")
      s.readStream.format("graftsink")
        .option("path", s"${Stage.dir("graft_warehouse")}/g/chg377")
        .option("changesFrom", "0").load()
        .writeStream.format("memory").queryName("q377_mem")
        .option("checkpointLocation", s"$ck/ck")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      val out = s.table("q377_mem")
        .groupBy(col("_commit_version").as("commit_version"),
          col("_change").as("change"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        .orderBy(col("commit_version"), col("change"))
        .localCheckpoint() // materialize before the checkpoint tree is released
      Stage.release(ck)
      out
    }),

    // ------------------------------------------------------------------
    // RENAME/DROP COLUMN evolution via STABLE FIELD IDS (q373 could
    // only ADD; this is the rest of the evolution verb set, Iceberg's
    // column-mapping semantics): the first rename/drop MIGRATES
    // explicit ids into the manifest (positional 1..n, exact for any
    // add-only history) and stamps every file's `cols:` layout; from
    // then on the reader resolves columns BY ID per file — a rename is
    // one metadata commit (old files keep serving the renamed column
    // from their original ordinal), a drop hides the ordinal without
    // touching data, and a later ADD allocates a FRESH id so dropped
    // ids never resurface. Chain: CTAS → RENAME bal→balance → DROP
    // c_nationkey (a MIDDLE column — ordinals shift vs schema) →
    // append at the narrowed width → ADD tier → append at full width.
    // files_rewritten pins the no-rewrite contract; Round11Spec pins
    // old-pin schemas, id non-reuse, and the refusal matrix. Oracle
    // replays the three generations closed-form.
    "q378_catalog_rename_drop" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.evo378")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.evo378").create()                          // v1+v2
      val path = s"${Stage.dir("graft_warehouse")}/g/evo378"
      val preNames = graft.sources.GraftSink.readManifest(path).get.entries
        .map(_.name).toSet
      s.sql("ALTER TABLE graft.g.evo378 RENAME COLUMN bal TO balance") // v3: id migration
      s.sql("ALTER TABLE graft.g.evo378 DROP COLUMN c_nationkey")      // v4: middle column
      cust.filter(col("c_custkey") % 6 === 0)
        .select((col("c_custkey") + lit(4000000L)).as("c_custkey"),
          col("c_mktsegment"), col("bal").as("balance"))
        .writeTo("graft.g.evo378").append()                            // v5: narrowed width
      s.sql("ALTER TABLE graft.g.evo378 ADD COLUMNS (tier STRING)")    // v6: fresh id
      cust.filter(col("c_custkey") % 11 === 0)
        .select((col("c_custkey") + lit(5000000L)).as("c_custkey"),
          col("c_mktsegment"), col("bal").as("balance"),
          concat(lit("T"), (col("c_custkey") % 2).cast("string")).as("tier"))
        .writeTo("graft.g.evo378").append()                            // v7
      val nowNames = graft.sources.GraftSink.readManifest(path).get.entries
        .map(_.name).toSet
      val rewritten = preNames.count(n => !nowNames(n)).toLong
      s.table("graft.g.evo378")
        .groupBy(expr("coalesce(tier, 'legacy')").as("tier"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("balance").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        .withColumn("files_rewritten", lit(rewritten))
        .orderBy(col("tier"))
    }),

    // ------------------------------------------------------------------
    // IDENTITY PARTITION transforms on the sink (`PARTITIONED BY
    // (c_mktsegment)` — q374 skips by value RANGES; this is the exact
    // directory-grain layout a 100 TB store keys on): the write
    // declares a clustered distribution on the partition columns
    // (Spark inserts the shuffle — each tuple lands in ONE writer
    // task), each task routes rows into one staged file PER TUPLE, and
    // the manifest records the tuple as the file's `part:` segment; a
    // pushed equality/IN on the partition column then prunes whole
    // files at planning, EXACTLY (every row in a file shares the
    // tuple). The copy-on-write DELETE in the middle proves row-level
    // rewrites stay partition-aware (part: segments survive). The
    // n_partitions column pins one-file-per-tuple; Round11Spec pins
    // planned-partition counts, residual re-evaluation, and the
    // refusal matrix (non-identity transforms, clusterBy conflicts,
    // partition-column rename/drop). Oracle replays the slice from
    // parquet.
    "q379_dsv2_partitioned" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.part379")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.part379")
        .partitionedBy(col("c_mktsegment")).create()          // v1+v2
      s.sql("DELETE FROM graft.g.part379 WHERE c_custkey % 8 = 3") // v3: partition-aware rewrite
      val m = graft.sources.GraftSink
        .readManifest(s"${Stage.dir("graft_warehouse")}/g/part379").get
      val parts = m.entries.map(_.part)
      val untagged = parts.count(_.isEmpty)
      val nParts = parts.flatten.distinct.size
      s.table("graft.g.part379")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        .withColumn("n_partitions", lit(nParts.toLong))
        .withColumn("n_untagged_files", lit(untagged.toLong))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // METADATA TABLES (`t.files` / `t.snapshots` / `t.refs` — the
    // Iceberg inspection surface): the catalog resolves a trailing
    // `files`/`snapshots`/`refs` identifier part against the parent
    // table and serves its MANIFEST metadata as a read-only relation
    // (LocalScan — the manifest IS driver-side planning metadata), the
    // audit queries an operator runs before compaction, expiry, or a
    // publish: per-file original/live/DV row counts + layout segments,
    // per-snapshot file/row totals + monotone commit stamps, and the
    // named refs. History here: MOR create (v1+v2, 2 files) → DV
    // delete (v3, no new files) → append (v4, 1 file) → tag. The
    // readout folds all three metadata tables into one row of pinned
    // counts — every value is closed-form from the change algebra, so
    // the oracle recomputes it without touching a manifest.
    "q385_sink_metadata_tables" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.meta385")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.repartition(2).writeTo("graft.g.meta385")
        .tableProperty("write.mode", "merge-on-read").create()       // v1+v2: 2 files
      s.sql("DELETE FROM graft.g.meta385 WHERE c_custkey % 6 = 1")   // v3: DVs only
      cust.filter(col("c_custkey") % 9 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(7000000L))
        .coalesce(1).writeTo("graft.g.meta385").append()             // v4: 1 file
      s.sql("CALL graft.sys.create_tag('g.meta385', 'approved', 4)").collect()
      val files = s.table("graft.g.meta385.files")
        .agg(count(lit(1)).as("n_files"), sum(col("rows")).as("total_rows"),
          sum(col("live_rows")).as("total_live"),
          sum(col("dv_positions")).as("total_dv"))
      val snaps = s.table("graft.g.meta385.snapshots")
        .agg(count(lit(1)).as("n_snapshots"), max(col("version")).as("head_version"))
      val head = s.table("graft.g.meta385.snapshots")
        .orderBy(col("version").desc).limit(1)
        .select(col("n_live_rows").as("live_at_head"),
          col("n_files").as("files_at_head"))
      val refs = s.table("graft.g.meta385.refs")
        .select(col("kind").as("ref_kind"), col("name").as("ref_name"),
          col("version").as("ref_version"))
      files.crossJoin(broadcast(snaps)).crossJoin(broadcast(head))
        .crossJoin(broadcast(refs))
    }),

    // ------------------------------------------------------------------
    // ANALYZE on the sink (`CALL graft.sys.analyze_table` — the
    // Iceberg/Delta ANALYZE TABLE surface): ONE real Spark job computes
    // per-column NDV + null-count over the CURRENT snapshot (DV-aware,
    // since it reads the connector), stamps them with that snapshot
    // into `_colstats`, and from then on GraftSinkScan serves them via
    // Statistics.columnStats() — the CBO's join-selectivity and
    // broadcast-decision feed. Freshness is structural: stats carry
    // the snapshot they describe, the scan serves them only while that
    // snapshot is current, and the `t.column_stats` metadata table
    // exposes both the values and the staleness bit. NDV is the exact
    // count(distinct) — deterministic and oracle-replayable (at 100 TB
    // the same readout feeds from the repo's mergeable sketches, q13/
    // q245). Round11cSpec pins the scan-served columnStats, the
    // stale-after-append refusal, and the pruned-scan refusal; the
    // oracle recomputes every NDV/null pair straight from parquet.
    "q389_sink_analyze" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.an389")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"),
          expr("CASE WHEN c_custkey % 4 = 0 THEN NULL "
            + "ELSE concat('T', cast(c_custkey % 3 as string)) END").as("tier"))
        .writeTo("graft.g.an389").create()                           // v1+v2
      val audit = s.sql("CALL graft.sys.analyze_table('g.an389')")
        .select(col("analyzed_version"), col("n_cols"), col("n_rows"))
      s.table("graft.g.an389.column_stats")
        .select(col("col_name"), col("ndv"), col("nulls"), col("stale"))
        .crossJoin(broadcast(audit))
        .orderBy(col("col_name"))
    }),

    // ------------------------------------------------------------------
    // SKETCH-backed ANALYZE (`CALL graft.sys.analyze_sketch` — the
    // incremental-stats path q389's doc promises at 100 TB): NDV per
    // column from the bottom-64 KMV of the portable md5 hash (q245's
    // sketch) in ONE pass — 512 bytes of state per column instead of
    // count(distinct)'s Expand ×#cols — stored through the SAME
    // `_colstats` contract (snapshot-stamped, stale after any commit,
    // served to the CBO via Statistics.columnStats). md5-determinism
    // makes the ESTIMATE itself oracle-exact: <64 survivors → the
    // sketch is the distinct set; at 64 → floor(63·2^60/kth_min),
    // replayed bit-for-bit by DuckDB's own md5 + row_number chain.
    // o_custkey exercises the estimation path (150+ distinct), the
    // priority/status columns the exact path, `pri` the null handling.
    "q415_analyze_sketch" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.an415")
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderpriority"),
          expr("CASE WHEN o_orderkey % 4 = 0 THEN NULL "
            + "ELSE concat('P', cast(o_custkey % 7 as string)) END").as("pri"))
        .writeTo("graft.g.an415").create()
      val audit = s.sql("CALL graft.sys.analyze_sketch('g.an415')")
        .select(col("analyzed_version"), col("n_cols"), col("n_rows"))
      s.table("graft.g.an415.column_stats")
        .select(col("col_name"), col("ndv"), col("nulls"), col("stale"))
        .crossJoin(broadcast(audit))
        .orderBy(col("col_name"))
    }),

    // ------------------------------------------------------------------
    // INCREMENTAL ANALYZE (q415's sketch, maintained incrementally):
    // analyze the even-orderkey half, append the odd half as ONE file,
    // re-analyze — the second pass streams ONLY the appended file
    // (files_resketched = 1, via the scan's `files` subset option:
    // planning-level pruning, real incremental I/O) and MERGES with the
    // per-file sketches the first pass stored in `_colsketch`. The
    // bottom-k merge identity makes the merged estimate BIT-IDENTICAL
    // to a full resketch, so the oracle is the same full-table md5 +
    // row_number replay as q415 — a wrong merge cannot hash-match.
    "q416_analyze_incremental" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.an416")
      val src = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderpriority"), col("o_orderkey"))
      src.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_custkey"), col("o_orderpriority"))
        .writeTo("graft.g.an416").create()                           // v1+v2
      s.sql("CALL graft.sys.analyze_sketch('g.an416')").collect()    // full pass
      src.filter(col("o_orderkey") % 2 =!= 0)
        .select(col("o_custkey"), col("o_orderpriority"))
        .coalesce(1).writeTo("graft.g.an416").append()               // v3, one file
      val audit = s.sql("CALL graft.sys.analyze_sketch('g.an416')")  // incremental
        .select(col("analyzed_version"), col("n_cols"), col("n_rows"),
          col("files_resketched"))
      s.table("graft.g.an416.column_stats")
        .select(col("col_name"), col("ndv"), col("nulls"), col("stale"))
        .crossJoin(broadcast(audit))
        .orderBy(col("col_name"))
    }),

    // ------------------------------------------------------------------
    // PARTITION-SPEC EVOLUTION (`CALL graft.sys.set_partitioning` — the
    // Iceberg spec-id surface): a table's partitioning is POLICY, not
    // data, so evolving it rewrites nothing — the evolution lands as a
    // files-unchanged versioned commit, files written under the OLD
    // spec keep their `part:` tags, and planning prunes PER GENERATION
    // (the prune-key set is current ∪ history columns: an old-column
    // predicate skips old-generation files exactly while new-generation
    // files pass through, and vice versa — a file with no tag for the
    // pruned column always survives). Post-evolution writes route
    // through the NEW tuple router. At 100 TB this is the difference
    // between re-partitioning a table in O(metadata) and an O(table)
    // rewrite nobody schedules. Mixed-generation partial overwrites and
    // key-grouped (SPJ) scans REFUSE loudly until a rewrite retags —
    // Round14Spec pins the commit shape, both pruning generations, and
    // the refusal matrix; the gen-tag counts here are closed-form
    // (clustered writes land one file per tuple), so the oracle
    // certifies the whole history from the raw parquet.
    "q417_spec_evolution" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.spe417")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.filter(col("c_custkey") % 2 === 0)
        .writeTo("graft.g.spe417")
        .partitionedBy(col("c_mktsegment")).create()                 // gen 1
      s.sql("CALL graft.sys.set_partitioning('g.spe417', 'c_nationkey')")
        .collect()                                                   // metadata commit
      cust.filter(col("c_custkey") % 2 === 1)
        .writeTo("graft.g.spe417").append()                          // gen 2
      val m = graft.sources.GraftSink
        .mainHead(s"${Stage.dir("graft_warehouse")}/g/spe417").get
      val tags = m.entries.flatMap(_.part).distinct
      val gen1 = tags.count(_.startsWith("c_mktsegment="))
      val gen2 = tags.count(_.startsWith("c_nationkey="))
      s.table("graft.g.spe417")
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          countDistinct(col("c_nationkey")).as("n_nations"))
        .withColumn("n_gen1_tags", lit(gen1.toLong))
        .withColumn("n_gen2_tags", lit(gen2.toLong))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // PARTITION-COLUMN RENAME (the last piece of the field-id rename
    // story): renaming the column a table is PARTITIONED BY is still
    // metadata-only — the rename commit rekeys every manifest line's
    // `part:`/`stats:` tags and the durable spec props in the same
    // ALTER, reads resolve data by FIELD ID as before, and pruning
    // follows the new name immediately; older snapshots keep the old
    // keys, so VERSION AS OF serves the pre-rename world (old column
    // name, old tags) verbatim. Data files: zero touched — tags are
    // names ABOUT the file, never bytes IN it. Post-rename writes
    // route under the renamed spec. Round11Spec/Round11cSpec pin the
    // identity- and bucket-layout rekeys; the oracle replays both
    // snapshots closed-form.
    "q418_partition_rename" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.ren418")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.ren418")
        .partitionedBy(col("c_mktsegment")).create()                 // v1+v2
      s.sql("ALTER TABLE graft.g.ren418 RENAME COLUMN c_mktsegment TO segment") // v3
      cust.select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
          col("c_mktsegment").as("segment"), col("bal"))
        .writeTo("graft.g.ren418").append()                          // v4: new-name routing
      val m = graft.sources.GraftSink
        .mainHead(s"${Stage.dir("graft_warehouse")}/g/ren418").get
      val tags = m.entries.flatMap(_.part).distinct
      val renamed = tags.count(_.startsWith("segment="))
      val oldName = tags.count(_.startsWith("c_mktsegment="))
      val v2 = s.read.format("graftsink")
        .option("path", s"${Stage.dir("graft_warehouse")}/g/ren418")
        .option("version", "2").load()
        .filter(col("c_mktsegment") === "BUILDING")                  // old name, old tags
        .agg(count(lit(1)).as("n_v2_building"))
      s.table("graft.g.ren418")
        .filter(col("segment").isin("BUILDING", "HOUSEHOLD"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          sum(when(col("c_custkey") >= 10000000L, 1L).otherwise(0L)).as("n_post_rename"))
        .withColumn("n_seg_tags", lit(renamed.toLong))
        .withColumn("n_oldname_tags", lit(oldName.toLong))
        .crossJoin(broadcast(v2))
        .orderBy(col("segment"))
    }),

    // ------------------------------------------------------------------
    // TWO-LEVEL MANIFEST METADATA (`write.manifest.group.size` — the
    // Iceberg manifest-tree shape): a large snapshot's `_manifest.vN`
    // body holds content-addressed GROUP references (each with a
    // partition-values/stats summary) instead of the flat entry list,
    // and PLANNING a pruned query opens only the groups whose summary
    // can match — at millions of files the flat driver-side list is
    // the planning bottleneck this removes; at test scale the contract
    // is pinned exactly: 25 nation tuples → one file per tuple →
    // ceil(25/8) = 4 chunk files, and a single-nation probe opens
    // exactly ONE of them (measured through the planner hook, not
    // assumed). Groups are immutable and shared across versions
    // (content addressing), the commit protocol is untouched (the slot
    // body still lands atomically; the pointer copies it verbatim),
    // and every content consumer reads through transparent expansion —
    // which is why the whole pre-existing sink inventory's goldens are
    // unchanged. Round14Spec pins grouping, chunk sharing across
    // appends, MOR-DV regrouping, expire/remove_orphans chunk GC, and
    // the pruned-planning group-read counts.
    "q419_manifest_groups" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.mg419")
      s.sql("CREATE TABLE graft.g.mg419 (c_custkey BIGINT, c_nationkey INT, bal DOUBLE) " +
        "PARTITIONED BY (c_nationkey) " +
        "TBLPROPERTIES ('write.manifest.group.size'='8')")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .writeTo("graft.g.mg419").append()
      val p = s"${Stage.dir("graft_warehouse")}/g/mg419"
      val raw = graft.sources.GraftSink.readManifestRaw(p, None).get
      val nGroups = raw.files.count(graft.sources.GraftSink.isGroupLine)
      // measured planning cost of a one-nation probe: group files OPENED
      val schema = org.apache.spark.sql.types.StructType.fromDDL(raw.ddl)
      val b = new graft.sources.GraftSinkScanBuilder(p, schema)
      b.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("c_nationkey", 7)))
      val scan = b.build().asInstanceOf[graft.sources.GraftSinkScan]
      val before = graft.sources.GraftSink.groupReads.get()
      val plannedFiles = scan.planInputPartitions().length
      val groupsOpened = graft.sources.GraftSink.groupReads.get() - before
      s.table("graft.g.mg419")
        .filter(col("c_nationkey").isin(3, 7))
        .groupBy(col("c_nationkey").cast("long").as("nation"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"))
        .withColumn("n_groups", lit(nGroups.toLong))
        .withColumn("groups_opened_pruned", lit(groupsOpened))
        .withColumn("files_planned_pruned", lit(plannedFiles.toLong))
        .orderBy(col("nation"))
    }),

    // ------------------------------------------------------------------
    // ATOMIC CTAS / RTAS (StagingTableCatalog — the all-or-nothing half
    // of the DDL surface): CTAS writes v1+v2 into a HIDDEN stage dir
    // and publishes by ONE directory rename (a failed CTAS leaves no
    // table at all, not a half-written one); `REPLACE TABLE ... AS
    // SELECT` stages the same way but commits into the table's
    // EXISTING version chain as one truncate snapshot — old snapshots
    // stay time-travelable (Iceberg RTAS semantics), and an aborted
    // RTAS never flickers the live table. The readout proves the chain:
    // the pre-replace snapshot read back via VERSION AS OF alongside
    // the post-replace content and the snapshot count (v1 empty + v2
    // rows + v3 RTAS). Round11cSpec pins the failure paths (a CTAS/
    // RTAS whose SELECT throws leaves no table / the old content) and
    // the stage-dir invisibility; oracle replays both snapshots.
    "q390_ctas_atomic" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.rtas390")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .writeTo("graft.g.rtas390").create()                        // v1+v2 (staged)
      Tables.customer(s, dir).createOrReplaceTempView("cust390")
      s.sql("""REPLACE TABLE graft.g.rtas390 AS
        SELECT c_mktsegment, count(*) AS n_cust,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal
        FROM cust390 GROUP BY c_mktsegment""")                      // v3 (staged RTAS)
      val before = s.read.format("graftsink")
        .option("path", s"${Stage.dir("graft_warehouse")}/g/rtas390")
        .option("version", "2").load()
        .agg(count(lit(1)).as("rows_v2"), min(col("c_custkey")).as("min_key_v2"))
      val snaps = s.table("graft.g.rtas390.snapshots")
        .agg(count(lit(1)).as("n_snapshots"), max(col("version")).as("head_version"))
      s.table("graft.g.rtas390")
        .orderBy(col("c_mktsegment"))
        .crossJoin(broadcast(before)).crossJoin(broadcast(snaps))
    }),

    // ------------------------------------------------------------------
    // BUCKET partition transform on the sink (`PARTITIONED BY
    // (bucket(8, user_id))` — the Iceberg/Hive hash layout q379's
    // identity transforms stop short of): files are routed and tagged
    // by the PORTABLE md5 bucket of the column (the repo's md5_mod
    // chain — replayable in DuckDB, so bucket placement is verifiable
    // outside the engine), and a pushed equality/IN on the column
    // hashes its values and plans ONLY the matching buckets' files —
    // point lookups on a 100 TB fact touch 1/n of the files with no
    // value-grain directory explosion (the identity-transform
    // trade-off bucket() exists to beat for high-NDV keys). The
    // readout joins the DATA rollup per computed bucket (via the
    // catalog's md5_mod function — the same kernel) against the
    // MANIFEST's per-bucket file tags: equal row counts certify every
    // file tag matches the hash of every row inside it. Round11cSpec
    // pins planned-file counts under =/IN/none and the DPP mapping;
    // oracle replays buckets via DuckDB's own md5 chain.
    "q391_sink_bucket" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.bkt391")
      s.sql("""CREATE TABLE graft.g.bkt391
        (user_id BIGINT, n_events BIGINT, sum_val DOUBLE)
        PARTITIONED BY (bucket(8, user_id))""")
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(sum(col("value").cast("decimal(18,2)")),
            lit(0).cast("decimal(18,2)")).cast("double").as("sum_val"))
        .writeTo("graft.g.bkt391").append()
      val data = s.table("graft.g.bkt391")
        .withColumn("bucket", expr("graft.fns.md5_mod(cast(user_id as string), 8)"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_users"), sum(col("n_events")).as("n_events"),
          round(sum(col("sum_val").cast("decimal(18,2)")).cast("double"), 2).as("sum_val"))
      val manifest = s.table("graft.g.bkt391.files")
        .select(expr("cast(split(part, '=')[1] as bigint)").as("bucket"),
          col("live_rows"))
        .groupBy(col("bucket"))
        .agg(sum(col("live_rows")).as("n_users_manifest"))
      data.join(broadcast(manifest), Seq("bucket"))
        .orderBy(col("bucket"))
    }),

    // ------------------------------------------------------------------
    // ORPHAN-FILE cleanup (`CALL graft.sys.remove_orphans` — Iceberg's
    // remove_orphan_files): a data file is LIVE iff some snapshot's
    // manifest names it; everything else in the table root (aborted
    // tasks' leftovers, crashed-commit strays) plus the whole _staging
    // tree is unreachable garbage — manifest-last publishing GUARANTEES
    // an orphan can never be served, so deleting it is pure space
    // reclamation, complementing expire_snapshots (which GCs by
    // DE-referencing; this GCs the never-referenced). The query plants
    // one fake orphan + one staging stray next to a live table, sweeps,
    // and pins (1, 1) removed with the table content byte-identical
    // after; oracle replays the content and the literal counts.
    "q392_remove_orphans" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.orph392")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
        .writeTo("graft.g.orph392").create()
      val tbl = s"${Stage.dir("graft_warehouse")}/g/orph392"
      val f = graft.sources.GraftSink.fs(tbl)
      def plant(rel: String): Unit = {
        val out = f.create(new org.apache.hadoop.fs.Path(tbl, rel), true)
        try out.write("stray\n".getBytes("UTF-8")) finally out.close()
      }
      plant("crashed-task-leftover.tsv")
      plant("_staging/dead-query/part-0-0.tsv")
      // older_than_min = 0: this session provably has no write in
      // flight on the table (production sweeps keep the default 10-min
      // guard so a concurrent write's staged files survive)
      val audit = s.sql("CALL graft.sys.remove_orphans('g.orph392', 0)")
        .select(col("orphans_removed"), col("staging_removed"))
      s.table("graft.g.orph392")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"))
        .crossJoin(broadcast(audit))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // COLUMN DEFAULT values (SUPPORT_COLUMN_DEFAULT_VALUE — the SQL
    // DEFAULT surface Iceberg v3 / Delta ship): `ALTER TABLE ... ADD
    // COLUMNS (tier STRING DEFAULT 'legacy', score BIGINT DEFAULT 100)`
    // is ONE metadata commit — existing files are NEVER rewritten, the
    // reader serves the INITIAL default for pre-column files (instead
    // of q373's NULL back-fill), and INSERTs that omit the column (or
    // write the DEFAULT keyword) get the CURRENT default filled by
    // Spark from the schema metadata the table publishes. The rollup
    // pins all three populations: back-filled legacy rows, an explicit
    // DEFAULT-keyword insert, and a column-list insert. Round11cSpec
    // pins zero-rewrite, the metadata round-trip, and prop hygiene
    // under RENAME/DROP; oracle replays every population from parquet.
    "q395_column_defaults" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.def395")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .writeTo("graft.g.def395").create()                          // v1+v2
      s.sql("""ALTER TABLE graft.g.def395 ADD COLUMNS
        (tier STRING DEFAULT 'legacy', score BIGINT DEFAULT 100)""") // v3, zero rewrite
      s.sql("INSERT INTO graft.g.def395 VALUES (9000001, 'AUTO1', DEFAULT, 7)")
      s.sql("INSERT INTO graft.g.def395 (c_custkey, c_mktsegment) VALUES (9000002, 'AUTO2')")
      s.table("graft.g.def395")
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n"), sum(col("score")).as("sum_score"),
          min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"))
        .orderBy(col("tier"))
    }),

    // ------------------------------------------------------------------
    // STORAGE-PARTITIONED JOIN on the sink (q350 is the graftseq form;
    // this is the table-format form — two tables PARTITIONED BY the
    // same column join with ZERO exchange): `grouped=true` scans serve
    // one InputPartition per partition TUPLE, each reporting its typed
    // key (HasPartitionKey + KeyGroupedPartitioning), so under the V2
    // bucketing confs EnsureRequirements plans the sort-merge join
    // with no shuffle on EITHER side — at 100 TB, two co-partitioned
    // fact tables join at file-read cost, the Iceberg/Hive-bucketing
    // economics on the connector's own layout. The dim here is the
    // per-segment stats table (1 row per partition) enriching every
    // customer row; the merge hint forces the shuffle-join path SPJ
    // exists to eliminate (a broadcast would hide it); confs are
    // snapshot/restored and the result materializes while they hold
    // (q350's discipline). Round11Spec pins zero exchanges in the
    // finalized join subtree; oracle replays the enrichment closed-
    // form from parquet.
    "q384_sink_spj" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.spjf384")
      s.sql("DROP TABLE IF EXISTS graft.g.spjd384")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.spjf384")
        .partitionedBy(col("c_mktsegment")).create()
      cust.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_seg"),
          sum(col("bal").cast("decimal(18,2)")).cast("double").as("seg_sum"))
        .writeTo("graft.g.spjd384")
        .partitionedBy(col("c_mktsegment")).create()
      val wh = Stage.dir("graft_warehouse")
      def grp(t: String) = s.read.format("graftsink")
        .option("path", s"$wh/g/$t").option("grouped", "true").load()
      Sessions.withConfs(s, Sessions.SpjConfs: _*) {
        grp("spjf384").join(grp("spjd384").hint("merge"), "c_mktsegment")
          .withColumn("above",
            (col("bal") > col("seg_sum") / col("n_seg")).cast("long"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"), sum(col("above")).as("n_above"),
            round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"))
          .orderBy(col("c_mktsegment"))
          // materialize WHILE the SPJ confs hold (the exchange-free
          // plan is fixed here)
          .localCheckpoint()
      }
    }),

    // ------------------------------------------------------------------
    // RUNTIME (dynamic) partition pruning on the sink
    // (SupportsRuntimeV2Filtering — q313 is the graftseq range form;
    // this is the partitioned-table form every star schema lives on):
    // the fact table is partitioned by segment, the dim side carries
    // the selective predicate, and Spark hands the dim's observed join
    // keys to the fact SCAN as `c_mktsegment IN (...)` AFTER the
    // broadcast side executes but BEFORE fact partitions are planned —
    // only the dim's partitions' files are ever read, with no segment
    // predicate anywhere in the query text. At 100 TB this is the
    // difference between scanning 5 partitions and scanning the table.
    // Round11Spec pins the mechanism (runtime allowed-sets received,
    // planned-file count, exactness); the oracle replays the join from
    // parquet — pruning must never change the result.
    "q383_sink_runtime_prune" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.dpp383")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.writeTo("graft.g.dpp383")
        .partitionedBy(col("c_mktsegment")).create()
      val dim = Tables.customer(s, dir)
        .filter(col("c_custkey") % 40 === 7)
        .select(col("c_mktsegment")).distinct()
      s.table("graft.g.dpp383")
        .join(dim, "c_mktsegment")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // WRITE-AUDIT-PUBLISH via branch/tag refs (Iceberg's WAP workflow —
    // the staging surface every production ingestion gate runs): a
    // `toBranch` write commits its snapshot into the SAME immutable
    // global version chain but advances only the `_ref.branch.audit`
    // pointer — main readers see NOTHING; the audit step reads the
    // branch head (`option("ref", ...)` / `VERSION AS OF 'audit'`) and
    // validates; `CALL graft.sys.publish_branch` then fast-forwards
    // main to the branch head (a pointer move, never a data copy), and
    // `create_tag` pins the approved snapshot as an IMMUTABLE named
    // ref that also PROTECTS it from expire_snapshots GC. The readout
    // pins all three phases: main-before-publish (evens only), the
    // staged audit count, and the post-publish tag read. Round11Spec
    // pins branch isolation, tag immutability, ref-protected expiry,
    // and the refusal matrix. Oracle replays the phases closed-form.
    "q382_sink_wap" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.wap382")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.filter(col("c_custkey") % 2 === 0)
        .writeTo("graft.g.wap382").create()                         // v1+v2 on main
      cust.filter(col("c_custkey") % 2 === 1)
        .writeTo("graft.g.wap382").option("toBranch", "audit").append() // v3, branch only
      val path = s"${Stage.dir("graft_warehouse")}/g/wap382"
      val mainPre = s.table("graft.g.wap382").count() // evens only — staged rows invisible
      val auditCnt = s.read.format("graftsink").option("path", path)
        .option("ref", "audit").load().count()        // full table on the branch
      s.sql("CALL graft.sys.publish_branch('g.wap382', 'audit')").collect()
      s.sql("CALL graft.sys.create_tag('g.wap382', 'approved', 3)").collect()
      val tagCnt = s.sql(
        "SELECT count(*) FROM graft.g.wap382 VERSION AS OF 'approved'")
        .collect().head.getLong(0)
      s.table("graft.g.wap382")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"),
          min(col("c_custkey")).as("min_key"))
        .withColumn("main_pre_publish", lit(mainPre))
        .withColumn("audit_staged", lit(auditCnt))
        .withColumn("tag_read", lit(tagCnt))
        .orderBy(col("c_mktsegment"))
    }),

    // ------------------------------------------------------------------
    // SQL `TIMESTAMP AS OF` — the wall-clock half of the time-travel
    // surface (q361 is VERSION AS OF): every writeManifest stamps a
    // STRICTLY MONOTONE commit timestamp (`ts:` on the manifest head,
    // max(now, prev+1) — unique even for same-millisecond commits), and
    // the catalog resolves `TIMESTAMP AS OF t` to the newest snapshot
    // committed ≤ t, loudly refusing a t before the first commit. The
    // query pins BOTH snapshots of an overwrite chain by their exact
    // commit stamps (read back from the manifests — no sleeps, no
    // wall-clock races); Round11Spec pins monotonicity, the
    // micros→millis conversion, and the before-first-commit refusal.
    // Oracle replays both snapshots closed-form (q361's algebra).
    "q380_sql_timestamp_travel" -> ((s, dir) => {
      ensureCatalog(s)
      s.sql("DROP TABLE IF EXISTS graft.g.tt380")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_acctbal").cast("decimal(18,2)").cast("double").as("bal"))
      cust.filter(col("c_custkey") % 3 === 0).writeTo("graft.g.tt380").create()
      cust.withColumn("bal",
          (col("bal").cast("decimal(18,2)") + lit(50)).cast("double"))
        .writeTo("graft.g.tt380").overwrite(lit(true)) // v3
      val path = s"${Stage.dir("graft_warehouse")}/g/tt380"
      def at(v: Int): String = {
        val ms = graft.sources.GraftSink.readManifest(path, Some(v)).get.ts.get
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.ofEpochMilli(ms))
      }
      s.sql(s"""
        SELECT 2 AS version, c_mktsegment, count(*) AS n,
          round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal
        FROM graft.g.tt380 TIMESTAMP AS OF '${at(2)}' GROUP BY c_mktsegment
        UNION ALL
        SELECT 3 AS version, c_mktsegment, count(*) AS n,
          round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal
        FROM graft.g.tt380 TIMESTAMP AS OF '${at(3)}' GROUP BY c_mktsegment
        ORDER BY version, c_mktsegment""")
    }),
  )

  /** Register the graft catalog once per session (idempotent): catalog
    * instances are cached by name after first resolution, so the
    * warehouse root must be the same every time — Stage.dir is stable
    * per JVM. */
  private def ensureCatalog(s: org.apache.spark.sql.SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.warehouse", Stage.dir("graft_warehouse"))
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft.g")
  }

  def oracles: Map[String, String] = Map(
    // q389: every NDV/null pair recomputed per column from parquet;
    // CTAS = v1 empty + v2 data, so analyzed_version pins at 2 and the
    // freshly-analyzed stats are not stale.
    "q389_sink_analyze" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal, "
        + "CASE WHEN c_custkey % 4 = 0 THEN NULL "
        + "ELSE 'T' || CAST(c_custkey % 3 AS VARCHAR) END AS tier FROM customer), "
        + "a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM base), "
        + "s AS ("
        + "SELECT 'bal' AS col_name, CAST(count(DISTINCT bal) AS BIGINT) AS ndv, "
        + "CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls FROM base "
        + "UNION ALL SELECT 'c_custkey', CAST(count(DISTINCT c_custkey) AS BIGINT), "
        + "CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM base "
        + "UNION ALL SELECT 'c_mktsegment', CAST(count(DISTINCT c_mktsegment) AS BIGINT), "
        + "CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM base "
        + "UNION ALL SELECT 'tier', CAST(count(DISTINCT tier) AS BIGINT), "
        + "CAST(sum(CASE WHEN tier IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM base) "
        + "SELECT col_name, ndv, nulls, FALSE AS stale, CAST(2 AS BIGINT) AS analyzed_version, "
        + "CAST(4 AS BIGINT) AS n_cols, n_rows FROM s CROSS JOIN a ORDER BY col_name"),
    // q415: the KMV estimate replayed EXACTLY — per column, hash the
    // distinct non-null values through DuckDB's own md5 chain, rank
    // ascending; <64 distinct → the true count, else floor(63·2^60 /
    // 64th-smallest hash). Null counts exact; analyze stamps v2.
    "q415_analyze_sketch" ->
      ("WITH base AS (SELECT o_custkey, o_orderpriority, "
        + "CASE WHEN o_orderkey % 4 = 0 THEN NULL "
        + "ELSE 'P' || CAST(o_custkey % 7 AS VARCHAR) END AS pri FROM orders), "
        + "a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM base), "
        + "ck AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, count(*) OVER () AS nd "
        + "FROM (SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h "
        + "FROM base WHERE o_custkey IS NOT NULL)), "
        + "ce AS (SELECT CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS BIGINT) "
        + "ELSE CAST(floor((63.0 * 1152921504606846976.0) / "
        + "CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)) AS BIGINT) END AS ndv FROM ck), "
        + "pk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, count(*) OVER () AS nd "
        + "FROM (SELECT DISTINCT CAST('0x' || substr(md5(o_orderpriority), 1, 15) AS BIGINT) AS h "
        + "FROM base WHERE o_orderpriority IS NOT NULL)), "
        + "pe AS (SELECT CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS BIGINT) "
        + "ELSE CAST(floor((63.0 * 1152921504606846976.0) / "
        + "CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)) AS BIGINT) END AS ndv FROM pk), "
        + "rk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, count(*) OVER () AS nd "
        + "FROM (SELECT DISTINCT CAST('0x' || substr(md5(pri), 1, 15) AS BIGINT) AS h "
        + "FROM base WHERE pri IS NOT NULL)), "
        + "re AS (SELECT CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS BIGINT) "
        + "ELSE CAST(floor((63.0 * 1152921504606846976.0) / "
        + "CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)) AS BIGINT) END AS ndv FROM rk), "
        + "s AS (SELECT 'o_custkey' AS col_name, (SELECT ndv FROM ce) AS ndv, "
        + "(SELECT CAST(count(*) AS BIGINT) FROM base WHERE o_custkey IS NULL) AS nulls "
        + "UNION ALL SELECT 'o_orderpriority', (SELECT ndv FROM pe), "
        + "(SELECT CAST(count(*) AS BIGINT) FROM base WHERE o_orderpriority IS NULL) "
        + "UNION ALL SELECT 'pri', (SELECT ndv FROM re), "
        + "(SELECT CAST(count(*) AS BIGINT) FROM base WHERE pri IS NULL)) "
        + "SELECT col_name, ndv, nulls, FALSE AS stale, CAST(2 AS BIGINT) AS analyzed_version, "
        + "CAST(3 AS BIGINT) AS n_cols, n_rows FROM s CROSS JOIN a ORDER BY col_name"),
    // q416: the incrementally-merged sketch must equal the full-table
    // replay (bottom-k merge identity); create(v1+v2) + append = v3,
    // the second analyze resketches exactly the one appended file.
    "q416_analyze_incremental" ->
      ("WITH base AS (SELECT o_custkey, o_orderpriority FROM orders), "
        + "a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM base), "
        + "ck AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, count(*) OVER () AS nd "
        + "FROM (SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS h "
        + "FROM base WHERE o_custkey IS NOT NULL)), "
        + "ce AS (SELECT CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS BIGINT) "
        + "ELSE CAST(floor((63.0 * 1152921504606846976.0) / "
        + "CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)) AS BIGINT) END AS ndv FROM ck), "
        + "pk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, count(*) OVER () AS nd "
        + "FROM (SELECT DISTINCT CAST('0x' || substr(md5(o_orderpriority), 1, 15) AS BIGINT) AS h "
        + "FROM base WHERE o_orderpriority IS NOT NULL)), "
        + "pe AS (SELECT CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS BIGINT) "
        + "ELSE CAST(floor((63.0 * 1152921504606846976.0) / "
        + "CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)) AS BIGINT) END AS ndv FROM pk), "
        + "s AS (SELECT 'o_custkey' AS col_name, (SELECT ndv FROM ce) AS ndv, "
        + "(SELECT CAST(count(*) AS BIGINT) FROM base WHERE o_custkey IS NULL) AS nulls "
        + "UNION ALL SELECT 'o_orderpriority', (SELECT ndv FROM pe), "
        + "(SELECT CAST(count(*) AS BIGINT) FROM base WHERE o_orderpriority IS NULL)) "
        + "SELECT col_name, ndv, nulls, FALSE AS stale, CAST(3 AS BIGINT) AS analyzed_version, "
        + "CAST(2 AS BIGINT) AS n_cols, n_rows, CAST(1 AS BIGINT) AS files_resketched "
        + "FROM s CROSS JOIN a ORDER BY col_name"),
    // q417: both generations replayed from parquet; the gen-tag counts
    // are closed-form because a clustered partitioned write lands one
    // file per tuple (gen1 = distinct segments among even keys under
    // the old spec, gen2 = distinct nation keys among odd keys under
    // the new one).
    "q417_spec_evolution" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, c_nationkey, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations, "
        + "(SELECT CAST(count(DISTINCT c_mktsegment) AS BIGINT) FROM base "
        + "WHERE c_custkey % 2 = 0) AS n_gen1_tags, "
        + "(SELECT CAST(count(DISTINCT c_nationkey) AS BIGINT) FROM base "
        + "WHERE c_custkey % 2 = 1) AS n_gen2_tags "
        + "FROM base WHERE c_mktsegment IN ('BUILDING', 'MACHINERY') "
        + "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // q418: current = two copies of customer (the post-rename append
    // shifts keys by 10M), all tags under the renamed key; the v2 pin
    // replays the pre-rename single copy under the old name.
    "q418_partition_rename" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment AS segment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "allrows AS (SELECT c_custkey, segment, bal FROM base "
        + "UNION ALL SELECT c_custkey + 10000000, segment, bal FROM base) "
        + "SELECT segment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "CAST(sum(CASE WHEN c_custkey >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_post_rename, "
        + "(SELECT CAST(count(DISTINCT segment) AS BIGINT) FROM base) AS n_seg_tags, "
        + "CAST(0 AS BIGINT) AS n_oldname_tags, "
        + "(SELECT CAST(count(*) AS BIGINT) FROM base WHERE segment = 'BUILDING') AS n_v2_building "
        + "FROM allrows WHERE segment IN ('BUILDING', 'HOUSEHOLD') "
        + "GROUP BY segment ORDER BY segment"),
    // q419: the per-nation rollup replayed from parquet; the metadata
    // counts are closed-form from the grouping contract — one file per
    // nation tuple, chunks of 8 sorted by tuple (n_groups =
    // ceil(nations/8)), and a single-value probe lives in exactly one
    // chunk (groups_opened = 1) and plans exactly its one file.
    "q419_manifest_groups" ->
      ("WITH base AS (SELECT c_custkey, c_nationkey, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer) "
        + "SELECT CAST(c_nationkey AS BIGINT) AS nation, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "(SELECT CAST(ceil(count(DISTINCT c_nationkey) / 8.0) AS BIGINT) FROM base) AS n_groups, "
        + "CAST(1 AS BIGINT) AS groups_opened_pruned, "
        + "CAST(1 AS BIGINT) AS files_planned_pruned "
        + "FROM base WHERE c_nationkey IN (3, 7) "
        + "GROUP BY c_nationkey ORDER BY nation"),
    // q390: v2 = full customer rows; v3 = the RTAS rollup; 3 snapshots.
    "q390_ctas_atomic" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "v2 AS (SELECT CAST(count(*) AS BIGINT) AS rows_v2, min(c_custkey) AS min_key_v2 FROM base) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "rows_v2, min_key_v2, CAST(3 AS BIGINT) AS n_snapshots, CAST(3 AS BIGINT) AS head_version "
        + "FROM base CROSS JOIN v2 GROUP BY c_mktsegment, rows_v2, min_key_v2 "
        + "ORDER BY c_mktsegment"),
    // q391: buckets replayed via DuckDB's own md5 chain (q363's
    // convention); n_users_manifest ≡ n_users because every file tag
    // must match the hash of every row it holds.
    "q391_sink_bucket" ->
      ("WITH peruser AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
        + "CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_val "
        + "FROM events GROUP BY user_id), "
        + "b AS (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS bucket, "
        + "n_events, sum_val FROM peruser) "
        + "SELECT bucket, CAST(count(*) AS BIGINT) AS n_users, "
        + "CAST(sum(n_events) AS BIGINT) AS n_events, "
        + "round(CAST(sum(CAST(sum_val AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_val, "
        + "CAST(count(*) AS BIGINT) AS n_users_manifest "
        + "FROM b GROUP BY bucket ORDER BY bucket"),
    // q392: the sweep removes exactly the two planted strays and the
    // table content replays unchanged from parquet.
    "q392_remove_orphans" ->
      ("SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "CAST(1 AS BIGINT) AS orphans_removed, CAST(1 AS BIGINT) AS staging_removed "
        + "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // q395: every customer row back-fills (tier='legacy', score=100);
    // the AUTO1 insert takes the tier default but writes score=7
    // explicitly; AUTO2 takes both defaults.
    "q395_column_defaults" ->
      ("WITH rows395 AS ("
        + "SELECT c_custkey, 'legacy' AS tier, CAST(100 AS BIGINT) AS score FROM customer "
        + "UNION ALL SELECT 9000001, 'legacy', 7 "
        + "UNION ALL SELECT 9000002, 'legacy', 100) "
        + "SELECT tier, CAST(count(*) AS BIGINT) AS n, CAST(sum(score) AS BIGINT) AS sum_score, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key "
        + "FROM rows395 GROUP BY tier ORDER BY tier"),
    // q359: post-delete content = the negated predicate over parquet.
    "q359_dsv2_delete" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key "
        + "FROM base WHERE NOT (c_custkey % 7 = 0 OR bal < 0.0) "
        + "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // q360: the merge recomputed as set algebra (q278's convention).
    "q360_dsv2_merge" ->
      ("WITH upserts AS ("
        + "SELECT c_custkey, c_name, c_nationkey, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100 AS DOUBLE) AS c_acctbal, c_mktsegment "
        + "FROM customer WHERE c_custkey % 10 = 1 "
        + "UNION ALL SELECT c_custkey + 1000000, 'new|' || c_name, c_nationkey, c_acctbal, c_mktsegment "
        + "FROM customer WHERE c_custkey % 10 = 3), "
        + "merged AS ("
        + "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer "
        + "WHERE c_custkey % 10 <> 1 AND c_custkey % 10 <> 2 "
        + "UNION ALL SELECT * FROM upserts) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust, "
        + "round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_bal, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key, "
        + "CAST(sum(CASE WHEN c_name LIKE 'new|%' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted "
        + "FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // q361: CTAS = v1 empty + v2 slice; overwrite = v3 full +50.
    "q361_sql_time_travel" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "v2 AS (SELECT 2 AS version, c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal "
        + "FROM base WHERE c_custkey % 3 = 0 GROUP BY c_mktsegment), "
        + "v3 AS (SELECT 3 AS version, c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(CAST(bal AS DECIMAL(18,2)) + 50 AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal "
        + "FROM base GROUP BY c_mktsegment) "
        + "SELECT version, c_mktsegment, n, sum_bal FROM v2 "
        + "UNION ALL SELECT version, c_mktsegment, n, sum_bal FROM v3 "
        + "ORDER BY version, c_mktsegment"),
    // q362: the update replayed as a CASE over parquet.
    "q362_dsv2_update" ->
      ("WITH base AS (SELECT o_orderkey, o_orderstatus, "
        + "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price FROM orders), "
        + "upd AS (SELECT o_orderkey, "
        + "CASE WHEN o_orderstatus = 'F' AND o_orderkey % 4 = 1 THEN 'R' ELSE o_orderstatus END AS o_orderstatus, "
        + "CASE WHEN o_orderstatus = 'F' AND o_orderkey % 4 = 1 "
        + "THEN CAST(CAST(price AS DECIMAL(18,2)) * CAST(1.10 AS DECIMAL(4,2)) AS DOUBLE) "
        + "ELSE price END AS price FROM base) "
        + "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(price AS DECIMAL(18,3))) AS DOUBLE), 3) AS sum_price, "
        + "min(o_orderkey) AS min_key FROM upd GROUP BY 1 ORDER BY 1"),
    // q363: _slice replays the planning grid (id div 25000); bucket the
    // portable md5 chain.
    "q363_dsv2_metadata_col" ->
      ("SELECT i // 25000 AS slice, CAST(count(*) AS BIGINT) AS n, "
        + "min(i) AS min_id, max(i) AS max_id, "
        + "CAST(sum(CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 97) AS BIGINT) AS sum_bucket "
        + "FROM (SELECT unnest(range(0, 200000)) AS i) GROUP BY 1 ORDER BY 1"),
    // q364: catalog functions replayed via DuckDB's own md5 chain and
    // jaro_winkler_similarity (bit-parity pinned since q281).
    "q364_catalog_function" ->
      ("SELECT CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % 64 AS bucket, "
        + "CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "round(CAST(sum(CAST(jaro_winkler_similarity(c_name, c_mktsegment) AS DECIMAL(18,12))) AS DOUBLE) "
        + "/ count(*), 6) AS avg_jw "
        + "FROM customer GROUP BY 1 ORDER BY 1"),
    // q375: the metadata counts must equal the real ones — distinct
    // users for the rollup table, the post-delete complement for the
    // merge-on-read table.
    "q375_sink_metadata_count" ->
      ("SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_users, "
        + "(SELECT CAST(count(*) AS BIGINT) FROM customer WHERE c_custkey % 4 <> 1) AS n_custs"),
    // q376: each commit's delta replayed closed-form — v2 inserts all
    // rows, v3 deletes the %5 slice (DV content), v4 inserts the
    // re-keyed %7 slice; v1 is the empty created table (no delta row).
    "q376_sink_changelog" ->
      ("WITH base AS (SELECT c_custkey, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer) "
        + "SELECT CAST(2 AS BIGINT) AS commit_version, 'insert' AS change, "
        + "CAST(count(*) AS BIGINT) AS n_rows, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key FROM base "
        + "UNION ALL SELECT CAST(3 AS BIGINT), 'delete', CAST(count(*) AS BIGINT), "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2), "
        + "min(c_custkey), max(c_custkey) FROM base WHERE c_custkey % 5 = 0 "
        + "UNION ALL SELECT CAST(4 AS BIGINT), 'insert', CAST(count(*) AS BIGINT), "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2), "
        + "min(c_custkey + 2000000), max(c_custkey + 2000000) FROM base WHERE c_custkey % 7 = 0 "
        + "ORDER BY commit_version, change"),
    // q378: the three generations replayed — legacy rows (full width,
    // bal/c_nationkey under old names), the narrowed-width append, the
    // full-width tiered append; zero files rewritten.
    "q378_catalog_rename_drop" ->
      ("WITH base AS (SELECT c_custkey, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS balance FROM customer), "
        + "allrows AS ("
        + "SELECT c_custkey, balance, NULL AS tier FROM base "
        + "UNION ALL SELECT c_custkey + 4000000, balance, NULL FROM base WHERE c_custkey % 6 = 0 "
        + "UNION ALL SELECT c_custkey + 5000000, balance, "
        + "'T' || CAST(c_custkey % 2 AS VARCHAR) FROM base WHERE c_custkey % 11 = 0) "
        + "SELECT coalesce(tier, 'legacy') AS tier, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(balance AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key, "
        + "CAST(0 AS BIGINT) AS files_rewritten "
        + "FROM allrows GROUP BY 1 ORDER BY 1"),
    // q379: the post-delete two-segment slice replayed from parquet;
    // n_partitions = the segment count (one file per tuple), zero
    // untagged files (the rewrite stayed partition-aware).
    "q379_dsv2_partitioned" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer "
        + "WHERE c_custkey % 8 <> 3) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key, "
        + "(SELECT CAST(count(DISTINCT c_mktsegment) AS BIGINT) FROM customer) AS n_partitions, "
        + "CAST(0 AS BIGINT) AS n_untagged_files "
        + "FROM base WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE') "
        + "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // q385: every metadata-table value recomputed from the change
    // algebra (2-file create + DV delete + 1-file append + tag).
    "q385_sink_metadata_tables" ->
      ("WITH agg AS (SELECT CAST(count(*) AS BIGINT) AS n FROM customer), "
        + "dels AS (SELECT CAST(count(*) AS BIGINT) AS d FROM customer WHERE c_custkey % 6 = 1), "
        + "app AS (SELECT CAST(count(*) AS BIGINT) AS a FROM customer WHERE c_custkey % 9 = 0) "
        + "SELECT CAST(3 AS BIGINT) AS n_files, n + a AS total_rows, "
        + "n + a - d AS total_live, d AS total_dv, "
        + "CAST(4 AS BIGINT) AS n_snapshots, CAST(4 AS BIGINT) AS head_version, "
        + "n + a - d AS live_at_head, CAST(3 AS BIGINT) AS files_at_head, "
        + "'tag' AS ref_kind, 'approved' AS ref_name, CAST(4 AS BIGINT) AS ref_version "
        + "FROM agg, dels, app"),
    // q384: the co-partitioned enrichment replayed closed-form; the
    // seg average division is the same IEEE double in both engines
    // (exact DECIMAL sum cast to double, divided by the exact count).
    "q384_sink_spj" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "seg AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_seg, "
        + "CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS seg_sum FROM base GROUP BY 1) "
        + "SELECT b.c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "CAST(sum(CASE WHEN b.bal > s.seg_sum / s.n_seg THEN 1 ELSE 0 END) AS BIGINT) AS n_above, "
        + "round(CAST(sum(CAST(b.bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal "
        + "FROM base b JOIN seg s USING (c_mktsegment) "
        + "GROUP BY b.c_mktsegment ORDER BY b.c_mktsegment"),
    // q405: both per-user aggregates and the join replayed closed-form
    // — the bucket layout and the exchange-free plan must never change
    // the result (sums DECIMAL-quantized on both sides).
    "q405_sink_bucket_spj" ->
      ("WITH f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
        + "CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_val "
        + "FROM events GROUP BY 1), "
        + "d AS (SELECT user_id, CAST(count(DISTINCT event_type) AS BIGINT) AS n_types, "
        + "CAST(max(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_val "
        + "FROM events GROUP BY 1) "
        + "SELECT d.n_types, f.user_id % 7 AS cohort, CAST(count(*) AS BIGINT) AS n_users, "
        + "CAST(sum(f.n_events) AS BIGINT) AS n_events, "
        + "round(CAST(sum(CAST(f.sum_val AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_val, "
        + "round(CAST(sum(CAST(d.max_val AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_max "
        + "FROM f JOIN d USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2"),
    // q413: the view's rollup over base ∪ post-view inserts, replayed
    // from parquet — a frozen-snapshot view would miss ZVIEW.
    "q413_catalog_views" ->
      ("WITH base AS (SELECT c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer "
        + "UNION ALL SELECT 'ZVIEW', CAST(12.34 AS DOUBLE) "
        + "UNION ALL SELECT 'ZVIEW', CAST(0.66 AS DOUBLE)) "
        + "SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal "
        + "FROM base GROUP BY 1 ORDER BY 1"),
    // q411: set algebra — BUILDING restated (+1000), MACHINERY keeps
    // even keys, every other partition unchanged; 3 snapshots.
    "q411_sink_dynamic_overwrite" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "final AS ("
        + "SELECT c_custkey, c_mktsegment, bal FROM base "
        + "WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY') "
        + "UNION ALL SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(bal AS DECIMAL(18,2)) + 1000 AS DOUBLE) FROM base WHERE c_mktsegment = 'BUILDING' "
        + "UNION ALL SELECT c_custkey, c_mktsegment, bal FROM base "
        + "WHERE c_mktsegment = 'MACHINERY' AND c_custkey % 2 = 0) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, CAST(3 AS BIGINT) AS n_snapshots "
        + "FROM final GROUP BY 1 ORDER BY 1"),
    // q412: set algebra — BUILDING replaced by its even-key rows at
    // −100 balances; every other partition unchanged.
    "q412_sink_replace_where" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "final AS ("
        + "SELECT c_custkey, c_mktsegment, bal FROM base WHERE c_mktsegment <> 'BUILDING' "
        + "UNION ALL SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(bal AS DECIMAL(18,2)) - 100 AS DOUBLE) FROM base "
        + "WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key "
        + "FROM final GROUP BY 1 ORDER BY 1"),
    // q410: final state recomputed as set algebra — live cohort (+7),
    // fresh inserts, aged-out evens deleted, aged-out odds STALE.
    "q410_merge_by_source" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "final AS ("
        + "SELECT c_custkey, c_mktsegment, CAST(CAST(bal AS DECIMAL(18,2)) + 7 AS DOUBLE) AS bal "
        + "FROM base WHERE c_custkey % 3 <> 2 "
        + "UNION ALL SELECT c_custkey + 2000000, 'FRESH', bal FROM base WHERE c_custkey % 7 = 0 "
        + "UNION ALL SELECT c_custkey, 'STALE', bal FROM base "
        + "WHERE c_custkey % 3 = 2 AND c_custkey % 2 = 1) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key "
        + "FROM final GROUP BY 1 ORDER BY 1"),
    // q406: the round-tripped payload/vector stats replayed from
    // parquet — the sink codec must be invisible to every readout.
    "q406_sink_binary_vectors" ->
      ("WITH src AS (SELECT vec_id, encode('v' || CAST(vec_id AS VARCHAR) || ':' || "
        + "CAST(coalesce(label, -1) AS VARCHAR)) AS payload, embedding FROM embeddings) "
        + "SELECT vec_id % 5 AS cohort, CAST(count(*) AS BIGINT) AS n, "
        + "CAST(sum(octet_length(payload)) AS BIGINT) AS payload_bytes, "
        + "min(to_base64(payload)) AS min_b64, max(to_base64(payload)) AS max_b64, "
        + "round(CAST(sum(CAST(list_sum(list_transform(embedding, x -> "
        + "CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DECIMAL(28,12))) AS DOUBLE), 4) AS norm2_sum "
        + "FROM src GROUP BY 1 ORDER BY 1"),
    // q407: the Z-ordered table must serve the 2-dim range rollup
    // byte-identically to parquet — file pruning is an optimization,
    // never a correctness transfer; audit columns are closed-form.
    "q407_sink_zorder" ->
      ("WITH src AS (SELECT o_orderkey AS k, o_custkey AS c, "
        + "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d, "
        + "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price FROM orders) "
        + "SELECT c % 8 AS bucket, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price, "
        + "min(k) AS min_key, max(k) AS max_key, "
        + "CAST(16 AS BIGINT) AS files_after, CAST(3 AS BIGINT) AS version "
        + "FROM src WHERE c BETWEEN 10 AND 120 AND d BETWEEN 9500 AND 10000 "
        + "GROUP BY 1 ORDER BY 1"),
    // q414: the 3-dim Z-ordered table serves the corner rollup
    // byte-identically to parquet; 27 range partitions → 27 files,
    // create(v1+v2) + zorder = version 3.
    "q414_zorder_kdim" ->
      ("WITH src AS (SELECT o_orderkey AS k, o_custkey AS c, "
        + "date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d, "
        + "CAST(floor(CAST(o_totalprice AS DECIMAL(18,2))) AS BIGINT) AS t FROM orders) "
        + "SELECT c % 8 AS bucket, CAST(count(*) AS BIGINT) AS n, "
        + "CAST(sum(t) AS BIGINT) AS sum_t, min(k) AS min_key, max(k) AS max_key, "
        + "CAST(27 AS BIGINT) AS files_after, CAST(3 AS BIGINT) AS version "
        + "FROM src WHERE c BETWEEN 10 AND 120 AND d BETWEEN 9500 AND 10000 "
        + "AND t BETWEEN 50000 AND 150000 "
        + "GROUP BY 1 ORDER BY 1"),
    // q383: the pruned star join must equal the plain join — DPP is an
    // optimization, never a correctness transfer.
    "q383_sink_runtime_prune" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "dim AS (SELECT DISTINCT c_mktsegment FROM customer WHERE c_custkey % 40 = 7) "
        + "SELECT b.c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(b.bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(b.c_custkey) AS min_key "
        + "FROM base b JOIN dim d USING (c_mktsegment) "
        + "GROUP BY b.c_mktsegment ORDER BY b.c_mktsegment"),
    // q382: the published table = ALL customers; the phase pins are
    // closed-form (evens before publish, full count staged + tagged).
    "q382_sink_wap" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, "
        + "(SELECT CAST(count(*) AS BIGINT) FROM base WHERE c_custkey % 2 = 0) AS main_pre_publish, "
        + "(SELECT CAST(count(*) AS BIGINT) FROM base) AS audit_staged, "
        + "(SELECT CAST(count(*) AS BIGINT) FROM base) AS tag_read "
        + "FROM base GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // q380: both timestamp pins replayed closed-form (q361's algebra —
    // v2 = the mod-3 CTAS slice, v3 = the +50 overwrite).
    "q380_sql_timestamp_travel" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "v2 AS (SELECT 2 AS version, c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal "
        + "FROM base WHERE c_custkey % 3 = 0 GROUP BY c_mktsegment), "
        + "v3 AS (SELECT 3 AS version, c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(CAST(bal AS DECIMAL(18,2)) + 50 AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal "
        + "FROM base GROUP BY c_mktsegment) "
        + "SELECT version, c_mktsegment, n, sum_bal FROM v2 "
        + "UNION ALL SELECT version, c_mktsegment, n, sum_bal FROM v3 "
        + "ORDER BY version, c_mktsegment"),
    // q377: the streamed feed must equal the batch changelog — v2
    // inserts all, v3/v4 delete the %4=1 / %4=2 slices, v5 inserts the
    // re-keyed %9 slice.
    "q377_sink_changelog_stream" ->
      ("WITH base AS (SELECT c_custkey, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer) "
        + "SELECT CAST(2 AS BIGINT) AS commit_version, 'insert' AS change, "
        + "CAST(count(*) AS BIGINT) AS n_rows, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key FROM base "
        + "UNION ALL SELECT CAST(3 AS BIGINT), 'delete', CAST(count(*) AS BIGINT), "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2), "
        + "min(c_custkey), max(c_custkey) FROM base WHERE c_custkey % 4 = 1 "
        + "UNION ALL SELECT CAST(4 AS BIGINT), 'delete', CAST(count(*) AS BIGINT), "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2), "
        + "min(c_custkey), max(c_custkey) FROM base WHERE c_custkey % 4 = 2 "
        + "UNION ALL SELECT CAST(5 AS BIGINT), 'insert', CAST(count(*) AS BIGINT), "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2), "
        + "min(c_custkey + 3000000), max(c_custkey + 3000000) FROM base WHERE c_custkey % 9 = 0 "
        + "ORDER BY commit_version, change"),
    // q374: the pruned range slice must equal the same slice straight
    // off parquet (pruning is an optimization, never a transfer).
    "q374_sink_file_skipping" ->
      ("WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
        + "CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_val "
        + "FROM events GROUP BY user_id) "
        + "SELECT CAST(count(*) AS BIGINT) AS n_users, CAST(sum(n_events) AS BIGINT) AS n_events, "
        + "round(CAST(sum(CAST(sum_val AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_val, "
        + "min(user_id) AS min_u, max(user_id) AS max_u "
        + "FROM per WHERE user_id >= 2 AND user_id <= 9"),
    // q373: legacy rows carry NULL tier; the new generation replays the
    // re-keyed slice with its computed tier.
    "q373_catalog_evolution" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "newgen AS (SELECT c_custkey + 1000000 AS c_custkey, bal, "
        + "'T' || CAST((c_custkey + 1000000) % 3 AS VARCHAR) AS tier "
        + "FROM base WHERE c_custkey % 5 = 0), "
        + "allr AS (SELECT c_custkey, bal, NULL AS tier FROM base "
        + "UNION ALL SELECT c_custkey, bal, tier FROM newgen) "
        + "SELECT coalesce(tier, 'legacy') AS tier, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key "
        + "FROM allr GROUP BY 1 ORDER BY 1"),
    // q372: survivors of both deletes, plus the DV audit — zero files
    // added and dv_positions = exactly the deleted row count.
    "q372_dsv2_mor_delete" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "del AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM base "
        + "WHERE c_custkey % 7 = 0 OR bal < 1000.0) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, CAST(0 AS BIGINT) AS files_added, "
        + "max(nd) AS dv_positions "
        + "FROM base CROSS JOIN del WHERE NOT (c_custkey % 7 = 0 OR bal < 1000.0) "
        + "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // q371: after compact+rollback+expire the table IS the even slice;
    // the audit constants pin the snapshot chain (2 versions left of 5,
    // 1 compacted file, 3 expired versions).
    "q371_catalog_procedures" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key, CAST(2 AS BIGINT) AS n_versions_left, "
        + "CAST(1 AS BIGINT) AS compacted_files, CAST(3 AS BIGINT) AS versions_removed "
        + "FROM base WHERE c_custkey % 2 = 0 GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // q369: the CDC final state recomputed closed-form (the change
    // algebra over parquet, not the merge path); n_versions pins the
    // snapshot audit trail at create + CTAS + 2 merge commits.
    "q369_stream_cdc_merge" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "fin AS ("
        + "SELECT c_custkey, c_mktsegment, CAST(CAST(bal AS DECIMAL(18,2)) + 100 AS DOUBLE) AS bal "
        + "FROM base WHERE c_custkey % 10 = 1 "
        + "UNION ALL SELECT c_custkey, c_mktsegment, CAST(CAST(bal AS DECIMAL(18,2)) + 7 AS DOUBLE) "
        + "FROM base WHERE c_custkey % 10 = 3 "
        + "UNION ALL SELECT c_custkey, c_mktsegment, 0.0 FROM base WHERE c_custkey % 20 = 2 "
        + "UNION ALL SELECT c_custkey, c_mktsegment, bal FROM base WHERE c_custkey % 10 NOT IN (1, 2, 3)) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "CAST(sum(CASE WHEN bal = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_bal, "
        + "CAST(4 AS BIGINT) AS n_versions "
        + "FROM fin GROUP BY 1 ORDER BY 1"),
    // q365: the streamed union of the 4 epochs is exactly range(100000).
    // q403: survivors = NOT %11 IN (0,1); dv_positions = the %11=1
    // population (disjoint from the first delete, so all were live);
    // 5 snapshots = create + CTAS + COW delete + props + DV delete.
    "q403_set_write_mode" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "dv AS (SELECT CAST(count(*) AS BIGINT) AS dv_positions FROM base WHERE c_custkey % 11 = 1) "
        + "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "dv_positions, CAST(5 AS BIGINT) AS n_snapshots "
        + "FROM base CROSS JOIN dv WHERE c_custkey % 11 NOT IN (0, 1) "
        + "GROUP BY c_mktsegment, dv_positions ORDER BY c_mktsegment"),
    // q400: the packing rule replays from parquet row counts alone —
    // per (priority, slice) counts sort desc and bin by exclusive-
    // cumsum integer division; bin counts are tie-order invariant.
    "q400_compact_bins" ->
      ("WITH base AS (SELECT o_orderkey, o_orderpriority AS pr, "
        + "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price FROM orders), "
        + "c AS (SELECT pr, o_orderkey % 3 AS sl, CAST(count(*) AS BIGINT) AS r FROM base GROUP BY 1, 2), "
        + "o AS (SELECT pr, r, coalesce(CAST(sum(r) OVER (PARTITION BY pr ORDER BY r DESC, sl "
        + "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumx FROM c), "
        + "b AS (SELECT pr, cumx // 2500 AS bin, CAST(count(*) AS BIGINT) AS members FROM o GROUP BY 1, 2), "
        + "f AS (SELECT pr, CAST(count(*) AS BIGINT) AS n_files, "
        + "CAST(sum(CASE WHEN members > 1 THEN 1 ELSE 0 END) AS BIGINT) AS nrw FROM b GROUP BY pr), "
        + "aud AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM c) AS files_before, "
        + "(SELECT CAST(sum(n_files) AS BIGINT) FROM f) AS files_after, "
        + "(SELECT CAST(sum(nrw) AS BIGINT) FROM f) AS bins_rewritten), "
        + "d AS (SELECT pr, CAST(count(*) AS BIGINT) AS n_rows, "
        + "round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price FROM base GROUP BY pr) "
        + "SELECT d.pr, d.n_rows, d.sum_price, f.n_files, d.n_rows AS rows_manifest, "
        + "aud.files_before, aud.files_after, aud.bins_rewritten "
        + "FROM d JOIN f USING (pr) CROSS JOIN aud ORDER BY d.pr"),
    // q398: the two branch deltas replay closed-form; rows_main = the
    // untouched pre-branch customer count.
    "q398_branch_changelog" ->
      ("WITH base AS (SELECT c_custkey, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "a AS (SELECT CAST(count(*) AS BIGINT) AS rows_main FROM base), "
        + "d3 AS (SELECT CAST(3 AS BIGINT) AS _commit_version, 'insert' AS _change, "
        + "CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(CAST(CAST(bal AS DECIMAL(18,2)) + 10 AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key FROM base WHERE c_custkey % 4 = 0), "
        + "d4 AS (SELECT CAST(4 AS BIGINT) AS _commit_version, 'insert' AS _change, "
        + "CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(CAST(CAST(bal AS DECIMAL(18,2)) + 20 AS DOUBLE) AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal, "
        + "min(c_custkey) AS min_key FROM base WHERE c_custkey % 4 = 1) "
        + "SELECT * FROM (SELECT d3.*, a.rows_main FROM d3 CROSS JOIN a "
        + "UNION ALL SELECT d4.*, a.rows_main FROM d4 CROSS JOIN a) "
        + "ORDER BY _commit_version, _change"),
    // q397: the streamed content replays from the deterministic md5
    // stream; n_manifest ≡ n certifies every file tag.
    "q397_stream_partitioned_sink" ->
      ("SELECT CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 97 AS bucket, "
        + "CAST(count(*) AS BIGINT) AS n, CAST(sum(i) AS BIGINT) AS sum_id, "
        + "min(i) AS min_id, max(i) AS max_id, CAST(count(*) AS BIGINT) AS n_manifest "
        + "FROM (SELECT unnest(range(100000)) AS i) GROUP BY 1 ORDER BY 1"),
    "q365_dsv2_stream_sink" ->
      ("SELECT CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 97 AS bucket, "
        + "CAST(count(*) AS BIGINT) AS n, CAST(sum(i) AS BIGINT) AS sum_id, "
        + "min(i) AS min_id, max(i) AS max_id "
        + "FROM (SELECT unnest(range(100000)) AS i) GROUP BY 1 ORDER BY 1"),
    "q351_dsv2_time_travel" ->
      ("WITH base AS (SELECT c_custkey, c_mktsegment, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal FROM customer), "
        + "v1 AS (SELECT 1 AS version, c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal "
        + "FROM base WHERE c_custkey % 3 = 0 GROUP BY c_mktsegment), "
        + "v2 AS (SELECT 2 AS version, c_mktsegment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(CAST(bal AS DECIMAL(18,2)) + 50 AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal "
        + "FROM base GROUP BY c_mktsegment) "
        + "SELECT version, c_mktsegment, n, sum_bal FROM v1 "
        + "UNION ALL SELECT version, c_mktsegment, n, sum_bal FROM v2 "
        + "ORDER BY version, c_mktsegment"),
    "q350_dsv2_spj" ->
      ("WITH t AS (SELECT id, id // 12500 AS grp, "
        + "CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15) AS BIGINT) % 97 AS bucket, "
        + "id % 50 AS m FROM range(0, 100000) r(id)) "
        + "SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(id) AS BIGINT) AS sum_id, "
        + "CAST(sum(bucket) AS BIGINT) AS sum_bucket, CAST(sum(m) AS BIGINT) AS sum_m "
        + "FROM t GROUP BY grp ORDER BY grp"),
    "q335_dsv2_clustered_sink" ->
      ("WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
        + "CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS sum_val "
        + "FROM events GROUP BY user_id) "
        + "SELECT user_id % 10 AS bucket, CAST(count(*) AS BIGINT) AS n_users, "
        + "CAST(sum(n_events) AS BIGINT) AS n_events, "
        + "round(CAST(sum(CAST(sum_val AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_val "
        + "FROM per GROUP BY 1 ORDER BY 1"),
    "q94_orc_roundtrip" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
        + "round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_qty, "
        + "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_price, "
        + "min(l_shipdate) AS first_ship FROM lineitem "
        + "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q88_sink_partitioned" ->
      ("SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
        + "min(doc_id) AS first_doc FROM documents WHERE lang IN ('en', 'de') "
        + "GROUP BY lang, source ORDER BY lang, source"),
    "q184_schema_evolution" ->
      ("SELECT lang, count(*) AS n_docs, "
        + "CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_legacy_rows, "
        + "count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN source END) AS n_sources, "
        + "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
        + "FROM documents GROUP BY lang ORDER BY lang"),
    "q74_sources" ->
      ("SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders, "
        + "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS revenue, "
        + "min(o_orderdate) AS first_order FROM orders JOIN customer ON o_custkey = c_custkey "
        + "GROUP BY c_mktsegment, o_orderstatus ORDER BY c_mktsegment, o_orderstatus"),
    "q278_merge_upsert" ->
      ("WITH upserts AS ("
        + "SELECT c_custkey, c_name, c_nationkey, "
        + "CAST(CAST(c_acctbal AS DECIMAL(18,2)) + 100 AS DOUBLE) AS c_acctbal, c_mktsegment "
        + "FROM customer WHERE c_custkey % 10 = 1 "
        + "UNION ALL SELECT c_custkey + 1000000, 'new|' || c_name, c_nationkey, c_acctbal, c_mktsegment "
        + "FROM customer WHERE c_custkey % 10 = 3), "
        + "merged AS ("
        + "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer "
        + "WHERE c_custkey % 10 <> 1 AND c_custkey % 10 <> 2 "
        + "UNION ALL SELECT * FROM upserts) "
        + "SELECT c_mktsegment, count(*) AS n_cust, "
        + "round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_bal, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key, "
        + "CAST(sum(CASE WHEN c_name LIKE 'new|%' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted "
        + "FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // q286: DuckDB replays the synthetic table from range() + the
    // portable md5 chain (bit-identical to the connector's Md5Mod).
    "q286_dsv2_scan" ->
      ("WITH t AS (SELECT CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 97 AS bucket, "
        + "'t' || CAST(i % 50 AS VARCHAR) AS tok FROM (SELECT unnest(range(0, 200000)) AS i)) "
        + "SELECT bucket, CAST(count(*) AS BIGINT) AS n, CAST(count(DISTINCT tok) AS BIGINT) AS n_tok, "
        + "min(tok) AS min_tok, max(tok) AS max_tok FROM t GROUP BY 1 ORDER BY 1"),
    // q290: the pushed-down range + residual tok filter, replayed from
    // the narrowed range() directly.
    // q306: the limit-truncated range is exactly [50000, 51000).
    "q306_dsv2_limit" ->
      ("SELECT i % 10 AS m, CAST(count(*) AS BIGINT) AS n, min(i) AS min_id, max(i) AS max_id "
        + "FROM (SELECT unnest(range(50000, 51000)) AS i) GROUP BY 1 ORDER BY 1"),
    // q324: the page after skipping 20000 of the filtered range is
    // exactly [70000, 71000); the bucket column replays the portable
    // md5 chain.
    "q324_dsv2_offset" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n, min(i) AS min_id, max(i) AS max_id, "
        + "CAST(sum(CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 97) AS BIGINT) AS sum_bucket "
        + "FROM (SELECT unnest(range(70000, 71000)) AS i)"),
    // q325: the streamed union of the 4 microbatches is exactly
    // range(100000); per-bucket counts/sums replay the md5 chain.
    "q325_dsv2_stream" ->
      ("SELECT CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 97 AS bucket, "
        + "CAST(count(*) AS BIGINT) AS n, CAST(sum(i) AS BIGINT) AS sum_id, "
        + "CAST(count(DISTINCT i) AS BIGINT) AS n_distinct "
        + "FROM (SELECT unnest(range(100000)) AS i) GROUP BY 1 ORDER BY 1"),
    // q311: the top-500 under id DESC is exactly the range tail.
    "q311_dsv2_topn" ->
      ("SELECT i AS id, 't' || CAST(i % 50 AS VARCHAR) AS tok "
        + "FROM (SELECT unnest(range(199500, 200000)) AS i)"),
    // q312: replay both synthetic ranges and the stats-broadcast join —
    // values must match whichever join strategy Spark picked (the
    // strategy itself is asserted separately in DsV2Spec).
    "q312_dsv2_stats_bcast" ->
      ("WITH big AS (SELECT i AS id, 't' || CAST(i % 50 AS VARCHAR) AS tok "
        + "FROM (SELECT unnest(range(0, 1000000)) AS i)), "
        + "small AS (SELECT i AS sid FROM (SELECT unnest(range(0, 2000)) AS i)) "
        + "SELECT tok, CAST(count(*) AS BIGINT) AS n, min(sid) AS min_sid, max(sid) AS max_sid "
        + "FROM big JOIN small ON id % 2000 = sid GROUP BY 1 ORDER BY 1"),
    // q313: replay the runtime-pruned join — the envelope narrowing is
    // an optimization, so the values equal the plain join.
    "q313_dsv2_runtime_prune" ->
      ("WITH t AS (SELECT i AS id, CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 97 AS bucket "
        + "FROM (SELECT unnest(range(0, 500000)) AS i)), "
        + "d AS (SELECT c_custkey FROM customer WHERE c_custkey % 7 = 3) "
        + "SELECT bucket, CAST(count(*) AS BIGINT) AS n, min(id) AS min_id, max(id) AS max_id "
        + "FROM t JOIN d ON id = c_custkey GROUP BY 1 ORDER BY 1"),
    // q305: the pushed aggregate must equal the same aggregate over the
    // materialized range — any error in the closed forms breaks the hash.
    "q305_dsv2_agg_pushdown" ->
      ("SELECT CAST(count(*) AS BIGINT) AS n, min(i) AS min_id, max(i) AS max_id, "
        + "CAST(sum(i) AS BIGINT) AS sum_id FROM (SELECT unnest(range(50000, 150000)) AS i)"),
    "q290_dsv2_pushdown" ->
      ("WITH t AS (SELECT i AS id, CAST('0x' || substr(md5(CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % 97 AS bucket, "
        + "'t' || CAST(i % 50 AS VARCHAR) AS tok FROM (SELECT unnest(range(50000, 150000)) AS i)) "
        + "SELECT bucket, CAST(count(*) AS BIGINT) AS n, min(id) AS min_id, max(id) AS max_id, "
        + "CAST(count(DISTINCT tok) AS BIGINT) AS n_tok FROM t WHERE tok <> 't7' GROUP BY 1 ORDER BY 1"),
    // q291: the sink round-trip must equal the same aggregate straight
    // off parquet; chr(9) rebuilds the tab-embedded tagged column.
    "q291_dsv2_sink" ->
      ("WITH c AS (SELECT c_custkey, c_acctbal, nullif(c_mktsegment, 'BUILDING') AS seg, "
        + "c_name || chr(9) || c_mktsegment AS tagged FROM customer) "
        + "SELECT coalesce(seg, 'OTHER') AS segment, CAST(count(*) AS BIGINT) AS n, "
        + "round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_bal, "
        + "min(c_custkey) AS min_key, max(c_custkey) AS max_key, "
        + "CAST(sum(length(tagged)) AS BIGINT) AS sum_tag_len "
        + "FROM c GROUP BY 1 ORDER BY 1"),
  )
}
