package graft

import graft.sources.{GraftSeqPartition, GraftSeqScan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Structural contract of the custom DataSource V2 connector
  * (sources/GraftSeqSource.scala) — q286's oracle certifies the VALUES;
  * this spec pins the connector machinery itself: partition-boundary
  * integrity under awkward slicings, column pruning actually reaching
  * the scan, and the degenerate shapes (empty table, more slices than
  * rows) that boundary arithmetic gets wrong first.
  */
class DsV2Spec extends AnyFunSuite with Matchers with SharedSpark {

  private def rd(rows: Long, slices: Int) =
    spark.read.format("graftseq")
      .option("rows", rows.toString).option("slices", slices.toString).load()

  test("no row is lost or duplicated across slice boundaries, for awkward slicings") {
    for ((rows, slices) <- Seq((1000L, 7), (1000L, 1), (3L, 8), (16L, 16), (1L, 4))) {
      withClue(s"rows=$rows slices=$slices: ") {
        val ids = rd(rows, slices).select(col("id")).collect().map(_.getLong(0)).sorted
        ids shouldBe (0L until rows).toArray
      }
    }
  }

  test("empty table plans cleanly and returns zero rows") {
    rd(0L, 4).count() shouldBe 0L
  }

  test("column pruning reaches the scan: untouched columns drop out of readSchema") {
    def scanCols(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
      scans should have size 1
      scans.head.scan.asInstanceOf[GraftSeqScan].readSchema().fieldNames.toSeq
    }
    // counting by bucket needs ONLY bucket — even the selected-but-unused
    // tok column must be pruned away
    val counts = rd(1000L, 4).select(col("bucket"), col("tok"))
      .groupBy(col("bucket")).count()
    scanCols(counts) shouldBe Seq("bucket")
    counts.agg(sum(col("count"))).head().getLong(0) shouldBe 1000L
    // q286's shape keeps exactly (bucket, tok), never id
    scanCols(rd(1000L, 4).groupBy(col("bucket"))
      .agg(countDistinct(col("tok")))) shouldBe Seq("bucket", "tok")
  }

  test("partition planning covers [0, rows) exactly with no overlaps") {
    val scan = new GraftSeqScan(1000L, 7, graft.sources.GraftSeqTable.fullSchema)
    val parts = scan.planInputPartitions().map(_.asInstanceOf[GraftSeqPartition])
    parts.map(p => p.end - p.start).sum shouldBe 1000L
    parts.sortBy(_.start).sliding(2).foreach {
      case Array(a, b) => a.end shouldBe b.start
      case _ =>
    }
  }

  test("filter pushdown narrows partition planning to the predicate range") {
    val df = rd(200000L, 8).filter(col("id") >= 50000L && col("id") < 150000L)
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    scans should have size 1
    val scan = scans.head.scan.asInstanceOf[GraftSeqScan]
    // both range predicates were ACCEPTED by the source...
    scan.pushed.length should be >= 2
    // ...and partition planning covers ONLY [50000, 150000): the pruned
    // half of the table is never planned, let alone read
    val parts = scan.planInputPartitions().map(_.asInstanceOf[GraftSeqPartition])
    parts.map(_.start).min shouldBe 50000L
    parts.map(_.end).max shouldBe 150000L
    parts.map(p => p.end - p.start).sum shouldBe 100000L
    // values stay exact: the range is enforced by planning, not re-filtered
    df.count() shouldBe 100000L
    df.agg(min(col("id")), max(col("id"))).head() match {
      case r => r.getLong(0) shouldBe 50000L; r.getLong(1) shouldBe 149999L
    }
  }

  test("unpushable predicates come back as residuals, pushable ones do not double-apply") {
    val df = rd(1000L, 4).filter(col("id") >= 100L && col("tok") === "t7")
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    val scan = scans.head.scan.asInstanceOf[GraftSeqScan]
    scan.pushed.map(_.toString).exists(_.contains("id")) shouldBe true
    // the tok predicate must NOT be claimed by the source
    scan.pushed.map(_.toString).exists(_.contains("tok")) shouldBe false
    // ids >= 100 with id % 50 == 7 → 107, 157, ..., 957
    df.select(col("id")).collect().map(_.getLong(0)).sorted shouldBe
      (100L until 1000L).filter(_ % 50 == 7).toArray
  }

  test("equality pushdown plans a single-row range") {
    val df = rd(100000L, 8).filter(col("id") === 42L)
    val scan = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan.asInstanceOf[GraftSeqScan]
    val parts = scan.planInputPartitions().map(_.asInstanceOf[GraftSeqPartition])
    parts.map(p => p.end - p.start).sum shouldBe 1L
    df.select(col("bucket")).head().getLong(0) shouldBe
      graft.functions.Md5Mod.hash("42".getBytes("UTF-8"), 97L)
  }

  test("contradictory pushed range plans an empty scan, not a crash") {
    rd(1000L, 4).filter(col("id") >= 900L && col("id") < 100L).count() shouldBe 0L
  }

  test("sink: overwrite + append round-trip preserves rows, nulls, and escapes") {
    import spark.implicits._
    val dir = graft.ops.Stage.fresh("dsv2sink").toString
    val df = Seq(
      (1L, 10, 1.5, "plain"),
      (2L, 20, -0.25, "tab\there"),
      (3L, 30, 3.0, "nl\nline"),
      (4L, 40, 1e-17, "back\\slash"),
      (5L, 50, 2.0, null.asInstanceOf[String])
    ).toDF("k", "v", "x", "s")
    df.filter($"k" <= 3).write.format("graftsink").mode("overwrite").option("path", dir).save()
    df.filter($"k" > 3).write.format("graftsink").mode("append").option("path", dir).save()
    val back = spark.read.format("graftsink").option("path", dir).load()
    back.schema.fieldNames.toSeq shouldBe Seq("k", "v", "x", "s")
    val rows = back.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getDouble(2), if (r.isNullAt(3)) null else r.getString(3)))
      .sortBy(_._1)
    rows shouldBe Array(
      (1L, 10, 1.5, "plain"), (2L, 20, -0.25, "tab\there"), (3L, 30, 3.0, "nl\nline"),
      (4L, 40, 1e-17, "back\\slash"), (5L, 50, 2.0, null))
    // overwrite replaces: a second truncate write drops the old 5 rows
    df.filter($"k" === 1L).write.format("graftsink").mode("overwrite").option("path", dir).save()
    spark.read.format("graftsink").option("path", dir).load().count() shouldBe 1L
    graft.ops.Stage.release(java.nio.file.Paths.get(dir))
  }

  test("sink: manifest-last publish — staged-but-uncommitted files are invisible to readers") {
    import spark.implicits._
    val dir = graft.ops.Stage.fresh("dsv2stage").toString
    Seq((1L, 1, 1.0, "a")).toDF("k", "v", "x", "s")
      .write.format("graftsink").mode("overwrite").option("path", dir).save()
    // hand-plant staging garbage (a crashed writer's leftovers) plus a
    // stray data file NOT in the manifest
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p.resolve("_staging/deadquery"))
    java.nio.file.Files.write(p.resolve("_staging/deadquery/part-0-99.tsv"),
      "9\t9\t9.0\tghost\n".getBytes)
    java.nio.file.Files.write(p.resolve("orphan-part-7.tsv"), "8\t8\t8.0\tstray\n".getBytes)
    // readers resolve files ONLY through the manifest → still 1 row
    spark.read.format("graftsink").option("path", dir).load().count() shouldBe 1L
    graft.ops.Stage.release(p)
  }

  test("sink: append with a mismatched schema fails loudly") {
    import spark.implicits._
    val dir = graft.ops.Stage.fresh("dsv2mismatch").toString
    Seq((1L, "a")).toDF("k", "s")
      .write.format("graftsink").mode("overwrite").option("path", dir).save()
    val ex = intercept[Exception] {
      Seq((1L, 2.0)).toDF("k", "x")
        .write.format("graftsink").mode("append").option("path", dir).save()
    }
    // Spark's analyzer rejects it against the manifest-published schema
    // (table.schema() resolves through the manifest) before the sink's
    // own commit-time DDL check even runs — either layer failing loudly
    // is the contract
    (ex.getMessage.contains("schema mismatch") ||
      ex.getMessage.contains("INCOMPATIBLE_DATA_FOR_TABLE")) shouldBe true
    graft.ops.Stage.release(java.nio.file.Paths.get(dir))
  }

  test("sink: unsupported column type is rejected before any write happens") {
    import spark.implicits._
    val dir = graft.ops.Stage.fresh("dsv2badtype").toString
    val ex = intercept[Exception] {
      Seq((1L, Array(1.0))).toDF("k", "arr")
        .write.format("graftsink").mode("overwrite").option("path", dir).save()
    }
    ex.getMessage should include("unsupported column type")
    graft.ops.Stage.release(java.nio.file.Paths.get(dir))
  }

  test("sink read prunes columns: only required fields are parsed") {
    import spark.implicits._
    val dir = graft.ops.Stage.fresh("dsv2prune").toString
    Seq((1L, 10, 1.0, "a"), (2L, 20, 2.0, "b")).toDF("k", "v", "x", "s")
      .write.format("graftsink").mode("overwrite").option("path", dir).save()
    val df = spark.read.format("graftsink").option("path", dir).load()
      .select(col("s"), col("k")).groupBy(col("s")).count()
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    scans should have size 1
    scans.head.scan.asInstanceOf[graft.sources.GraftSinkScan]
      .readSchema().fieldNames.toSeq shouldBe Seq("s")
    df.count() shouldBe 2L
    graft.ops.Stage.release(java.nio.file.Paths.get(dir))
  }

  test("bucket column is bit-identical to the portable md5 SQL chain") {
    org.apache.spark.sql.GraftFunctions.register(spark)
    val bad = rd(500L, 3)
      .withColumn("chain", expr(
        "cast(conv(substr(md5(cast(cast(id as string) as binary)), 1, 15), 16, 10) as bigint) % 97"))
      .filter(col("bucket") =!= col("chain")).count()
    bad shouldBe 0L
  }

  test("aggregate pushdown: global count/min/max/sum collapse to one metadata row, no aggregate exec") {
    val df = rd(200000L, 8)
      .filter(col("id") >= 50000L && col("id") < 150000L)
      .agg(expr("count(*)").as("n"), min(col("id")).as("min_id"),
        max(col("id")).as("max_id"), sum(col("id")).as("sum_id"))
    // the plan must contain NO aggregate operator — the source answered
    // (sparkPlan, not executedPlan: AQE wraps the latter opaquely)
    val aggs = df.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    aggs shouldBe empty
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    scans should have size 1
    val scan = scans.head.scan.asInstanceOf[graft.sources.GraftSeqAggScan]
    scan.description() should include("aggPushed=[count,min,max,sum]")
    scan.planInputPartitions() should have length 1
    // values = closed forms over the filter-narrowed range [50000,150000)
    val r = df.head()
    r.getLong(0) shouldBe 100000L
    r.getLong(1) shouldBe 50000L
    r.getLong(2) shouldBe 149999L
    r.getLong(3) shouldBe (50000L + 149999L) * 100000L / 2
  }

  test("aggregate pushdown refuses grouped aggregations: the grouped path still answers correctly") {
    val grouped = rd(1000L, 4).groupBy(col("bucket")).count()
    // grouping is NOT pushable — Spark must still plan its own aggregate
    val aggs = grouped.queryExecution.sparkPlan.collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    }
    aggs should not be empty
    grouped.agg(sum(col("count"))).head().getLong(0) shouldBe 1000L
  }

  test("limit pushdown truncates the planned range after filter narrowing") {
    val df = rd(200000L, 8).filter(col("id") >= 50000L).limit(1000)
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    scans should have size 1
    val scan = scans.head.scan.asInstanceOf[GraftSeqScan]
    val parts = scan.planInputPartitions().map(_.asInstanceOf[GraftSeqPartition])
    // exactly the limit's row count is planned — not the 150k-row tail
    parts.map(p => p.end - p.start).sum shouldBe 1000L
    parts.map(_.start).min shouldBe 50000L
    parts.map(_.end).max shouldBe 51000L
    df.collect().map(_.getLong(0)).sorted shouldBe (50000L until 51000L).toArray
  }

  test("streaming read drains the range in rowsPerBatch-sized admission-controlled microbatches") {
    import org.apache.spark.sql.streaming.Trigger
    val out = graft.ops.Stage.fresh("dsv2s_out").toString
    val ck = graft.ops.Stage.fresh("dsv2s_ck").toString
    val q = spark.readStream.format("graftseq")
      .option("rows", "100000").option("slices", "4")
      .option("rowsPerBatch", "25000").load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // exactly ceil(100000/25000) = 4 data batches, each admission-capped
    val prog = q.recentProgress.filter(_.numInputRows > 0)
    prog.length shouldBe 4
    prog.map(_.numInputRows).distinct.toSeq shouldBe Seq(25000L)
    val g = spark.read.parquet(out)
      .agg(count(lit(1)), countDistinct(col("id")), min(col("id")), max(col("id"))).head()
    (g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3)) shouldBe
      ((100000L, 100000L, 0L, 99999L))
  }

  test("streaming read kill-and-resume replans from the checkpointed offset, exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val out = graft.ops.Stage.fresh("dsv2r_out").toString
    val ck = graft.ops.Stage.fresh("dsv2r_ck").toString
    def run(rows: Long): Unit =
      spark.readStream.format("graftseq")
        .option("rows", rows.toString).option("slices", "4")
        .option("rowsPerBatch", "20000").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    run(40000L) // session 1: drains [0, 40000) then terminates (the "kill")
    val mid = spark.read.parquet(out).agg(count(lit(1)), max(col("id"))).head()
    (mid.getLong(0), mid.getLong(1)) shouldBe ((40000L, 39999L))
    run(100000L) // resume from the SAME checkpoint: only [40000, 100000) is new
    val fin = spark.read.parquet(out)
      .agg(count(lit(1)), countDistinct(col("id")), max(col("id"))).head()
    // count == distinct == 100000: nothing replayed, nothing lost
    (fin.getLong(0), fin.getLong(1), fin.getLong(2)) shouldBe
      ((100000L, 100000L, 99999L))
  }

  test("offset pushdown plans only the page window, composing with pushed filter and limit") {
    val page = rd(200000L, 8).filter(col("id") >= 50000L).offset(20000).limit(1000)
    plannedSpan(page) shouldBe ((1000L, 70000L, 71000L))
    page.collect().map(_.getLong(0)).sorted shouldBe (70000L until 71000L).toArray
    // pure offset with no limit: the scan itself drops the prefix
    val off = rd(2000L, 4).offset(1500)
    plannedSpan(off) shouldBe ((500L, 1500L, 2000L))
    off.collect().map(_.getLong(0)).sorted shouldBe (1500L until 2000L).toArray
    // offset past the end of the range: empty result, no crash
    rd(100L, 4).offset(200).collect() shouldBe empty
  }

  test("aggregate pushdown on an empty range: count 0, NULL min/max/sum") {
    val r = rd(1000L, 4).filter(col("id") >= 500L && col("id") < 500L)
      .agg(expr("count(*)"), min(col("id")), max(col("id")), sum(col("id"))).head()
    r.getLong(0) shouldBe 0L
    r.isNullAt(1) shouldBe true
    r.isNullAt(2) shouldBe true
    r.isNullAt(3) shouldBe true
  }

  private def plannedSpan(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    scans should have size 1
    val parts = scans.head.scan.asInstanceOf[GraftSeqScan]
      .planInputPartitions().map(_.asInstanceOf[GraftSeqPartition])
    (parts.map(p => p.end - p.start).sum, parts.map(_.start).min, parts.map(_.end).max)
  }

  test("top-N pushdown plans the range tail under id DESC and the head under id ASC") {
    val desc = rd(200000L, 8).orderBy(col("id").desc).limit(500)
    plannedSpan(desc) shouldBe ((500L, 199500L, 200000L))
    desc.collect().map(_.getLong(0)) shouldBe (199999L to 199500L by -1L).toArray
    val asc = rd(200000L, 8).orderBy(col("id")).limit(500)
    plannedSpan(asc) shouldBe ((500L, 0L, 500L))
    asc.collect().map(_.getLong(0)) shouldBe (0L until 500L).toArray
    // composes with filter pushdown: the tail of the NARROWED range
    val both = rd(200000L, 8).filter(col("id") < 100000L)
      .orderBy(col("id").desc).limit(100)
    plannedSpan(both) shouldBe ((100L, 99900L, 100000L))
    both.head().getLong(0) shouldBe 99999L
  }

  test("top-N pushdown refuses non-id sorts: the full range is planned and Spark sorts") {
    val df = rd(2000L, 4).orderBy(col("tok"), col("id")).limit(5)
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    scans should have size 1
    val parts = scans.head.scan.asInstanceOf[GraftSeqScan]
      .planInputPartitions().map(_.asInstanceOf[GraftSeqPartition])
    parts.map(p => p.end - p.start).sum shouldBe 2000L
    // t0 < t1 < t10 < t11 ... lexicographic; ids 0 and 50 share t0
    df.collect().map(_.getLong(0)).take(4) shouldBe Array(0L, 50L, 100L, 150L)
  }

  test("reported statistics: numRows/sizeInBytes reflect the post-pushdown range and pruned width") {
    val df = rd(200000L, 8).filter(col("id") >= 150000L).select(col("id"))
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    val st = scans.head.scan.asInstanceOf[GraftSeqScan].estimateStatistics()
    st.numRows().getAsLong shouldBe 50000L
    st.sizeInBytes().getAsLong shouldBe 50000L * 8L // id only: 8 B/row
  }

  test("reported statistics drive a hint-free broadcast of the small graftseq side") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // 1M-row side reports ~32 MB (> autoBroadcastJoinThreshold), the
    // 2000-row side ~16 KB — stats-based selection must broadcast the
    // SMALL scan; without reported stats a V2 scan defaults to "huge"
    // and could never be auto-broadcast
    val big = rd(1000000L, 8).select(col("id"), col("tok"))
    val small = rd(2000L, 4).select(col("id").as("sid"))
    val joined = big.join(small, col("id") % 2000 === col("sid"))
    val bhj = joined.queryExecution.sparkPlan.collect { case j: BroadcastHashJoinExec => j }
    bhj should have size 1
    val buildPlan = if (bhj.head.buildSide.toString.contains("Right")) bhj.head.right
      else bhj.head.left
    val buildScans = buildPlan.collectWithSubqueries { case b: BatchScanExec => b }
    buildScans should have size 1
    buildScans.head.scan.description() should include("rows=2000")
  }

  test("runtime filtering narrows the executed scan's range to the dim envelope") {
    val fact = rd(500000L, 16)
    val dim = Tables.customer(spark, sf)
      .filter(col("c_custkey") % 7 === lit(3)).select(col("c_custkey"))
    val joined = fact.join(dim, col("id") === col("c_custkey"))
      .agg(count(lit(1)).as("n"), max(col("id")).as("max_id"))
    // collect(), not head(): head() re-plans through a fresh Limit
    // QueryExecution whose scan is a DIFFERENT instance
    val r = joined.collect().head
    // the scan object is shared between the logical relation and the
    // executed BatchScanExec, so its post-execution runtime range is
    // visible here; DPP must have collapsed it from [0, 500000) to the
    // dim ids' envelope (sf0.001 customer: c_custkey <= 149)
    val scan = joined.queryExecution.optimizedPlan.collect {
      case rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if rel.scan.isInstanceOf[GraftSeqScan] => rel.scan.asInstanceOf[GraftSeqScan]
    }.head
    val (rlo, rhi) = scan.runtimeRange
    rlo shouldBe 3L              // min c_custkey with key % 7 == 3
    rhi should be < 1000L        // envelope of a <=149-key dim, not 500000
    r.getLong(1) shouldBe rhi - 1 // max joined id == envelope top
    r.getLong(0) should be > 0L
  }

  test("storage-partitioned join: co-keyed scans join with ZERO exchange in the join subtree") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    // partition keys [grp] are a SUBSET of the join keys (grp, id);
    // subset-key co-partitioning is exactly what this conf gates
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // and partition-value alignment between the two sides rides the
    // push-part-values path (without it EnsureRequirements refuses SPJ)
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    def rdk = spark.read.format("graftseq")
      .option("rows", "8000").option("slices", "4").option("keyed", "true").load()
    val a = rdk.select(col("grp"), col("id"))
    val b = rdk.select(col("grp"), col("id"), (col("id") % 7).as("m"))
    // hint forces a sort-merge join (stats would broadcast this small
    // fixture); SPJ must then eliminate both shuffles under it
    val j = a.join(b.hint("merge"), Seq("grp", "id"))
    j.collect().length shouldBe 8000 // SPJ must not lose or duplicate rows
    // the FINALIZED adaptive plan: a sort-merge join with ZERO shuffles
    val planStr = j.queryExecution.executedPlan.toString
    planStr should include("SortMergeJoin")
    withClue(s"SPJ should make the join exchange-free:\n$planStr\n") {
      planStr should not include "Exchange hashpartitioning"
    }
    // the scan really reports KeyGroupedPartitioning with per-key partitions
    val scans = a.queryExecution.executedPlan.collect { case s: BatchScanExec => s }
    scans should not be empty
    scans.head.outputPartitioning.toString should include("keygroupedpartitioning")
    scans.head.inputPartitions should have size 4
    scans.head.inputPartitions.foreach(p =>
      p.isInstanceOf[org.apache.spark.sql.connector.read.HasPartitionKey] shouldBe true)
  }

  test("keyed scan: grp column equals the partition key stripe; pushed filters keep keys consistent") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = spark.read.format("graftseq")
      .option("rows", "100").option("slices", "4").option("keyed", "true").load()
    // sliceSize = 25: grp = id div 25
    df.select(col("id"), col("grp")).collect().foreach { r =>
      r.getLong(1) shouldBe r.getLong(0) / 25
    }
    // a pushed range keeps each surviving partition's key == its rows' grp
    val narrowed = df.filter(col("id") >= 30L && col("id") < 80L)
    narrowed.select(col("grp")).distinct().collect()
      .map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 3L)
    narrowed.count() shouldBe 50L
  }

  test("sink time travel: pinned snapshots survive overwrite; bad pins fail loudly") {
    import spark.implicits._
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val dir = graft.ops.Stage.fresh("dsv2tt").toString
    Seq((1L, "a"), (2L, "b")).toDF("k", "s")
      .write.format("graftsink").mode("overwrite").option("path", dir).save()
    Seq((3L, "c")).toDF("k", "s")
      .write.format("graftsink").mode("overwrite").option("path", dir).save()
    Seq((4L, "d")).toDF("k", "s")
      .write.format("graftsink").mode("append").option("path", dir).save()
    graft.sources.GraftSink.listVersions(dir) shouldBe Seq(1, 2, 3)
    // latest pointer = v3 (overwrite replaced v1, append extended v2)
    spark.read.format("graftsink").option("path", dir).load()
      .collect().map(_.getLong(0)).sorted shouldBe Array(3L, 4L)
    def at(v: Int) = spark.read.format("graftsink")
      .option("path", dir).option("version", v.toString).load()
    // v1's data files were REPLACED in the live table but its snapshot
    // still reads exactly as committed
    at(1).collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
    at(2).collect().map(_.getLong(0)).sorted shouldBe Array(3L)
    at(3).collect().map(_.getLong(0)).sorted shouldBe Array(3L, 4L)
    // a missing snapshot names itself and the available versions
    messages(intercept[Throwable] { at(9).collect() }) should include("no snapshot v9")
    // writing through a pinned version is refused (no ambiguous branch)
    val e2 = intercept[Throwable] {
      Seq((9L, "z")).toDF("k", "s").write.format("graftsink")
        .mode("append").option("path", dir).option("version", "1").save()
    }
    messages(e2) should include("cannot write through a time-travel read")
    graft.ops.Stage.release(java.nio.file.Paths.get(dir))
  }

  test("sink: clusterBy+shards — connector-requested distribution yields key-disjoint sorted files") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = graft.ops.Stage.fresh("dsv2clust").toString
    (0L until 400L).map(i => (i % 97, i)).toDF("k", "v")
      .repartition(13) // deliberately awkward input layout: the SINK must fix it
      .write.format("graftsink").mode("overwrite")
      .option("path", dir).option("clusterBy", "k").option("shards", "4").save()
    // requiredNumPartitions honored: exactly 4 published files
    val manifest = graft.sources.GraftSink.readManifest(dir).get
    manifest.files.length shouldBe 4
    val perFile = manifest.files.map { line =>
      val f = graft.sources.GraftSink.Entry.parse(line).name // lines carry stats segments
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(dir, f)).asScala
        .map(_.split("\t")(0).toLong).toVector
    }
    // requiredOrdering honored: each file internally sorted by k
    perFile.foreach(ks => ks shouldBe ks.sorted)
    // clustered distribution honored: no key appears in two files
    val sets = perFile.map(_.toSet)
    for (i <- sets.indices; j <- sets.indices if i < j)
      withClue(s"files $i/$j share keys: ") { sets(i) intersect sets(j) shouldBe empty }
    sets.map(_.size).sum shouldBe 97 // all keys present exactly once
    spark.read.format("graftsink").option("path", dir).load().count() shouldBe 400L
    graft.ops.Stage.release(java.nio.file.Paths.get(dir))
  }

  test("sink: clusterBy validation — unknown column and shards-without-clusterBy fail loudly") {
    import spark.implicits._
    def messages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val dir = graft.ops.Stage.fresh("dsv2clustbad").toString
    val df = Seq((1L, 2L)).toDF("k", "v")
    val e1 = intercept[Throwable] {
      df.write.format("graftsink").mode("overwrite").option("path", dir)
        .option("clusterBy", "nope").save()
    }
    messages(e1) should include("clusterBy column 'nope'")
    val e2 = intercept[Throwable] {
      df.write.format("graftsink").mode("overwrite").option("path", dir)
        .option("shards", "4").save()
    }
    messages(e2) should include("requires 'clusterBy'")
    graft.ops.Stage.release(java.nio.file.Paths.get(dir))
  }
}
