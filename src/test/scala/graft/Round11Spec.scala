package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-11 surfaces: the native Bloom pair behind q103 (no closure udf
  * in the fact-pruning path), plus the connector's changelog /
  * evolution / partition additions (tests added alongside each).
  */
class Round11Spec extends AnyFunSuite with Matchers with SharedSpark {

  /** Every physical node including subquery plans (PlanGuardSpec's
    * tolerant walk). */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p.collect { case n => n }
    val subs = here
      .flatMap(_.expressions)
      .flatMap(_.collect {
        case pe: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] => pe.plan
      })
      .collect { case sp: SparkPlan => allNodes(sp) }
      .flatten
    here ++ subs
  }

  test("q103: fact pruning probes the native Bloom pair — no ScalaUDF anywhere in the plan") {
    val plan = SparkEntry.queries("q103_bloom_join")(spark, sf)
      .queryExecution.sparkPlan
    val exprs = allNodes(plan).flatMap(_.expressions)
      .flatMap(_.collect { case e => e })
    withClue("serialized-closure udf found in the q103 plan: ") {
      exprs.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      } shouldBe empty
    }
    withClue("native might_contain probe missing from the q103 plan: ") {
      exprs.collect {
        case m: org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain => m
      } should not be empty
    }
  }

  test("bloom_filter_agg + might_contain registry round-trip agrees with exact membership") {
    org.apache.spark.sql.GraftFunctions.register(spark)
    spark.range(0, 1000).createOrReplaceTempView("bfkeys11")
    // every inserted key must probe TRUE (Bloom filters have no false negatives)
    val misses = spark.sql(
      """SELECT count(*) AS n FROM bfkeys11 WHERE NOT might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(id), 1000L, 10000L) FROM bfkeys11),
        |  xxhash64(id))""".stripMargin).collect().head.getLong(0)
    misses shouldBe 0L
  }

  // ------------------------------------------------------------------
  // Changelog (version-range) read on graftsink
  // ------------------------------------------------------------------

  import graft.sources.GraftSink
  import org.apache.spark.sql.functions._

  private def freshSink(prefix: String): String =
    graft.ops.Stage.fresh(prefix).toString + "/t"

  test("changelog scan plans ONLY the delta files of the requested range") {
    val p = freshSink("chg11a")
    spark.range(0, 100).selectExpr("id AS k", "cast(id % 7 as double) AS v")
      .write.format("graftsink").option("path", p).mode("overwrite").save()                 // v1
    spark.range(100, 130).selectExpr("id AS k", "cast(id % 7 as double) AS v")
      .write.format("graftsink").option("path", p).mode("append").save()  // v2
    val v1Names = GraftSink.readManifest(p, Some(1)).get.entries.map(_.name).toSet
    val df = spark.read.format("graftsink").option("path", p)
      .option("changesFrom", "1").load()
    // physical partitions must cover ONLY v2's new files
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val names = scan.inputPartitions.map {
      case c: graft.sources.GraftSinkChangePartition => c.name
    }
    names should not be empty
    names.foreach(n => v1Names should not contain n)
    // and the served rows are exactly the appended range, all inserts
    df.agg(count(lit(1)), min(col("k")), max(col("k")),
        countDistinct(col("_change")), min(col("_commit_version")))
      .collect().head.toSeq shouldBe Seq(30L, 100L, 129L, 1L, 2L)
  }

  test("changelog serves delete-vector diffs as delete rows with original content") {
    val p = freshSink("chg11b")
    spark.range(0, 50).selectExpr("id AS k", "cast(id as double) AS v")
      .coalesce(1).write.format("graftsink").option("path", p).mode("overwrite").save()     // v1
    // fold a DV into v1's file via the manifest (the delta write's shape)
    val m = GraftSink.readManifest(p).get
    val withDv = m.entries.head.copy(deletes = Seq(3L, 7L, 11L)).line
    GraftSink.writeManifest(p, GraftSink.Manifest(m.ddl, Seq(withDv)))    // v2
    val chg = spark.read.format("graftsink").option("path", p)
      .option("changesFrom", "1").load()
    chg.select(col("k"), col("_change"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1) shouldBe Array((3L, "delete", 2L), (7L, "delete", 2L), (11L, "delete", 2L))
    // overwrite drops the file: its SURVIVORS (not the DV'd rows) delete at v3
    spark.range(1000, 1001).selectExpr("id AS k", "cast(id as double) AS v")
      .write.format("graftsink").option("path", p).mode("overwrite").save() // v3
    val v3 = spark.read.format("graftsink").option("path", p)
      .option("changesFrom", "2").option("changesTo", "3").load()
    val dels = v3.filter(col("_change") === "delete").select(col("k"))
      .collect().map(_.getLong(0)).sorted
    dels.length shouldBe 47 // 50 - the 3 DV'd positions
    dels should not contain 3L
    val ins = v3.filter(col("_change") === "insert").select(col("k"))
      .collect().map(_.getLong(0))
    ins shouldBe Array(1000L)
  }

  test("changelog refusal matrix: bad ranges, version conflict, writes, plain readStream") {
    val p = freshSink("chg11c")
    spark.range(0, 5).selectExpr("id AS k").write.format("graftsink")
      .option("path", p).mode("overwrite").save()
    def reading(opts: (String, String)*): Unit = {
      val r = spark.read.format("graftsink").option("path", p)
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load().collect()
      ()
    }
    intercept[IllegalArgumentException] { reading("changesFrom" -> "-1") }
    intercept[IllegalArgumentException] {
      reading("changesFrom" -> "2", "changesTo" -> "2") }
    intercept[IllegalArgumentException] {
      reading("changesFrom" -> "0", "version" -> "1") }
    // expired/missing snapshot in range fails loudly
    intercept[Exception] { reading("changesFrom" -> "0", "changesTo" -> "9") }
    // a changelog read is not a write target
    intercept[Exception] {
      spark.range(0, 3).selectExpr("id AS k", "'insert' AS _change")
        .write.format("graftsink").option("path", p)
        .option("changesFrom", "0").mode("append").save()
    }
    // plain readStream (no changesFrom) points at the change feed loudly
    val err = intercept[Exception] {
      spark.readStream.format("graftsink").option("path", p).load()
        .writeStream.format("memory").queryName("chg11c_mem")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    err.toString + Option(err.getCause).fold("")(_.toString) should include("changesFrom")
  }

  test("reserved column names are rejected at write; legacy reads prefer data columns") {
    val p = freshSink("chg11d")
    val e = intercept[Exception] {
      spark.range(0, 3).selectExpr("id AS k", "'x' AS _file")
        .write.format("graftsink").option("path", p).mode("overwrite").save()
    }
    e.toString should include("reserved")
  }

  test("append of a nullable column into a NOT NULL table widens the published DDL") {
    GraftSink.widenedDdl("k BIGINT NOT NULL,s STRING",
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT,s STRING")) shouldBe
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT,s STRING").toDDL
    // NOT NULL write into a nullable table keeps the table's (wider) DDL
    GraftSink.widenedDdl("k BIGINT,s STRING",
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT NOT NULL,s STRING")) shouldBe
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT,s STRING").toDDL
  }

  test("changelog stream: offsets are snapshot numbers; restart resumes at the commit boundary") {
    val p = freshSink("chg11e")
    spark.range(0, 20).selectExpr("id AS k").coalesce(1)
      .write.format("graftsink").option("path", p).mode("overwrite").save()                 // v1
    spark.range(20, 25).selectExpr("id AS k").coalesce(1)
      .write.format("graftsink").option("path", p).mode("append").save()  // v2
    val stage = graft.ops.Stage.fresh("chg11e_ck").toString
    def drain(): Unit = {
      // a file sink (unlike memory) RECOVERS from its checkpoint — the
      // restart-resumption half of the offset contract
      spark.readStream.format("graftsink").option("path", p)
        .option("changesFrom", "0").load()
        .writeStream.format("parquet")
        .option("path", s"$stage/out")
        .option("checkpointLocation", s"$stage/ck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    drain()
    spark.read.parquet(s"$stage/out").count() shouldBe 25
    // append v3, resume from the SAME checkpoint: only v3's rows arrive
    spark.range(25, 28).selectExpr("id AS k").coalesce(1)
      .write.format("graftsink").option("path", p).mode("append").save()  // v3
    drain()
    val all = spark.read.parquet(s"$stage/out")
      .select(col("k"), col("_commit_version")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    all.length shouldBe 28 // 25 + ONLY v3's 3 (not re-served from v1/v2)
    val v3rows = all.filter(_._2 == 3L).map(_._1).sorted
    v3rows shouldBe Array(25L, 26L, 27L)
    all.count(_._2 == 2L) shouldBe 5
    all.count(_._2 == 1L) shouldBe 20
  }

  // ------------------------------------------------------------------
  // RENAME/DROP COLUMN via field ids + TIMESTAMP AS OF
  // ------------------------------------------------------------------

  private val cat = "g11"
  private def ensureCatalog(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      graft.ops.Stage.dir("g11_warehouse"))
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
  }
  private def tablePath(name: String): String =
    s"${graft.ops.Stage.dir("g11_warehouse")}/ns/$name"

  test("RENAME COLUMN is metadata-only: zero rewrites, old files serve the new name by id") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.ren1")
    Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "v", "s")
      .writeTo(s"$cat.ns.ren1").create() // v1+v2
    val pre = GraftSink.readManifest(tablePath("ren1")).get
    pre.ids shouldBe None // add-only history: positional ids
    spark.sql(s"ALTER TABLE $cat.ns.ren1 RENAME COLUMN v TO val") // v3: migration
    val m = GraftSink.readManifest(tablePath("ren1")).get
    m.ids shouldBe Some(Seq(1, 2, 3))
    m.entries.map(_.name) shouldBe pre.entries.map(_.name) // no rewrite
    m.entries.foreach(_.cols shouldBe Some(Seq(1, 2, 3)))
    spark.table(s"$cat.ns.ren1").orderBy("k")
      .select(col("k"), col("val"), col("s")).as[(Long, Double, String)]
      .collect() shouldBe Array((1L, 10.0, "a"), (2L, 20.0, "b"))
    // the pre-rename pin still serves the OLD name
    spark.sql(s"SELECT * FROM $cat.ns.ren1 VERSION AS OF 2")
      .schema.fieldNames.toSeq shouldBe Seq("k", "v", "s")
  }

  test("DROP of a middle column shifts schema position but never file ordinals; dropped ids never resurface") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.drp1")
    Seq((1L, 7L, 10.0), (2L, 8L, 20.0)).toDF("k", "dead", "v")
      .writeTo(s"$cat.ns.drp1").create()                       // v1+v2
    spark.sql(s"ALTER TABLE $cat.ns.drp1 DROP COLUMN dead")    // v3: ids (1,3)
    GraftSink.readManifest(tablePath("drp1")).get.ids shouldBe Some(Seq(1, 3))
    // v (id 3) still reads from old-file ordinal 2
    spark.table(s"$cat.ns.drp1").orderBy("k").as[(Long, Double)]
      .collect() shouldBe Array((1L, 10.0), (2L, 20.0))
    // a later ADD allocates id 4 — NOT the dropped 2 — so old 'dead'
    // values can never leak into the new column
    spark.sql(s"ALTER TABLE $cat.ns.drp1 ADD COLUMNS (fresh BIGINT)") // v4
    GraftSink.readManifest(tablePath("drp1")).get.ids shouldBe Some(Seq(1, 3, 4))
    spark.table(s"$cat.ns.drp1").orderBy("k")
      .select(col("k"), col("v"), col("fresh")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.isNullAt(2))) shouldBe
      Array((1L, 10.0, true), (2L, 20.0, true))
    // appends at the evolved width stamp their cols: layout
    spark.sql(s"INSERT INTO $cat.ns.drp1 VALUES (3, 30.0, 99)")  // v5
    val m = GraftSink.readManifest(tablePath("drp1")).get
    m.entries.flatMap(_.cols) should contain(Seq(1, 3, 4))
    spark.table(s"$cat.ns.drp1").filter(col("k") === 3)
      .select(col("fresh")).collect().head.getLong(0) shouldBe 99L
  }

  test("evolution refusal matrix: duplicate/missing/last-column/reserved targets") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.ref1")
    Seq((1L, 1.0)).toDF("k", "v").writeTo(s"$cat.ns.ref1").create()
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ns.ref1 RENAME COLUMN v TO k") }
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ns.ref1 RENAME COLUMN gone TO x") }
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ns.ref1 RENAME COLUMN v TO _file") }
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ns.ref1 DROP COLUMN gone") }
    spark.sql(s"ALTER TABLE $cat.ns.ref1 DROP COLUMN v")
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ns.ref1 DROP COLUMN k") } // last column
  }

  test("TIMESTAMP AS OF: monotone stamps, exact pins, before-first-commit refusal") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.ts1")
    Seq((1L, "a")).toDF("k", "s").writeTo(s"$cat.ns.ts1").create()   // v1+v2
    spark.sql(s"INSERT INTO $cat.ns.ts1 VALUES (2, 'b')")            // v3
    val p = tablePath("ts1")
    val stamps = GraftSink.listVersions(p)
      .map(v => GraftSink.readManifest(p, Some(v)).get.ts.get)
    stamps shouldBe stamps.sorted
    stamps.distinct.length shouldBe stamps.length // strictly monotone
    def fmt(ms: Long) = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms))
    // each commit's exact stamp resolves exactly that snapshot
    spark.sql(s"SELECT count(*) FROM $cat.ns.ts1 TIMESTAMP AS OF '${fmt(stamps(1))}'")
      .collect().head.getLong(0) shouldBe 1L
    spark.sql(s"SELECT count(*) FROM $cat.ns.ts1 TIMESTAMP AS OF '${fmt(stamps(2))}'")
      .collect().head.getLong(0) shouldBe 2L
    // a later timestamp never resolves an earlier version
    spark.sql(s"SELECT count(*) FROM $cat.ns.ts1 TIMESTAMP AS OF '${fmt(stamps(2) + 60000)}'")
      .collect().head.getLong(0) shouldBe 2L
    // before the first commit: loud refusal, never "nearest version"
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.ns.ts1 TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }
    e.toString should include("no snapshot")
  }

  // ------------------------------------------------------------------
  // Runtime (dynamic) partition pruning on the sink
  // ------------------------------------------------------------------

  test("DPP: the dim's join keys reach the partitioned sink scan and prune files at runtime") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.dpp1")
    // the fact must NOT be broadcastable itself (a broadcast build side
    // degenerates the pruning filter to `true`): 20k rows ≈ 400 KB TSV,
    // with the threshold pinned between dim and fact sizes below
    spark.range(0, 20000)
      .selectExpr("id AS k", "concat('g', id % 5) AS grp", "cast(id as double) AS v")
      .writeTo(s"$cat.ns.dpp1").partitionedBy(col("grp")).create() // 5 partition files
    // mechanism, unit-level: an IN predicate on the partition column
    // intersects into the planning allowed-set
    val scan0 = spark.table(s"$cat.ns.dpp1").queryExecution.optimizedPlan.collect {
      case rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if rel.scan.isInstanceOf[graft.sources.GraftSinkScan] =>
        rel.scan.asInstanceOf[graft.sources.GraftSinkScan]
    }.head
    scan0.planInputPartitions().length shouldBe 5
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    scan0.filter(Array(new Predicate("IN", Array(
      Expressions.column("grp"),
      Expressions.literal(org.apache.spark.unsafe.types.UTF8String.fromString("g1")),
      Expressions.literal(org.apache.spark.unsafe.types.UTF8String.fromString("g3"))))))
    scan0.planInputPartitions().length shouldBe 2
    // end-to-end: a star join with a selective predicate on a
    // file-backed dim side (DPP's trigger shape — LocalRelations don't
    // qualify) delivers the keys to the fact scan with no predicate in
    // the query text; the result equals the unpruned join
    val dimDir = graft.ops.Stage.fresh("dpp11_dim").toString
    Seq(("g2", 1), ("g4", 1), ("g0", 0), ("g1", 0))
      .toDF("grp", "keep").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
      .filter(col("keep") === 1).select(col("grp"))
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (100 * 1024).toString)
    val (joined, r) = try {
      val j = spark.table(s"$cat.ns.dpp1").join(dim, "grp")
        .agg(count(lit(1)), sum(col("v")))
      (j, j.collect().head)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    r.getLong(0) shouldBe 8000 // the g2+g4 slices of 20k rows
    val scan = joined.queryExecution.optimizedPlan.collect {
      case rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if rel.scan.isInstanceOf[graft.sources.GraftSinkScan] =>
        rel.scan.asInstanceOf[graft.sources.GraftSinkScan]
    }.head
    withClue("runtime filter never reached the sink scan: ") {
      scan.runtimeFilters.get("grp").map(_.size) shouldBe Some(2)
    }
    scan.planInputPartitions().length shouldBe 2
  }

  // ------------------------------------------------------------------
  // Metadata tables (q385)
  // ------------------------------------------------------------------

  test("metadata tables: files/snapshots/refs serve manifest state; name collisions resolve to real tables") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.mt1")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      .coalesce(1).writeTo(s"$cat.ns.mt1").create() // v1+v2
    val files = spark.table(s"$cat.ns.mt1.files").collect()
    files.length shouldBe 1
    files.head.getAs[Long]("rows") shouldBe 3L
    files.head.getAs[Long]("live_rows") shouldBe 3L
    files.head.getAs[Long]("dv_positions") shouldBe 0L
    val snaps = spark.table(s"$cat.ns.mt1.snapshots")
      .orderBy(col("version")).collect()
    snaps.map(_.getAs[Long]("version")) shouldBe Array(1L, 2L)
    snaps.map(_.getAs[Long]("n_files")) shouldBe Array(0L, 1L)
    snaps.foreach(_.getAs[Long]("committed_at_ms") should be > 0L)
    spark.table(s"$cat.ns.mt1.refs").count() shouldBe 0
    // a REAL table named like a metadata table wins resolution
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.files")
    Seq((9L, "x")).toDF("k", "s").writeTo(s"$cat.ns.files").create()
    spark.table(s"$cat.ns.files").columns.toSeq shouldBe Seq("k", "s")
    // and a missing parent still fails loudly
    intercept[Exception] { spark.table(s"$cat.ns.nosuch.files").collect() }
  }

  // ------------------------------------------------------------------
  // Storage-partitioned join on the sink (q384)
  // ------------------------------------------------------------------

  test("SPJ: two co-partitioned sink tables sort-merge join with ZERO exchange") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.spja")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.spjb")
    Seq.tabulate(40)(i => (i.toLong, s"g${i % 4}", i * 1.0))
      .toDF("k", "grp", "v").writeTo(s"$cat.ns.spja")
      .partitionedBy(col("grp")).create()
    Seq.tabulate(4)(i => (s"g$i", i * 100L))
      .toDF("grp", "w").writeTo(s"$cat.ns.spjb")
      .partitionedBy(col("grp")).create()
    Sessions.withConfs(spark, Sessions.SpjConfs: _*) {
      def grp(t: String) = spark.read.format("graftsink")
        .option("path", tablePath(t)).option("grouped", "true").load()
      val a = grp("spja")
      val j = a.join(grp("spjb").hint("merge"), "grp")
        .agg(count(lit(1)), sum(col("v") + col("w")))
      j.collect().head.toSeq shouldBe Seq(40L, 40 * 39 / 2 * 1.0 + 10 * (0 + 100 + 200 + 300))
      val planStr = j.queryExecution.executedPlan.toString
      planStr should include("SortMergeJoin")
      withClue(s"SPJ should make the join exchange-free:\n$planStr\n") {
        planStr should not include "Exchange hashpartitioning"
      }
      // the grouped scan reports key-grouped output: one partition per
      // tuple, each carrying its typed key
      val scans = a.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
      }
      scans should not be empty
      scans.head.outputPartitioning.toString.toLowerCase should include("keygroupedpartitioning")
      scans.head.inputPartitions should have size 4
      scans.head.inputPartitions.foreach(p =>
        p.isInstanceOf[org.apache.spark.sql.connector.read.HasPartitionKey] shouldBe true)
      // grouped + unpartitioned table / untagged files are refused
      intercept[Exception] {
        val up = freshSink("spj11c")
        spark.range(0, 3).selectExpr("id AS k").write.format("graftsink")
          .option("path", up).mode("overwrite").save()
        spark.read.format("graftsink").option("path", up)
          .option("grouped", "true").load().collect()
      }
    }
  }

  // ------------------------------------------------------------------
  // Branch/tag refs + write-audit-publish
  // ------------------------------------------------------------------

  test("branch writes stage invisibly; publish fast-forwards; tags are immutable and GC-protected") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.wap1")
    Seq((1L, "a"), (2L, "b")).toDF("k", "s").writeTo(s"$cat.ns.wap1").create() // v1+v2
    val p = tablePath("wap1")
    // stage two commits on the branch — main stays at v2 throughout
    Seq((3L, "c")).toDF("k", "s")
      .writeTo(s"$cat.ns.wap1").option("toBranch", "audit").append() // v3
    Seq((4L, "d")).toDF("k", "s")
      .writeTo(s"$cat.ns.wap1").option("toBranch", "audit").append() // v4 (on top of v3)
    spark.table(s"$cat.ns.wap1").count() shouldBe 2
    GraftSink.readRef(p, "branch", "audit") shouldBe Some(4)
    // branch reads see the staged chain (path option AND SQL ref spelling)
    spark.read.format("graftsink").option("path", p)
      .option("ref", "audit").load().count() shouldBe 4
    spark.sql(s"SELECT count(*) FROM $cat.ns.wap1 VERSION AS OF 'audit'")
      .collect().head.getLong(0) shouldBe 4
    // publish = a metadata republish COMMIT (v5 = v4's content,
    // main-attributed; data files shared) — main now serves the head
    spark.sql(s"CALL $cat.sys.publish_branch('ns.wap1', 'audit')")
      .collect().head.getLong(0) shouldBe 5L
    spark.table(s"$cat.ns.wap1").count() shouldBe 4
    // tags: immutable, resolvable, protect their snapshot from expiry
    spark.sql(s"CALL $cat.sys.create_tag('ns.wap1', 'approved', 2)").collect()
    intercept[Exception] {
      spark.sql(s"CALL $cat.sys.create_tag('ns.wap1', 'approved', 4)").collect()
    }
    spark.sql(s"SELECT count(*) FROM $cat.ns.wap1 VERSION AS OF 'approved'")
      .collect().head.getLong(0) shouldBe 2
    spark.sql(s"CALL $cat.sys.expire_snapshots('ns.wap1', 1)").collect()
    // v2 survived the expiry because the tag pins it (v1/v3 dropped)
    spark.sql(s"SELECT count(*) FROM $cat.ns.wap1 VERSION AS OF 'approved'")
      .collect().head.getLong(0) shouldBe 2
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.ns.wap1 VERSION AS OF 1").collect()
    }
    // drop_ref removes the name, not the snapshot
    spark.sql(s"CALL $cat.sys.drop_ref('ns.wap1', 'approved')").collect()
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.ns.wap1 VERSION AS OF 'approved'").collect()
    }
    spark.sql(s"SELECT count(*) FROM $cat.ns.wap1 VERSION AS OF 2")
      .collect().head.getLong(0) shouldBe 2
    // refusals: ref+version exclusive; toBranch + clusterBy
    intercept[Exception] {
      spark.read.format("graftsink").option("path", p)
        .option("ref", "audit").option("version", "2").load().collect()
    }
    intercept[Exception] {
      Seq((9L, "z")).toDF("k", "s").write.format("graftsink")
        .option("path", p).option("toBranch", "x").option("clusterBy", "k")
        .mode("append").save()
    }
  }

  // ------------------------------------------------------------------
  // Corpus-scale HDBSCAN MST (q381)
  // ------------------------------------------------------------------

  test("q381: every IVF cell yields a spanning tree (n_edges = n_vecs - 1, max <= total)") {
    val rows = SparkEntry.queries("q381_hdbscan_cells")(spark, sf).collect()
    rows.length should be > 1 // multiple cells — the contraction actually split the corpus
    rows.foreach { r =>
      val (n, e) = (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_edges"))
      e shouldBe n - 1 // within-cell graphs are complete → one tree per cell
      r.getAs[Double]("max_w") should be <= r.getAs[Double]("total_w")
      r.getAs[Double]("total_w") should be > 0.0
    }
    // full coverage: cells partition the corpus, nothing dropped by a cap
    rows.map(_.getAs[Long]("n_vecs")).sum shouldBe
      graft.Tables.embeddings(spark, sf).count()
  }

  // ------------------------------------------------------------------
  // Identity partition transforms
  // ------------------------------------------------------------------

  private def plannedSinkFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case f: graft.sources.GraftSinkFilePartition => f.name
        }
    }.flatten

  test("partitioned table: equality predicate plans ONLY the matching partition's files") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.pt1")
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0), (4L, "c", 4.0),
        (5L, "b", 5.0), (6L, "a", 6.0))
      .toDF("k", "grp", "v").writeTo(s"$cat.ns.pt1")
      .partitionedBy(col("grp")).create()
    val m = GraftSink.readManifest(tablePath("pt1")).get
    // one file per tuple; every file tagged
    m.entries.flatMap(_.part).sorted shouldBe Seq("grp=a", "grp=b", "grp=c")
    // equality prunes to the single matching file...
    val one = spark.table(s"$cat.ns.pt1").filter(col("grp") === "a")
    plannedSinkFiles(one).length shouldBe 1
    one.agg(count(lit(1)), sum(col("v"))).collect().head.toSeq shouldBe Seq(3L, 10.0)
    // ...IN prunes to two; an unconstrained scan plans all three
    val two = spark.table(s"$cat.ns.pt1").filter(col("grp").isin("a", "c"))
    plannedSinkFiles(two).length shouldBe 2
    plannedSinkFiles(spark.table(s"$cat.ns.pt1")).length shouldBe 3
    // pruning is not a correctness transfer: a residual predicate the
    // tuple can't answer still evaluates row-level
    spark.table(s"$cat.ns.pt1").filter(col("grp") === "a" && col("k") > 2)
      .select(col("k")).collect().map(_.getLong(0)).sorted shouldBe Array(3L, 6L)
    // appends stay partition-routed and tagged
    spark.sql(s"INSERT INTO $cat.ns.pt1 VALUES (7, 'a', 7.0), (8, 'd', 8.0)")
    val m2 = GraftSink.readManifest(tablePath("pt1")).get
    m2.entries.flatMap(_.part).sorted shouldBe
      Seq("grp=a", "grp=a", "grp=b", "grp=c", "grp=d")
    plannedSinkFiles(spark.table(s"$cat.ns.pt1").filter(col("grp") === "a"))
      .length shouldBe 2
  }

  test("partitioned table: copy-on-write DELETE keeps part tuples; refusal matrix") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.pt2")
    Seq((1L, 10L, 1.0), (2L, 20L, 2.0), (3L, 10L, 3.0))
      .toDF("k", "bucket", "v").writeTo(s"$cat.ns.pt2")
      .partitionedBy(col("bucket")).create()
    spark.sql(s"DELETE FROM $cat.ns.pt2 WHERE k = 1")
    val m = GraftSink.readManifest(tablePath("pt2")).get
    m.entries.foreach(_.part should not be empty) // rewrite stayed tagged
    // the UNMATCHED partition must survive the rewrite: the COW scan
    // opts OUT of runtime group filtering (a group-narrowed rewrite +
    // whole-snapshot commit would silently drop bucket 20's file —
    // the exact regression q379's oracle caught when DPP landed)
    spark.table(s"$cat.ns.pt2").count() shouldBe 2
    m.entries.flatMap(_.part).sorted shouldBe Seq("bucket=10", "bucket=20")
    spark.table(s"$cat.ns.pt2").filter(col("bucket") === 10L)
      .select(col("k")).collect().map(_.getLong(0)) shouldBe Array(3L)
    plannedSinkFiles(spark.table(s"$cat.ns.pt2").filter(col("bucket") === 10L))
      .length shouldBe 1
    // refusals: unsupported transform (bucket() is supported since
    // r11's second widening — truncate() is the still-refused probe),
    // partition-column rename/drop, clusterBy on a partitioned table
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ns.ptbad (k BIGINT, g STRING) PARTITIONED BY (truncate(4, g))")
    }
    // partition-column RENAME is supported since r14 (metadata-only
    // rekey): tags, the spec prop, and pruning follow the new name
    spark.sql(s"ALTER TABLE $cat.ns.pt2 RENAME COLUMN bucket TO b2")
    GraftSink.partitionColsOf(tablePath("pt2")) shouldBe Seq("b2")
    GraftSink.readManifest(tablePath("pt2")).get.entries
      .flatMap(_.part).sorted shouldBe Seq("b2=10", "b2=20")
    spark.table(s"$cat.ns.pt2").filter(col("b2") === 10L)
      .select(col("k")).collect().map(_.getLong(0)) shouldBe Array(3L)
    plannedSinkFiles(spark.table(s"$cat.ns.pt2").filter(col("b2") === 10L))
      .length shouldBe 1
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.pt2 DROP COLUMN b2")
    }
    intercept[Exception] {
      spark.table(s"$cat.ns.pt2").write.format("graftsink")
        .option("path", tablePath("pt2")).option("clusterBy", "k")
        .mode("append").save()
    }
  }
}
