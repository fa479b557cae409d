package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.sources.{GraftSink, GraftSinkCommit, GraftSinkPartitionedCommit, GraftSinkStreamingWrite}

/** Round-10 connector surfaces: TableCatalog identifier resolution
  * (+ SQL VERSION AS OF), row-level DELETE/UPDATE/MERGE (group-based
  * copy-on-write), the `_slice` metadata column, catalog-resolved V2
  * scalar functions, and the exactly-once DSv2 streaming write.
  */
class Round10Spec extends AnyFunSuite with Matchers with SharedSpark {

  private val cat = "g10"
  private def ensureCatalog(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      graft.ops.Stage.dir("g10_warehouse"))
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
  }
  private def tablePath(name: String): String =
    s"${graft.ops.Stage.dir("g10_warehouse")}/ns/$name"

  test("catalog: create / insert / select / VERSION AS OF / show / drop by identifier") {
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.t1")
    spark.sql(s"CREATE TABLE $cat.ns.t1 (k BIGINT, s STRING)")
    // create commits snapshot v1 = the EMPTY table (schema is durable)
    spark.table(s"$cat.ns.t1").count() shouldBe 0
    spark.sql(s"INSERT INTO $cat.ns.t1 VALUES (1, 'a'), (2, 'b'), (3, NULL)")
    spark.sql(s"INSERT INTO $cat.ns.t1 VALUES (4, 'd')")
    spark.table(s"$cat.ns.t1").count() shouldBe 4
    spark.sql(s"SELECT sum(k) AS sk FROM $cat.ns.t1").head.getLong(0) shouldBe 10L
    // SQL time travel: v1 empty, v2 first insert, v3 second
    spark.sql(s"SELECT count(*) AS n FROM $cat.ns.t1 VERSION AS OF 1")
      .head.getLong(0) shouldBe 0L
    spark.sql(s"SELECT count(*) AS n FROM $cat.ns.t1 VERSION AS OF 2")
      .head.getLong(0) shouldBe 3L
    spark.sql(s"SHOW TABLES IN $cat.ns").collect()
      .map(_.getAs[String]("tableName")) should contain("t1")
    // a TIMESTAMP AS OF before the first commit is refused loudly
    // (resolution itself is Round11Spec's surface)
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.ns.t1 TIMESTAMP AS OF '2024-01-01'").collect()
    }
    e.getMessage should include("no snapshot")
    spark.sql(s"DROP TABLE $cat.ns.t1")
    intercept[Exception] { spark.table(s"$cat.ns.t1").collect() }
  }

  test("SQL DELETE FROM: copy-on-write publishes a new snapshot; the old one still serves pre-delete rows") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.d1")
    Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "a", 3.5), (4L, "b", 4.5), (5L, "a", 5.5))
      .toDF("k", "tag", "v").writeTo(s"$cat.ns.d1").create()
    val path = tablePath("d1")
    val preVersions = GraftSink.listVersions(path)
    val preFiles = GraftSink.readManifest(path).get.files.toSet
    spark.sql(s"DELETE FROM $cat.ns.d1 WHERE tag = 'a' AND k > 1")
    spark.table(s"$cat.ns.d1").select("k").as[Long].collect().sorted shouldBe
      Array(1L, 2L, 4L)
    // the rewritten-manifest path: exactly one new snapshot, whose file
    // list shares NOTHING with the pre-delete snapshot (full COW), and
    // the pre-delete snapshot still reads intact through its pin
    val versions = GraftSink.listVersions(path)
    versions.length shouldBe preVersions.length + 1
    val post = GraftSink.readManifest(path).get.files.toSet
    post.intersect(preFiles) shouldBe empty
    spark.sql(s"SELECT count(*) AS n FROM $cat.ns.d1 VERSION AS OF ${preVersions.last}")
      .head.getLong(0) shouldBe 5L
    // ghost invisibility: replaced data files are still on disk (older
    // snapshots reference them) but the latest read never serves them
    preFiles.foreach { f =>
      GraftSink.fs(path).exists(
        new org.apache.hadoop.fs.Path(path, GraftSink.Entry.parse(f).name)) shouldBe true
    }
  }

  test("SQL UPDATE and MERGE INTO route through the row-level operation") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.m1")
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "tag", "v").writeTo(s"$cat.ns.m1").create()
    spark.sql(s"UPDATE $cat.ns.m1 SET v = v + 1.0 WHERE tag <> 'b'")
    spark.table(s"$cat.ns.m1").orderBy("k").select("v").as[Double].collect() shouldBe
      Array(11.0, 20.0, 31.0)
    Seq((2L, "U", 99.0), (3L, "D", 0.0), (7L, "I", 70.0), (8L, "X", 80.0))
      .toDF("k", "op", "nv").createOrReplaceTempView("m1_chg")
    spark.sql(s"""
      MERGE INTO $cat.ns.m1 t USING m1_chg c ON t.k = c.k
      WHEN MATCHED AND c.op = 'D' THEN DELETE
      WHEN MATCHED AND c.op = 'U' THEN UPDATE SET v = c.nv
      WHEN NOT MATCHED AND c.op = 'I' THEN INSERT (k, tag, v) VALUES (c.k, 'new', c.nv)""")
    spark.table(s"$cat.ns.m1").orderBy("k")
      .select("k", "tag", "v").as[(Long, String, Double)].collect() shouldBe
      Array((1L, "a", 11.0), (2L, "b", 99.0), (7L, "new", 70.0))
  }

  test("metadata column _slice: served only when requested, equal to the planning ordinal") {
    val df = spark.read.format("graftseq")
      .option("rows", "1000").option("slices", "4").load()
    // hidden: SELECT * / schema never include it
    df.schema.fieldNames should not contain "_slice"
    // requested: resolves by name, value = planning ordinal = id div 250
    val w = df.select(col("id"), col("_slice"))
    w.collect().foreach(r => r.getLong(1) shouldBe r.getLong(0) / 250)
    // and it reaches the scan's readSchema ONLY when requested
    def readSchemaOf(d: DataFrame): Seq[String] =
      d.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
        .head.scan.readSchema().fieldNames.toSeq
    readSchemaOf(w) should contain("_slice")
    readSchemaOf(df.select(col("id"))) should not contain "_slice"
  }

  test("catalog functions: magic-method Invoke path, bit-parity with the session kernels") {
    ensureCatalog()
    org.apache.spark.sql.GraftFunctions.register(spark)
    Tables.customer(spark, sf).createOrReplaceTempView("c10")
    val viaCat = spark.sql(
      s"SELECT c_custkey AS k, $cat.fns.md5_mod(CAST(c_custkey AS STRING), 97) AS b FROM c10")
    val viaReg = spark.sql(
      "SELECT c_custkey AS k, md5_mod(CAST(c_custkey AS STRING), 97) AS b FROM c10")
    viaCat.collect().map(r => (r.getLong(0), r.getLong(1))).sorted shouldBe
      viaReg.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // the bound function compiles to the magic-method Invoke, not the
    // row-boxing ApplyFunctionExpression wrapper
    val invokes = viaCat.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case i: org.apache.spark.sql.catalyst.expressions.objects.Invoke => i
    })
    invokes should not be empty
    viaCat.queryExecution.optimizedPlan.toString should not include "ApplyFunctionExpression"
    spark.sql(s"SELECT $cat.fns.jaro_winkler('martha', 'marhta') AS s")
      .head.getDouble(0) shouldBe 0.9611 +- 1e-3
    // null propagation through the magic path
    spark.sql(s"SELECT $cat.fns.md5_mod(CAST(NULL AS STRING), 97) AS b")
      .head.isNullAt(0) shouldBe true
  }

  test("merge-on-read: DELETE writes delete vectors (no file rewrite); UPDATE/MERGE = DV + insert; compact applies them") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.mor1")
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0),
        (4L, "d", 4.0), (5L, "e", 5.0), (6L, "f", 6.0))
      .toDF("k", "s", "v").repartition(2)
      .writeTo(s"$cat.ns.mor1").tableProperty("write.mode", "merge-on-read").create()
    val path = tablePath("mor1")
    val preNames = GraftSink.readManifest(path).get.entries.map(_.name)
    preNames.size shouldBe 2
    // the sink's metadata columns resolve by name on a plain read
    val meta = spark.table(s"$cat.ns.mor1")
      .select(col("k"), col("_file"), col("_pos")).collect()
    meta.map(_.getString(1)).toSet shouldBe preNames.toSet
    meta.map(r => (r.getString(1), r.getLong(2))).distinct.length shouldBe 6
    spark.table(s"$cat.ns.mor1").schema.fieldNames should not contain "_file"
    // DELETE → delete vectors fold into the SAME entries; no rewrite
    spark.sql(s"DELETE FROM $cat.ns.mor1 WHERE k IN (2, 5)")
    val m1 = GraftSink.readManifest(path).get
    m1.entries.map(_.name) shouldBe preNames
    m1.entries.flatMap(_.deletes) should have size 2
    spark.table(s"$cat.ns.mor1").select("k").as[Long].collect().sorted shouldBe
      Array(1L, 3L, 4L, 6L)
    spark.sql(s"SELECT count(*) AS n FROM $cat.ns.mor1 VERSION AS OF 2")
      .head.getLong(0) shouldBe 6L // pre-delete snapshot intact
    // UPDATE = DV on the old row + the new row in a NEW file
    spark.sql(s"UPDATE $cat.ns.mor1 SET v = v + 10.0 WHERE k = 3")
    val m2 = GraftSink.readManifest(path).get
    m2.entries.map(_.name).take(2) shouldBe preNames
    m2.files.size should be >= 3
    spark.table(s"$cat.ns.mor1").filter(col("k") === 3)
      .select("v").as[Double].head() shouldBe 13.0
    // MERGE on the MOR table: matched delete + unmatched insert
    Seq((4L, "D"), (7L, "I")).toDF("k", "op").createOrReplaceTempView("mor_chg")
    spark.sql(s"""
      MERGE INTO $cat.ns.mor1 t USING mor_chg c ON t.k = c.k
      WHEN MATCHED AND c.op = 'D' THEN DELETE
      WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (c.k, 'new', 0.0)""")
    spark.table(s"$cat.ns.mor1").select("k").as[Long].collect().sorted shouldBe
      Array(1L, 3L, 6L, 7L)
    // compact applies the DVs and drops them
    spark.sql(s"CALL $cat.sys.compact('ns.mor1', 1)")
    val m3 = GraftSink.readManifest(path).get
    m3.files should have size 1
    m3.entries.flatMap(_.deletes) shouldBe empty
    spark.table(s"$cat.ns.mor1").select("k").as[Long].collect().sorted shouldBe
      Array(1L, 3L, 6L, 7L)
  }

  test("file skipping: range-layout clustered writes record stats; pushed ranges prune whole files") {
    import spark.implicits._
    val stage = graft.ops.Stage.fresh("skip10").toString
    spark.range(0, 1000).select(col("id").as("k"), (col("id") % 7).as("m"))
      .write.format("graftsink").mode("overwrite")
      .option("path", stage).option("clusterBy", "k")
      .option("shards", "4").option("layout", "range").save()
    val m = GraftSink.readManifest(stage).get
    m.files should have size 4
    val stats = m.entries.flatMap(_.stats.headOption)
    stats should have size 4
    stats.foreach(_._1 shouldBe "k")
    // range layout: contiguous, non-overlapping, covering [0, 999]
    val sorted = stats.map(s => (s._2, s._3)).sortBy(_._1)
    sorted.head._1 shouldBe 0L
    sorted.last._2 shouldBe 999L
    sorted.sliding(2).foreach { case Seq((_, h1), (l2, _)) => l2 should be > h1 }
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect() // finalize AQE
      df.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b }.head.inputPartitions.size
    }
    val t = spark.read.format("graftsink").option("path", stage).load()
    plannedFiles(t.filter(col("k") <= 0L)) shouldBe 1         // only the head file
    plannedFiles(t.filter(col("k") >= sorted.last._1)) shouldBe 1 // only the tail file
    plannedFiles(t) shouldBe 4                                 // no envelope, no skip
    // and pruning is never a correctness transfer: residual filter still applies
    t.filter(col("k") >= 990L && col("k") % 2 === 0L)
      .select("k").as[Long].collect().sorted shouldBe (990L to 998L by 2).toArray
    // a contradictory envelope plans ZERO files
    plannedFiles(t.filter(col("k") > 5000L)) shouldBe 0
  }

  test("metadata-only count(*): answered from manifest row counts, DV-aware, zero data reads") {
    import spark.implicits._
    val dir = graft.ops.Stage.fresh("cnt10").toString
    spark.range(0, 777).select(col("id").as("k"), (col("id") % 5).as("m"))
      .repartition(3)
      .write.format("graftsink").mode("overwrite").option("path", dir).save()
    val t = spark.read.format("graftsink").option("path", dir).load()
    def finalPlan(d: DataFrame): org.apache.spark.sql.execution.SparkPlan =
      d.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val q = t.agg(expr("count(*)").as("n"))
    q.head.getLong(0) shouldBe 777L
    // COMPLETE pushdown: the count scan replaces both scan and aggregate
    val scans = finalPlan(q).collect { case b: BatchScanExec => b }
    scans.head.scan.isInstanceOf[graft.sources.GraftSinkCountScan] shouldBe true
    scans.head.inputPartitions should have size 1
    finalPlan(q).collect {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
    } shouldBe empty
    // a FILTER blocks pushdown (residual filters force a real scan) but
    // values stay right
    val f = t.filter(col("m") === 1L).agg(expr("count(*)").as("n"))
    f.head.getLong(0) shouldBe 156L // ids ≡ 1 mod 5 in [0, 777)
    finalPlan(f).collect { case b: BatchScanExec => b }
      .head.scan.isInstanceOf[graft.sources.GraftSinkCountScan] shouldBe false
    // and merge-on-read delete vectors subtract EXACTLY
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.cnt2")
    Seq.tabulate(50)(i => (i.toLong, s"s$i")).toDF("k", "s")
      .writeTo(s"$cat.ns.cnt2").tableProperty("write.mode", "merge-on-read").create()
    spark.sql(s"DELETE FROM $cat.ns.cnt2 WHERE k % 10 = 3")
    val c2 = spark.table(s"$cat.ns.cnt2").agg(expr("count(*)").as("n"))
    c2.head.getLong(0) shouldBe 45L
    finalPlan(c2).collect { case b: BatchScanExec => b }
      .head.scan.isInstanceOf[graft.sources.GraftSinkCountScan] shouldBe true
  }

  test("sink reported statistics: a small sink side auto-broadcasts with no hint") {
    val dir = graft.ops.Stage.fresh("sinkstats").toString
    spark.range(0, 500).select(col("id").as("sid"), (col("id") % 9).as("tag"))
      .coalesce(1)
      .write.format("graftsink").mode("overwrite").option("path", dir).save()
    val small = spark.read.format("graftsink").option("path", dir).load()
    // big side: ~80 MB estimated, far over the auto-broadcast threshold
    val big = spark.range(0, 5000000L).select(col("id"), (col("id") % 500).as("j"))
    val joined = big.join(small, col("j") === col("sid"))
    joined.count() shouldBe 5000000L
    val planStr = joined.queryExecution.executedPlan.toString
    withClue(s"small sink side should broadcast from REPORTED stats:\n$planStr\n") {
      planStr should include("BroadcastHashJoin")
    }
  }

  test("catalog procedures: compact / rollback / expire_snapshots maintain the snapshot chain") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.p1")
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "s")
      .writeTo(s"$cat.ns.p1").create()                      // v1 empty + v2 data
    spark.sql(s"INSERT INTO $cat.ns.p1 VALUES (5, 'e'), (6, 'f')") // v3
    val path = tablePath("p1")
    val filesBefore = GraftSink.readManifest(path).get.files.size
    filesBefore should be > 1
    // compact → v4: one file, identical content
    val c = spark.sql(s"CALL $cat.sys.compact('ns.p1', 1)").collect().head
    (c.getLong(0), c.getLong(1), c.getLong(2)) shouldBe ((4L, filesBefore.toLong, 1L))
    spark.table(s"$cat.ns.p1").count() shouldBe 6
    GraftSink.readManifest(path).get.files should have size 1
    // rollback to v2 → v5 republishes v2's manifest (history kept, not rewritten)
    val r = spark.sql(s"CALL $cat.sys.rollback('ns.p1', 2)").collect().head
    (r.getLong(0), r.getLong(1)) shouldBe ((2L, 5L))
    spark.table(s"$cat.ns.p1").count() shouldBe 4
    // expire all but the newest 2 → v1-v3 manifests dropped, the
    // insert-only file (referenced ONLY by v3) GC'd; v5 still reads
    // v2's files because v5 references them
    val e = spark.sql(s"CALL $cat.sys.expire_snapshots('ns.p1', 2)").collect().head
    (e.getLong(0), e.getLong(2)) shouldBe ((3L, 2L))
    e.getLong(1) should be >= 1L // at least the insert file GC'd
    GraftSink.listVersions(path) shouldBe Seq(4, 5)
    spark.table(s"$cat.ns.p1").count() shouldBe 4
    spark.sql(s"SELECT count(*) AS n FROM $cat.ns.p1 VERSION AS OF 4")
      .head.getLong(0) shouldBe 6L
    intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.ns.p1 VERSION AS OF 2").collect()
    }
    // unknown procedure fails loudly (Spark wraps the catalog's
    // available-list message in FAILED_TO_LOAD_ROUTINE)
    val ex = intercept[Exception] {
      spark.sql(s"CALL $cat.sys.vacuum('ns.p1', 1)").collect()
    }
    ex.getMessage should include("vacuum")
  }

  test("ALTER TABLE ADD COLUMNS: versioned schema evolution with NULL back-fill; old pins keep old schema") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.evo1")
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").writeTo(s"$cat.ns.evo1").create() // v1+v2
    spark.sql(s"ALTER TABLE $cat.ns.evo1 ADD COLUMNS (tag STRING)") // v3: DDL-only commit
    GraftSink.listVersions(tablePath("evo1")).last shouldBe 3
    // legacy rows back-fill NULL; new-width rows append normally (v4)
    spark.sql(s"INSERT INTO $cat.ns.evo1 VALUES (3, 30.0, 'x')")
    spark.table(s"$cat.ns.evo1").orderBy("k")
      .select(col("k"), col("v"), coalesce(col("tag"), lit("-")))
      .as[(Long, Double, String)].collect() shouldBe
      Array((1L, 10.0, "-"), (2L, 20.0, "-"), (3L, 30.0, "x"))
    // the pre-evolution pin still serves the OLD schema
    spark.sql(s"SELECT * FROM $cat.ns.evo1 VERSION AS OF 2")
      .schema.fieldNames.toSeq shouldBe Seq("k", "v")
    // refused changes fail loudly (RENAME/DROP are supported since the
    // field-id migration landed — Round11Spec covers them)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.evo1 ADD COLUMNS (nn BIGINT NOT NULL)")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.evo1 ADD COLUMNS (pos_first INT FIRST)")
    }
  }

  test("streaming write: kill/resume lands every epoch exactly once; replayed commits are no-ops") {
    val evs = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("value"))
      .localCheckpoint()
    val b1 = 1704931200000000L // 2024-01-11 UTC, µs (the repo's tranche split)
    val b2 = 1705795200000000L
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts_us", LongType), StructField("value", DoubleType)))
    def stage(in: java.nio.file.Path, from: Int, upTo: Int): Unit = {
      val ts = Seq(
        "b0" -> evs.filter(col("ts_us") <= b1),
        "b1" -> evs.filter(col("ts_us") > b1 && col("ts_us") <= b2),
        "b2" -> evs.filter(col("ts_us") > b2))
      ts.slice(from, upTo).foreach { case (n, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$in/$n")
      }
    }
    def run(in: String, out: String, ck: String): Unit =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*/")
        .writeStream.format("graftsink")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    def content(out: String): Seq[(Long, Long, Double)] =
      spark.read.format("graftsink").option("path", out).load()
        .select(col("user_id"), col("ts_us"), coalesce(col("value"), lit(-1.0)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq

    // uninterrupted reference
    val inA = ops.Stage.fresh("swrec_in_a")
    val outA = ops.Stage.fresh("swrec_out_a").toString
    stage(inA, 0, 3)
    run(inA.toString, outA, ops.Stage.fresh("swrec_ck_a").toString)

    // interrupted: two tranches drain, then resume with the third
    val inB = ops.Stage.fresh("swrec_in_b")
    val outB = ops.Stage.fresh("swrec_out_b").toString
    val ckB = ops.Stage.fresh("swrec_ck_b").toString
    stage(inB, 0, 2)
    run(inB.toString, outB, ckB)
    val mid = content(outB)
    stage(inB, 2, 3)
    run(inB.toString, outB, ckB)

    val a = content(outA)
    val b = content(outB)
    a.length should be > 0
    withClue("resume must only append, never re-publish a drained epoch: ") {
      mid.length should be < b.length
      b shouldBe a
    }
    // each microbatch landed as ONE epoch marker in the manifest
    val files = GraftSink.readManifest(outB).get.files
    val epochs = files.flatMap { f =>
      val i = f.lastIndexOf("-e"); val j = f.indexOf("-part", i)
      if (i >= 0 && j > i) Some(f.substring(i + 2, j).toLong) else None
    }.distinct.sorted
    epochs.length should be >= 3 // one per drained tranche (3 data batches)

    // direct replay-window idempotence, through the unpartitioned and
    // the partitioned streaming write: re-committing an epoch whose
    // files are already in the manifest must be a no-op
    val kSchema = StructType(Seq(StructField("k", LongType)))
    def stageFile(p: String, epoch: Long, name: String, rows: Seq[Long]): String = {
      val f = s"$p/_staging/qX/e$epoch/$name"
      val o = GraftSink.fs(p).create(new org.apache.hadoop.fs.Path(f), true)
      o.write(rows.map(_.toString + "\n").mkString.getBytes("UTF-8")); o.close()
      f
    }
    // one task per epoch; the partitioned task stages one file per k
    val surfaces = Seq(
      ("unpartitioned",
        (p: String) => new GraftSinkStreamingWrite(p, kSchema, "qX", truncate = false),
        (p: String, epoch: Long, rows: Seq[Long]) =>
          GraftSinkCommit(stageFile(p, epoch, "part-0-0.tsv", rows), 0, rows.length),
        "part-0.tsv"),
      ("partitioned",
        (p: String) => new GraftSinkStreamingWrite(p, kSchema, "qX", truncate = false,
          Seq("k"), Array(0)),
        (p: String, epoch: Long, rows: Seq[Long]) =>
          GraftSinkPartitionedCommit(0, rows.zipWithIndex.map { case (k, i) =>
            (stageFile(p, epoch, s"part-0-0-$i.tsv", Seq(k)), s"k=$k", 1L)
          }),
        "part-0-0.tsv"))
    for ((label, write, task, firstFile) <- surfaces) withClue(s"$label: ") {
      val p = ops.Stage.fresh(s"sw_idem_$label").toString
      val sw = write(p)
      def read(): Seq[Long] = spark.read.format("graftsink").option("path", p).load()
        .collect().map(_.getLong(0)).sorted.toSeq
      sw.commit(0L, Array(task(p, 0L, Seq(1L, 2L))))
      sw.commit(1L, Array(task(p, 1L, Seq(3L))))
      val before = GraftSink.readManifest(p).get
      sw.commit(1L, Array(task(p, 1L, Seq(3L)))) // the replay
      GraftSink.readManifest(p).get.files shouldBe before.files
      GraftSink.listVersions(p).length shouldBe 2
      read() shouldBe Seq(1L, 2L, 3L)
      // a crash after epoch 2's publish rename but before its manifest
      // write leaves an unreferenced ghost under the final name; the
      // replayed epoch publishes over it
      val ghost = new org.apache.hadoop.fs.Path(p, s"q-qX-e2-$firstFile")
      val o = GraftSink.fs(p).create(ghost, false)
      o.write("999\n".getBytes("UTF-8")); o.close()
      sw.commit(2L, Array(task(p, 2L, Seq(4L))))
      GraftSink.readManifest(p).get.entries.map(_.name) should contain(
        s"q-qX-e2-$firstFile")
      GraftSink.listVersions(p).length shouldBe 3
      read() shouldBe Seq(1L, 2L, 3L, 4L)
    }
  }
}
