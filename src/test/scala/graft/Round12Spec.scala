package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-12 surfaces: bucketed storage-partitioned joins (the bucket
  * transform as a catalog function + bucket-keyed grouped scans),
  * optimistic-concurrency commits, BINARY/ARRAY<FLOAT> sink columns,
  * Z-order clustered writes.
  */
class Round12Spec extends AnyFunSuite with Matchers with SharedSpark {

  import graft.sources.GraftSink

  private val cat = "g12"
  private def ensureCatalog(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      graft.ops.Stage.dir("g12_warehouse"))
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
  }
  private def tablePath(name: String): String =
    s"${graft.ops.Stage.dir("g12_warehouse")}/ns/$name"

  // ------------------------------------------------------------------
  // Bucketed storage-partitioned join (q405)
  // ------------------------------------------------------------------

  test("bucketed SPJ: two same-(n,col)-bucketed sink tables sort-merge join with ZERO exchange") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.bspja")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.bspjb")
    spark.sql(s"""CREATE TABLE $cat.ns.bspja (k BIGINT, v DOUBLE)
      PARTITIONED BY (bucket(4, k))""")
    spark.sql(s"""CREATE TABLE $cat.ns.bspjb (k BIGINT, w BIGINT)
      PARTITIONED BY (bucket(4, k))""")
    Seq.tabulate(40)(i => (i.toLong, i * 1.0)).toDF("k", "v")
      .writeTo(s"$cat.ns.bspja").append()
    Seq.tabulate(40)(i => (i.toLong, i * 100L)).toDF("k", "w")
      .writeTo(s"$cat.ns.bspjb").append()
    Sessions.withConfs(spark, Sessions.SpjConfs: _*) {
      val a = spark.read.option("grouped", "true").table(s"$cat.ns.bspja")
      val b = spark.read.option("grouped", "true").table(s"$cat.ns.bspjb")
      val j = a.join(b.hint("merge"), "k")
        .agg(count(lit(1)), sum(col("v") + col("w")))
      j.collect().head.toSeq shouldBe
        Seq(40L, (0 until 40).map(i => i * 1.0 + i * 100L).sum)
      val planStr = j.queryExecution.executedPlan.toString
      planStr should include("SortMergeJoin")
      withClue(s"bucketed SPJ should make the join exchange-free:\n$planStr\n") {
        planStr should not include "Exchange hashpartitioning"
      }
      // each side reports bucket-keyed grouped output: one partition
      // per bucket id, key typed as the transform's output (int)
      // AQE wraps stages in leaf QueryStageExec nodes — walk through them
      def deep(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val here = p.collect { case n => n }
        here ++ here.flatMap {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            deep(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            deep(q.plan)
          case _ => Nil
        }
      }
      val scans = deep(j.queryExecution.executedPlan).collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
      }
      scans should have size 2
      scans.foreach { s =>
        s.outputPartitioning.toString.toLowerCase should include("keygrouped")
        s.inputPartitions.foreach(p =>
          p.isInstanceOf[org.apache.spark.sql.connector.read.HasPartitionKey] shouldBe true)
      }
    }
  }

  test("bucketed SPJ key agrees with the write-path routing kernel") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.bkey")
    spark.sql(s"""CREATE TABLE $cat.ns.bkey (s STRING, x BIGINT)
      PARTITIONED BY (bucket(5, s))""")
    (Seq.tabulate(20)(i => (s"v$i", i.toLong)) :+ ((null: String), 99L))
      .toDF("s", "x").writeTo(s"$cat.ns.bkey").append()
    val scan = new graft.sources.GraftSinkScan(tablePath("bkey"),
      org.apache.spark.sql.types.StructType.fromDDL("s STRING, x BIGINT"),
      org.apache.spark.sql.types.StructType.fromDDL("s STRING, x BIGINT"),
      None, Map.empty, Map.empty, grouped = true)
    val parts = scan.planInputPartitions()
    parts.foreach { p =>
      val tp = p.asInstanceOf[graft.sources.GraftSinkTuplePartition]
      val key = tp.key
      if (key.isNullAt(0)) {
        // the null bucket's files carry exactly the null rows
        tp.files.foreach(_.name should not be "")
      } else {
        val id = key.getInt(0)
        id should (be >= 0 and be < 5)
      }
    }
    // every non-null value's bucket id recomputes through the catalog
    // function to the id its file was tagged with
    val fn = new graft.sources.GraftCatalog.BucketBound(Array(
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.StringType))
    fn.produceResult(org.apache.spark.sql.catalyst.InternalRow(5,
      org.apache.spark.unsafe.types.UTF8String.fromString("v7"))) shouldBe
      GraftSink.bucketIdOf("v7", 5).toInt
  }

  // ------------------------------------------------------------------
  // Optimistic-concurrency commit protocol
  // ------------------------------------------------------------------

  private def freshSink(prefix: String): String =
    graft.ops.Stage.fresh(prefix).toString + "/t"

  test("commit race: a lost slot claim rebases the append onto the interloper's commit") {
    val p = freshSink("occ12a")
    spark.range(0, 10).selectExpr("id AS k")
      .write.format("graftsink").option("path", p).mode("overwrite").save() // v1
    val base = GraftSink.readManifest(p).get
    val v0 = GraftSink.listVersions(p).last
    // plant a data file for each writer outside the manifest
    val f = GraftSink.fs(p)
    def plant(name: String): Unit = {
      val out = f.create(new org.apache.hadoop.fs.Path(p, name), true)
      try out.write("99\n".getBytes("UTF-8")) finally out.close()
    }
    plant("interloper.tsv"); plant("mine.tsv")
    // writer B plans from the v1 base; its FIRST plan invocation lets
    // writer A commit in between (the deterministic interleave) — B's
    // claim then fails and its second plan rebases onto A's commit
    var calls = 0
    val committed = GraftSink.commitManifest(p, None) { () =>
      calls += 1
      val prior = GraftSink.readManifest(p).get
      if (calls == 1)
        GraftSink.writeManifest(p, GraftSink.Manifest(base.ddl,
          base.files :+ GraftSink.Entry("interloper.tsv", rows = Some(1L)).line, base.ids))
      GraftSink.Manifest(prior.ddl,
        prior.files :+ GraftSink.Entry("mine.tsv", rows = Some(1L)).line, prior.ids)
    }
    calls shouldBe 2
    committed shouldBe v0 + 2
    val names = GraftSink.readManifest(p).get.entries.map(_.name)
    names should contain("interloper.tsv")
    names should contain("mine.tsv")
    // the chain is gap-free and every new snapshot carries attribution
    GraftSink.listVersions(p) shouldBe (1 to v0 + 2)
    GraftSink.readManifest(p, Some(v0 + 1)).get.ref shouldBe Some("main")
    GraftSink.readManifest(p, Some(v0 + 2)).get.ref shouldBe Some("main")
    // ts stamps stay strictly monotone across the race
    val stamps = GraftSink.listVersions(p)
      .map(v => GraftSink.readManifest(p, Some(v)).get.ts.get)
    stamps shouldBe stamps.sorted
    stamps.distinct.size shouldBe stamps.size
  }

  test("commit race: two concurrent appends through the public API both survive") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.occ2")
    Seq((0L, "base")).toDF("k", "s").writeTo(s"$cat.ns.occ2").create() // v1+v2
    val vBase = GraftSink.listVersions(tablePath("occ2")).last
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fa = pool.submit(new Runnable {
        def run(): Unit = Seq.tabulate(50)(i => (100L + i, "a")).toDF("k", "s")
          .writeTo(s"$cat.ns.occ2").append()
      })
      val fb = pool.submit(new Runnable {
        def run(): Unit = Seq.tabulate(50)(i => (200L + i, "b")).toDF("k", "s")
          .writeTo(s"$cat.ns.occ2").append()
      })
      fa.get(120, java.util.concurrent.TimeUnit.SECONDS)
      fb.get(120, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    val got = spark.table(s"$cat.ns.occ2")
      .groupBy(col("s")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe Map("base" -> 1L, "a" -> 50L, "b" -> 50L)
    // both commits claimed their own slots: exactly two new versions
    GraftSink.listVersions(tablePath("occ2")).last shouldBe vBase + 2
  }

  test("commit race: a replace computed from a stale snapshot refuses instead of clobbering") {
    val p = freshSink("occ12c")
    spark.range(0, 5).selectExpr("id AS k")
      .write.format("graftsink").option("path", p).mode("overwrite").save() // v1
    // the write path's own replace plan: the base moves between plan
    // invocations → ConcurrentModificationException, never a silent
    // clobber of the interloper's commit
    val replace = graft.sources.StagedCommit.plan(p,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"), Nil,
      graft.sources.StagedCommit.BatchWording, replace = true, guarded = true)
    var calls = 0
    val ex = intercept[java.util.ConcurrentModificationException] {
      GraftSink.commitManifest(p, None) { () =>
        calls += 1
        val stale = replace() // reads the base, then...
        if (calls == 1) { // ...an interloper lands before the slot claim
          val prior = GraftSink.readManifest(p).get
          GraftSink.writeManifest(p, prior.copy(
            files = prior.files :+ GraftSink.Entry("x.tsv", rows = Some(1L)).line))
        }
        stale
      }
    }
    calls shouldBe 2 // the lost claim re-planned against the moved base
    ex.getMessage should include("concurrent commit during a replace")
    // the interloper's commit is intact
    GraftSink.readManifest(p).get.entries.map(_.name) should contain("x.tsv")
  }

  test("branch commits carry branch attribution in the version chain") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.occ4")
    Seq((1L, "m")).toDF("k", "s").writeTo(s"$cat.ns.occ4").create()
    Seq((2L, "b")).toDF("k", "s")
      .writeTo(s"$cat.ns.occ4").option("toBranch", "audit").append()
    val p = tablePath("occ4")
    val head = GraftSink.listVersions(p).last
    GraftSink.readManifest(p, Some(head)).get.ref shouldBe Some("branch.audit")
    GraftSink.readManifest(p).get.ref shouldBe Some("main")
  }

  // ------------------------------------------------------------------
  // ReplaceData marker guard (negative shape)
  // ------------------------------------------------------------------

  test("ReplaceData marker guard: a shifted row layout refuses loudly; the real marker encodes clean") {
    val p = freshSink("marker12")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, s STRING")
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    // 3-field row whose field 0 is NOT a row-operation marker — a
    // shifted data layout (int data column prefixed) must refuse
    // instead of silently encoding every column off by one
    val w = new graft.sources.GraftSinkRowWriter(p, schema, s"$p/_staging/q/x.tsv", 0)
    val ex = intercept[IllegalArgumentException] {
      w.write(InternalRow(123456, 1L, UTF8String.fromString("a")))
    }
    ex.getMessage should include("row-operation marker")
    w.abort()
    // the genuine prefixed-marker layout encodes the DATA columns
    val w2 = new graft.sources.GraftSinkRowWriter(p, schema, s"$p/_staging/q/y.tsv", 0)
    w2.write(InternalRow(
      org.apache.spark.sql.catalyst.util.RowDeltaUtils.WRITE_OPERATION,
      7L, UTF8String.fromString("z")))
    w2.commit()
    val f = GraftSink.fs(p)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      f.open(new org.apache.hadoop.fs.Path(s"$p/_staging/q/y.tsv")), "UTF-8"))
    try in.readLine() shouldBe "7\tz" finally in.close()
  }

  // ------------------------------------------------------------------
  // remove_orphans: age guard + namespace-level CTAS stage sweep
  // ------------------------------------------------------------------

  test("remove_orphans sweeps abandoned CTAS stages at the namespace level, age-guarded") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.gc1")
    Seq((1L, "a")).toDF("k", "s").writeTo(s"$cat.ns.gc1").create()
    val wh = graft.ops.Stage.dir("g12_warehouse")
    val f = GraftSink.fs(wh)
    // an abandoned CTAS stage: hidden .staged_<table>_<uuid> SIBLING of
    // the table (a crashed driver never ran abortStagedChanges)
    val stage = new org.apache.hadoop.fs.Path(s"$wh/ns/.staged_gc1_deadbeef")
    val out = f.create(new org.apache.hadoop.fs.Path(stage, "_manifest"), true)
    try out.write("k BIGINT\n".getBytes("UTF-8")) finally out.close()
    // default 10-min guard: the just-created stage is YOUNG — survives
    spark.sql(s"CALL $cat.sys.remove_orphans('ns.gc1')").collect()
    f.exists(stage) shouldBe true
    // quiescent sweep (older_than_min = 0) removes it
    val r = spark.sql(s"CALL $cat.sys.remove_orphans('ns.gc1', 0)").collect().head
    f.exists(stage) shouldBe false
    r.getLong(1) should be >= 1L
    // the live table is untouched
    spark.table(s"$cat.ns.gc1").count() shouldBe 1L
  }

  test("digit-only ref names resolve before snapshot numbers in changelog bounds") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.dref")
    Seq((1L, "a")).toDF("k", "s").writeTo(s"$cat.ns.dref").create()   // v1+v2
    Seq((2L, "b")).toDF("k", "s").writeTo(s"$cat.ns.dref").append()   // v3
    val p = tablePath("dref")
    spark.sql(s"CALL $cat.sys.create_tag('ns.dref', '2', 3)")
    // changesFrom='2' must mean TAG '2' (→ v3, exclusive → empty),
    // never snapshot 2 (which would serve v3's insert)
    spark.read.format("graftsink").option("path", p)
      .option("changesFrom", "2").load().count() shouldBe 0L
    // a bound with no matching ref still reads as a snapshot number
    spark.read.format("graftsink").option("path", p)
      .option("changesFrom", "1").load().count() should be >= 1L
  }

  test("string DEFAULT containing backslashes round-trips on BOTH the back-fill and insert paths") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.bsd")
    Seq((1L, "old")).toDF("k", "s").writeTo(s"$cat.ns.bsd").create()
    spark.sql(s"ALTER TABLE $cat.ns.bsd ADD COLUMNS (dir STRING DEFAULT 'C:\\\\temp')")
    spark.sql(s"INSERT INTO $cat.ns.bsd (k, s) VALUES (2, 'new')")
    val got = spark.table(s"$cat.ns.bsd").select(col("k"), col("dir"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got shouldBe Map(1L -> "C:\\temp", 2L -> "C:\\temp")
  }

  // ------------------------------------------------------------------
  // BINARY + ARRAY<FLOAT> codec
  // ------------------------------------------------------------------

  test("BINARY and ARRAY<FLOAT> columns round-trip bit-exactly through the sink") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.blob1")
    // escape-hostile payloads: tabs, newlines, backslashes, NUL, the
    // \N null sentinel as literal bytes, empty bytes, and null; vectors
    // incl. negative zero, subnormals, extremes, empty, and null
    val rows = Seq(
      (1L, "a\tb\nc\\d".getBytes("UTF-8"), Array(1.0f, -0.0f, Float.MinPositiveValue)),
      (2L, Array[Byte](0, 1, 2, -1, -128), Array(Float.MaxValue, -1.5e-30f)),
      (3L, "\\N".getBytes("UTF-8"), Array.empty[Float]),
      (4L, Array.empty[Byte], Array(3.14159f)),
      (5L, null.asInstanceOf[Array[Byte]], null.asInstanceOf[Array[Float]]))
    rows.toDF("k", "payload", "vec").writeTo(s"$cat.ns.blob1").create()
    val got = spark.table(s"$cat.ns.blob1").collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Array[Byte]]),
        Option(r.get(2)).map(_.asInstanceOf[scala.collection.Seq[Float]].toArray)))
      .sortBy(_._1)
    got.zip(rows).foreach { case ((k, p, v), (k0, p0, v0)) =>
      k shouldBe k0
      p.map(_.toSeq) shouldBe Option(p0).map(_.toSeq)
      // bit-exact lanes (floatToRawIntBits catches -0.0 vs 0.0 drift)
      v.map(_.map(java.lang.Float.floatToRawIntBits).toSeq) shouldBe
        Option(v0).map(_.map(java.lang.Float.floatToRawIntBits).toSeq)
    }
    // DVs and time travel work over the new types like any other column
    spark.sql(s"DELETE FROM $cat.ns.blob1 WHERE k = 2")
    spark.table(s"$cat.ns.blob1").count() shouldBe 4L
    val p = tablePath("blob1")
    spark.read.format("graftsink").option("path", p)
      .option("version", "2").load().count() shouldBe 5L
    // partitioning by a BINARY column is refused (no canonical string)
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ns.blob2 (k BIGINT, b BINARY) PARTITIONED BY (b)")
    }
  }

  // ------------------------------------------------------------------
  // Z-order rewrite
  // ------------------------------------------------------------------

  test("zorder rewrite: per-dim stats on every file; a 2-dim range query provably plans fewer files") {
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.zo1")
    // a 64x64 grid: the adversarial case for any single-column sort
    spark.range(0, 4096)
      .selectExpr("id AS k", "id % 64 AS c", "id div 64 AS d")
      .writeTo(s"$cat.ns.zo1").create()
    val audit = spark.sql(s"CALL $cat.sys.zorder('ns.zo1', 'c, d', 16)").collect().head
    audit.getLong(1) shouldBe 16L
    val p = tablePath("zo1")
    val mf = GraftSink.readManifest(p).get
    mf.files should have size 16
    // every file carries a min/max envelope on BOTH interleaved dims
    mf.entries.foreach { e =>
      e.stats.map(_._1).toSet shouldBe Set("c", "d")
    }
    // the 16x16 corner (1/16 of the grid) is ONE Z block — planning
    // must prune to a couple of files, not scan all 16
    val q = spark.table(s"$cat.ns.zo1")
      .filter(col("c") <= 15 && col("d") <= 15)
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    scans should not be empty
    val planned = scans.head.inputPartitions.size
    withClue(s"2-dim range query planned $planned of ${mf.files.size} files: ") {
      planned should be <= 4
    }
    // pruning never changes the result
    q.count() shouldBe 256L
    q.agg(sum(col("k"))).collect().head.getLong(0) shouldBe
      (0 until 64).flatMap(d => (0 until 16).map(c => if (d <= 15) d * 64L + c else -1L))
        .filter(_ >= 0).sum
    // a single-dim predicate prunes too (the Z property)
    val q2 = spark.table(s"$cat.ns.zo1").filter(col("c") === 3)
    val s2 = q2.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.inputPartitions.size
    s2 should be < 16
    q2.count() shouldBe 64L
    // DVs absorb through the rewrite; zorder on partitioned tables refuses
    intercept[Exception] {
      spark.sql(s"CALL $cat.sys.zorder('ns.zo1', 'c', 4)") // 1 column
    }
  }

  // ------------------------------------------------------------------
  // q408 / q409 formula replication
  // ------------------------------------------------------------------

  test("q408 exact-substring coverage: invariants hold and the interval-union identity is exact") {
    val rows = SparkEntry.queries("q408_exact_substr")(spark, sf).collect()
    rows should not be empty
    rows.foreach { r =>
      val (nDocs, withDup, covered, total) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      withDup should be <= nDocs
      covered should be <= total
      r.getDouble(5) shouldBe (covered.toDouble / total) +- 1e-6
    }
    // the equal-length interval-union identity on a hand case: hits at
    // positions 1,3,10 with k=7 cover [1,8)∪[3,10)∪[10,17) = 2+7+7 = 16
    val ps = Seq(1L, 3L, 10L)
    val k = 7L
    val contrib = ps.zip(ps.drop(1).map(Some(_)) :+ None).map {
      case (p, Some(n)) => math.min(k, n - p)
      case (p, None) => k
    }
    contrib.sum shouldBe 16L
    // against the brute-force union
    ps.flatMap(p => p until p + k).distinct.size shouldBe 16
  }

  test("q409 Kendall tau-b matches a scalar recomputation from the same cells") {
    import org.apache.spark.sql.functions.{floor => sfloor}
    val cells = Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(sfloor(col("value") / 10.0).cast("long").as("x"),
        hour(col("ts")).cast("long").as("y"))
      .groupBy("x", "y").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    var nc = 0L; var nd = 0L
    for ((x1, y1, c1) <- cells; (x2, y2, c2) <- cells if x1 < x2) {
      if (y1 < y2) nc += c1 * c2 else if (y1 > y2) nd += c1 * c2
    }
    val n = cells.map(_._3).sum
    val n1 = cells.groupBy(_._1).values.map(_.map(_._3).sum).map(c => c * (c - 1) / 2).sum
    val n2 = cells.groupBy(_._2).values.map(_.map(_._3).sum).map(c => c * (c - 1) / 2).sum
    val n0 = n * (n - 1) / 2
    val tau = (nc - nd) / (math.sqrt((n0 - n1).toDouble) * math.sqrt((n0 - n2).toDouble))
    val got = SparkEntry.queries("q409_kendall_tau")(spark, sf).collect().head
    got.getLong(0) shouldBe n
    got.getLong(1) shouldBe nc
    got.getLong(2) shouldBe nd
    got.getLong(3) shouldBe n1
    got.getLong(4) shouldBe n2
    got.getDouble(5) shouldBe (math.rint(tau * 1e6) / 1e6) +- 1e-9
    // tau must be a genuine correlation: bounded
    math.abs(got.getDouble(5)) should be <= 1.0
  }

  test("MERGE with NOT MATCHED BY SOURCE works under merge-on-read: DVs only, no rewrite") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.sync1")
    Seq((1L, "live", 10.0), (2L, "gone-even", 20.0), (3L, "gone-odd", 30.0),
      (4L, "live", 40.0)).toDF("k", "s", "v").writeTo(s"$cat.ns.sync1").create()
    spark.sql(s"ALTER TABLE $cat.ns.sync1 SET TBLPROPERTIES ('write.mode' = 'merge-on-read')")
    val p = tablePath("sync1")
    val filesBefore = GraftSink.readManifest(p).get.entries.map(_.name).toSet
    Seq((1L, "live", 11.0), (4L, "live", 44.0), (9L, "new", 99.0))
      .toDF("k", "s", "v").createOrReplaceTempView("feed12")
    spark.sql(s"""
      MERGE INTO $cat.ns.sync1 t USING feed12 f ON t.k = f.k
      WHEN MATCHED THEN UPDATE SET v = f.v
      WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (f.k, f.s, f.v)
      WHEN NOT MATCHED BY SOURCE AND t.k % 2 = 0 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET s = 'STALE'""")
    val got = spark.table(s"$cat.ns.sync1").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    got shouldBe Array((1L, "live", 11.0), (3L, "STALE", 30.0),
      (4L, "live", 44.0), (9L, "new", 99.0))
    // merge-on-read: the original data files survive under their names
    // (updates = DV + re-insert; deletes = DV only)
    val after = GraftSink.readManifest(p).get
    filesBefore.subsetOf(after.entries.map(_.name).toSet) shouldBe true
    after.entries.flatMap(_.deletes).length should be >= 4 // 1,3,4 updated + 2 deleted
  }

  // ------------------------------------------------------------------
  // Dynamic partition overwrite + REPLACE WHERE
  // ------------------------------------------------------------------

  test("dynamic partition overwrite replaces exactly the touched partitions") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.dyn1")
    spark.sql(s"CREATE TABLE $cat.ns.dyn1 (k BIGINT, g STRING, v DOUBLE) PARTITIONED BY (g)")
    Seq((1L, "g0", 1.0), (2L, "g1", 2.0), (3L, "g2", 3.0), (4L, "g1", 4.0))
      .toDF("k", "g", "v").writeTo(s"$cat.ns.dyn1").append()
    val p = tablePath("dyn1")
    val vBefore = GraftSink.listVersions(p).last
    // the reload touches ONLY g1 — g0/g2 survive untouched
    Seq((20L, "g1", 20.0)).toDF("k", "g", "v")
      .writeTo(s"$cat.ns.dyn1").overwritePartitions()
    val got = spark.table(s"$cat.ns.dyn1").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    got shouldBe Array((1L, "g0", 1.0), (3L, "g2", 3.0), (20L, "g1", 20.0))
    // one more time-travelable snapshot; the old state is intact
    GraftSink.listVersions(p).last shouldBe vBefore + 1
    spark.read.format("graftsink").option("path", p)
      .option("version", vBefore.toString).load().count() shouldBe 4L
    // dynamic overwrite on an unpartitioned table refuses
    intercept[Exception] {
      spark.sql(s"DROP TABLE IF EXISTS $cat.ns.dyn2")
      Seq((1L, "x")).toDF("k", "s").writeTo(s"$cat.ns.dyn2").create()
      Seq((2L, "y")).toDF("k", "s").writeTo(s"$cat.ns.dyn2").overwritePartitions()
    }
  }

  test("REPLACE WHERE: matching partitions replaced; out-of-predicate rows refuse") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.rw1")
    spark.sql(s"CREATE TABLE $cat.ns.rw1 (k BIGINT, g STRING, v DOUBLE) PARTITIONED BY (g)")
    Seq((1L, "g0", 1.0), (2L, "g1", 2.0), (3L, "g2", 3.0))
      .toDF("k", "g", "v").writeTo(s"$cat.ns.rw1").append()
    Seq((30L, "g2", 30.0)).toDF("k", "g", "v")
      .writeTo(s"$cat.ns.rw1").overwrite(col("g") === "g2")
    spark.table(s"$cat.ns.rw1").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted shouldBe
      Array((1L, "g0"), (2L, "g1"), (30L, "g2"))
    // a row OUTSIDE the replaced partition refuses loudly
    val ex = intercept[Exception] {
      Seq((9L, "g1", 9.0)).toDF("k", "g", "v")
        .writeTo(s"$cat.ns.rw1").overwrite(col("g") === "g0")
    }
    ex.getMessage should include("OUTSIDE")
    // a non-partition predicate refuses loudly
    intercept[Exception] {
      Seq((9L, "g0", 9.0)).toDF("k", "g", "v")
        .writeTo(s"$cat.ns.rw1").overwrite(col("v") > 1.0)
    }
    // a true-literal condition is a plain truncate
    Seq((7L, "g7", 7.0)).toDF("k", "g", "v")
      .writeTo(s"$cat.ns.rw1").overwrite(lit(true))
    spark.table(s"$cat.ns.rw1").count() shouldBe 1L
  }

  test("commit race: a claimed-but-not-yet-pointed snapshot is already the next commit's base") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.lag1")
    Seq((1L, "a")).toDF("k", "s").writeTo(s"$cat.ns.lag1").create()
    val p = tablePath("lag1")
    val f = GraftSink.fs(p)
    // simulate a racer that CLAIMED its slot (full content, main
    // attribution, newer ts) but has NOT moved the `_manifest` pointer
    // yet — the exact window a pointer-based base read would miss
    val m = GraftSink.readManifest(p).get
    val next = GraftSink.listVersions(p).last + 1
    val out1 = f.create(new org.apache.hadoop.fs.Path(p, "ghost.tsv"), true)
    try out1.write("77\t\\N\n".getBytes("UTF-8")) finally out1.close()
    val claimed = (s"${m.ddl}\tts:${m.ts.get + 1000}\tref:main" +:
      (m.files :+ GraftSink.Entry("ghost.tsv", rows = Some(1L)).line))
      .mkString("\n")
    val out2 = f.create(new org.apache.hadoop.fs.Path(p, s"_manifest.v$next"), false)
    try out2.write(claimed.getBytes("UTF-8")) finally out2.close()
    // an append planned NOW must base on the claimed snapshot — the
    // chain-derived mainHead sees it even though the pointer lags
    Seq((2L, "b")).toDF("k", "s").writeTo(s"$cat.ns.lag1").append()
    val names = GraftSink.readManifest(p).get.entries.map(_.name)
    names should contain("ghost.tsv")
    spark.table(s"$cat.ns.lag1").count() shouldBe 3L // base + ghost + append
  }

  // ------------------------------------------------------------------
  // Inventory bijection (the driver's own mechanical check)
  // ------------------------------------------------------------------

  test("SURVEY §2 rows, SparkEntry.queries, oracleSql, and golden/ are in exact bijection") {
    val surveyKeys = scala.io.Source.fromFile("SURVEY.md")(scala.io.Codec.UTF8).getLines()
      .filter(_.startsWith("| q"))
      .map(_.drop(2).takeWhile(_ != ' '))
      .filter(_.matches("q\\d+_\\w+"))
      .toSet
    val queryKeys = SparkEntry.queries.keySet
    val oracleKeys = SparkEntry.oracleSql.keySet
    val goldenKeys = new java.io.File("golden").listFiles()
      .map(_.getName.stripSuffix(".csv")).toSet
    withClue("declared queries missing a SURVEY §2 row: ") {
      (queryKeys -- surveyKeys) shouldBe empty
    }
    withClue("SURVEY §2 rows with no declared query: ") {
      (surveyKeys -- queryKeys) shouldBe empty
    }
    withClue("declared queries missing an oracle: ") {
      (queryKeys -- oracleKeys) shouldBe empty
    }
    withClue("oracles with no declared query: ") {
      (oracleKeys -- queryKeys) shouldBe empty
    }
    withClue("declared queries missing a golden file: ") {
      (queryKeys -- goldenKeys) shouldBe empty
    }
    withClue("golden files with no declared query: ") {
      (goldenKeys -- queryKeys) shouldBe empty
    }
  }

  test("every declared query has a BASELINE.md row") {
    val baseKeys = scala.io.Source.fromFile("BASELINE.md")(scala.io.Codec.UTF8).getLines()
      .filter(_.startsWith("| q"))
      .map(_.drop(2).takeWhile(_ != ' '))
      .filter(_.matches("q\\d+_\\w+"))
      .toSet
    withClue("declared queries missing a baseline row: ") {
      (SparkEntry.queries.keySet -- baseKeys) shouldBe empty
    }
  }

  test("grouped scan on an unpartitioned table is still refused") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.nopart")
    Seq((1L, "a")).toDF("k", "s").writeTo(s"$cat.ns.nopart").create()
    intercept[Exception] {
      spark.read.option("grouped", "true").table(s"$cat.ns.nopart").collect()
    }
  }
}
