package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-13 surfaces: the commit-protocol hardening (atomic local slot
  * claims, guarded fix-forward pointer moves, scan-time base capture
  * for copy-on-write replaces) plus this round's catalog/procedure
  * additions.
  */
class Round13Spec extends AnyFunSuite with Matchers with SharedSpark {

  import graft.sources.GraftSink

  private val cat = "g13"
  private def ensureCatalog(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      graft.ops.Stage.dir("g13_warehouse"))
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
  }
  private def tablePath(name: String): String =
    s"${graft.ops.Stage.dir("g13_warehouse")}/ns/$name"

  private def freshSink(prefix: String): String =
    graft.ops.Stage.fresh(prefix).toString + "/t"

  // ------------------------------------------------------------------
  // Commit protocol: atomic claims under real contention
  // ------------------------------------------------------------------

  test("claim stress: N racing committers never share a slot and never lose an entry") {
    // the round-12 flake's root cause: RawLocalFileSystem's
    // create(overwrite=false) is exists-then-create, so two in-JVM
    // writers could both "claim" one slot and one body silently
    // truncated the other. The claim now goes through O_EXCL on the
    // file: scheme; this stress run (6 threads x 4 commits, no Spark
    // jobs, so the claims collide hard) must end with a gap-free chain
    // of exactly 1 + 24 versions and every writer's entries present.
    val p = freshSink("occ13stress")
    val f = GraftSink.fs(p)
    GraftSink.writeManifest(p, GraftSink.Manifest("k BIGINT", Nil)) // v1
    val threads = 6
    val perThread = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val tasks = (0 until threads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            start.await()
            (0 until perThread).foreach { i =>
              val name = s"w$t-$i.tsv"
              val out = f.create(new org.apache.hadoop.fs.Path(p, name), true)
              try out.write("1\n".getBytes("UTF-8")) finally out.close()
              GraftSink.commitManifest(p, None, maxAttempts = 64) { () =>
                val prior = GraftSink.mainHead(p).get
                prior.copy(files = prior.files :+
                  GraftSink.Entry(name, rows = Some(1L)).line, ts = None, ref = None)
              }
            }
          } catch { case e: Throwable => failures.add(e) }
        })
      }
      start.countDown()
      tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    failures.forEach(e => fail(s"racing committer threw: $e"))
    // gap-free chain, one slot per commit
    GraftSink.listVersions(p) shouldBe (1 to 1 + threads * perThread)
    // no lost updates: the head carries every writer's every entry
    val names = GraftSink.mainHead(p).get.entries.map(_.name).toSet
    val expected = (for (t <- 0 until threads; i <- 0 until perThread)
      yield s"w$t-$i.tsv").toSet
    names shouldBe expected
    // the PLAIN POINTER agrees with the chain head (fix-forward repair:
    // no stalled winner left it regressed)
    GraftSink.readManifest(p).get.entries.map(_.name).toSet shouldBe expected
    // ts stamps strictly monotone across all the races
    val stamps = GraftSink.listVersions(p)
      .map(v => GraftSink.readManifest(p, Some(v)).get.ts.get)
    stamps shouldBe stamps.sorted
    stamps.distinct.size shouldBe stamps.size
  }

  test("pointer repair: a stalled winner cannot regress the main pointer over a newer commit") {
    // deterministic replay of the regression interleave: A claims v2 by
    // writing the slot file DIRECTLY (simulating a winner that stalled
    // before its pointer move), B then commits v3 through the public
    // API (pointer -> v3). A's advance step is then replayed via one
    // more public commit; at no point may the pointer serve v2.
    val p = freshSink("occ13ptr")
    GraftSink.writeManifest(p, GraftSink.Manifest("k BIGINT", Nil)) // v1
    val v1ts = GraftSink.readManifest(p).get.ts.get
    // A: slot v2 claimed (chain-visible), pointer NOT moved — the stall
    val f = GraftSink.fs(p)
    val aBody = s"k BIGINT\tts:${v1ts + 1}\tref:main\n" +
      GraftSink.Entry("a.tsv", rows = Some(1L)).line
    val out = f.create(
      new org.apache.hadoop.fs.Path(p, s"${GraftSink.MANIFEST}.v2"), false)
    try out.write(aBody.getBytes("UTF-8")) finally out.close()
    // B: a real commit — plans from the CHAIN head (sees A's v2), takes
    // v3, and its pointer advance must land on v3, A's claim included
    GraftSink.commitManifest(p, None) { () =>
      val prior = GraftSink.mainHead(p).get
      prior.copy(files = prior.files :+
        GraftSink.Entry("b.tsv", rows = Some(1L)).line, ts = None, ref = None)
    }
    GraftSink.listVersions(p).last shouldBe 3
    val ptr = GraftSink.readManifest(p).get
    ptr.entries.map(_.name) should contain("b.tsv")
    ptr.entries.map(_.name) should contain("a.tsv") // rebased onto A
    ptr.ts shouldBe GraftSink.readManifest(p, Some(3)).get.ts
    // A resumes: its advance (modeled by any later advance — here a
    // no-op commit) must NOT move the pointer backwards
    GraftSink.commitManifest(p, None) { () =>
      GraftSink.mainHead(p).get.copy(ts = None, ref = None)
    }
    GraftSink.readManifest(p).get.ts shouldBe
      GraftSink.readManifest(p, Some(4)).get.ts
  }

  test("COW replace refuses when a commit lands between its scan and its first commit attempt") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.cow13")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
      .writeTo(s"$cat.ns.cow13").create()
    val p = tablePath("cow13")
    // interloper commit lands AFTER the head the DELETE will scan, but
    // BEFORE the DELETE's commit: with eager DML there is no external
    // hook between Spark's scan and commit, so drive the copy-on-write
    // batch write itself, seeded with the scan-time base the row-level
    // operation hands it — it must refuse once the head moves, ON ITS
    // FIRST ATTEMPT
    val scanTs = GraftSink.mainHead(p).flatMap(_.ts)
    // interloper: a real append moves the head
    Seq((9L, "z")).toDF("k", "s").writeTo(s"$cat.ns.cow13").append()
    val versions = GraftSink.listVersions(p)
    val cow = new graft.sources.GraftSinkBatchWrite(p,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, s STRING"),
      "cow13-rewrite", truncate = true, scanBaseTs = Some(scanTs))
    val ex = intercept[java.util.ConcurrentModificationException] {
      cow.commit(Array.empty)
    }
    ex.getMessage should include("concurrent commit during a replace")
    // no writer raced this commit, so only the seed can have refused it
    // — on the FIRST attempt, before any slot was claimed
    GraftSink.listVersions(p) shouldBe versions
    // and the real DML path wires the seed end-to-end: a plain DELETE
    // with no interloper still works (the seed matches the head)
    spark.sql(s"DELETE FROM $cat.ns.cow13 WHERE k = 2")
    spark.table(s"$cat.ns.cow13").orderBy("k").as[(Long, String)].collect() shouldBe
      Seq((1L, "a"), (3L, "c"), (9L, "z"))
  }

  test("expectedBaseTs write option: a rewrite planned against a moved base refuses on its first attempt") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.ebt13")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").writeTo(s"$cat.ns.ebt13").create()
    val p = tablePath("ebt13")
    val plannedBase = GraftSink.mainHead(p).flatMap(_.ts).get
    // interloper: the head moves after the rewrite "planned"
    Seq((3L, 30L)).toDF("k", "v").writeTo(s"$cat.ns.ebt13").append()
    val ex = intercept[Exception] {
      spark.table(s"$cat.ns.ebt13")
        .write.format("graftsink").mode("overwrite")
        .option("path", p).option("expectedBaseTs", plannedBase.toString)
        .save()
    }
    ex.getMessage should include("concurrent commit")
    // the interloper's row survives — nothing was clobbered
    spark.table(s"$cat.ns.ebt13").count() shouldBe 3L
    // with a FRESH base the same rewrite commits
    val fresh = GraftSink.mainHead(p).flatMap(_.ts).get
    spark.table(s"$cat.ns.ebt13").filter(col("k") =!= 2)
      .write.format("graftsink").mode("overwrite")
      .option("path", p).option("expectedBaseTs", fresh.toString).save()
    spark.table(s"$cat.ns.ebt13").orderBy("k").as[(Long, Long)].collect() shouldBe
      Seq((1L, 10L), (3L, 30L))
  }

  // ------------------------------------------------------------------
  // k-dimensional Z-order with write-path stats (q414 / q407 engine)
  // ------------------------------------------------------------------

  test("3-dim zorder: per-dim in-writer stats on every file; a 3-dim corner query provably plans fewer files") {
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.zo3")
    // a 16x16x16 cube: adversarial for any single-column sort
    spark.range(0, 4096)
      .selectExpr("id AS k", "id % 16 AS c", "(id div 16) % 16 AS d", "id div 256 AS e")
      .writeTo(s"$cat.ns.zo3").create()
    val audit = spark.sql(s"CALL $cat.sys.zorder('ns.zo3', 'c, d, e', 16)").collect().head
    audit.getLong(1) shouldBe 16L
    val p = tablePath("zo3")
    val mf = GraftSink.readManifest(p).get
    mf.files should have size 16
    // every file carries min/max envelopes on ALL THREE dims — written
    // by the writer tasks themselves (statsCols), no stats job ran
    mf.entries.foreach { e =>
      e.stats.map(_._1).toSet shouldBe Set("c", "d", "e")
    }
    // the 8x8x8 corner (1/8 of the cube) is one Z block: planning must
    // prune most of the 16 files
    val q = spark.table(s"$cat.ns.zo3")
      .filter(col("c") <= 7 && col("d") <= 7 && col("e") <= 7)
    val planned = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.inputPartitions.size
    withClue(s"3-dim corner planned $planned of ${mf.files.size} files: ") {
      planned should be <= 4
    }
    // pruning never changes the result
    q.count() shouldBe 512L
    // single-dim predicates prune too (the Z property holds per dim)
    val s2 = spark.table(s"$cat.ns.zo3").filter(col("e") === 2)
      .queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head.inputPartitions.size
    s2 should be < 16
    // arity guards: 1 and 5 columns refuse
    intercept[Exception] {
      spark.sql(s"CALL $cat.sys.zorder('ns.zo3', 'c', 4)")
    }
    intercept[Exception] {
      spark.sql(s"CALL $cat.sys.zorder('ns.zo3', 'c, d, e, k, c', 4)")
    }
  }

  // ------------------------------------------------------------------
  // Sketch-backed ANALYZE (q415)
  // ------------------------------------------------------------------

  test("analyze_sketch: exact below k, banded estimate above k, same staleness contract as analyze_table") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.sk13")
    // wide: 500 distinct (estimation path); narrow: 7 distinct with
    // nulls (exact path — the sketch IS the distinct set below k=64)
    spark.range(0, 1000)
      .selectExpr("id % 500 AS wide",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE id % 7 END AS narrow")
      .writeTo(s"$cat.ns.sk13").create()
    spark.sql(s"CALL $cat.sys.analyze_sketch('ns.sk13')").collect()
      .head.getLong(2) shouldBe 1000L
    val st = spark.table(s"$cat.ns.sk13.column_stats")
      .select(col("col_name"), col("ndv"), col("nulls"), col("stale"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    st("narrow")._1 shouldBe 7L // below k: exact by construction
    st("narrow")._2 shouldBe 200L // null counts stay exact
    st("narrow")._3 shouldBe false
    // above k: KMV(64) estimate — stderr ~1/sqrt(64)=12.5%; band at 4 sigma
    val est = st("wide")._1
    withClue(s"KMV estimate $est for true NDV 500: ") {
      est should be >= 250L
      est should be <= 750L
    }
    // staleness is structural: ANY later commit stales the stats
    Seq((9999L, 1L)).toDF("wide", "narrow").writeTo(s"$cat.ns.sk13").append()
    spark.table(s"$cat.ns.sk13.column_stats")
      .filter(col("stale") === false).count() shouldBe 0L
  }

  test("compact preserves the file-skipping stats the base snapshot recorded") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.cps13")
    spark.sql(s"CREATE TABLE $cat.ns.cps13 (k BIGINT, v BIGINT)")
    val p = tablePath("cps13")
    // clustered write records per-file min/max of k
    spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
      .write.format("graftsink").mode("append")
      .option("path", p).option("clusterBy", "k").option("layout", "range")
      .option("shards", "8").save()
    GraftSink.readManifest(p).get.entries
      .flatMap(_.stats).map(_._1).distinct shouldBe Seq("k")
    spark.sql(s"CALL $cat.sys.compact('ns.cps13', 2)").collect()
    val mf = GraftSink.readManifest(p).get
    mf.entries.filter(_.rows.exists(_ > 0)).foreach { e =>
      withClue(s"compacted entry lost its stats: ${e.line} ") {
        e.stats.map(_._1) shouldBe Seq("k")
      }
    }
    // envelopes stay exact: the recorded global min/max equal the data's
    val exts = mf.entries.flatMap(_.stats)
    exts.map(_._2).min shouldBe 0L
    exts.map(_._3).max shouldBe 999L
    spark.table(s"$cat.ns.cps13").count() shouldBe 1000L
  }

  test("incremental analyze: appends resketch only new files, DV changes resketch their file, merge equals full") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.ia13")
    spark.range(0, 400).selectExpr("id % 150 AS w", "id % 7 AS nr")
      .coalesce(2).writeTo(s"$cat.ns.ia13")
      .tableProperty("write.mode", "merge-on-read").create()
    val a1 = spark.sql(s"CALL $cat.sys.analyze_sketch('ns.ia13')").collect().head
    a1.getLong(2) shouldBe 400L
    val full1 = a1.getLong(3) // every file sketched on the first pass
    full1 should be >= 1L
    val ndv1 = spark.table(s"$cat.ns.ia13.column_stats")
      .filter(col("col_name") === "w").collect().head.getLong(1)
    // append ONE file → exactly one file resketched
    spark.range(1000, 1100).selectExpr("id AS w", "id % 7 AS nr")
      .coalesce(1).writeTo(s"$cat.ns.ia13").append()
    val a2 = spark.sql(s"CALL $cat.sys.analyze_sketch('ns.ia13')").collect().head
    a2.getLong(2) shouldBe 500L
    a2.getLong(3) shouldBe 1L
    // the merged estimate equals a FULL resketch: force one by dropping
    // the sidecar and re-analyzing
    val merged = spark.table(s"$cat.ns.ia13.column_stats")
      .filter(col("col_name") === "w").collect().head.getLong(1)
    merged should be > ndv1
    GraftSink.fs(tablePath("ia13")).delete(
      new org.apache.hadoop.fs.Path(tablePath("ia13"), "_colsketch"), false)
    val a3 = spark.sql(s"CALL $cat.sys.analyze_sketch('ns.ia13')").collect().head
    a3.getLong(3) should be > 1L // everything resketched
    spark.table(s"$cat.ns.ia13.column_stats")
      .filter(col("col_name") === "w").collect().head.getLong(1) shouldBe merged
    // a DV change (MOR delete) invalidates exactly the touched file's
    // sketch — and null/row counts follow the VISIBLE rows
    spark.sql(s"DELETE FROM $cat.ns.ia13 WHERE w = 1000")
    val a4 = spark.sql(s"CALL $cat.sys.analyze_sketch('ns.ia13')").collect().head
    a4.getLong(2) shouldBe 499L
    a4.getLong(3) shouldBe 1L // only the DV'd file re-streamed
    // nothing changed → zero files resketched (pure metadata pass)
    spark.sql(s"CALL $cat.sys.analyze_sketch('ns.ia13')")
      .collect().head.getLong(3) shouldBe 0L
  }

  // ------------------------------------------------------------------
  // DV-aware expire_snapshots
  // ------------------------------------------------------------------

  test("expire applies a universally-agreed delete vector: manifests shrink, reads stay byte-identical") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.dvx13")
    Seq.tabulate(20)(i => (i.toLong, s"v$i")).toDF("k", "s")
      .writeTo(s"$cat.ns.dvx13")
      .tableProperty("write.mode", "merge-on-read").create() // v1+v2
    spark.sql(s"DELETE FROM $cat.ns.dvx13 WHERE k % 5 = 0")  // v3: DV, no rewrite
    Seq((100L, "x")).toDF("k", "s").writeTo(s"$cat.ns.dvx13").append() // v4
    val p = tablePath("dvx13")
    val before = spark.table(s"$cat.ns.dvx13").orderBy("k").collect().toSeq
    // v3 and v4 both reference the original file with the SAME dv
    val dvBefore = GraftSink.readManifest(p).get.entries
      .map(_.deletes).map(_.length).sum
    dvBefore should be > 0
    // keep=2 keeps v3+v4 — every surviving reference agrees on the dv,
    // so expire applies it physically
    val audit = spark.sql(s"CALL $cat.sys.expire_snapshots('ns.dvx13', 2)")
      .collect().head
    audit.getLong(0) shouldBe 2L // v1, v2 dropped
    // dead position lists left EVERY retained manifest (incl. the
    // pointer copy) ...
    GraftSink.listVersions(p).foreach { v =>
      GraftSink.readManifest(p, Some(v)).get.entries
        .flatMap(_.deletes) shouldBe empty
    }
    GraftSink.readManifest(p).get.entries
      .flatMap(_.deletes) shouldBe empty
    // ... and reads are byte-identical, head AND time-travel
    spark.table(s"$cat.ns.dvx13").orderBy("k").collect().toSeq shouldBe before
    spark.read.format("graftsink").option("path", p)
      .option("version", "3").load().count() shouldBe 16L // 20 - 4 deleted
    // metadata row counts adjusted with the applied dv
    GraftSink.readManifest(p).get.entries
      .flatMap(_.rows).sum shouldBe 17L // 16 survivors + 1 append
    // a file whose kept snapshots DISAGREE on the dv is left alone
    // (coalesce(1): both DELETEs must hit the SAME file — across
    // different files the per-file signatures agree and applying is
    // correct, which is scenario 1)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.dvy13")
    Seq.tabulate(10)(i => (i.toLong, s"v$i")).toDF("k", "s").coalesce(1)
      .writeTo(s"$cat.ns.dvy13")
      .tableProperty("write.mode", "merge-on-read").create() // v1+v2
    spark.sql(s"DELETE FROM $cat.ns.dvy13 WHERE k = 1") // v3: dv [1]
    spark.sql(s"DELETE FROM $cat.ns.dvy13 WHERE k = 2") // v4: dv [1,2]
    val py = tablePath("dvy13")
    val beforeY = spark.table(s"$cat.ns.dvy13").orderBy("k").collect().toSeq
    spark.sql(s"CALL $cat.sys.expire_snapshots('ns.dvy13', 2)").collect() // keeps v3+v4
    // v3 sees dv [1], v4 sees [1,2] — signatures differ, nothing applied
    GraftSink.readManifest(py).get.entries
      .flatMap(_.deletes).length shouldBe 2
    spark.table(s"$cat.ns.dvy13").orderBy("k").collect().toSeq shouldBe beforeY
  }
}
