package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.sources.GraftSink

/** Round-11 second-widening connector surfaces: ANALYZE column stats
  * (q389), atomic CTAS/RTAS (q390), bucket transforms (q391), orphan
  * cleanup (q392).
  */
class Round11cSpec extends AnyFunSuite with Matchers with SharedSpark {

  private val cat = "g11c"
  private def ensureCatalog(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      graft.ops.Stage.dir("g11c_warehouse"))
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
  }
  private def tablePath(name: String): String =
    s"${graft.ops.Stage.dir("g11c_warehouse")}/ns/$name"

  private def plannedSinkFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case f: graft.sources.GraftSinkFilePartition => f.name
        }
    }.flatten

  // ------------------------------------------------------------------
  // q389 — ANALYZE column stats
  // ------------------------------------------------------------------

  test("analyze_table: scan serves columnStats only while its snapshot is current") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.an1")
    Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String]), (4L, "a"))
      .toDF("k", "g").writeTo(s"$cat.ns.an1").create() // v1+v2
    spark.sql(s"CALL $cat.sys.analyze_table('ns.an1')").collect()
      .head.toSeq shouldBe Seq(2L, 2L, 4L)
    val p = tablePath("an1")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      GraftSink.readManifest(p).get.ddl)
    def stats(scan: graft.sources.GraftSinkScan) =
      scan.estimateStatistics().columnStats()
    val fresh = stats(new graft.sources.GraftSinkScan(p, schema, schema, None))
    fresh.size() shouldBe 2
    val byName = fresh.entrySet().toArray.map { e0 =>
      val e = e0.asInstanceOf[java.util.Map.Entry[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]]
      e.getKey.fieldNames()(0) -> e.getValue
    }.toMap
    byName("k").distinctCount().getAsLong shouldBe 4L
    byName("k").nullCount().getAsLong shouldBe 0L
    byName("g").distinctCount().getAsLong shouldBe 2L // NULL is not a value
    byName("g").nullCount().getAsLong shouldBe 1L
    // a pinned-version scan of the analyzed snapshot also serves them
    stats(new graft.sources.GraftSinkScan(p, schema, schema, Some(2))).size() shouldBe 2
    // column pruning serves only the required column's stats
    val kOnly = org.apache.spark.sql.types.StructType(schema.fields.filter(_.name == "k"))
    stats(new graft.sources.GraftSinkScan(p, schema, kOnly, None)).size() shouldBe 1
    // a PRUNED scan refuses stats (whole-snapshot NDV would overstate)
    stats(new graft.sources.GraftSinkScan(p, schema, schema, None,
      Map("k" -> (1L, 2L)), Map.empty, false)).size() shouldBe 0
    // any later commit stales them — the scan stops serving
    spark.sql(s"INSERT INTO $cat.ns.an1 VALUES (5, 'c')") // v3
    stats(new graft.sources.GraftSinkScan(p, schema, schema, None)).size() shouldBe 0
    // ...but the pinned analyzed snapshot still serves
    stats(new graft.sources.GraftSinkScan(p, schema, schema, Some(2))).size() shouldBe 2
    // the metadata table reports the staleness bit
    spark.table(s"$cat.ns.an1.column_stats")
      .select(col("stale")).distinct().collect().map(_.getBoolean(0)) shouldBe Array(true)
  }

  // ------------------------------------------------------------------
  // q390 — atomic CTAS / RTAS
  // ------------------------------------------------------------------

  test("staged CTAS: a failing SELECT leaves NO table; staged RTAS failure keeps old content") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.at1")
    // ANSI out-of-bounds access fails the write job mid-CTAS
    intercept[Exception] {
      spark.sql(s"""CREATE TABLE $cat.ns.at1 AS
        SELECT element_at(array(1L), CAST(id AS INT) + 10) AS k FROM range(5)""")
    }
    spark.catalog.tableExists(s"$cat.ns.at1") shouldBe false
    GraftSink.readManifest(tablePath("at1")) shouldBe None
    // a healthy CTAS publishes v1+v2 — byte-identical history to the
    // non-atomic path
    Seq((1L, "a"), (2L, "b")).toDF("k", "g").writeTo(s"$cat.ns.at1").create()
    GraftSink.listVersions(tablePath("at1")) shouldBe Seq(1, 2)
    // failed RTAS: old content intact, no new version
    intercept[Exception] {
      spark.sql(s"""REPLACE TABLE $cat.ns.at1 AS
        SELECT element_at(array(1L), CAST(id AS INT) + 10) AS k FROM range(5)""")
    }
    GraftSink.listVersions(tablePath("at1")) shouldBe Seq(1, 2)
    spark.table(s"$cat.ns.at1").count() shouldBe 2L
    // healthy RTAS: ONE new truncate snapshot in the SAME chain,
    // old snapshot still time-travelable
    spark.sql(s"REPLACE TABLE $cat.ns.at1 AS SELECT 9L AS n")
    GraftSink.listVersions(tablePath("at1")) shouldBe Seq(1, 2, 3)
    spark.table(s"$cat.ns.at1").collect().map(_.getLong(0)) shouldBe Array(9L)
    spark.sql(s"SELECT count(*) FROM $cat.ns.at1 VERSION AS OF 2")
      .collect().head.getLong(0) shouldBe 2L
    // no stage garbage is listed as a table
    spark.sql(s"SHOW TABLES IN $cat.ns").collect()
      .map(_.getString(1)).count(_.startsWith(".")) shouldBe 0
  }

  // ------------------------------------------------------------------
  // q391 — bucket transform
  // ------------------------------------------------------------------

  test("bucketed table: equality/IN plan only the matching buckets' files; DPP maps through the hash") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.bk1")
    spark.sql(s"""CREATE TABLE $cat.ns.bk1 (k BIGINT, v DOUBLE)
      PARTITIONED BY (bucket(4, k))""")
    spark.range(0, 64).selectExpr("id AS k", "cast(id as double) AS v")
      .writeTo(s"$cat.ns.bk1").append()
    val p = tablePath("bk1")
    val m = GraftSink.readManifest(p).get
    // every file carries a bucket tag; ids live in [0, 4)
    val tags = m.entries.flatMap(_.part)
    tags.length shouldBe m.files.length
    tags.foreach { t =>
      t should startWith("bucket(k)=")
      t.split("=")(1).toInt should (be >= 0 and be < 4)
    }
    // every row sits in the file matching ITS OWN hash — replay one key
    def bucketOf(k: Long): String = GraftSink.bucketIdOf(k, 4)
    val all = plannedSinkFiles(spark.table(s"$cat.ns.bk1"))
    val eq = plannedSinkFiles(spark.table(s"$cat.ns.bk1").filter(col("k") === 7L))
    eq.length should be < all.length
    // the planned files are exactly those tagged with k=7's bucket
    val wantTag = s"bucket(k)=${bucketOf(7L)}"
    m.entries.filter(e => eq.contains(e.name))
      .flatMap(_.part).distinct shouldBe Seq(wantTag)
    spark.table(s"$cat.ns.bk1").filter(col("k") === 7L)
      .select(col("v")).collect().map(_.getDouble(0)) shouldBe Array(7.0)
    // IN over two keys plans at most the two buckets' files
    val in2 = plannedSinkFiles(
      spark.table(s"$cat.ns.bk1").filter(col("k").isin(7L, 13L)))
    val okTags = Set(bucketOf(7L), bucketOf(13L)).map(b => s"bucket(k)=$b")
    m.entries.filter(e => in2.contains(e.name))
      .flatMap(_.part).toSet.subsetOf(okTags) shouldBe true
    // runtime (DPP) values map through the hash the same way
    val scan = new graft.sources.GraftSinkScan(p,
      org.apache.spark.sql.types.StructType.fromDDL(m.ddl),
      org.apache.spark.sql.types.StructType.fromDDL(m.ddl), None)
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    scan.filter(Array(new Predicate("IN", Array(E.column("k"),
      E.literal(java.lang.Long.valueOf(7L))))))
    scan.runtimeFilters shouldBe Map(s"bucket(k)" -> Set(bucketOf(7L)))
    // refusals: bucket+identity mix, clusterBy write, drop of the
    // bucket column
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ns.bkbad (k BIGINT, g STRING) " +
        "PARTITIONED BY (g, bucket(4, k))")
    }
    intercept[Exception] {
      spark.table(s"$cat.ns.bk1").write.format("graftsink")
        .option("path", p).option("clusterBy", "k").mode("append").save()
    }
    // bucket-column RENAME is supported since r14 (metadata-only
    // rekey): tags, the bucket prop, and pruning follow the new name
    spark.sql(s"ALTER TABLE $cat.ns.bk1 RENAME COLUMN k TO k2")
    GraftSink.bucketSpecOf(p) shouldBe Some(("k2", 4))
    GraftSink.readManifest(p).get.entries.flatMap(_.part)
      .foreach(_ should startWith("bucket(k2)="))
    spark.table(s"$cat.ns.bk1").filter(col("k2") === 7L)
      .select(col("v")).collect().map(_.getDouble(0)) shouldBe Array(7.0)
    plannedSinkFiles(spark.table(s"$cat.ns.bk1").filter(col("k2") === 7L))
      .length should be < all.length
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.ns.bk1 DROP COLUMN k2") }
    // grouped scans on a hash layout are SUPPORTED since round 12
    // (bucketed SPJ — Round12Spec): one partition per bucket id
    spark.read.format("graftsink").option("path", p)
      .option("grouped", "true").load().count() should be > 0L
  }

  // ------------------------------------------------------------------
  // q395 — column defaults
  // ------------------------------------------------------------------

  test("column defaults: zero-rewrite initial default, current default on insert, prop hygiene") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.cd1")
    Seq((1L, "x"), (2L, "y")).toDF("k", "g").writeTo(s"$cat.ns.cd1").create() // v1+v2
    val p = tablePath("cd1")
    val filesBefore = GraftSink.readManifest(p).get.files
    spark.sql(s"ALTER TABLE $cat.ns.cd1 ADD COLUMNS (t STRING DEFAULT 'L', n BIGINT DEFAULT 5)")
    // metadata-only: not one data file rewritten
    GraftSink.readManifest(p).get.files shouldBe filesBefore
    // pre-column files serve the INITIAL defaults, not NULL
    spark.table(s"$cat.ns.cd1").orderBy(col("k")).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(3))) shouldBe
      Array((1L, "L", 5L), (2L, "L", 5L))
    // the published schema carries CURRENT_DEFAULT metadata
    val meta = spark.table(s"$cat.ns.cd1").schema("t").metadata
    meta.getString("CURRENT_DEFAULT") shouldBe "'L'"
    // inserts: DEFAULT keyword and omitted-column both fill
    spark.sql(s"INSERT INTO $cat.ns.cd1 VALUES (3, 'z', DEFAULT, 9)")
    spark.sql(s"INSERT INTO $cat.ns.cd1 (k, g) VALUES (4, 'w')")
    spark.table(s"$cat.ns.cd1").filter(col("k") >= 3).orderBy(col("k")).collect()
      .map(r => (r.getString(2), r.getLong(3))) shouldBe Array(("L", 9L), ("L", 5L))
    // a snapshot pinned BEFORE the alter has no such column at all
    spark.read.format("graftsink").option("path", p).option("version", "2")
      .load().schema.fieldNames shouldBe Array("k", "g")
    // RENAME rekeys the default; DROP removes it
    spark.sql(s"ALTER TABLE $cat.ns.cd1 RENAME COLUMN t TO tier")
    GraftSink.columnDefaults(p).keySet should contain("tier")
    GraftSink.columnDefaults(p).keySet should not contain "t"
    spark.table(s"$cat.ns.cd1").filter(col("k") === 1).select(col("tier"))
      .collect().head.getString(0) shouldBe "L"
    spark.sql(s"ALTER TABLE $cat.ns.cd1 DROP COLUMN n")
    GraftSink.columnDefaults(p).keySet should not contain "n"
    // a re-added same-name column WITHOUT a default back-fills NULL
    spark.sql(s"ALTER TABLE $cat.ns.cd1 ADD COLUMNS (n BIGINT)")
    spark.table(s"$cat.ns.cd1").filter(col("k") === 1).select(col("n"))
      .collect().head.isNullAt(0) shouldBe true
    // CREATE TABLE with a default also lands (capability-gated path)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.cd2")
    spark.sql(s"CREATE TABLE $cat.ns.cd2 (k BIGINT, s STRING DEFAULT 'init')")
    spark.sql(s"INSERT INTO $cat.ns.cd2 (k) VALUES (1)")
    spark.table(s"$cat.ns.cd2").collect().head.getString(1) shouldBe "init"
  }

  // ------------------------------------------------------------------
  // q397 — streaming write into a partitioned table
  // ------------------------------------------------------------------

  test("streamed partitioned table: every file tagged, equality prunes, epochs exactly-once") {
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.ps1")
    spark.sql(s"CREATE TABLE $cat.ns.ps1 (bucket BIGINT, id BIGINT) PARTITIONED BY (bucket)")
    val p = tablePath("ps1")
    val stage = graft.ops.Stage.fresh("ps1_spec")
    spark.readStream.format("graftseq")
      .option("rows", "2000").option("slices", "2")
      .option("rowsPerBatch", "500").load()
      .select(col("bucket"), col("id"))
      .writeStream.format("graftsink")
      .option("path", p).option("checkpointLocation", s"$stage/ck")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
    val m = GraftSink.readManifest(p).get
    // every published file carries its bucket tag and an epoch marker
    m.entries.foreach { e =>
      e.part should not be empty
      e.name should include("-e")
    }
    // 4 epochs committed exactly once: one snapshot per non-empty batch
    GraftSink.listVersions(p).size should be >= 4
    // equality on the partition column plans only that bucket's files
    val one = spark.table(s"$cat.ns.ps1").filter(col("bucket") === 7L)
    val planned = plannedSinkFiles(one)
    planned should not be empty
    m.entries.filter(e => planned.contains(e.name))
      .flatMap(_.part).distinct shouldBe Seq("bucket=7")
    // and the content is complete: 2000 rows total, no dup, no loss
    spark.table(s"$cat.ns.ps1").count() shouldBe 2000L
    spark.table(s"$cat.ns.ps1").select(col("id")).distinct().count() shouldBe 2000L
    graft.ops.Stage.release(stage)
  }

  // ------------------------------------------------------------------
  // q398 — changelog bounds as refs
  // ------------------------------------------------------------------

  test("changelog bounds accept branch/tag refs and resolve to the same delta as numbers") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.bc1")
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").writeTo(s"$cat.ns.bc1").create() // v1+v2
    spark.sql(s"CALL $cat.sys.create_tag('ns.bc1', 'base', 2)").collect()
    val p = tablePath("bc1")
    Seq((3L, 3.0)).toDF("k", "v").write.format("graftsink").mode("append")
      .option("path", p).option("toBranch", "stage").save()                   // v3
    def delta(from: String, to: String) =
      spark.read.format("graftsink").option("path", p)
        .option("changesFrom", from).option("changesTo", to).load()
        .select(col("k"), col("_change"), col("_commit_version"))
        .collect().map(_.toSeq).sortBy(_.toString)
    delta("base", "stage") shouldBe delta("2", "3")
    delta("base", "stage").map(_.head) shouldBe Array(3L)
    intercept[Exception] {
      spark.read.format("graftsink").option("path", p)
        .option("changesFrom", "no_such_ref").load()
    }
  }

  // ------------------------------------------------------------------
  // q400 — size-aware compaction bins
  // ------------------------------------------------------------------

  test("compact_bins: one snapshot, DV absorption, pass-through singles, merged stats") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.cb1")
    spark.sql(s"CREATE TABLE $cat.ns.cb1 (g STRING, k BIGINT, v DOUBLE) " +
      "PARTITIONED BY (g) TBLPROPERTIES ('write.mode' = 'merge-on-read')")
    // tuple 'a': three small files (12 rows); tuple 'b': one big file
    // (right-sized, must pass through untouched)
    (0 until 3).foreach { i =>
      (0 until 4).map(j => ("a", (i * 4 + j).toLong, 1.0)).toDF("g", "k", "v")
        .writeTo(s"$cat.ns.cb1").append()
    }
    (100L until 150L).map(k => ("b", k, 2.0)).toDF("g", "k", "v")
      .writeTo(s"$cat.ns.cb1").append()
    spark.sql(s"DELETE FROM $cat.ns.cb1 WHERE g = 'a' AND k % 4 = 0") // DVs, no rewrite
    val p = tablePath("cb1")
    val mBefore = GraftSink.readManifest(p).get
    mBefore.entries.count(_.deletes.nonEmpty) should be >= 1
    val vBefore = GraftSink.listVersions(p).size
    val bName = mBefore.entries.find(_.part.contains("g=b")).map(_.name).get
    val audit = spark.sql(s"CALL $cat.sys.compact_bins('ns.cb1', 40)").collect().head
    audit.toSeq shouldBe Seq(4L, 2L, 1L) // 4 files -> a-bin + untouched b
    // exactly ONE new snapshot; 'b' passed through under its old name
    GraftSink.listVersions(p).size shouldBe vBefore + 1
    val mAfter = GraftSink.readManifest(p).get
    mAfter.entries.map(_.name) should contain(bName)
    // the rewritten bin absorbed its delete vectors
    mAfter.entries.foreach(_.deletes shouldBe empty)
    mAfter.entries.flatMap(_.part).sorted shouldBe Seq("g=a", "g=b")
    // content byte-identical: 9 live 'a' rows + 50 'b' rows
    spark.table(s"$cat.ns.cb1").groupBy(col("g")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe Map("a" -> 9L, "b" -> 50L)
    // old snapshot still serves the pre-compaction state
    spark.read.format("graftsink").option("path", p)
      .option("version", (vBefore).toString).load().count() shouldBe 59L
    // rows: segments on the bin reflect post-DV counts (metadata count intact)
    mAfter.entries.flatMap(_.rows).sum shouldBe 59L
  }

  // ------------------------------------------------------------------
  // q403 — SET/UNSET TBLPROPERTIES (write-mode flip)
  // ------------------------------------------------------------------

  test("write.mode flip: post-flip DELETE adds DVs without touching any file; UNSET restores COW") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.wm1")
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("k", "v")
      .writeTo(s"$cat.ns.wm1").create() // COW default
    val p = tablePath("wm1")
    spark.sql(s"ALTER TABLE $cat.ns.wm1 SET TBLPROPERTIES ('write.mode' = 'merge-on-read')")
    val before = GraftSink.readManifest(p).get.entries.map(_.name)
    spark.sql(s"DELETE FROM $cat.ns.wm1 WHERE k = 2")
    val after = GraftSink.readManifest(p).get
    // merge-on-read: identical file set, one DV position, content right
    after.entries.map(_.name) shouldBe before
    after.entries.map(_.deletes.length).sum shouldBe 1
    spark.table(s"$cat.ns.wm1").count() shouldBe 3L
    // UNSET returns to copy-on-write: the next DELETE rewrites files
    spark.sql(s"ALTER TABLE $cat.ns.wm1 UNSET TBLPROPERTIES ('write.mode')")
    spark.sql(s"DELETE FROM $cat.ns.wm1 WHERE k = 3")
    val cow = GraftSink.readManifest(p).get
    cow.entries.map(_.name).toSet
      .intersect(before.toSet) shouldBe Set.empty
    cow.entries.flatMap(_.deletes) shouldBe empty // DVs absorbed
    spark.table(s"$cat.ns.wm1").select(col("k")).collect()
      .map(_.getLong(0)).sorted shouldBe Array(1L, 4L)
    // refusals: non-write.* property, bad write.mode value
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.wm1 SET TBLPROPERTIES ('owner' = 'me')")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.wm1 SET TBLPROPERTIES ('write.mode' = 'banana')")
    }
  }

  // ------------------------------------------------------------------
  // q392 — orphan cleanup
  // ------------------------------------------------------------------

  test("remove_orphans keeps every snapshot-referenced file and is idempotent") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.or1")
    Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v").writeTo(s"$cat.ns.or1").create() // v1+v2
    spark.sql(s"INSERT INTO $cat.ns.or1 VALUES (3, 3.0)")                     // v3
    val p = tablePath("or1")
    val f = GraftSink.fs(p)
    def plant(rel: String): Unit = {
      val out = f.create(new org.apache.hadoop.fs.Path(p, rel), true)
      try out.write("x\n".getBytes("UTF-8")) finally out.close()
    }
    plant("stray-a.tsv"); plant("stray-b.tsv"); plant("_staging/dead/x.tsv")
    val referenced = GraftSink.listVersions(p).flatMap(v =>
      GraftSink.readManifest(p, Some(v)).get.entries.map(_.name)).toSet
    // default cutoff first: the just-planted strays are YOUNGER than
    // the 10-min guard, so nothing is swept (a concurrent write's
    // staged files would survive the same way)
    spark.sql(s"CALL $cat.sys.remove_orphans('ns.or1')").collect()
      .head.toSeq.take(2) shouldBe Seq(0L, 0L)
    f.exists(new org.apache.hadoop.fs.Path(p, "stray-a.tsv")) shouldBe true
    val r1 = spark.sql(s"CALL $cat.sys.remove_orphans('ns.or1', 0)").collect().head
    r1.getLong(0) shouldBe 2L // both strays
    r1.getLong(1) shouldBe 1L // the staging leftover
    r1.getLong(2) shouldBe referenced.size.toLong
    // every referenced file survived — all snapshots still read
    referenced.foreach(n => f.exists(new org.apache.hadoop.fs.Path(p, n)) shouldBe true)
    spark.table(s"$cat.ns.or1").count() shouldBe 3L
    spark.read.format("graftsink").option("path", p).option("version", "2")
      .load().count() shouldBe 2L
    // idempotent: a second sweep finds nothing
    spark.sql(s"CALL $cat.sys.remove_orphans('ns.or1', 0)").collect()
      .head.toSeq.take(2) shouldBe Seq(0L, 0L)
  }
}
