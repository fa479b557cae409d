package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Round-14 surfaces: the count-pushdown/files-subset interaction fix,
  * version-stamped ANALYZE, and this round's table-format additions
  * (partition-spec evolution, field-id column rename, manifest
  * grouping).
  */
class Round14Spec extends AnyFunSuite with Matchers with SharedSpark {

  import graft.sources.GraftSink

  private val cat = "g14"
  private def ensureCatalog(): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      graft.ops.Stage.dir("g14_warehouse"))
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ns")
  }
  private def tablePath(name: String): String =
    s"${graft.ops.Stage.dir("g14_warehouse")}/ns/$name"

  private def plannedSinkFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.collect {
          case f: graft.sources.GraftSinkFilePartition => f.name
        }
    }.flatten

  // ------------------------------------------------------------------
  // files-subset scans must NOT ride the whole-manifest count pushdown
  // ------------------------------------------------------------------

  test("count(*) on a files-subset read counts the subset, not the manifest") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.fsc14")
    // two files with different row counts so subset != total is evident
    spark.range(0, 30).selectExpr("id AS k").coalesce(1)
      .writeTo(s"$cat.ns.fsc14").create()
    spark.range(100, 170).selectExpr("id AS k").coalesce(1)
      .writeTo(s"$cat.ns.fsc14").append()
    val p = tablePath("fsc14")
    val m = GraftSink.mainHead(p).get
    val byRows = m.entries.map(e => e.name -> e.rows.get).toMap
    byRows.values.toSeq.sorted shouldBe Seq(30L, 70L)
    val (small, _) = byRows.find(_._2 == 30L).get
    // whole-table count still pushes down to the manifest sum
    spark.read.format("graftsink").option("path", p).load()
      .count() shouldBe 100L
    // subset count must scan (or otherwise bound itself to) ONLY the
    // named file — the r13 bug summed the whole manifest here
    spark.read.format("graftsink").option("path", p)
      .option("files", small).load().count() shouldBe 30L
    // and the subset's rows really are that file's rows
    spark.read.format("graftsink").option("path", p)
      .option("files", small).load()
      .agg(max(col("k"))).collect().head.getLong(0) shouldBe 29L
  }

  // ------------------------------------------------------------------
  // ANALYZE stamps the version it actually scanned
  // ------------------------------------------------------------------

  test("versionOf resolves each snapshot's manifest back to its own version") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.vo14")
    Seq(1L).toDF("k").writeTo(s"$cat.ns.vo14").create()
    Seq(2L).toDF("k").writeTo(s"$cat.ns.vo14").append()
    Seq(3L).toDF("k").writeTo(s"$cat.ns.vo14").append()
    val p = tablePath("vo14")
    val vs = GraftSink.listVersions(p)
    vs.size should be >= 3
    vs.foreach { v =>
      val m = GraftSink.readManifest(p, Some(v)).get
      withClue(s"v$v: ") { GraftSink.versionOf(p, m) shouldBe Some(v) }
    }
    // analyze stamps the CURRENT head's version (not a later one)
    val head = vs.last
    spark.sql(s"CALL $cat.sys.analyze_sketch('ns.vo14')").collect()
      .head.getLong(0) shouldBe head.toLong
  }

  // ------------------------------------------------------------------
  // Partition-spec evolution
  // ------------------------------------------------------------------

  test("set_partitioning: metadata-only commit; both generations prune exactly; mixed-gen guards refuse") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.spe14")
    spark.sql(s"CREATE TABLE $cat.ns.spe14 (k BIGINT, region STRING, day BIGINT) " +
      s"PARTITIONED BY (region)")
    val p = tablePath("spe14")
    Seq.tabulate(12)(i => (i.toLong, if (i % 2 == 0) "eu" else "us", (i % 3).toLong))
      .toDF("k", "region", "day").writeTo(s"$cat.ns.spe14").append() // gen-1 files
    val gen1 = GraftSink.mainHead(p).get.entries.map(_.name).toSet
    val vBefore = GraftSink.listVersions(p).last
    // evolve region → day
    val out = spark.sql(s"CALL $cat.sys.set_partitioning('ns.spe14', 'day')")
      .collect().head
    out.getString(1) shouldBe "region"
    out.getString(2) shouldBe "day"
    // the evolution is a FILES-UNCHANGED versioned commit
    out.getLong(0) shouldBe (vBefore + 1).toLong
    GraftSink.readManifest(p, Some(vBefore + 1)).get
      .entries.map(_.name).toSet shouldBe gen1
    GraftSink.partitionColsOf(p) shouldBe Seq("day")
    GraftSink.partitionHistoryOf(p) shouldBe Seq("region")
    // gen-2 writes route by the NEW spec
    Seq((100L, "eu", 7L), (101L, "us", 8L)).toDF("k", "region", "day")
      .writeTo(s"$cat.ns.spe14").append()
    val m = GraftSink.mainHead(p).get
    val gen2 = m.entries.filterNot(e => gen1(e.name))
    gen2.flatMap(_.part).foreach(_ should startWith("day="))
    m.entries.filter(e => gen1(e.name))
      .flatMap(_.part).foreach(_ should startWith("region="))
    // correctness across mixed generations
    spark.table(s"$cat.ns.spe14").count() shouldBe 14L
    // pruning per generation: a predicate on the OLD spec column prunes
    // gen-1 files exactly (gen-2 files pass through untouched) ...
    val euPlan = plannedSinkFiles(
      spark.table(s"$cat.ns.spe14").filter(col("region") === "eu"))
    euPlan.toSet.intersect(gen1) shouldBe
      m.entries.filter(_.part.contains("region=eu")).map(_.name).toSet
    gen2.map(_.name).forall(euPlan.contains) shouldBe true
    // ... and a predicate on the NEW spec column prunes gen-2 exactly
    val d7Plan = plannedSinkFiles(
      spark.table(s"$cat.ns.spe14").filter(col("day") === 7L))
    d7Plan should contain theSameElementsAs
      (gen1 ++ m.entries.filter(_.part.contains("day=7")).map(_.name)).toSeq
    spark.table(s"$cat.ns.spe14").filter(col("region") === "eu").count() shouldBe 7L
    spark.table(s"$cat.ns.spe14").filter(col("day") === 7L).count() shouldBe 1L
    // mixed-generation guards: partial overwrite and grouped scan refuse
    intercept[Exception] {
      Seq((200L, "eu", 7L)).toDF("k", "region", "day")
        .writeTo(s"$cat.ns.spe14").overwritePartitions()
    }
    intercept[Exception] {
      // a real column read (count() would ride the metadata pushdown
      // and never plan key-grouped partitions)
      spark.read.format("graftsink").option("path", p)
        .option("grouped", "true").load().select(col("k")).collect()
    }
    // incompatible-transform refusals
    intercept[Exception] {
      spark.sql(s"CALL $cat.sys.set_partitioning('ns.spe14', 'bucket(4, k)')")
    }
    intercept[Exception] {
      spark.sql(s"CALL $cat.sys.set_partitioning('ns.spe14', 'nope')")
    }
    // a full rewrite retags everything under the CURRENT spec, after
    // which the partial-overwrite path works again
    spark.table(s"$cat.ns.spe14")
      .select(col("k"), col("region"), col("day"))
      .write.format("graftsink").mode("overwrite").option("path", p).save()
    GraftSink.mainHead(p).get.entries
      .flatMap(_.part).foreach(_ should startWith("day="))
    Seq((200L, "xx", 7L)).toDF("k", "region", "day")
      .writeTo(s"$cat.ns.spe14").overwritePartitions()
    spark.table(s"$cat.ns.spe14").filter(col("day") === 7L)
      .select(col("k")).collect().map(_.getLong(0)) shouldBe Array(200L)
    spark.table(s"$cat.ns.spe14").count() shouldBe 14L // day=7 had 1 row; 14 - 1 + 1
  }

  test("set_partitioning to '' unpartitions; bucket tables refuse evolution") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.spu14")
    spark.sql(s"CREATE TABLE $cat.ns.spu14 (k BIGINT, g STRING) PARTITIONED BY (g)")
    Seq((1L, "a"), (2L, "b")).toDF("k", "g").writeTo(s"$cat.ns.spu14").append()
    spark.sql(s"CALL $cat.sys.set_partitioning('ns.spu14', '')").collect()
      .head.getString(2) shouldBe ""
    val p = tablePath("spu14")
    GraftSink.partitionColsOf(p) shouldBe Nil
    GraftSink.partitionHistoryOf(p) shouldBe Seq("g")
    // post-evolution writes are UNpartitioned (no tuple router, no tag)
    Seq((3L, "c")).toDF("k", "g").writeTo(s"$cat.ns.spu14").append()
    val m = GraftSink.mainHead(p).get
    m.entries.flatMap(_.part).foreach(_ should startWith("g="))
    spark.table(s"$cat.ns.spu14").count() shouldBe 3L
    // old-gen pruning still exact through the history prop
    spark.table(s"$cat.ns.spu14").filter(col("g") === "a").count() shouldBe 1L
    // bucket layouts refuse evolution
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.spb14")
    spark.sql(s"CREATE TABLE $cat.ns.spb14 (k BIGINT, g STRING) " +
      s"PARTITIONED BY (bucket(4, k))")
    intercept[Exception] {
      spark.sql(s"CALL $cat.sys.set_partitioning('ns.spb14', 'g')")
    }
  }

  test("history-column rename rekeys old-generation tags and keeps pruning exact") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.hr14")
    spark.sql(s"CREATE TABLE $cat.ns.hr14 (k BIGINT, src STRING, day BIGINT) " +
      s"PARTITIONED BY (src)")
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("k", "src", "day")
      .writeTo(s"$cat.ns.hr14").append()
    spark.sql(s"CALL $cat.sys.set_partitioning('ns.hr14', 'day')").collect()
    Seq((3L, "c", 3L)).toDF("k", "src", "day").writeTo(s"$cat.ns.hr14").append()
    // rename the HISTORY column: old-gen tags rekey, history prop follows
    spark.sql(s"ALTER TABLE $cat.ns.hr14 RENAME COLUMN src TO source")
    val p = tablePath("hr14")
    GraftSink.partitionHistoryOf(p) shouldBe Seq("source")
    GraftSink.mainHead(p).get.entries.flatMap(_.part)
      .filter(_.startsWith("s")).foreach(_ should startWith("source="))
    spark.table(s"$cat.ns.hr14").filter(col("source") === "a")
      .select(col("k")).collect().map(_.getLong(0)) shouldBe Array(1L)
    plannedSinkFiles(spark.table(s"$cat.ns.hr14")
      .filter(col("source") === "a")).length shouldBe 2 // gen-1 match + gen-2 passthrough
  }

  test("DV fold then the first rename keep part:, every stats: envelope and cols: on every file") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.seg14")
    spark.sql(s"CREATE TABLE $cat.ns.seg14 (k BIGINT, c BIGINT, d BIGINT, g STRING) " +
      "TBLPROPERTIES ('write.mode'='merge-on-read')")
    spark.range(0, 64)
      .selectExpr("id AS k", "id % 8 AS c", "id div 8 AS d", "cast(id % 2 AS STRING) AS g")
      .writeTo(s"$cat.ns.seg14").append()
    // gen-1: Z-ordered files, one stats: envelope per interleaved dim
    spark.sql(s"CALL $cat.sys.zorder('ns.seg14', 'c, d', 4)").collect()
    // gen-2: part:-tagged files under the evolved spec
    spark.sql(s"CALL $cat.sys.set_partitioning('ns.seg14', 'g')").collect()
    Seq((100L, 1L, 1L, "x"), (101L, 2L, 2L, "x"), (102L, 3L, 3L, "y"))
      .toDF("k", "c", "d", "g").writeTo(s"$cat.ns.seg14").append()
    spark.sql(s"DELETE FROM $cat.ns.seg14 WHERE k % 5 = 0") // the DV fold, both gens
    val p = tablePath("seg14")
    val before = GraftSink.mainHead(p).get.entries
    before.filter(_.stats.nonEmpty).map(_.stats.map(_._1)).distinct shouldBe Seq(Seq("c", "d"))
    before.flatMap(_.part).sorted shouldBe Seq("g=x", "g=y")
    before.count(_.deletes.nonEmpty) should be >= 2
    before.forall(e => e.rows.isDefined && e.cols.isEmpty) shouldBe true
    // the first rename migrates field ids in: a rebuild of every line
    // that must carry each segment through, rekeying only `g`
    spark.sql(s"ALTER TABLE $cat.ns.seg14 RENAME COLUMN g TO grp")
    GraftSink.mainHead(p).get.entries shouldBe
      before.map(_.renamed("g", "grp").copy(cols = Some(1 to 4)))
    spark.table(s"$cat.ns.seg14").count() shouldBe 53L // 67 rows - 14 deleted
  }

  test("renaming a Z-ordered column rekeys its stats: envelopes, so range pruning keeps working") {
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.zr14")
    spark.sql(s"CREATE TABLE $cat.ns.zr14 (k BIGINT, c BIGINT, d BIGINT)")
    spark.range(0, 64).selectExpr("id AS k", "id % 8 AS c", "id div 8 AS d")
      .writeTo(s"$cat.ns.zr14").append()
    spark.sql(s"CALL $cat.sys.zorder('ns.zr14', 'c, d', 4)").collect()
    val p = tablePath("zr14")
    val zordered = GraftSink.mainHead(p).get
    zordered.entries.map(_.stats.map(_._1)) shouldBe Seq.fill(4)(Seq("c", "d"))
    plannedSinkFiles(spark.table(s"$cat.ns.zr14").filter(col("c") === 3)).length shouldBe 2
    val v = GraftSink.versionOf(p, zordered).get
    spark.sql(s"ALTER TABLE $cat.ns.zr14 RENAME COLUMN c TO cc")
    val renamed = GraftSink.mainHead(p).get.entries
    renamed.map(_.stats.map(_._1)) shouldBe Seq.fill(4)(Seq("cc", "d"))
    renamed.map(_.stats) shouldBe zordered.entries.map(_.renamed("c", "cc").stats)
    plannedSinkFiles(spark.table(s"$cat.ns.zr14").filter(col("cc") === 3)).length shouldBe 2
    spark.table(s"$cat.ns.zr14").filter(col("cc") === 3).count() shouldBe 8L
    // the pre-rename snapshot keeps the old name
    GraftSink.readManifest(p, Some(v)).get.entries.map(_.stats.map(_._1)) shouldBe
      Seq.fill(4)(Seq("c", "d"))
  }

  // ------------------------------------------------------------------
  // Two-level manifest metadata (group files)
  // ------------------------------------------------------------------

  test("grouped manifest: body holds group refs, reads expand, pruned planning opens only matching groups") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.mg14")
    spark.sql(s"CREATE TABLE $cat.ns.mg14 (k BIGINT, g STRING) PARTITIONED BY (g) " +
      s"TBLPROPERTIES ('write.manifest.group.size'='2')")
    Seq.tabulate(8)(i => (i.toLong, s"p${i % 4}")).toDF("k", "g")
      .writeTo(s"$cat.ns.mg14").append() // 4 tuples → 4 files → 2 groups
    val p = tablePath("mg14")
    val raw = GraftSink.readManifestRaw(p, None).get
    raw.files.length shouldBe 2
    raw.files.foreach(l => GraftSink.isGroupLine(l) shouldBe true)
    raw.files.foreach(_ should include("pvals:g="))
    // the group files exist and carry the entry lines
    val expanded = GraftSink.readManifest(p, None).get
    expanded.files.length shouldBe 4
    expanded.files.foreach(l => GraftSink.isGroupLine(l) shouldBe false)
    // content reads are unchanged
    spark.table(s"$cat.ns.mg14").count() shouldBe 8L
    spark.table(s"$cat.ns.mg14").filter(col("g") === "p1")
      .select(col("k")).collect().map(_.getLong(0)).sorted shouldBe Array(1L, 5L)
    // PRUNED planning reads ONE group file; unpruned reads both
    import org.apache.spark.sql.sources.EqualTo
    val schema = org.apache.spark.sql.types.StructType.fromDDL(expanded.ddl)
    def planGroupReads(filters: Array[org.apache.spark.sql.sources.Filter]): Long = {
      val b = new graft.sources.GraftSinkScanBuilder(p, schema)
      b.pushFilters(filters)
      val scan = b.build().asInstanceOf[graft.sources.GraftSinkScan]
      val before = GraftSink.groupReads.get()
      scan.planInputPartitions()
      GraftSink.groupReads.get() - before
    }
    planGroupReads(Array(EqualTo("g", "p0"))) shouldBe 1L
    planGroupReads(Array.empty) shouldBe 2L
    // an APPEND regroups; the untouched chunk keeps its content-addressed
    // name (shared across versions), and the chain stays readable
    val namesBefore = raw.files.map(GraftSink.groupLineName).toSet
    Seq((100L, "p3")).toDF("k", "g").writeTo(s"$cat.ns.mg14").append()
    val raw2 = GraftSink.readManifestRaw(p, None).get
    val namesAfter = raw2.files.map(GraftSink.groupLineName).toSet
    namesAfter.intersect(namesBefore).size should be >= 1
    spark.table(s"$cat.ns.mg14").count() shouldBe 9L
    // time travel through a grouped snapshot still serves it exactly
    val vPrev = GraftSink.listVersions(p).dropRight(1).last
    spark.read.format("graftsink").option("path", p)
      .option("version", vPrev.toString).load().count() shouldBe 8L
  }

  test("grouped manifest: MOR delete regroups with the DV; expire and remove_orphans GC only dead chunks") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.mgc14")
    spark.sql(s"CREATE TABLE $cat.ns.mgc14 (k BIGINT, g STRING) PARTITIONED BY (g) " +
      s"TBLPROPERTIES ('write.manifest.group.size'='2', 'write.mode'='merge-on-read')")
    Seq.tabulate(8)(i => (i.toLong, s"p${i % 4}")).toDF("k", "g")
      .writeTo(s"$cat.ns.mgc14").append()
    val p = tablePath("mgc14")
    GraftSink.readManifestRaw(p, None).get.files.count(GraftSink.isGroupLine) shouldBe 2
    // MOR delete: the DV lands inside the regrouped chunk
    spark.sql(s"DELETE FROM $cat.ns.mgc14 WHERE k = 1")
    // count(*) stays METADATA-ONLY on the grouped manifest: the chunk
    // summaries' vrows answer (DV already subtracted at regroup time)
    // and not one chunk file is opened
    val gBefore = GraftSink.groupReads.get()
    spark.table(s"$cat.ns.mgc14").count() shouldBe 7L
    (GraftSink.groupReads.get() - gBefore) shouldBe 0L
    GraftSink.readManifest(p, None).get.entries
      .map(_.deletes.length).sum shouldBe 1
    val f = GraftSink.fs(p)
    def groupsOnDisk: Set[String] = f.listStatus(new org.apache.hadoop.fs.Path(p))
      .filter(_.isFile).map(_.getPath.getName)
      .filter(_.startsWith(GraftSink.GROUP_PREFIX)).toSet
    // overwrite → the old generations' chunks become expire-able
    Seq((50L, "p0"), (51L, "p1"), (52L, "p2"), (53L, "p3")).toDF("k", "g")
      .write.format("graftsink").mode("overwrite").option("path", p).save()
    val preExpire = groupsOnDisk
    spark.sql(s"CALL $cat.sys.expire_snapshots('ns.mgc14', 1)").collect()
    val live = GraftSink.readManifestRaw(p, None).get.files
      .filter(GraftSink.isGroupLine).map(GraftSink.groupLineName).toSet
    groupsOnDisk shouldBe live
    (preExpire -- live).size should be >= 1 // something was actually GC'd
    spark.table(s"$cat.ns.mgc14").count() shouldBe 4L
    // remove_orphans sweeps a planted dead chunk, keeps live ones
    val stray = new org.apache.hadoop.fs.Path(p, s"${GraftSink.GROUP_PREFIX}deadbeef")
    val out = f.create(stray, true)
    out.write("ghost.tsv\n".getBytes("UTF-8")); out.close()
    spark.sql(s"CALL $cat.sys.remove_orphans('ns.mgc14', 0)").collect()
    f.exists(stray) shouldBe false
    groupsOnDisk shouldBe live
    spark.table(s"$cat.ns.mgc14").count() shouldBe 4L
  }

  test("compact retags a mixed-generation table under the current spec, re-enabling SPJ and partial overwrites") {
    import spark.implicits._
    ensureCatalog()
    spark.sql(s"DROP TABLE IF EXISTS $cat.ns.ct14")
    spark.sql(s"CREATE TABLE $cat.ns.ct14 (k BIGINT, a STRING, b STRING) " +
      s"PARTITIONED BY (a)")
    Seq((1L, "x", "m"), (2L, "y", "n")).toDF("k", "a", "b")
      .writeTo(s"$cat.ns.ct14").append() // gen-1: a-tagged
    spark.sql(s"CALL $cat.sys.set_partitioning('ns.ct14', 'b')").collect()
    Seq((3L, "z", "m")).toDF("k", "a", "b").writeTo(s"$cat.ns.ct14").append() // gen-2
    val p = tablePath("ct14")
    // mixed generations: grouped scan refuses
    intercept[Exception] {
      spark.read.format("graftsink").option("path", p)
        .option("grouped", "true").load().select(col("k")).collect()
    }
    // the rewrite verb is the documented recovery: compact reroutes
    // every row through the CURRENT tuple router
    spark.sql(s"CALL $cat.sys.compact('ns.ct14', 1)").collect()
    val m = GraftSink.mainHead(p).get
    m.entries.filter(_.rows.exists(_ > 0))
      .flatMap(_.part).foreach(_ should startWith("b="))
    // SPJ-grouped scan works again, partial overwrite works again
    spark.read.format("graftsink").option("path", p)
      .option("grouped", "true").load().select(col("k"))
      .collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L, 3L)
    Seq((9L, "q", "m")).toDF("k", "a", "b")
      .writeTo(s"$cat.ns.ct14").overwritePartitions() // replaces b=m
    spark.table(s"$cat.ns.ct14").orderBy(col("k"))
      .select(col("k")).collect().map(_.getLong(0)) shouldBe Array(2L, 9L)
  }
}
