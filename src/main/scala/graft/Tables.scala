package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Memo

/** Central loaders for the driver-generated parquet tables
  * (`/root/testdata/sf*`; see TESTDATA.md and SURVEY.md §1.2).
  *
  * Design notes (100 TB north star):
  *  - Each read is a fresh `spark.read.schema(schema).parquet(path)`, so
  *    the scan stays declarative and Catalyst pushes filters/projections
  *    into the parquet reader (row-group skip + column pruning). Never
  *    cache data here — callers decide materialization.
  *  - The schema is inferred once per table version: inferring it reads a
  *    footer in its own Spark job, which used to run on every read. The
  *    `StructType` is kept in `Memo.perSession` under the path, the
  *    (path, length, modification time) of every file under it, and the
  *    SQL confs that change how a footer maps to Spark types
  *    ([[SchemaConfs]]). Reading the key launches no Spark job, and an
  *    overwritten table or a flipped conf infers again.
  *  - Only the schema is shared, never a DataFrame: every call builds a
  *    new relation with new attribute ids, so self-joins (q86 reads
  *    lineitem twice) resolve exactly as with separate reads.
  *  - `events.ts` of the older testdata generation is INT64
  *    TIMESTAMP(NANOS), which Spark 4 refuses to read; under the
  *    `nanosAsLong` conf `Sessions.local` builds in, µs truncation matches
  *    DuckDB's own ns→µs truncation (verified: min(ts) identical to the
  *    microsecond in both engines). The shipped files are TIMESTAMP(MICROS).
  *  - Timestamps are kept as TimestampNTZ everywhere so Spark parquet
  *    output and DuckDB's naive TIMESTAMP compare bit-identically.
  */
object Tables {
  /** The SQL confs Spark 4.1's footer-to-type mapping reads
    * (`ParquetToSparkSchemaConverter`), and those that choose which
    * footers inference reads and merges (`ParquetUtils.inferSchema`).
    */
  private val SchemaConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.files.ignoreCorruptFiles")

  private def rd(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    version(s, path) match {
      case Some(v) =>
        val key = SchemaConfs.map(k => s.conf.get(k)).mkString(s"tables.schema|$path|", ",", s"|$v")
        s.read.schema(Memo.perSession(s, key)(s.read.parquet(path).schema)).parquet(path)
      case None => s.read.parquet(path) // missing: Spark's own PATH_NOT_FOUND error
    }
  }

  /** (path, length, modification time) of every file under `path` — the
    * file itself for a single-file table — or None if there is no
    * `path`. File-system calls from this JVM only, no Spark job.
    */
  private def version(s: SparkSession, path: String): Option[String] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val root = try Some(fs.getFileStatus(p)) catch { case _: java.io.FileNotFoundException => None }
    root.map { r =>
      val files = if (r.isFile) Seq[FileStatus](r) else {
        val it = fs.listFiles(p, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next(): FileStatus).toSeq
      }
      files.map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").sorted.mkString(",")
    }
  }

  def region(s: SparkSession, dir: String): DataFrame   = rd(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame   = rd(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = rd(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = rd(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame     = rd(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame   = rd(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = rd(s, dir, "lineitem")
  def documents(s: SparkSession, dir: String): DataFrame = rd(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = rd(s, dir, "embeddings")

  /** `ts` has shipped in two generations of the driver testdata: INT64
    * TIMESTAMP(NANOS) (read as ns-long under `nanosAsLong`, truncated to
    * µs exactly like DuckDB truncates the same file) and, since the
    * 2026-08-13 regeneration, plain TIMESTAMP(MICROS). Sniff the loaded
    * dtype and normalize both to µs TimestampNTZ so every downstream
    * query sees one stable type regardless of which generation is on
    * disk. The sniff reads the per-version schema `rd` resolves, so it
    * launches no job once the version's schema is known.
    * Reading the NANOS generation needs `nanosAsLong`, which
    * `Sessions.local` sets when it builds the session; this loader
    * leaves the caller's session confs as they are.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = rd(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // old generation: INT64 TIMESTAMP(NANOS) read as ns-long
        raw.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      case TimestampNTZType => // current generation: TIMESTAMP(MICROS, utc=false)
        raw
      case TimestampType =>
        // TIMESTAMP(MICROS, adjustedToUTC=true): the NTZ cast reads the
        // session timezone — exact only because every shipped entrypoint
        // pins UTC (build.sbt / Verify / Bench / Smoke)
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
      case other => // genuine schema drift must fail loudly, not coerce
        throw new IllegalStateException(
          s"unexpected events.ts parquet type $other in $dir — known generations are " +
            "INT64 TIMESTAMP(NANOS) and TIMESTAMP(MICROS); see TESTDATA.md")
    }
  }

  /** SURVEY.md §2.1 (formats): csv/json ingestion with an explicit
    * schema — inference is a full extra pass over the data and yields
    * driver-version-dependent types, so it is never used. Roundtrips
    * exercised in SourcesSpec (driver testdata itself is parquet).
    */
  def readCsv(s: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.option("header", "true").schema(schema).csv(path)

  def readJson(s: SparkSession, path: String,
               schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(schema).json(path)
}
