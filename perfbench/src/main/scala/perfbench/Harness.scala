package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One closed-loop client in one JVM: each request is a query key's
  * `fn(spark, dir)` (build), `queryExecution.executedPlan` (plan) and a
  * `noop` write of the full result (action), one request at a time.
  *
  * Arguments: <plan> <dir> <cores> <seconds> <minSamples> <trace> <out>
  *
  * It reads the plan file (line 1: the request-id prefix, line 2: the
  * cold pass, then one line per warm round; keys comma-separated), runs
  * the cold pass with an output fingerprint after every request, then
  * whole warm rounds until `seconds` have passed and at least
  * `minSamples` warm requests are done. Records go to `out` as JSON
  * lines when the run ends; the run's own metrics are computed from them
  * by run.py. With trace=1 a SparkListener and a StreamingQueryListener
  * add job, task, stage and microbatch records tied to the span in which
  * they ran.
  */
object Harness {
  /** Local property naming the span a job was launched from. */
  val SpanKey = "perfbench.span"

  def main(args: Array[String]): Unit = {
    require(args.length == 7, "arguments: <plan> <dir> <cores> <seconds> <minSamples> <trace> <out>")
    run(Paths.get(args(0)), args(1), args(2).toInt, args(3).toDouble,
      args(4).toInt, args(5) == "1", Paths.get(args(6)))
  }

  /** The session Bench builds, plus local and warehouse dirs kept under
    * the working directory, then Bench's warm-up and one of its own. */
  def session(dir: String, cores: Int): SparkSession = {
    val work = Paths.get(sys.props("java.io.tmpdir")).getParent
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      .config("spark.hadoop.fs.file.impl", "graft.sources.FastLocalFileSystem")
      .config("spark.hadoop.io.file.buffer.size", "65536")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()
    // A join, an aggregate and a window written in full, so that the
    // engine's generic first-use cost is paid here and not by whichever
    // key the seed puts first in the cold pass.
    spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView("perfbench_l")
    spark.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("perfbench_o")
    spark.sql("""SELECT o_orderstatus, l_returnflag, count(*) AS n,
        sum(l_extendedprice * (1 - l_discount)) AS rev, corr(l_quantity, l_extendedprice) AS r,
        row_number() OVER (PARTITION BY o_orderstatus ORDER BY count(*) DESC) AS rk
      FROM perfbench_l JOIN perfbench_o ON l_orderkey = o_orderkey
      GROUP BY o_orderstatus, l_returnflag""")
      .write.format("noop").mode("overwrite").save()
    spark.catalog.dropTempView("perfbench_l")
    spark.catalog.dropTempView("perfbench_o")
    spark
  }

  private def run(planFile: Path, dir: String, cores: Int, seconds: Double,
      minSamples: Int, trace: Boolean, out: Path): Unit = {
    val lines = Files.readAllLines(planFile).asScala.toSeq
    val prefix = lines.head
    val rounds = lines.tail.map(_.split(",").toSeq)
    val spark = session(dir, cores)
    println("READY"); System.out.flush()
    val clock = new Clock
    val records = ArrayBuffer.empty[String]
    val listeners = if (trace) Some(Listeners.attach(spark, clock)) else None
    val queries = graft.SparkEntry.queries
    val staging = Paths.get(sys.props("java.io.tmpdir"))
    val sc = spark.sparkContext

    def request(round: Int, key: String, check: Boolean): Unit = {
      val id = s"$prefix/$round/$key"
      val wall0 = System.currentTimeMillis()
      val t0 = clock.now
      var tb, tp = -1L
      var err: String = null
      var df: DataFrame = null
      try {
        sc.setLocalProperty(SpanKey, s"$id/build")
        df = queries(key)(spark, dir)
        tb = clock.now
        sc.setLocalProperty(SpanKey, s"$id/plan")
        df.queryExecution.executedPlan
        tp = clock.now
        sc.setLocalProperty(SpanKey, s"$id/action")
        df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable => err = s"${e.getClass.getName}: ${e.getMessage}" }
      val t1 = clock.now
      sc.setLocalProperty(SpanKey, s"$id/check")
      val fields = ArrayBuffer("t" -> Json.str("req"), "id" -> Json.str(id),
        "round" -> round.toString, "key" -> Json.str(key),
        "start" -> t0.toString, "build_end" -> tb.toString,
        "plan_end" -> tp.toString, "end" -> t1.toString,
        "error" -> (if (err == null) "null" else Json.str(err.take(400))))
      if (trace) fields += "staged_bytes" -> Staged.since(staging, wall0).toString
      records += Json.obj(fields.toSeq)
      if (check && err == null) records += (try fingerprint(key, df) catch {
        case e: Throwable => Json.obj(Seq("t" -> Json.str("check"), "key" -> Json.str(key),
          "error" -> Json.str(s"${e.getClass.getName}: ${e.getMessage}".take(400))))
      })
      sc.setLocalProperty(SpanKey, null)
    }

    rounds.head.foreach(request(0, _, check = true))
    val warm0 = clock.now
    var done = 0
    var r = 1
    while (r < rounds.size &&
        ((clock.now - warm0) / 1e9 < seconds || done < minSamples)) {
      rounds(r).foreach(request(r, _, check = false))
      done += rounds(r).size
      r += 1
    }
    listeners.foreach(l => records ++= l.drain(sc))
    records += Json.obj(Seq("t" -> Json.str("end"),
      "warm_start" -> warm0.toString, "warm_end" -> clock.now.toString,
      "peak_rss_kb" -> peakRssKb.toString, "cores" -> cores.toString))
    Files.write(out, records.asJava)
    spark.stop()
  }

  /** Row count, schema and an order-insensitive content hash: the sum of
    * 32-bit row hashes. Floating-point values are hashed as 6 significant
    * digits (and as 0 below 1e-9) so that the summation order of parallel
    * aggregates does not change the fingerprint. */
  def fingerprint(key: String, df: DataFrame): String = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    val cols = df.schema.fields.indices.map(i => s"c$i")
    val d = df.toDF(cols: _*)
    val normed = d.schema.fields.map(f => norm(col(f.name), f.dataType))
    val rowHash = if (normed.isEmpty) lit(0L) else xxhash64(normed.toIndexedSeq: _*)
    val agg = d.agg(count(lit(1)), coalesce(sum(rowHash.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)))
      .head()
    Json.obj(Seq("t" -> Json.str("check"), "key" -> Json.str(key),
      "rows" -> agg.getLong(0).toString, "hash" -> agg.getLong(1).toString,
      "schema" -> Json.str(schema)))
  }

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      val v = c.cast(DoubleType)
      when(v.isNull, lit(null).cast(StringType))
        .when(isnan(v), lit("NaN"))
        .when(abs(v) < 1e-9, lit("0"))
        .otherwise(format_string("%.5e", v))
    case ArrayType(et, _) => transform(c, norm(_, et))
    case StructType(fs) if fs.nonEmpty =>
      struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

/** Nanoseconds since the run began, for both harness timestamps and the
  * millisecond epoch times listener events carry. */
final class Clock {
  private val nano0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  def now: Long = System.nanoTime() - nano0
  def fromEpochMs(ms: Long): Long = (ms - epochMs0) * 1000000L
}

/** Bytes a request left in the library's staging directories
  * (`graft.ops.Stage` trees, `graft_*` under java.io.tmpdir): files
  * modified at or after the request began. */
object Staged {
  def since(root: Path, wallMs: Long): Long = {
    val dirs = Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft_"))
    dirs.map { d =>
      try {
        val s = Files.walk(d.toPath)
        try s.iterator().asScala.map(_.toFile)
          .filter(f => f.isFile && f.lastModified() >= wallMs)
          .map(_.length()).sum
        finally s.close()
      } catch { case _: java.io.UncheckedIOException | _: java.io.IOException => 0L }
    }.sum
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
