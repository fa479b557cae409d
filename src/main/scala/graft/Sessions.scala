package graft

import java.util.concurrent.{ExecutorService, Executors}

import scala.concurrent.{Future, Promise}

import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** The one session shape every entry point (Bench, Verify, Smoke,
  * Explain) and every spec runs on, the one way a query changes
  * session confs for part of its work, and the one way it runs Spark
  * jobs from another thread.
  */
object Sessions {

  /** Core count of the entry points: `SPARK_GRAFT_CPUS`, default 4. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** A local session on `cores` cores with as many shuffle partitions,
    * UTC, and the library's extensions installed — native functions,
    * the md5-chain rewrite and the view-resolution rule. `getOrCreate`:
    * an existing session in the JVM is returned as it is.
    */
  def local(cores: Int): SparkSession = SparkSession.builder()
    .withExtensions(new GraftExtensions)
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // local checkpoint dirs: nio manager (no per-file chmod fork) — see
    // graft.streaming.NioCheckpointFileManager; non-file URIs fall back
    .config("spark.sql.streaming.checkpointFileManagerClass",
      "graft.streaming.NioCheckpointFileManager")
    // no-fork, no-.crc local FS (see graft.sources.FastLocalFileSystem);
    // cluster schemes (hdfs:/s3:) are untouched
    .config("spark.hadoop.fs.file.impl",
      "graft.sources.FastLocalFileSystem")
    .config("spark.hadoop.io.file.buffer.size", "65536")
    // static conf: the default 100-entry whole-stage-codegen class
    // cache thrashes across 419 distinct query plans, so pass 2 (and
    // every repeated plan fragment) re-runs janino compilation; size
    // it to the inventory. Deployment-honest: any repeated-query
    // workload wants the cache to cover its plan set.
    .config("spark.sql.codegen.cache.maxEntries", "4096")
    .getOrCreate()

  /** Run `body` with each `key -> value` set, then put every key back
    * as it was: its prior value, or unset if it was unset — on success
    * and on exception alike. A query that needs a conf for its own plan
    * scopes it here, so no later query's plan depends on which ran
    * first.
    */
  def withConfs[T](s: SparkSession, kv: (String, String)*)(body: => T): T = {
    // getAll holds only the keys explicitly set in this session: a key
    // at its default is restored by unsetting it, not by pinning it
    val explicit = s.conf.getAll
    val prior = kv.map { case (k, _) => k -> explicit.get(k) }
    try {
      kv.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Daemon threads, so an idle one never holds the JVM open. */
  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-future")
    t.setDaemon(true)
    t
  }

  /** Start `body` on a pool thread with the caller's Spark thread state —
    * its local properties (job group, job tags, scheduler pool,
    * description) and its active session — installed for the body and
    * taken off afterwards (Spark's `SQLExecution.withThreadLocalCaptured`).
    * A pool thread otherwise carries the state of whichever thread
    * created it, so the caller's `cancelJobGroup` or job tag would miss
    * the jobs `body` runs.
    */
  def future[T](s: SparkSession)(body: => T): Future[T] = {
    val p = Promise[T]()
    // body never throws out, so the captured state is always taken off
    SQLExecution.withThreadLocalCaptured(s.asInstanceOf[classic.SparkSession], pool) {
      try p.success(body) catch { case e: Throwable => p.failure(e) }
    }
    p.future
  }

  /** Storage-partitioned join on graftsink/graftseq scans: bucketing
    * on, partition values pushed, and co-partitioning relaxed to a
    * subset of the join keys (partition keys ⊂ join keys). The last one
    * changes every later join's plan, hence always under [[withConfs]].
    */
  val SpjConfs: Seq[(String, String)] = Seq(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
}
