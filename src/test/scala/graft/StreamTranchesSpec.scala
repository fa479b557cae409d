package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.streaming.runtime.{StreamingQueryWrapper, StreamingRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The tranche stager behind the Streaming keys: each microbatch reads
  * exactly one staged tranche, in tranche order, and every stream source
  * reads the staged columns under the schema the keys used to spell out
  * by hand.
  */
class StreamTranchesSpec extends AnyFunSuite with Matchers with SharedSpark {

  private val (b1, b2) = (1704931200000000L, 1705795200000000L) // 2024-01-11, 2024-01-21 UTC, µs

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Row counts of the tranches b0, b1, b2 over `Tables.events`, then
    * the sentinel tranche's, if any. */
  private def trancheRows(late: Column, sentinelRows: Long): Seq[Long] = {
    val e = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
    val ts = col("ts_us")
    Seq(ts <= b1 && !late, ts > b1 && ts <= b2 && !late, ts > b2 || late)
      .map(p => e.filter(p).count()) ++ Option.when(sentinelRows > 0)(sentinelRows)
  }

  /** Runs `key` to a collected result under a StreamingQueryListener and
    * returns its one stream's per-microbatch input rows, in batch order,
    * and the schema of each stream source the query read. */
  private def observe(key: String): (Seq[Long], Seq[StructType]) = {
    val rows = new ConcurrentLinkedQueue[(Long, Long)]()
    val sources = new ConcurrentLinkedQueue[StructType]()
    val done = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      // delivered on the query's own thread, before its first batch
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        spark.streams.get(e.id).asInstanceOf[StreamingQueryWrapper].streamingQuery
          .analyzedPlan.collectLeaves().foreach {
            case r: StreamingRelation => sources.add(r.schema)
            case _ =>
          }
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        rows.add(e.progress.batchId -> e.progress.numInputRows)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.countDown()
    }
    spark.streams.addListener(listener)
    try {
      SparkEntry.queries(key)(spark, sf).collect()
      // the terminated event follows every progress event of the query
      assert(done.await(60, TimeUnit.SECONDS), s"$key: no query-terminated event")
    } finally spark.streams.removeListener(listener)
    (rows.asScala.toSeq.sortBy(_._1).map(_._2), sources.asScala.toSeq)
  }

  private val full = schema("user_id" -> LongType, "ts_us" -> LongType,
    "event_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType)

  test("q47: the moved set arrives in b2, the sentinel last, then one flush batch") {
    val expected = trancheRows(col("ts_us") <= b1 && col("user_id") % 7 === 3, 1L)
    expected.distinct.size shouldBe expected.size // so an order swap shows
    val (rows, sources) = observe("q47_stream_demo")
    rows shouldBe expected :+ 0L
    sources shouldBe Seq(schema("user_id" -> LongType, "ts_us" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType))
  }

  test("q141: three tranches, no trailing no-data batch") {
    val expected = trancheRows(lit(false), 0L)
    expected.distinct.size shouldBe expected.size
    val (rows, sources) = observe("q141_stream_dedup")
    rows shouldBe expected
    sources shouldBe Seq(schema("user_id" -> LongType, "ts_us" -> LongType,
      "event_type" -> StringType))
  }

  test("q220: two readers of one stage see the same tranches and the two-row sentinel") {
    val expected = trancheRows(lit(false), 2L)
    expected.distinct.size shouldBe expected.size
    val (rows, sources) = observe("q220_stream_full_outer")
    // both sides of the join read every tranche in the same batch
    rows shouldBe expected.map(_ * 2) :+ 0L
    sources shouldBe Seq(full, full)
  }

  test("q285: foreachBatch sees one tranche per batch") {
    val expected = trancheRows(lit(false), 0L)
    expected.distinct.size shouldBe expected.size
    val (rows, sources) = observe("q285_stream_foreach_merge")
    rows shouldBe expected
    sources shouldBe Seq(schema("user_id" -> LongType, "ts_us" -> LongType,
      "value" -> DoubleType))
  }

  test("q285 deletes its state tree and its tranches once its result is built") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def trees(prefix: String) = tmp.list().count(_.startsWith(prefix))
    val before = Seq("graft_q285st_", "graft_q285_").map(trees)
    SparkEntry.queries("q285_stream_foreach_merge")(spark, sf).collect().length should be > 0
    Seq("graft_q285st_", "graft_q285_").map(trees) shouldBe before
  }
}
