package graft

import graft.streaming.StatefulSessions.{Ev, Sess}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Event-time TIMERS on transformWithState (TwsTimerSessionizer): the
  * expiry path must emit each user's trailing open session once the
  * watermark passes its gap deadline — so with a far-future sentinel
  * advancing the watermark past everything, the streamed session set
  * equals the batch q46 sessionization COMPLETELY (not "minus the open
  * tail" like the timerless q145 variant). Also proves the timer state
  * (registrations included) survives a kill/resume from checkpoint with
  * exactly-once emission.
  */
class TwsTimerSpec extends AnyFunSuite with Matchers with SharedSpark {

  private val schema = StructType(Seq(StructField("user_id", LongType),
    StructField("ts_us", LongType), StructField("event_id", LongType)))

  private def run(in: java.nio.file.Path, out: String, ck: String): Unit = {
    import spark.implicits._
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*/")
      .withColumn("ets", timestamp_micros(col("ts_us")))
      .withWatermark("ets", "0 seconds")
      .select(col("user_id"), col("ts_us"), col("event_id")).as[Ev]
      .groupByKey(_.user_id)
      .transformWithState[Sess](new graft.streaming.TwsTimerSessionizer,
        TimeMode.EventTime(), OutputMode.Append())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
  }

  private def emitted(out: String): Map[(Long, Long), (Long, Long)] =
    spark.read.parquet(out).filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sess_id")) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("dur_us"))).toMap

  private def stage(root: java.nio.file.Path, tranches: (String, DataFrame)*): Unit =
    tranches.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$root/$name")
    }

  test("event-time timers close trailing sessions: streamed equals batch COMPLETELY, and survives kill/resume") {
    import spark.implicits._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("event_id"))
      .localCheckpoint()
    val Array(t1, t2) = evs.stat.approxQuantile("ts_us", Array(1.0 / 3, 2.0 / 3), 0.0)
    val far = evs.agg(max(col("ts_us"))).first().getLong(0) + 365L * 86400 * 1000000L
    // sentinel user -1 staged LAST: its event time drives the final
    // watermark past every real session's gap deadline, firing every
    // remaining timer; its own open session is filtered from the readout
    val sentinel = Seq((-1L, far, -1L)).toDF("user_id", "ts_us", "event_id")

    Sessions.withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      // ---- uninterrupted run over 3 terciles + sentinel --------------
      val inA = ops.Stage.fresh("twst_in_a")
      val outA = ops.Stage.fresh("twst_out_a").toString
      val ckA = ops.Stage.fresh("twst_ck_a").toString
      stage(inA, "b0" -> evs.filter(col("ts_us") <= t1),
        "b1" -> evs.filter(col("ts_us") > t1 && col("ts_us") <= t2),
        "b2" -> evs.filter(col("ts_us") > t2), "b3" -> sentinel)
      run(inA, outA, ckA)
      val streamed = emitted(outA)

      // batch q46 gives the COMPLETE session set (trailing sessions
      // included) — with timers the stream must now match it exactly
      val batch = SparkEntry.queries("q46_sessionize")(spark, sf).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("sess_id")) ->
          (r.getAs[Long]("n_events"), r.getAs[Long]("dur_us"))).toMap
      streamed.size should be > 0
      streamed shouldBe batch

      // ---- kill after 2 tranches, resume with the rest ---------------
      // the kill point leaves every user's open session guarded only by
      // a REGISTERED TIMER in the checkpointed state store; resume must
      // restore timers (not just values) for the final flush to happen
      val inB = ops.Stage.fresh("twst_in_b")
      val outB = ops.Stage.fresh("twst_out_b").toString
      val ckB = ops.Stage.fresh("twst_ck_b").toString
      stage(inB, "b0" -> evs.filter(col("ts_us") <= t1),
        "b1" -> evs.filter(col("ts_us") > t1 && col("ts_us") <= t2))
      run(inB, outB, ckB)
      val firstEmit = emitted(outB)
      stage(inB, "b2" -> evs.filter(col("ts_us") > t2), "b3" -> sentinel)
      run(inB, outB, ckB) // resume: same checkpoint, same sink
      val resumed = emitted(outB)

      withClue("resume must only append, never re-emit: ") {
        firstEmit.foreach { case (k, v) => resumed(k) shouldBe v }
        firstEmit.size should be < resumed.size
      }
      withClue("interrupted+resumed emission must equal batch: ") {
        resumed shouldBe batch
      }
      ops.Stage.release(inA); ops.Stage.release(inB)
    }
  }
}
