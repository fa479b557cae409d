package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, TimeMode, Trigger}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Checkpoint-restart fault tolerance — at cluster scale, recovery is
  * half the point of Structured Streaming, and none of the AvailableNow
  * streaming queries exercised it before this spec. The q217-shaped
  * watermarked daily aggregation runs twice over the same data: once
  * uninterrupted, and once STOPPED mid-stream (after the first two
  * single-file microbatches drain) then RESUMED from its checkpoint
  * with two more tranches staged. Resume must restore both the source
  * offset log (no tranche re-read) and the state store (still-open
  * windows' partial counts), and the final emitted set must be
  * IDENTICAL — exactly-once across the restart, no loss, no re-emit.
  */
class StreamRecoverySpec extends AnyFunSuite with Matchers with SharedSpark {

  test("windowed agg resumes from checkpoint after a mid-stream stop with identical emission") {
    import spark.implicits._
    val schema = StructType(Seq(StructField("event_type", StringType),
      StructField("ts_us", LongType), StructField("value", DoubleType)))
    val b0 = 1704585600000000L // 2024-01-07 UTC, µs
    val b1 = 1704931200000000L // 2024-01-11 UTC, µs (q90/q217's split)
    val evs = Tables.events(spark, sf)
      .select(col("event_type"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("value"))
      .localCheckpoint() // shared by the tranche writes + max scan
    val far = evs.agg(max(col("ts_us"))).first().getLong(0) + 30L * 86400 * 1000000L
    val t0a = evs.filter(col("ts_us") <= b0)
    val t0b = evs.filter(col("ts_us") > b0 && col("ts_us") <= b1)
    val t1 = evs.filter(col("ts_us") > b1)
    // far-future sentinel staged LAST advances the watermark past all
    // real days so every real window closes and emits in append mode
    // (q217's idiom); its own still-open window is withheld + filtered
    val sentinel = Seq(("zz_sentinel", far, 0.0)).toDF("event_type", "ts_us", "value")

    def stage(root: java.nio.file.Path, tranches: (String, DataFrame)*): Unit =
      tranches.foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$root/$name")
      }

    def run(in: java.nio.file.Path, out: String, ck: String): Unit =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*/")
        .withColumn("ets", timestamp_micros(col("ts_us")))
        .withWatermark("ets", "1 hour")
        .groupBy(window(col("ets"), "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 6).as("sum_v"))
        .select(col("w.start").cast("date").as("day"), col("event_type"),
          col("cnt"), col("sum_v"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()

    def emitted(out: String): Seq[(String, String, Long, Double)] =
      spark.read.parquet(out)
        .filter(col("event_type") =!= "zz_sentinel")
        .select(col("day").cast("string"), col("event_type"),
          col("cnt"), col("sum_v"))
        .as[(String, String, Long, Double)].collect().sorted.toSeq

    // Reference: uninterrupted run over all four tranches.
    val inA = ops.Stage.fresh("recov_in_a")
    val outA = ops.Stage.fresh("recov_out_a").toString
    val ckA = ops.Stage.fresh("recov_ck_a").toString
    stage(inA, "b0" -> t0a, "b1" -> t0b, "b2" -> t1, "b3" -> sentinel)
    run(inA, outA, ckA)

    // Interrupted run: two tranches drain (2 microbatches at
    // maxFilesPerTrigger=1), AvailableNow terminates — the "kill".
    // The Jan-10 window is still OPEN here (watermark = max(t0b) − 1 h),
    // so its partial counts exist only in the state store and the
    // restart MUST restore them to emit the right totals.
    val inB = ops.Stage.fresh("recov_in_b")
    val outB = ops.Stage.fresh("recov_out_b").toString
    val ckB = ops.Stage.fresh("recov_ck_b").toString
    stage(inB, "b0" -> t0a, "b1" -> t0b)
    run(inB, outB, ckB)
    val firstEmit = emitted(outB)
    stage(inB, "b2" -> t1, "b3" -> sentinel)
    run(inB, outB, ckB) // resume: same checkpoint, same sink

    val a = emitted(outA)
    val b = emitted(outB)
    a.length should be > 0
    withClue("restart must only APPEND to what the first run emitted: ") {
      b.toSet should contain allElementsOf firstEmit.toSet
      firstEmit.length should be < b.length
    }
    withClue("interrupted+resumed emission must equal the uninterrupted run: ") {
      b shouldBe a
    }
  }

  test("stream-stream inner join resumes from checkpoint with identical pair emission") {
    import spark.implicits._
    val evs = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
      .localCheckpoint()
    // pick a REAL (view, click-within-30-min) pair and cut the tranches
    // between its two events: the view lands before the stop and the
    // click after, so emitting this pair REQUIRES the restarted query
    // to restore the view from the join state store, not just offsets
    val straddle = evs.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts_us").as("vus"), col("event_id").as("view_id"))
      .join(evs.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("ts_us").as("cus"), col("value").as("cv")),
        col("user_id") === col("cu") && col("cus") > col("vus")
          && col("cus") <= col("vus") + lit(1800000000L))
      .orderBy(col("vus"), col("cus"), col("view_id"))
      .select(col("user_id"), col("view_id"), col("vus"), col("cus")).first()
    val cut = (straddle.getLong(2) + straddle.getLong(3)) / 2

    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts_us", LongType), StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def run(in: java.nio.file.Path, out: String, ck: String): Unit = {
      def src() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*/")
      val views = src().filter(col("event_type") === "view")
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("vts"),
          col("event_id").as("view_id"))
        .withWatermark("vts", "1 hour")
      val clicks = src().filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), timestamp_micros(col("ts_us")).as("cts"),
          col("value").as("c_value"))
        .withWatermark("cts", "1 hour")
      views.join(clicks,
          col("user_id") === col("c_user")
            && col("cts") > col("vts")
            && col("cts") <= col("vts") + expr("INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("view_id"), col("cts"), col("c_value"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    def emitted(out: String): Seq[(Long, Long, String, Double)] =
      spark.read.parquet(out)
        .select(col("user_id"), col("view_id"), col("cts").cast("string"),
          coalesce(col("c_value"), lit(-1.0)))
        .as[(Long, Long, String, Double)].collect().sorted.toSeq

    def stage(root: java.nio.file.Path, tranches: (String, DataFrame)*): Unit =
      tranches.foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$root/$name")
      }
    val t0a = evs.filter(col("ts_us") < straddle.getLong(2))
    val t0b = evs.filter(col("ts_us") >= straddle.getLong(2) && col("ts_us") <= cut)
    val t1 = evs.filter(col("ts_us") > cut)

    val inA = ops.Stage.fresh("recovj_in_a")
    val outA = ops.Stage.fresh("recovj_out_a").toString
    val ckA = ops.Stage.fresh("recovj_ck_a").toString
    stage(inA, "b0" -> t0a, "b1" -> t0b, "b2" -> t1)
    run(inA, outA, ckA)

    val inB = ops.Stage.fresh("recovj_in_b")
    val outB = ops.Stage.fresh("recovj_out_b").toString
    val ckB = ops.Stage.fresh("recovj_ck_b").toString
    stage(inB, "b0" -> t0a, "b1" -> t0b)
    run(inB, outB, ckB) // the "kill": straddle view now lives ONLY in join state
    stage(inB, "b2" -> t1)
    run(inB, outB, ckB) // resume

    val a = emitted(outA)
    val b = emitted(outB)
    a.length should be > 0
    withClue("the straddling pair proves join-state restore (view pre-stop, click post-stop): ") {
      b.exists(p => p._1 == straddle.getLong(0) && p._2 == straddle.getLong(1)) shouldBe true
    }
    withClue("interrupted+resumed pair emission must equal the uninterrupted run: ") {
      b shouldBe a
    }
  }

  // --- stateful sessionizer recovery (q81 / q145 twins) -----------------
  // The remaining untested restart surface was cross-batch USER state:
  // a session open at the stop exists only as a SessState record in the
  // state store, and the resumed query must restore (start, last, n,
  // emitted) exactly — or the session it later closes carries a wrong
  // event count, duration, or sess_id. Both stateful APIs are run with
  // function OutputMode.Append (closed sessions are final, never
  // updated — the same emission contract as the shipped update-mode
  // queries) so a fault-tolerant file sink can receive them.

  private case class Straddle(user: Long, sid: Long, n: Long, durUs: Long, cutUs: Long)

  /** Pick a CLOSED multi-event session from the batch gaps-and-islands
    * formulation and a cut point strictly inside it: its head events
    * land pre-stop, its tail post-stop, and because the session is
    * closed (not the user's trailing one) a later event eventually
    * closes it — so the resumed query can only emit it correctly by
    * restoring the open-session state from the checkpoint. */
  private def pickStraddle(): Straddle = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val cand = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("event_id"))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .withColumn("ns", when(col("prev").isNull
        || col("ts_us") - col("prev") > lit(graft.streaming.StatefulSessions.gapUs), 1L).otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(w))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_us")).as("st"), max(col("ts_us")).as("en"), count(lit(1)).as("n"))
      .withColumn("mx", max(col("sid")).over(Window.partitionBy(col("user_id"))))
      .filter(col("sid") < col("mx") && col("n") > 1 && col("en") > col("st"))
      .orderBy(col("user_id"), col("sid"))
      .first()
    Straddle(cand.getAs[Long]("user_id"), cand.getAs[Long]("sid"), cand.getAs[Long]("n"),
      cand.getAs[Long]("en") - cand.getAs[Long]("st"),
      (cand.getAs[Long]("st") + cand.getAs[Long]("en")) / 2)
  }

  private def runSessionizer(tws: Boolean)(in: java.nio.file.Path, out: String, ck: String): Unit = {
    import graft.streaming.StatefulSessions.{Ev, Sess, SessState}
    import spark.implicits._
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts_us", LongType), StructField("event_id", LongType)))
    val keyed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/*/")
      .as[Ev].groupByKey(_.user_id)
    val sessions =
      if (tws) keyed.transformWithState[Sess](new graft.streaming.TwsSessionizer,
        TimeMode.None(), OutputMode.Append())
      else keyed.flatMapGroupsWithState[SessState, Sess](
        OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        graft.streaming.StatefulSessions.sessionize)
    sessions.toDF().writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
  }

  private def sessionRecoveryCase(tws: Boolean, tag: String): Unit = {
    import spark.implicits._
    val straddle = pickStraddle()
    val evs = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("event_id"))
      .localCheckpoint()
    val t0 = evs.filter(col("ts_us") <= straddle.cutUs)
    val t1 = evs.filter(col("ts_us") > straddle.cutUs)
    def stage(root: java.nio.file.Path, tranches: (String, DataFrame)*): Unit =
      tranches.foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$root/$name")
      }
    def emitted(out: String): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(out)
        .select(col("user_id"), col("sess_id"), col("n_events"), col("dur_us"))
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq

    // Reference: uninterrupted run over both tranches.
    val inA = ops.Stage.fresh(s"${tag}_in_a")
    val outA = ops.Stage.fresh(s"${tag}_out_a").toString
    val ckA = ops.Stage.fresh(s"${tag}_ck_a").toString
    stage(inA, "b0" -> t0, "b1" -> t1)
    runSessionizer(tws)(inA, outA, ckA)

    // Interrupted run: tranche 0 drains (one microbatch), AvailableNow
    // terminates — the "kill". The straddling session is OPEN here: its
    // head events live only in the state store.
    val inB = ops.Stage.fresh(s"${tag}_in_b")
    val outB = ops.Stage.fresh(s"${tag}_out_b").toString
    val ckB = ops.Stage.fresh(s"${tag}_ck_b").toString
    stage(inB, "b0" -> t0)
    runSessionizer(tws)(inB, outB, ckB)
    val firstEmit = emitted(outB)
    stage(inB, "b1" -> t1)
    runSessionizer(tws)(inB, outB, ckB) // resume: same checkpoint, same sink

    val a = emitted(outA)
    val b = emitted(outB)
    a.length should be > 0
    withClue("straddling session proves SessState restore (head pre-stop, tail post-stop): ") {
      b should contain ((straddle.user, straddle.sid, straddle.n, straddle.durUs))
      firstEmit should not contain ((straddle.user, straddle.sid, straddle.n, straddle.durUs))
    }
    withClue("restart must only APPEND to what the first run emitted: ") {
      b.toSet should contain allElementsOf firstEmit.toSet
      firstEmit.length should be < b.length
    }
    withClue("interrupted+resumed session emission must equal the uninterrupted run: ") {
      b shouldBe a
    }
  }

  test("flatMapGroupsWithState sessionizer resumes from checkpoint with identical session emission") {
    sessionRecoveryCase(tws = false, tag = "recovs")
  }

  test("stream-stream FULL OUTER join resumes from checkpoint with identical null-extended emission") {
    import spark.implicits._
    // q220's shape: the post-watermark null-flush is the subtlest state
    // machine in the repo — an unmatched row sits in the join state until
    // the OTHER side's watermark passes its window, then emits exactly
    // once, null-extended. The kill lands BEFORE the sentinel tranche, so
    // rows already in state must survive the restart and still null-flush
    // exactly once afterwards.
    val b1 = 1704931200000000L // 2024-01-11 UTC, µs (q90/q220's split)
    val b2 = 1705795200000000L // 2024-01-21 UTC, µs
    val evs = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
      .localCheckpoint()
    val far = evs.agg(max(col("ts_us"))).first().getLong(0) + 30L * 86400 * 1000000L
    val sentinel = Seq((-1L, far, -1L, "view", 0.0), (-2L, far, -2L, "click", 0.0))
      .toDF("user_id", "ts_us", "event_id", "event_type", "value")
    val t0 = evs.filter(col("ts_us") <= b1)
    val t1 = evs.filter(col("ts_us") > b1 && col("ts_us") <= b2)
    val t2 = evs.filter(col("ts_us") > b2)

    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts_us", LongType), StructField("event_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    def run(in: java.nio.file.Path, out: String, ck: String): Unit = {
      def src() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*/")
      val views = src().filter(col("event_type") === "view")
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("vts"),
          col("event_id").as("view_id"))
        .withWatermark("vts", "1 hour")
      val clicks = src().filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), timestamp_micros(col("ts_us")).as("cts"),
          col("value").as("c_value"))
        .withWatermark("cts", "1 hour")
      views.join(clicks,
          col("user_id") === col("c_user")
            && col("cts") > col("vts")
            && col("cts") <= col("vts") + expr("INTERVAL 30 MINUTES"),
          "full_outer")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    // null-tolerant canonical row: (user, view_id | -1, vts | "-", cts | "-", value | -1)
    def emitted(out: String): Seq[(Long, Long, String, String, Double)] =
      spark.read.parquet(out)
        .withColumn("u", coalesce(col("user_id"), col("c_user")))
        .filter(col("u") >= 0) // drop the watermark sentinels
        .select(col("u"), coalesce(col("view_id"), lit(-1L)),
          coalesce(col("vts").cast("string"), lit("-")),
          coalesce(col("cts").cast("string"), lit("-")),
          coalesce(col("c_value"), lit(-1.0)))
        .as[(Long, Long, String, String, Double)].collect().sorted.toSeq
    def stage(root: java.nio.file.Path, tranches: (String, DataFrame)*): Unit =
      tranches.foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$root/$name")
      }

    // Reference: uninterrupted run over all four tranches.
    val inA = ops.Stage.fresh("recovfo_in_a")
    val outA = ops.Stage.fresh("recovfo_out_a").toString
    val ckA = ops.Stage.fresh("recovfo_ck_a").toString
    stage(inA, "b0" -> t0, "b1" -> t1, "b2" -> t2, "b3" -> sentinel)
    run(inA, outA, ckA)

    // Interrupted run: the kill lands after b0/b1 drain, BEFORE the
    // sentinel — unmatched rows from both sides sit in the state store
    // awaiting their null-flush.
    val inB = ops.Stage.fresh("recovfo_in_b")
    val outB = ops.Stage.fresh("recovfo_out_b").toString
    val ckB = ops.Stage.fresh("recovfo_ck_b").toString
    stage(inB, "b0" -> t0, "b1" -> t1)
    run(inB, outB, ckB)
    val firstEmit = emitted(outB)
    stage(inB, "b2" -> t2, "b3" -> sentinel)
    run(inB, outB, ckB) // resume: same checkpoint, same sink

    val a = emitted(outA)
    val b = emitted(outB)
    a.length should be > 0
    val lateFlush = b.toSet -- firstEmit.toSet
    withClue("a pre-stop row must null-flush AFTER the restart (state survived the kill): ") {
      // view-only rows (cts == "-") whose view arrived in b0/b1 but whose
      // null-extension could only emit once the post-restart watermark advanced
      lateFlush.exists(r => r._4 == "-" && r._2 >= 0) shouldBe true
      // and the click-only null path too (view_id == -1)
      lateFlush.exists(r => r._2 == -1L && r._4 != "-") shouldBe true
    }
    withClue("restart must only APPEND to what the first run emitted: ") {
      b.toSet should contain allElementsOf firstEmit.toSet
      firstEmit.length should be < b.length
    }
    withClue("interrupted+resumed emission must equal the uninterrupted run (exactly-once null-flush): ") {
      b shouldBe a
    }
  }

  test("foreachBatch versioned merge sink: kill/resume and batch replay are both exactly-once") {
    // q285's sink has no state store — the versioned parquet state IS
    // the state, so recovery has two failure modes to pin: (a) restart
    // from checkpoint must continue the version chain without re-reading
    // drained tranches; (b) a REPLAYED batch (sink write landed, commit
    // log didn't) must rewrite its version idempotently, not double-count.
    val b1 = 1704931200000000L // 2024-01-11 UTC, µs (q90's split)
    val b2 = 1705795200000000L // 2024-01-21 UTC, µs
    val evs = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("value"))
      .localCheckpoint()
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts_us", LongType), StructField("value", DoubleType)))
    // stage a half-open tranche slice [from, upTo) — resume staging must
    // touch ONLY the new tranche: rewriting an already-drained dir gives
    // its part-file a fresh name the file source would (correctly) treat
    // as unseen data
    def stageTranches(in: java.nio.file.Path, from: Int, upTo: Int): Unit = {
      val ts = Seq(
        "b0" -> evs.filter(col("ts_us") <= b1),
        "b1" -> evs.filter(col("ts_us") > b1 && col("ts_us") <= b2),
        "b2" -> evs.filter(col("ts_us") > b2))
      ts.slice(from, upTo).foreach { case (n, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$in/$n")
      }
    }
    def run(in: String, st: String, ck: String): Long = {
      @volatile var last = -1L
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$in/*/")
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          streaming.Streaming.mergeBatchIntoState(spark, st, b, id)
          last = math.max(last, id)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      last
    }
    def snap(st: String, v: Long): Seq[(Long, Long, java.math.BigDecimal, Long)] =
      spark.read.parquet(s"$st/v$v")
        .select(col("user_id"), col("n"), col("sv"), col("mts")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2), r.getLong(3)))
        .sortBy(_._1).toSeq

    // uninterrupted reference
    val inA = ops.Stage.fresh("fbrec_in_a"); val stA = ops.Stage.fresh("fbrec_st_a").toString
    stageTranches(inA, 0, 3)
    val lastA = run(inA.toString, stA, ops.Stage.fresh("fbrec_ck_a").toString)

    // interrupted: drain b0/b1, then resume with ONLY b2 newly staged
    val inB = ops.Stage.fresh("fbrec_in_b"); val stB = ops.Stage.fresh("fbrec_st_b").toString
    val ckB = ops.Stage.fresh("fbrec_ck_b").toString
    stageTranches(inB, 0, 2)
    val mid = run(inB.toString, stB, ckB)
    stageTranches(inB, 2, 3)
    val lastB = run(inB.toString, stB, ckB)
    withClue("resume must continue the version chain, not restart it: ") {
      lastB shouldBe (mid + 1)
      lastA shouldBe lastB
    }
    withClue("interrupted+resumed final state must equal the uninterrupted run: ") {
      snap(stB, lastB) shouldBe snap(stA, lastA)
    }
    withClue("and equal the one-shot batch aggregate (no loss, no double-count): ") {
      val direct = evs.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("decimal(28,2)").as("sv"),
          max(col("ts_us")).as("mts")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      snap(stA, lastA) shouldBe direct
    }
    // replay: re-apply the FINAL batch with the same id (sink write
    // survived, commit didn't) — the versioned write must be idempotent
    val lastBatch = spark.read.schema(schema).parquet(s"$inB/b2")
    streaming.Streaming.mergeBatchIntoState(spark, stB, lastBatch, lastB)
    withClue("replaying the last batch at the same version must change nothing: ") {
      snap(stB, lastB) shouldBe snap(stA, lastA)
    }
  }

  test("transformWithState sessionizer resumes from a RocksDB checkpoint with identical session emission") {
    // mirror q145: the successor API runs on the RocksDB state store,
    // so this restart also exercises RocksDB snapshot/changelog restore
    Sessions.withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      sessionRecoveryCase(tws = true, tag = "recovt")
    }
  }
}
