package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.{ListenerDrain, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Counters of the traced run, keyed by the span (the `perfbench.span`
  * local property) each job ran under. Spark jobs and streaming
  * microbatches become child spans; task metrics are summed per span.
  * Events arrive on the listener bus thread; `drain` reads them only
  * after the bus is empty. */
final class Listeners(clock: Clock) extends SparkListener {
  private val records = mutable.ArrayBuffer.empty[String]
  private val jobSpan = mutable.Map.empty[Int, (String, Long)]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val counters = mutable.Map.empty[String, Array[Long]]
  private val runSpan = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()

  // counter slots, in this order, in each "tasks" record
  private val names = Seq("tasks", "task_ms", "task_wait_ms", "stages",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_records", "task_failures")
  private def add(span: String, slot: Int, v: Long): Unit =
    counters.getOrElseUpdate(span, new Array[Long](names.size))(slot) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(Harness.SpanKey)).orNull
    jobSpan(e.jobId) = (span, clock.fromEpochMs(e.time))
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      records += Json.obj(Seq("t" -> Json.str("job"), "parent" -> spanJson(span),
        "job" -> e.jobId.toString, "start" -> start.toString,
        "end" -> clock.fromEpochMs(e.time).toString))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitMs((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = t)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSpan.get(e.stageInfo.stageId).foreach(add(_, 3, 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageSpan.get(e.stageId).foreach { span =>
      add(span, 0, 1)
      stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach(s =>
        add(span, 2, math.max(0L, e.taskInfo.launchTime - s)))
      if (e.reason != Success) add(span, 9, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(span, 1, m.executorRunTime)
        add(span, 4, m.shuffleReadMetrics.totalBytesRead)
        add(span, 5, m.shuffleWriteMetrics.bytesWritten)
        add(span, 6, m.memoryBytesSpilled + m.diskBytesSpilled)
        add(span, 7, m.inputMetrics.bytesRead)
        add(span, 8, m.outputMetrics.recordsWritten)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      val q = p.progress
      val start = clock.fromEpochMs(Instant.parse(q.timestamp).toEpochMilli)
      def ms(k: String): Long = Option(q.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      records += Json.obj(Seq("t" -> Json.str("batch"),
        "parent" -> spanJson(runSpan.get(q.runId)), "batch" -> q.batchId.toString,
        "start" -> start.toString,
        "end" -> (start + ms("triggerExecution") * 1000000L).toString,
        "input_rows" -> q.numInputRows.toString,
        "trigger_ms" -> ms("triggerExecution").toString,
        "add_batch_ms" -> ms("addBatch").toString,
        "commit_ms" -> (ms("walCommit") + ms("commitOffsets")).toString,
        "state_rows" -> q.stateOperators.map(_.numRowsTotal).sum.toString))
    case _ =>
  }

  /** Runs on the stream's own thread, which inherits the local properties
    * of the thread that started the query: the span of its request. */
  private[perfbench] val streams = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Option(SparkContext.getOrCreate().getLocalProperty(Harness.SpanKey))
        .foreach(runSpan.put(e.runId, _))
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private def spanJson(s: String) = if (s == null) "null" else Json.str(s)

  def drain(sc: SparkContext): Seq[String] = {
    ListenerDrain(sc)
    records.toSeq ++ counters.toSeq.sortBy(_._1).map { case (span, c) =>
      Json.obj(Seq("t" -> Json.str("tasks"), "parent" -> Json.str(span)) ++
        names.zip(c.map(_.toString)))
    }
  }
}

object Listeners {
  def attach(spark: SparkSession, clock: Clock): Listeners = {
    val l = new Listeners(clock)
    spark.sparkContext.addSparkListener(l)
    spark.streams.addListener(l.streams)
    l
  }
}
