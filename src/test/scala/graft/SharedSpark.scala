package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for the whole forked test JVM (mirrors the
  * harness session shape: local[4], 4 shuffle partitions, UTC).
  */
trait SharedSpark extends BeforeAndAfterAll { this: Suite =>
  // the same session every shipped entry point builds, so specs
  // analyze exactly like prod
  lazy val spark: SparkSession = Sessions.local(4)

  val sf: String = "/root/testdata/sf0.001"

  /** The local properties of every job `body` starts, in start order.
    * Listener events arrive asynchronously, so a marker job runs before
    * and after `body`: only starts between the two markers count, and
    * the second marker's arrival means all of `body`'s have arrived.
    */
  def jobsDuring(body: => Unit): Seq[Properties] = {
    val sc = spark.sparkContext
    val key = "graft.test.marker"
    val run = java.util.UUID.randomUUID()
    val (begin, end) = (s"begin-$run", s"end-$run")
    val seen = new ConcurrentLinkedQueue[Properties]()
    val done = new CountDownLatch(1)
    @volatile var open = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new Properties)
        val m = p.getProperty(key)
        if (m == begin) open = true
        else if (m == end) done.countDown()
        else if (open) seen.add(p)
      }
    }
    def marker(m: String): Unit = {
      sc.setLocalProperty(key, m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      marker(begin)
      body
      marker(end)
      assert(done.await(60, TimeUnit.SECONDS), "the closing marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }
}
