package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `Sessions.withConfs`: every scoped conf goes back to exactly what it
  * was — its prior value, or unset — after the body, thrown or not.
  * `Sessions.future`: jobs started from a pool thread carry the
  * caller's thread state, not the state of whoever created the thread.
  */
class SessionsSpec extends AnyFunSuite with Matchers with SharedSpark {

  private val noData = "spark.sql.streaming.noDataMicroBatches.enabled"

  test("a noDataBatch = false streaming key leaves a prior noDataMicroBatches = false in place") {
    spark.conf.set(noData, "false")
    try {
      SparkEntry.queries("q141_stream_dedup")(spark, sf).collect() should not be empty
      spark.conf.get(noData) shouldBe "false"
      spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    } finally spark.conf.unset(noData)
  }

  test("a key that was unset is unset again afterwards, not pinned to its default") {
    val k = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    spark.conf.unset(k)
    Sessions.withConfs(spark, k -> "true") {
      spark.conf.get(k) shouldBe "true"
    }
    spark.conf.getAll.contains(k) shouldBe false
  }

  test("running an events key leaves an unset nanosAsLong unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val s = spark.newSession()
    s.conf.unset(key)
    SparkEntry.queries("q144_event_paths")(s, sf).collect() should not be empty
    s.conf.getAll.contains(key) shouldBe false
  }

  test("prior values come back when the body throws") {
    val (set, unset) = ("spark.sql.autoBroadcastJoinThreshold", "graft.test.scoped")
    val before = spark.conf.get(set)
    spark.conf.unset(unset)
    val ex = intercept[IllegalStateException] {
      Sessions.withConfs(spark, set -> "-1", unset -> "x") {
        spark.conf.get(set) shouldBe "-1"
        throw new IllegalStateException("boom")
      }
    }
    ex.getMessage shouldBe "boom"
    spark.conf.get(set) shouldBe before
    spark.conf.getAll.contains(unset) shouldBe false
  }

  test("jobs a key starts from pool threads carry the caller's job tag, not the pool's") {
    val sc = spark.sparkContext
    val q22 = SparkEntry.queries("q22_spearman")
    // warm: pool threads come into being while an older tag is set
    sc.addJobTag("graft-warm")
    try q22(spark, sf).collect() finally sc.removeJobTag("graft-warm")
    sc.addJobTag("graft-run")
    val jobs = try jobsDuring(q22(spark, sf).collect()) finally sc.removeJobTag("graft-run")
    // q22's two rank chains each sample and collect from a Future
    jobs.size should be > 2
    jobs.foreach { p =>
      val tags = Option(p.getProperty("spark.job.tags")).toSeq.flatMap(_.split(','))
      tags should contain("graft-run")
      tags should not contain "graft-warm"
    }
  }
}
