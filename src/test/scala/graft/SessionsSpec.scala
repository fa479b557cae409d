package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `Sessions.withConfs`: every scoped conf goes back to exactly what it
  * was — its prior value, or unset — after the body, thrown or not.
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
}
