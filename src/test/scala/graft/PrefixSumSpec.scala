package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `graft.plans.PrefixSum`: the keys built on `Science.cumCounts` start no
  * job while their DataFrames are built, run without an RDD round trip,
  * and plan the same way every time they run.
  */
class PrefixSumSpec extends AnyFunSuite with Matchers with SharedSpark
    with AdaptiveSparkPlanHelper {

  private def fn(key: String): DataFrame = SparkEntry.queries(key)(spark, sf)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The final adaptive plan of `df`'s noop write. */
  private def noopPlan(df: DataFrame): SparkPlan = {
    val writes = new Explain.NoopWrites(spark)
    try {
      noop(df)
      writes.next().executedPlan
    } finally writes.close()
  }

  private val keys = Seq("q22_spearman", "q273_weighted_quantile", "q135_gini", "q124_ks_test")

  test("building a cumCounts key starts no job") {
    keys.foreach(fn) // table schemas are inferred once per session
    keys.foreach { k =>
      withClue(s"$k: ") { jobsDuring(fn(k)) shouldBe empty }
    }
  }

  test("q22 and q273 run without an RDD scan") {
    Seq("q22_spearman", "q273_weighted_quantile").foreach { k =>
      val plan = noopPlan(fn(k))
      withClue(s"$k:\n$plan\n") {
        collect(plan) { case r: RDDScanExec => r } shouldBe empty
        plan.toString should not include "ExistingRDD"
      }
    }
  }

  test("q22's noop write runs the same jobs three times in a row") {
    val runs = (1 to 3).map(_ => jobsDuring(noop(fn("q22_spearman"))).size)
    runs.distinct should have size 1
  }
}
