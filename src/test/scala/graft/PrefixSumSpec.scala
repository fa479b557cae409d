package graft

import graft.plans.PrefixSumExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
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

  private val keys = Seq("q22_spearman", "q273_weighted_quantile", "q135_gini", "q124_ks_test",
    "q161_kruskal_wallis", "q340_dunn_posthoc", "q404_weibull_fit")

  /** The keys whose prefix-sum input used to be a `localCheckpoint`. */
  private val uncheckpointed = Seq("q161_kruskal_wallis", "q340_dunn_posthoc", "q404_weibull_fit")

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

  test("q161, q340 and q404 sum their small prefix-sum input in one task, with no RDD scan") {
    uncheckpointed.foreach { k =>
      val plan = noopPlan(fn(k))
      val sums = collect(plan) { case p: PrefixSumExec => p }
      withClue(s"$k:\n$plan\n") {
        collect(plan) { case r: RDDScanExec => r } shouldBe empty
        sums should not be empty
        all(sums.map(p => collect(p) { case c: CoalesceExec => c }.nonEmpty)) shouldBe true
        collect(plan) {
          case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
        } shouldBe empty
      }
    }
  }

  test("q22's noop write runs the same jobs three times in a row") {
    val runs = (1 to 3).map(_ => jobsDuring(noop(fn("q22_spearman"))).size)
    runs.distinct should have size 1
  }
}
