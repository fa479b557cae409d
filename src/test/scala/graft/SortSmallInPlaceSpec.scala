package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `graft.plans.SortSmallInPlace`: a global sort over an input AQE has
  * measured as one partition sorts in the task that made its rows (no
  * range-sample job, no range-shuffle stage), with the rows and their
  * order unchanged; everything else keeps its range exchange.
  */
class SortSmallInPlaceSpec extends AnyFunSuite with Matchers with SharedSpark
    with AdaptiveSparkPlanHelper {

  /** Range exchanges anywhere in the executed plan, inside query stages
    * too; after an action this is AQE's final plan. */
  private def rangeExchanges(df: DataFrame): Seq[ShuffleExchangeLike] =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  private def coalesces(df: DataFrame): Seq[CoalesceExec] =
    collect(df.queryExecution.executedPlan) { case c: CoalesceExec => c }

  /** A groupBy.agg.orderBy over lineitem with nulls in both sort keys:
    * `k` asc nulls last, `f` desc nulls first, then every other column,
    * so the (k, f) group key breaks every tie. */
  private def mixed(keep: DataFrame => DataFrame): DataFrame =
    keep(Tables.lineitem(spark, sf))
      .groupBy(
        when(col("l_linenumber") % 3 =!= 0, col("l_linenumber") % 3).as("k"),
        when(col("l_returnflag") =!= "A", col("l_returnflag")).as("f"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      .orderBy(col("k").asc_nulls_last, col("f").desc_nulls_first, col("n").desc, col("q"))

  private def withoutAqe(df: => DataFrame): Seq[Row] =
    Sessions.withConfs(spark, "spark.sql.adaptive.enabled" -> "false")(df.collect().toSeq)

  test("a q21-shaped aggregate sorts in place: 2 jobs, no range exchange") {
    val df = SparkEntry.queries("q21_percentiles")(spark, sf)
    jobsDuring(df.write.format("noop").mode("overwrite").save()).size shouldBe 2
    val ran = SparkEntry.queries("q21_percentiles")(spark, sf)
    val rows = ran.collect().toSeq
    rangeExchanges(ran) shouldBe empty
    coalesces(ran) should have size 1
    rows shouldBe withoutAqe(SparkEntry.queries("q21_percentiles")(spark, sf))
    rows.map(_.getString(0)) shouldBe rows.map(_.getString(0)).sorted
  }

  test("mixed asc/desc keys with nulls first and last keep their rows and order") {
    val df = mixed(identity)
    val rows = df.collect().toSeq
    rangeExchanges(df) shouldBe empty
    rows.map(r => (Option(r.get(0)), Option(r.get(1)))).toSet should contain allOf (
      (None, None), (None, Some("R")), (Some(1), None))
    rows shouldBe withoutAqe(mixed(identity))
  }

  test("an empty input and a one-row input keep their rows") {
    val none = (li: DataFrame) => li.filter(col("l_quantity") < 0)
    mixed(none).collect() shouldBe empty
    withoutAqe(mixed(none)) shouldBe empty
    val first = Tables.lineitem(spark, sf)
      .agg(min(struct(col("l_orderkey"), col("l_linenumber")))).head().getStruct(0)
    val one = (li: DataFrame) =>
      li.filter(col("l_orderkey") === first.getLong(0) && col("l_linenumber") === first.getInt(1))
    // AQE's own OptimizeOneRowPlan already drops a sort over one row,
    // so only the rows are pinned here
    val rows = mixed(one).collect().toSeq
    rows should have size 1
    rows shouldBe withoutAqe(mixed(one))
  }

  test("with partition coalescing off the range exchange stays") {
    Sessions.withConfs(spark, "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val df = mixed(identity)
      val rows = df.collect().toSeq
      rangeExchanges(df) should not be empty
      coalesces(df) shouldBe empty
      rows shouldBe withoutAqe(mixed(identity))
    }
  }

  test("an input AQE reads as several partitions keeps the range exchange") {
    val byOrder = () => Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
      .orderBy(col("q").desc, col("l_orderkey"))
    Sessions.withConfs(spark,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4k",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "2k") {
      val df = byOrder()
      val rows = df.collect().toSeq
      rangeExchanges(df) should not be empty
      coalesces(df) shouldBe empty
      rows shouldBe withoutAqe(byOrder())
    }
  }

  test("an orderBy straight over a scan keeps the range exchange") {
    val df = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
    val keys = df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    rangeExchanges(df) should not be empty
    coalesces(df) shouldBe empty
    keys shouldBe keys.sorted
  }

  test("repartitionByRange(4, …) over an aggregate still gives 4 partitions") {
    val df = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
      .repartitionByRange(4, col("l_orderkey"))
    df.queryExecution.toRdd.getNumPartitions shouldBe 4
    rangeExchanges(df) should not be empty
    coalesces(df) shouldBe empty
  }
}
