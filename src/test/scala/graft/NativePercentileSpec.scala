package graft

import graft.functions.ExactPercentile
import org.apache.spark.sql.{DataFrame, GraftFunctions}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Percentile, PercentileBase}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The [[graft.plans.NativePercentile]] rule: which exact percentiles
  * its optimized plans hand to [[ExactPercentile]], which stay on
  * Spark's `Percentile`, and that swapping changes no result.
  */
class NativePercentileSpec extends AnyFunSuite with Matchers with SharedSpark {

  /** Every aggregate function in `df`'s optimized plan, windows included. */
  private def aggFns(df: DataFrame): Seq[AggregateFunction] =
    df.queryExecution.optimizedPlan.collect {
      case a: Aggregate => a.aggregateExpressions
      case w: Window => w.windowExpressions
    }.flatten.flatMap(_.collect { case ae: AggregateExpression => ae.aggregateFunction })

  private def lineitem = Tables.lineitem(spark, sf)

  test("q21, q86, q254 and q273 run their percentiles on the kernel") {
    for (key <- Seq("q21_percentiles", "q86_winsorize", "q254_decision_stump", "q273_weighted_quantile")) {
      val fns = aggFns(SparkEntry.queries(key)(spark, sf))
      withClue(s"$key: ${fns.map(_.prettyName)}") {
        fns.exists(_.isInstanceOf[ExactPercentile]) shouldBe true
        fns.exists(_.isInstanceOf[PercentileBase]) shouldBe false
      }
    }
  }

  test("median, an array percentage and an ascending percentile_cont are swapped") {
    for (e <- Seq("median(l_quantity)", "percentile(l_quantity, array(0.1, 0.9))",
        "percentile_cont(0.3) WITHIN GROUP (ORDER BY l_discount)", "percentile(l_tax, 0.5, 1)")) {
      val fns = aggFns(lineitem.agg(expr(e)))
      withClue(e) { fns.map(_.getClass) shouldBe Seq(classOf[ExactPercentile]) }
    }
  }

  test("integral children, frequency columns, percentile_disc, DESC, DISTINCT and windows keep Spark's") {
    val kept = Seq(
      lineitem.agg(expr("percentile(l_orderkey, 0.5)")),
      lineitem.agg(expr("percentile(l_quantity, 0.5, l_linenumber)")),
      lineitem.agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)")),
      lineitem.agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity DESC)")),
      lineitem.agg(expr("percentile(DISTINCT l_quantity, 0.5)")),
      lineitem.select(expr("percentile(l_quantity, 0.5) OVER (PARTITION BY l_returnflag)")))
    for (df <- kept) {
      val fns = aggFns(df)
      withClue(df.queryExecution.optimizedPlan) {
        fns.exists(_.isInstanceOf[PercentileBase]) shouldBe true
        fns.exists(_.isInstanceOf[ExactPercentile]) shouldBe false
      }
    }
  }

  test("the kernel keeps the swapped call's result id, filter and type") {
    val df = lineitem.groupBy("l_returnflag").agg(
      expr("percentile(l_extendedprice, 0.5) FILTER (WHERE l_discount > 0.05)").as("p"))
    def calls(d: DataFrame) = d.queryExecution.optimizedPlan
      .collect { case a: Aggregate => a.aggregateExpressions }.flatten
      .flatMap(_.collect { case ae: AggregateExpression => ae })
    // one analyzed plan, optimized twice: the same ids on both sides
    val Seq(before) = withoutRule(calls(GraftFunctions.withPlan(df)(identity)))
    val Seq(after) = calls(df)
    before.aggregateFunction shouldBe a[Percentile]
    after.aggregateFunction shouldBe a[ExactPercentile]
    after.resultId shouldBe before.resultId
    after.filter shouldBe before.filter
    after.dataType shouldBe before.dataType
    after.nullable shouldBe before.nullable
  }

  test("the swapped keys give the rows Spark's Percentile gives") {
    for (key <- Seq("q21_percentiles", "q86_winsorize", "q273_weighted_quantile")) {
      val on = SparkEntry.queries(key)(spark, sf).collect().toSeq
      val off = withoutRule(SparkEntry.queries(key)(spark, sf).collect().toSeq)
      withClue(key) { on shouldBe off }
    }
    def arrays = lineitem.groupBy("l_returnflag").agg(
      expr("percentile(l_extendedprice, array(0, 0.05, 0.5, 0.999, 1))").as("ps"),
      expr("median(l_discount)").as("m")).orderBy("l_returnflag")
    arrays.collect().toSeq shouldBe withoutRule(arrays.collect().toSeq)
  }

  test("register leaves the rule to GraftExtensions where they already run it") {
    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    spark.experimental.extraOptimizations should not contain graft.plans.NativePercentile
  }

  /** `body` with the rule excluded from the optimizer: plans built
    * inside it keep Spark's `Percentile`. */
  private def withoutRule[A](body: => A): A =
    Sessions.withConfs(spark, "spark.sql.optimizer.excludedRules" -> graft.plans.NativePercentile.ruleName)(body)
}
