package graft.plans

import graft.functions.ExactPercentile
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Percentile}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, AGGREGATE_EXPRESSION}
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Optimizer rule: an exact `percentile` over a DOUBLE runs on the
  * primitive-array kernel [[ExactPercentile]] instead of Spark's boxed
  * `Percentile`, with the same results (see the kernel's contract).
  *
  * Swapped: `Percentile` in an `Aggregate` — `percentile(x, p)`,
  * `percentile(x, array(…))`, `median(x)` and `percentile_cont(p)
  * WITHIN GROUP (ORDER BY x)` all arrive as one — when `x` is DOUBLE,
  * the frequency is the literal 1, the order is ascending, the
  * percentage is a non-null constant and the call is not DISTINCT. The
  * `AggregateExpression` keeps its result id and filter; the kernel has
  * `Percentile`'s data type and nullability, so nothing above it moves.
  *
  * Everything else stays on Spark: integral and decimal children,
  * `percentile_disc`, `WITHIN GROUP (ORDER BY x DESC)`, frequency
  * columns, DISTINCT calls, and window frames (a `Window`, not an
  * `Aggregate`).
  *
  * Injected by [[graft.GraftExtensions]] (`injectOptimizerRule`);
  * `GraftFunctions.register` adds it to a session built without them.
  */
object NativePercentile extends Rule[LogicalPlan] {

  private def isOne(freq: Expression): Boolean = freq match {
    case Literal(1L, LongType) | Literal(1, IntegerType) => true
    case _ => false
  }

  private def swappable(p: Percentile): Boolean =
    p.child.dataType == DoubleType && isOne(p.frequencyExpression) && !p.reverse &&
      p.percentageExpression.foldable && p.percentageExpression.eval() != null

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsAllPatterns(AGGREGATE, AGGREGATE_EXPRESSION)) {
      case a: Aggregate =>
        a.transformExpressionsWithPruning(_.containsPattern(AGGREGATE_EXPRESSION)) {
          case ae @ AggregateExpression(p: Percentile, _, false, _, _) if swappable(p) =>
            ae.copy(aggregateFunction = ExactPercentile(p.child, p.percentageExpression))
        }
    }
}
