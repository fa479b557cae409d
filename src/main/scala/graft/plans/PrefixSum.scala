package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Prefix sums over per-distinct-value counts, as one plan node: input
  * `v` (double) and `c1..cN` (long), one row per distinct `v`; output
  * `v, c1..cN`, `below` (the rows of every channel strictly below `v`),
  * `cum1..cumN` (each channel's rows up to and including `v`) and
  * `n1..nN` (each channel's total): all non-null, all but `v` exact
  * longs. A null `v` or count in the input fails the task.
  */
case class PrefixSum(input: Seq[Attribute], output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): PrefixSum =
    copy(child = newChild)
}

object PrefixSum {
  /** A prefix sum over `child`, whose first column is `v` and the rest
    * the channels `c1..cN`. The output is aliased once more on top: the
    * analyzer renews a Project's aliases when a frame is joined with
    * itself, but not the output of a node it does not know. */
  def of(child: LogicalPlan): LogicalPlan = {
    val n = child.output.size - 1
    def longs(prefix: String) = (1 to n).map(j => AttributeReference(s"$prefix$j", LongType, nullable = false)())
    val output = AttributeReference("v", DoubleType, nullable = false)() +:
      (longs("c") ++ (AttributeReference("below", LongType, nullable = false)() +: longs("cum")) ++ longs("n"))
    Project(output.map(a => Alias(a, a.name)()), PrefixSum(child.output, output, child))
  }
}

/** Plans [[PrefixSum]] as [[PrefixSumExec]]. */
object PrefixSumStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixSum(input, output, child) => PrefixSumExec(input, output, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** [[PrefixSum]]'s physical node. It asks for its input range-partitioned
  * and sorted by `v`, so `EnsureRequirements` plans the range exchange
  * and the local sort under it. With one input partition it sums that
  * partition in one pass and starts no job of its own; [[SortSmallInPlace]]
  * gets it there by coalescing an input that fits one task. With several,
  * one job collects each partition's channel totals, and each partition
  * then starts from the totals of the partitions before it.
  */
case class PrefixSumExec(input: Seq[Attribute], output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)

  private def byV(v: Attribute) = Seq(SortOrder(v, Ascending))
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(byV(input.head)) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = byV(input.head) :: Nil
  override def outputOrdering: Seq[SortOrder] = byV(output.head)
  override def outputPartitioning: Partitioning = UnknownPartitioning(child.outputPartitioning.numPartitions)

  override protected def doExecute(): RDD[InternalRow] = {
    val n = input.size - 1
    val ords = input.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    val rows = child.execute()
    if (rows.getNumPartitions <= 1) rows.mapPartitions { it =>
      val buffered = it.map(_.copy()).to(ArrayBuffer)
      val totals = PrefixSumExec.totals(n, ords, buffered.iterator)
      PrefixSumExec.emit(n, ords, buffered.iterator, new Array[Long](n), totals)
    } else {
      // a partition's totals do not depend on its order, so the totals
      // job reads the rows before the local sort
      val unsorted = child match {
        case s: SortExec => s.child
        case WholeStageCodegenExec(s: SortExec) => s.child
        case c => c
      }
      val parts = unsorted.execute()
        .mapPartitions(it => Iterator.single(PrefixSumExec.totals(n, ords, it)))
        .collect()
      // offsets(i)(j): channel j's rows in the partitions before i
      val offsets = parts.scanLeft(new Array[Long](n))((a, b) => Array.tabulate(n)(j => a(j) + b(j)))
      val bc = sparkContext.broadcast(offsets)
      rows.mapPartitionsWithIndex { (i, it) =>
        PrefixSumExec.emit(n, ords, it, bc.value(i), bc.value.last)
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): PrefixSumExec =
    copy(child = newChild)
}

object PrefixSumExec {
  /** Each channel's sum over `rows`. */
  private def totals(n: Int, ords: Array[Int], rows: Iterator[InternalRow]): Array[Long] = {
    val t = new Array[Long](n)
    rows.foreach(r => for (j <- 0 until n) t(j) += r.getLong(ords(j + 1)))
    t
  }

  /** `v, c1..cN, below, cum1..cumN, n1..nN` for each of `rows`, sorted
    * by `v`, with the running sums starting at `start`. */
  private def emit(n: Int, ords: Array[Int], rows: Iterator[InternalRow],
                   start: Array[Long], totals: Array[Long]): Iterator[InternalRow] = {
    val cum = start.clone()
    val w = new UnsafeRowWriter(3 * n + 2)
    rows.map { r =>
      if (ords.exists(r.isNullAt)) throw new IllegalStateException("prefix sum over a null v or count")
      w.reset()
      w.zeroOutNullBytes()
      w.write(0, r.getDouble(ords.head))
      w.write(n + 1, cum.sum)
      for (j <- 0 until n) {
        val c = r.getLong(ords(j + 1))
        cum(j) += c
        w.write(j + 1, c)
        w.write(n + 2 + j, cum(j))
        w.write(2 * n + 2 + j, totals(j))
      }
      w.getRow
    }
  }
}
