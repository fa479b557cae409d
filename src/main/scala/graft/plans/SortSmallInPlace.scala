package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, ShufflePartitionsUtil, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** AQE stage-preparation rule: a global sort whose input AQE has
  * already measured as one task's worth sorts in that task. The range
  * exchange `EnsureRequirements` put under the sort becomes
  * `CoalesceExec(1, child)`, which drops the `RangePartitioner` sample
  * job (a re-run of the child stage to pick bounds) and the range-shuffle
  * map stage. The output is globally sorted either way: `SinglePartition`
  * satisfies the sort's `OrderedDistribution`.
  *
  * Fires only when every leaf of the sort's input is a materialized
  * shuffle or broadcast stage, at least one is a shuffle, partition
  * coalescing is on, and coalescing those shuffles with the arguments
  * `CoalesceShufflePartitions` uses gives exactly one partition. A
  * query's first stage (leaves are scans) therefore never qualifies,
  * and neither does any input larger than one advisory partition.
  * `repartitionByRange`, sink-required distributions and local sorts
  * carry no `ENSURE_REQUIREMENTS` range exchange under a global sort,
  * so they keep their plans.
  *
  * Injected by [[graft.GraftExtensions]] (`injectQueryStagePrepRule`);
  * AQE applies it each time it re-plans after a stage materializes.
  */
case class SortSmallInPlace(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else plan.transformUp {
      case sort @ SortExec(_, true, ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if fitsOneTask(child) =>
        sort.withNewChildren(Seq(CoalesceExec(1, child)))
    }

  private def fitsOneTask(child: SparkPlan): Boolean = {
    val leaves = child.collectLeaves()
    val materialized = leaves.forall {
      case s: ShuffleQueryStageExec => s.isMaterialized
      case b: BroadcastQueryStageExec => b.isMaterialized
      case _ => false
    }
    val shuffles = leaves.collect { case s: ShuffleQueryStageExec => s }
    materialized && shuffles.nonEmpty && {
      val minNumPartitions = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse {
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) {
          session.sparkContext.defaultParallelism
        } else 1
      }
      ShufflePartitionsUtil.coalescePartitions(
        shuffles.map(_.mapStats),
        shuffles.map(_ => None),
        conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES),
        minNumPartitions,
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      ).headOption.exists(_.size == 1)
    }
  }
}
