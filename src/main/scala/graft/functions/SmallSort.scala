package graft.functions

import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LogicalPlan,
  RepartitionOperation, Sort, Tail, Window}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.LogicalQueryStage
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.internal.SQLConf

/** Plans a global sort of a known-small input as `Exchange
  * SinglePartition` plus one sort. Spark's own plan range-partitions
  * the input first, and its `RangePartitioner` samples the input with
  * a job of its own before the shuffle, so the input is computed
  * twice. One partition satisfies the sort's `OrderedDistribution`, so
  * `EnsureRequirements` adds no exchange and nothing is sampled; the
  * sort's answer is the same.
  *
  * Known small means the input's plan statistics fit under
  * `spark.sql.autoBroadcastJoinThreshold`, the size Spark already
  * trusts one task with when it broadcasts (the same test as Spark's
  * `canBroadcastBySize`). A threshold of -1, unknown statistics, a
  * streaming plan, or an input that is already one partition (a limit,
  * `repartition(1)`, an unpartitioned window) keep Spark's plan, so a
  * large sort stays range-partitioned. Under AQE the strategy runs
  * again at each re-plan, where a finished stage carries its runtime
  * size; a finished range exchange has sampled already and is kept.
  *
  * Installed by [[GraftFunctions.register]] (an extra strategy) and by
  * [[graft.GraftExtensions]] (`injectPlannerStrategy`). */
object SmallSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _)
        if !plan.isStreaming && small(child) && !onePartition(child) =>
      SortExec(order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(child))) :: Nil
    case _ => Nil
  }

  private def small(p: LogicalPlan): Boolean = {
    val size = p.stats.sizeInBytes
    size >= 0 && size <= SQLConf.get.autoBroadcastJoinThreshold
  }

  private def onePartition(p: LogicalPlan): Boolean = p match {
    case q: LogicalQueryStage => q.physicalPlan.outputPartitioning match {
      case SinglePartition | _: RangePartitioning => true
      case _ => false
    }
    case _: GlobalLimit | _: Tail => true
    case r: RepartitionOperation => r.numPartitions == 1
    case w: Window => w.partitionSpec.isEmpty
    case _ => false
  }
}
