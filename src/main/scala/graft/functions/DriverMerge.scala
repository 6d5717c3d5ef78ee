package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, MutableProjection, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{AggUtils, HashAggregateExec, SortBasedAggregationIterator}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Plans an ungrouped aggregate as one job: the partial
  * `HashAggregate` runs in the tasks (whole-stage codegen, as before),
  * each task returns its one fixed-width buffer row as its result, and
  * the final merge runs on the driver ([[DriverMergeAggregateExec]]).
  * Spark's own plan ships those rows through `Exchange SinglePartition`
  * and a second stage; the reference combines such small reductions
  * from the chunks' returned results, with no shuffle in between.
  *
  * It matches an `Aggregate` with no grouping when the plan is not
  * streaming (a streaming aggregate keeps its stateful plan), no
  * aggregate is DISTINCT (FILTER clauses are fine), and Spark would
  * plan it as a final `HashAggregate` over a partial one, so every
  * buffer is fixed-width (`collect_list`, object and sort aggregates
  * never reach the driver). Anything else is left to Spark's
  * `Aggregation` strategy.
  *
  * Installed by [[GraftFunctions.register]] (an extra strategy) and by
  * [[graft.GraftExtensions]] (`injectPlannerStrategy`). */
object DriverMerge extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(Seq(), aggs, result, child)
        if !plan.isStreaming && !aggs.exists(_.isDistinct) =>
      AggUtils.planAggregateWithoutDistinct(Nil, aggs, result, planLater(child)) match {
        case Seq(f: HashAggregateExec) => f.child match {
          case partial: HashAggregateExec =>
            DriverMergeAggregateExec(f.aggregateExpressions, f.aggregateAttributes,
              f.initialInputBufferOffset, f.resultExpressions, partial) :: Nil
          case _ => Nil
        }
        case _ => Nil
      }
    case _ => Nil
  }
}

/** The final, ungrouped merge of [[DriverMerge]], run on the driver
  * over the child's partial rows (one per partition), with the final
  * `HashAggregate`'s expressions. `executeCollect` is one job;
  * `doExecute`, for consumers that need an RDD (a write, `cache`, a
  * parent operator), wraps the merged row in a one-partition RDD.
  *
  * The merge uses Spark's `SortBasedAggregationIterator`, an internal
  * API (the iterator behind `SortAggregateExec`): with no grouping
  * keys all input rows form one group. */
case class DriverMergeAggregateExec(
    aggregateExpressions: Seq[AggregateExpression],
    aggregateAttributes: Seq[Attribute],
    initialInputBufferOffset: Int,
    resultExpressions: Seq[NamedExpression],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)

  override def outputPartitioning: Partitioning = SinglePartition

  override def executeCollect(): Array[InternalRow] = executeQuery {
    val partials = child.executeCollect()
    // the merge binds to the functions' current buffer attributes,
    // which a rule that copies a function may have renamed (as
    // BaseAggregateExec.inputAttributes does)
    val merge = new SortBasedAggregationIterator(0, Nil,
      aggregateExpressions.flatMap(_.aggregateFunction.inputAggBufferAttributes),
      partials.iterator, aggregateExpressions, aggregateAttributes,
      initialInputBufferOffset, resultExpressions,
      (exprs, schema) => MutableProjection.create(exprs, schema),
      SQLMetrics.createMetric(sparkContext, "number of output rows"))
    if (partials.isEmpty) Array(merge.outputForEmptyGroupingKeyWithoutInput().copy())
    else merge.map(_.copy(): InternalRow).toArray
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override def simpleString(maxFields: Int): String =
    s"DriverMergeAggregate(functions=" +
      truncatedString(aggregateExpressions, "[", ", ", "]", maxFields) +
      ", output=" + truncatedString(output, "[", ", ", "]", maxFields) + ")"

  override protected def withNewChildInternal(newChild: SparkPlan): DriverMergeAggregateExec =
    copy(child = newChild)
}
