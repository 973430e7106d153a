package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.internal.SQLConf

/** A global sort in one task: rows pass through unchanged, and the node
  * only states what its input must be — ONE partition (`AllTuples`),
  * ordered by `order`. EnsureRequirements then adds a single-partition
  * exchange only when the input has several partitions, and a local
  * (spillable) sort only when the input is not already so ordered; an
  * unpartitioned window's output needs neither.
  */
case class OneTaskSortExec(order: Seq[SortOrder], child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] = AllTuples :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(c: SparkPlan): OneTaskSortExec =
    copy(child = c)
}

/** Plans a global `Sort` (`ORDER BY`, `orderBy`) whose input is
  * estimated at no more than `spark.sql.autoBroadcastJoinThreshold` as
  * [[OneTaskSortExec]]. Spark's own plan is a range exchange, whose
  * bound-sampling job re-executes the sort's whole input stage before
  * the shuffle runs; below the broadcast threshold one task sorts the
  * input faster than that extra job takes.
  *
  * When it does not fire, Spark's range sort plans the node as before:
  *   - the threshold is −1 (broadcasts off turns this off too);
  *   - the input's estimate is larger, e.g. a join, whose estimate is the
  *     product of its sides;
  *   - the input is a `LogicalRDD` (a checkpoint, `createDataFrame` over
  *     an RDD), whose default estimate is `spark.sql.defaultSizeInBytes`,
  *     i.e. huge — until AQE re-plans the query after a stage below the
  *     sort has run: the strategy runs again then, with the stage's
  *     measured size in place of the estimate, and AQE keeps the new
  *     plan only when it has no more shuffles than the current one.
  * Like a broadcast, it trusts the estimate: an input that the estimate
  * undercounts is sorted in one task, spilling to disk when it must.
  */
object OneTaskSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _)
        if child.stats.sizeInBytes <= SQLConf.get.autoBroadcastJoinThreshold =>
      OneTaskSortExec(order, planLater(child)) :: Nil
    case _ => Nil
  }
}
