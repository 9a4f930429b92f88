package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, RowOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Planner strategy: the global sort at the root of an answer is
  * planned as a [[SortedCollectExec]] — each partition sorted in place,
  * the sorted runs merged where the rows end up.
  *
  * Spark plans every global sort as a range shuffle: a sampling job
  * that recomputes the whole child to find the range bounds, the
  * shuffle itself, then a sort within each range. For the sort at the
  * root of a `collect()` all of that moves rows the driver is about to
  * hold anyway. The node asks only for its child's ordering, so
  * `EnsureRequirements` adds a per-partition `SortExec` and no exchange;
  * `collect()` then merges the runs on the driver (the sort-then-merge
  * shape of DataFusion's `SortPreservingMergeExec`).
  *
  * It matches only `ReturnAnswer(Sort(global = true))`, the hook
  * Spark's own `SpecialLimits` uses for `TakeOrderedAndProjectExec`. A
  * `Limit` over the sort is already a `TakeOrderedAndProject` (the root
  * is the limit), and a sort under a write, a `Project` or a window is
  * not the root, so all of those keep Spark's plan.
  *
  * Installed by GraftExtensions via injectPlannerStrategy.
  */
object SortedCollect extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Sort(order, true, child, _)) =>
      SortedCollectExec(order, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** A global sort whose child is sorted within each partition.
  *
  * `executeCollect` (the `collect()` path) takes the child's sorted runs
  * in partition order and merges them on the driver with a stable
  * TimSort over the generated ordering: TimSort finds the k runs and
  * merges them in O(n log k) comparisons. Ties keep partition order, so
  * the result repeats exactly when the partitions do.
  *
  * `doExecute` serves every consumer of the RDD (`toLocalIterator`,
  * `queryExecution.toRdd`, cache builds, staged writes) and stays a
  * parallel global sort: a range shuffle, then a sort within each
  * range, built here the way `TakeOrderedAndProjectExec` builds its
  * own shuffle. Against Spark's plan it pays one extra sort, the
  * per-partition one under this node, and AQE does not see (or
  * coalesce) its `spark.sql.shuffle.partitions` range partitions.
  */
case class SortedCollectExec(order: Seq[SortOrder], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputOrdering: Seq[SortOrder] = order

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = order :: Nil

  override def executeCollect(): Array[InternalRow] = {
    val rows = child.executeCollect()
    java.util.Arrays.sort(rows, RowOrdering.create(order, child.output))
    rows
  }

  protected override def doExecute(): RDD[InternalRow] = {
    // the nodes below are built at execution time, where the calling
    // thread may have no active session for their metrics to bind to
    val prior = SparkSession.getActiveSession
    SparkSession.setActiveSession(session)
    try SortExec(order, global = true, ShuffleExchangeExec(
      RangePartitioning(order, conf.numShufflePartitions), child)).execute()
    finally prior.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SortedCollectExec =
    copy(child = newChild)
}
