package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.SORT
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Optimizer rule: removes a global `Sort` that a cached table's layout
  * already satisfies. Every unordered dialect query sorts on the hidden
  * ingest-order column to restore pandas row order, and the server caches
  * tables of up to ~100k rows as ONE partition sorted on that column. The
  * physical planner removes such a sort only when nothing sits above it:
  * under a limit, Spark's limit strategy sees `Limit(Sort)` before any
  * physical ordering is known and plans `TakeOrderedAndProject`, which
  * scans, copies and heaps every row of the table. Without the sort the
  * limit plans as `CollectLimit`, which stops once it has its rows.
  *
  * The sort goes only when all of these hold:
  *  - its keys are plain attributes;
  *  - below it is a chain of deterministic `Filter`/`Project` nodes ending
  *    in a materialized, single-partition `InMemoryRelation`;
  *  - the chain's output ordering satisfies the sort.
  * The partition count is read from the loaded cached buffers, because an
  * adaptive cached plan reports unknown partitioning. A multi-partition
  * cache keeps its sort: a limit below the top of a plan reaches it
  * through a single-partition shuffle, which does not read partitions in
  * order. So do unmaterialized caches, sorts above an aggregate or a join,
  * and sorts on anything but the cached order. */
object RemoveCachedOrderSorts extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(SORT)) {
      case Sort(order, true, child, _)
          if order.forall(_.child.isInstanceOf[Attribute]) && onOrderedPartition(child) &&
            SortOrder.orderingSatisfies(child.outputOrdering, order) => child
    }

  private def onOrderedPartition(plan: LogicalPlan): Boolean = plan match {
    case f: Filter => f.condition.deterministic && onOrderedPartition(f.child)
    case p: Project => p.projectList.forall(_.deterministic) && onOrderedPartition(p.child)
    case r: InMemoryRelation =>
      // one lock for both calls, so an unpersist in between cannot make
      // the partition count rebuild the cached RDD
      val cache = r.cacheBuilder
      cache.synchronized {
        cache.isCachedColumnBuffersLoaded && cache.cachedColumnBuffers.getNumPartitions == 1
      }
    case _ => false
  }
}
