package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, IntegerLiteral, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LimitAndOffset, LogicalPlan, Offset,
  OffsetAndLimit, ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Rows `offset` until `limit` of its one-partition child (all rows after
  * `offset` when `limit` is -1), cut inside the one task that reads them:
  * only those rows are encoded, shipped to the driver and decoded.
  *
  * It is the slice Spark's `GlobalLimitExec(limit, child, offset)` takes,
  * minus two costs that node brings to a page of a cache. It requires its
  * child's rows in one partition, so adaptive execution wraps the plan,
  * turns the cache scan into a query stage and re-plans; and its whole-
  * stage code holds the limit and the offset as constants. On a 4-core
  * host a page with a fresh plan compiled twice and took ~35-55 ms longer
  * than with this node. */
case class CachedSliceExec(limit: Int, child: SparkPlan, offset: Int) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def doExecute(): RDD[InternalRow] = {
    val (from, until) = (offset, limit)
    child.execute().mapPartitions(
      it => if (until >= 0) it.slice(from, until) else it.drop(from), preservesPartitioning = true)
  }
  override protected def withNewChildInternal(newChild: SparkPlan): CachedSliceExec =
    copy(child = newChild)
}

/** Planner strategy: a page of a one-partition, row-ordered cache drops
  * its offset rows inside the task. Spark plans a collected
  * `offset M limit L` as `CollectLimit(M + L, M)`, whose task returns all
  * M + L rows; the driver decodes them and throws the first M away. Over
  * the single-partition cache chain that [[RemoveCachedOrderSorts]]
  * recognizes, the one task already holds the rows in answer order, so
  * this plans [[CachedSliceExec]]`(M + L, child, M)` instead.
  *
  * It matches only the top of a collected plan (`ReturnAnswer`) over an
  * offset with a limit, or a bare offset, with a positive offset. Deeper
  * offsets, multi-partition caches and anything merged or reordered are
  * left to Spark's own strategies. */
object CachedOffsetStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(root) => root match {
      case OffsetAndLimit(offset, limit, child)
          if offset > 0 && RemoveCachedOrderSorts.onOrderedPartition(child) =>
        CachedSliceExec(offset + limit, planLater(child), offset) :: Nil
      case LimitAndOffset(limit, offset, child)
          if offset > 0 && RemoveCachedOrderSorts.onOrderedPartition(child) =>
        CachedSliceExec(limit, planLater(child), offset) :: Nil
      case Offset(IntegerLiteral(offset), child)
          if offset > 0 && RemoveCachedOrderSorts.onOrderedPartition(child) =>
        CachedSliceExec(-1, planLater(child), offset) :: Nil
      case _ => Nil
    }
    case _ => Nil
  }
}
