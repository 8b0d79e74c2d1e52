package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning,
  SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Declares that `child`'s partitions are already range-partitioned and
  * sorted on `order`: every row of a partition sorts after every row of
  * the partitions before it, and each partition is in order. The claim is
  * the caller's; nothing is shuffled or sorted. A cache of the relation
  * reports that layout, so a sort on `order` needs neither a shuffle nor
  * a sort, and a one-partition relation needs no shuffle at all.
  *
  * The declaration sits in a unary node, above a child whose output it
  * names: a leaf that carried it would keep its attribute ids through
  * canonicalization, so a second instance of the relation in one query (a
  * self-join, an `in` sub-query) would not match the cache. */
case class OrderedLayout(order: Seq[SortOrder], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = order
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): OrderedLayout =
    copy(child = newChild)
}

/** [[OrderedLayout]] planned: the child's rows as they are, reported as
  * one partition or as range-partitioned on `order`. */
case class OrderedLayoutExec(order: Seq[SortOrder], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputOrdering: Seq[SortOrder] = order
  override def outputPartitioning: Partitioning =
    child.outputPartitioning.numPartitions match {
      case 1 => SinglePartition
      case n => RangePartitioning(order, n)
    }
  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override protected def withNewChildInternal(newChild: SparkPlan): OrderedLayoutExec =
    copy(child = newChild)
}

object OrderedLayoutStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case OrderedLayout(order, child) => OrderedLayoutExec(order, planLater(child)) :: Nil
    case _ => Nil
  }
}
