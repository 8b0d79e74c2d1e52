package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access shim: the Column ⇄ Expression bridges are `private[sql]` in
  * Spark 4 (org.apache.spark.sql.classic.ExpressionUtils), but building a
  * `Column` from a custom Catalyst `Expression` is exactly the supported
  * extension path for native functions. This object lives in the sql
  * package purely to re-export those two bridges to graft code. */
object GraftSqlShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df` as a scan of its own partitions, declared range-partitioned
    * and sorted on `colName`, ascending ([[graft.plans.OrderedLayout]]).
    * Planning it runs no job. The caller guarantees the claim: ingest's
    * contiguous body chunks give each partition ascending ids above those
    * of the partition before. */
  def rangeOrderedScan(df: DataFrame, colName: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val rdd = ds.queryExecution.toRdd
    val output = ds.queryExecution.analyzed.output
    val scan = org.apache.spark.sql.execution.LogicalRDD(output, rdd,
      org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning(rdd.getNumPartitions),
      Nil, isStreaming = false)(ds.sparkSession)
    classic.Dataset.ofRows(ds.sparkSession, graft.plans.OrderedLayout(
      output.filter(_.name == colName).map(SortOrder(_, Ascending)), scan))
  }

  /** Materialized in-memory byte size of a cached DataFrame, from the
    * InMemoryRelation's accumulated stats — the honest analog of the
    * reference's deep `memory_usage` (only meaningful after the cache has
    * been built by an action). None if the frame isn't cached. */
  def cachedSizeOf(df: DataFrame): Option[Long] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation.computeStats().sizeInBytes.toLong)
  }

  /** `df`'s rows as Spark's internal rows, collected the way
    * `Dataset.collect` collects them (one SQL execution, the same
    * internal-error wrapping), without converting them to `Row`s. */
  def collectInternal(df: DataFrame): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("collect")) {
      execution.QueryExecution.withInternalError("""The "collect" action failed.""") {
        qe.executedPlan.resetMetrics()
        qe.executedPlan.executeCollect()
      }
    }
  }

  /** Row count known EXACT at plan level, without running a job: a
    * LocalRelation's literal length, or a cache-MATERIALIZED
    * InMemoryRelation's accumulated count (the post-load branch of its
    * computeStats, fed by per-batch accumulators — exact once the buffers
    * are built, which the server guarantees by counting at store time).
    * None for anything else: catalog/CBO stats (ANALYZE) can be a
    * stale-but-defined ESTIMATE, and consumers of this helper use the
    * count for hard validation where a wrong-but-confident number is
    * worse than no number. */
  def exactRowCountOf(df: DataFrame): Option[Long] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(l.data.length.toLong)
      case _ =>
        ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
          .flatMap { cd =>
            val rel = cd.cachedRepresentation
            if (rel.cacheBuilder.isCachedColumnBuffersLoaded)
              rel.computeStats().rowCount.map(_.toLong)
            else None
          }
    }
  }

  /** Block until every posted event has reached the listeners (the bus is
    * `private[spark]`), so a listener has seen every job of the actions
    * that already returned. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
