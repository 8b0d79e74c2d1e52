package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan,
  Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

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

  /** Parquet-footer (min, max) BOUNDS for `df`'s column `colName`, in the
    * column's integral time-embedding units (epoch micros for timestamps,
    * raw value for integers, epoch days for dates) — WITHOUT a data pass:
    * only row-group metadata is read, on the driver. None whenever the
    * derivation isn't provably bound-preserving; callers fall back to an
    * eager min/max job.
    *
    * The column is traced through the ANALYZED plan (pre-cache
    * substitution, so a registry-persisted table still exposes its
    * parquet relation) across nodes that cannot WIDEN the value set:
    * Project aliases, Filter (narrows), SubqueryAlias, and Aggregate
    * when the attribute is a plain grouping column (dedup preserves
    * values). Within a projection, value-BOUNDING wrappers also pass:
    * temporal casts between the timestamp flavors (micros-preserving
    * under the session-UTC convention), integer-widening casts, and
    * `date_trunc` with a literal unit — truncation moves values down by
    * less than one unit, accumulated as low-side slack on the returned
    * bounds. Anything else — joins, unions, arithmetic, generated
    * columns — bails. Footer bounds therefore bound a SUPERSET of the
    * observed values: valid bounds, possibly wide, which is the
    * contract the granule-derivation caller needs (any width is correct;
    * wide bounds only coarsen segmentation toward fewer granules).
    *
    * Physical decoding: INT32/INT64 chunks with plain/signed-int
    * annotations map raw; TIMESTAMP(MICROS) maps raw (Spark surfaces
    * micros); TIMESTAMP(MILLIS) scales ×1000 (saturating);
    * TIMESTAMP(NANOS) maps raw only when Spark reads the column as
    * LongType (the `nanosAsLong` layout, embedded pass-through); DATE
    * maps raw days. Anything else (INT96, doubles, decimals, unsigned)
    * → None. A chunk with no statistics → None (unknowable); an
    * all-null chunk is skipped (min/max over non-null values, matching
    * the eager pre-pass). */
  def parquetFooterBounds(df: DataFrame, colName: String): Option[(Long, Long)] =
    parquetRowGroupBounds(df, colName).flatMap { blocks =>
      if (blocks.isEmpty) None
      else Some((blocks.map(_._1).min, blocks.map(_._2).max))
    }

  /** Per-ROW-GROUP (min, max) bounds for `df`'s column `colName` — the
    * same plan trace, decode rules, and slack handling as
    * [[parquetFooterBounds]], but one entry per parquet row group in
    * file/block order instead of the global fold. All-null row groups
    * are skipped; any unknowable block (missing stats, undecodable
    * physical type) fails the whole derivation to None. The per-block
    * granularity is LAYOUT evidence: near-disjoint sorted ranges prove
    * the file layout is time-clustered (each input split covers a
    * narrow window), which is what layout-dependent strategies (e.g.
    * the native session_window merge) need to be provably safe. */
  def parquetRowGroupBounds(df: DataFrame,
                            colName: String): Option[Seq[(Long, Long)]] = {
    import org.apache.spark.sql.types._
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val session = ds.sparkSession
    val plan = ds.queryExecution.analyzed
    val resolver = session.sessionState.conf.resolver

    // Accumulated DOWNWARD slack in the leaf's embedded units: monotone
    // floor-like wrappers (date_trunc) move values down by less than one
    // trunc unit, so footer bounds widen by `slack` on the low side and
    // stay valid. Only widening is ever applied — never narrowing.
    var slack = 0L
    def saturatingAdd(a: Long, b: Long): Long =
      try Math.addExact(a, b) catch { case _: ArithmeticException => Long.MaxValue }

    // Strip a named projection down to its source attribute through
    // value-bounding wrappers: temporal casts between the two timestamp
    // flavors preserve the stored micros (session is UTC in every graft
    // entry point), integer widening casts preserve values, and
    // date_trunc with a literal unit lowers values by < one unit
    // (accumulated as slack). Anything else — arithmetic, string casts,
    // UDFs — returns None.
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    def truncSlackMicros(fmt: String): Option[Long] = fmt.toLowerCase match {
      case "microsecond" => Some(0L)
      case "millisecond" => Some(1000L)
      case "second"      => Some(1000000L)
      case "minute"      => Some(60L * 1000000L)
      case "hour"        => Some(3600L * 1000000L)
      case "day"         => Some(86400L * 1000000L)
      case "week"        => Some(7L * 86400L * 1000000L)
      // calendar units are variable-width; a 366-day slack bounds them
      case "month" | "quarter" | "year" => Some(366L * 86400L * 1000000L)
      case _ => None
    }
    def strip(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Attribute] =
      e match {
        case a: Attribute => Some(a)
        case Alias(c, _) => strip(c)
        case c: org.apache.spark.sql.catalyst.expressions.Cast =>
          (c.child.dataType, c.dataType) match {
            case (f, t) if f == t => strip(c.child) // identity cast survives analysis
            case (TimestampNTZType, TimestampType) |
                 (TimestampType, TimestampNTZType) => strip(c.child)
            case (f: org.apache.spark.sql.types.IntegralType,
                  t: org.apache.spark.sql.types.IntegralType)
                if t.defaultSize >= f.defaultSize => strip(c.child)
            case _ => None
          }
        case t: org.apache.spark.sql.catalyst.expressions.TruncTimestamp =>
          t.format match {
            case org.apache.spark.sql.catalyst.expressions.Literal(fmt, _) if fmt != null =>
              truncSlackMicros(fmt.toString) match {
                case Some(s) => slack = saturatingAdd(slack, s); strip(t.timestamp)
                case None    => None
              }
            case _ => None
          }
        case _ => None
      }

    @scala.annotation.tailrec
    def trace(p: LogicalPlan, attr: Attribute): Option[(LogicalRelation, Attribute)] =
      p match {
        case Project(projList, child) =>
          projList.find(_.exprId == attr.exprId).flatMap(strip) match {
            case Some(a) => trace(child, a)
            case None    => None
          }
        case Filter(_, child) => trace(child, attr)
        case SubqueryAlias(_, child) => trace(child, attr)
        case Aggregate(groupingExprs, aggExprs, child, _) =>
          // value-preserving only for a plain grouping attribute (the
          // aggregate merely dedups its values)
          aggExprs.find(_.exprId == attr.exprId) match {
            case Some(out) =>
              val underlying = out match {
                case a: Attribute        => Some(a)
                case Alias(a: Attribute, _) => Some(a)
                case _                   => None
              }
              underlying.filter(u =>
                groupingExprs.exists {
                  case g: Attribute => g.exprId == u.exprId
                  case _            => false
                }) match {
                case Some(u) => trace(child, u)
                case None    => None
              }
            case None => None
          }
        case lr: LogicalRelation if lr.output.exists(_.exprId == attr.exprId) =>
          lr.relation match {
            case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[
                org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
              Some((lr, attr))
            case _ => None
          }
        case _ => None
      }

    def saturatingTimes1000(v: Long): Long =
      try Math.multiplyExact(v, 1000L)
      catch { case _: ArithmeticException => if (v > 0) Long.MaxValue else Long.MinValue }

    plan.output.find(a => resolver(a.name, colName)).flatMap { attr =>
      trace(plan, attr).flatMap { case (lr, leafAttr) =>
        val sparkType = leafAttr.dataType
        val fs = lr.relation.asInstanceOf[HadoopFsRelation]
        val conf = session.sessionState.newHadoopConf()
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
        import org.apache.parquet.schema.LogicalTypeAnnotation
        import scala.jdk.CollectionConverters._

        val blocks = Seq.newBuilder[(Long, Long)]
        val ok = fs.location.inputFiles.forall { pathStr =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(pathStr), conf))
          try {
            val schema = reader.getFooter.getFileMetaData.getSchema
            reader.getFooter.getBlocks.asScala.forall { block =>
              block.getColumns.asScala
                .find(_.getPath.toDotString == leafAttr.name) match {
                case None => false // column absent in this file: bail
                case Some(chunk) =>
                  val stats = chunk.getStatistics
                  if (stats == null || stats.isEmpty) false // unknowable
                  else if (!stats.hasNonNullValue) true     // all-null chunk
                  else {
                    val field = schema.getType(schema.getFieldIndex(leafAttr.name))
                      .asPrimitiveType()
                    val raw: Option[(Long, Long)] = field.getPrimitiveTypeName match {
                      case PrimitiveTypeName.INT64 =>
                        Some((stats.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                          stats.genericGetMax.asInstanceOf[java.lang.Long].longValue))
                      case PrimitiveTypeName.INT32 =>
                        Some((stats.genericGetMin.asInstanceOf[java.lang.Integer].longValue,
                          stats.genericGetMax.asInstanceOf[java.lang.Integer].longValue))
                      case _ => None
                    }
                    val embedded: Option[(Long, Long)] = raw.flatMap { case (mn, mx) =>
                      (field.getLogicalTypeAnnotation, sparkType) match {
                        case (null, _: ByteType | _: ShortType | _: IntegerType |
                                    _: LongType) => Some((mn, mx))
                        case (i: LogicalTypeAnnotation.IntLogicalTypeAnnotation,
                              _: ByteType | _: ShortType | _: IntegerType | _: LongType)
                            if i.isSigned => Some((mn, mx))
                        case (t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation,
                              TimestampType | TimestampNTZType) =>
                          t.getUnit match {
                            case LogicalTypeAnnotation.TimeUnit.MICROS => Some((mn, mx))
                            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                              Some((saturatingTimes1000(mn), saturatingTimes1000(mx)))
                            case _ => None
                          }
                        case (t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation,
                              _: LongType)
                            if t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS =>
                          Some((mn, mx)) // nanosAsLong layout: raw pass-through
                        case (_: LogicalTypeAnnotation.DateLogicalTypeAnnotation,
                              _: DateType) => Some((mn, mx))
                        case _ => None
                      }
                    }
                    embedded match {
                      case Some((mn, mx)) =>
                        blocks += ((mn, mx))
                        true
                      case None => false
                    }
                  }
              }
            }
          } finally reader.close()
        }
        // widen each block's low side by the accumulated trunc slack
        // (floor-like wrappers move values down by < one unit; saturating)
        def slacked(v: Long): Long =
          try Math.subtractExact(v, slack)
          catch { case _: ArithmeticException => Long.MinValue }
        val out = blocks.result().map { case (mn, mx) => (slacked(mn), mx) }
        if (ok && out.nonEmpty) Some(out) else None
      }
    }
  }
}
