package graft.server

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Cross-dataset plan-shape memoization, realized as store-time warmup.
  *
  * The per-item plan memo ([[CacheItem.memoizedPlan]]) makes REPEAT
  * queries fast (~30-60 ms: the finalized adaptive plan keeps its
  * materialized shuffle stages, so only the reduce side re-runs). But a
  * fleet serving many small same-schema tables pays first-contact cost
  * per table: measured phase splits put query build + analysis +
  * optimization + physical planning at only ~35 ms — the rest of the
  * ~200-350 ms is the one-time map-stage execution + adaptive
  * re-planning, which NO compile-level cache can remove, because the new
  * table's data genuinely has to be scanned once.
  *
  * So the shape memo moves that one-time scan OFF the query path: every
  * successful read query registers its (schema-normalized) shape — the
  * base schema fingerprint, the stand-in header, the raw query text —
  * and every store of a dataset whose schema matches known shapes
  * replays those shapes against the new dataset on a background thread,
  * through the SAME per-item memo the query path consults. By the time
  * the first real query arrives, it is a memo hit with materialized
  * stages: first contact lands in the warm envelope.
  *
  * Bounds and honesty: at most [[MaxSchemas]] schemas × [[MaxShapes]]
  * shapes are retained (LRU both levels); warmup is fire-and-forget on
  * ONE daemon thread (a flood of stores degrades to plain cold first
  * queries, never to queueing user work); a warmed plan that loses the
  * race with eviction/replacement is a harmless no-op (the memo dies
  * with its item); failures are swallowed — warmup must never surface
  * errors a real query wouldn't. Statistics are not touched: warmup is
  * not traffic. */
object ShapeWarmer {
  private[server] val MaxSchemas = 16
  private[server] val MaxShapes = 4

  /** memo key → (raw query json, stand-in pairs), newest-accessed last.
    * The stand-ins are stored AS PARSED PAIRS — the memo key joins them
    * with `;`/`=`/`|` purely as a cache key, and re-parsing that string
    * would mis-split a stand-in value containing one of the separators,
    * warming (and memoizing!) a plan built from the wrong values. */
  private type Shapes =
    java.util.LinkedHashMap[String, (String, Seq[(String, String)])]
  private val registry =
    new java.util.LinkedHashMap[StructType, Shapes](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[StructType, Shapes]): Boolean =
        size() > MaxSchemas
    }

  private val pool = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-shape-warmer")
      t.setDaemon(true)
      t
    })

  /** The query path's memo key — stand-ins canonicalized in declaration
    * order, then the raw query text. Kept here so the warm path can never
    * drift from the read path's key. */
  private[graft] def memoKey(standIns: Seq[(String, String)], qJson: String): String =
    standIns.map { case (n, v) => s"$n=$v" }.mkString("", ";", "|") + qJson

  /** Record a successfully-served read shape against the BASE (pre-
    * stand-in) schema. */
  def record(schema: StructType, standIns: Seq[(String, String)], qJson: String): Unit =
    registry.synchronized {
      val shapes = registry.get(schema) match {
        case null =>
          val s: Shapes = new java.util.LinkedHashMap[String, (String, Seq[(String, String)])](8, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[String, (String, Seq[(String, String)])]): Boolean =
              size() > MaxShapes
          }
          registry.put(schema, s)
          s
        case s => s
      }
      shapes.put(memoKey(standIns, qJson), (qJson, standIns))
    }

  /** Shapes known for this schema as (memoKey, qJson, standIns), hottest
    * last. */
  private def shapesFor(schema: StructType): Seq[(String, String, Seq[(String, String)])] =
    registry.synchronized {
      registry.get(schema) match {
        case null => Seq.empty
        case s =>
          val it = s.entrySet().iterator()
          val out = Seq.newBuilder[(String, String, Seq[(String, String)])]
          while (it.hasNext) {
            val e = it.next()
            out += ((e.getKey, e.getValue._1, e.getValue._2))
          }
          out.result()
      }
    }

  /** Background-warm every known shape of `item`'s schema against it,
    * populating the item's own plan memo and materializing the plans'
    * shuffle stages. Never blocks the caller. */
  def warm(item: CacheItem): Unit = {
    val shapes = shapesFor(item.df.schema)
    if (shapes.nonEmpty) pool.execute { () =>
      shapes.foreach { case (key, qJson, standIns) =>
        try {
          val q = graft.engine.Query.parse(qJson)
          val withStandIns =
            graft.sources.Ingest.addStandInColumns(item.df, standIns)
          val result = item.memoizedPlan(key)(
            graft.engine.QueryEngine.run(withStandIns, q, _ => None, Some(item.rowCount)))
          // materialize: run the finalized plan without collecting rows
          // to the driver (an InternalRow count, not a new count() plan)
          val _ = result.df.queryExecution.toRdd.count()
        } catch { case _: Throwable => () }
      }
    }
  }

  /** Test hook: block until every queued warmup has finished. */
  private[graft] def drain(): Unit =
    pool.submit(new Runnable { def run(): Unit = () }).get()

  /** Test hook: forget all recorded shapes. */
  private[graft] def clear(): Unit = registry.synchronized(registry.clear())
}
