package graft.server

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** A cached dataset: the persisted DataFrame plus the bookkeeping the
  * reference keeps per entry (reference: qcache/dataset_cache.py:4-21), and
  * the frame's exact row count, counted when it was cached. */
final class CacheItem(val df: DataFrame, val size: Long, val creationTime: Long,
                      val rowCount: Long) {
  @volatile var lastAccessTime: Long = creationTime
  @volatile var accessCount: Long = 0

  /** Planned-read-query memo. The reference's lifecycle is store-once-
    * query-many, so identical (stand-ins, query) requests reuse the SAME
    * lazy plan object: Catalyst keeps its finalized adaptive physical plan
    * and already-materialized shuffle stages, so a repeat grouped query
    * skips planning + codegen + the map stage and goes straight to the
    * reduce-side read. Invalidation is structural — the memo lives on the
    * item, and every mutation path (update swap, re-store, delete, TTL/LRU
    * eviction) replaces or drops the item, so a stale hit is impossible.
    * The lock is held only while BUILDING the lazy plan — usually ~ms
    * with no Spark job, except operators with an eager pre-pass (the
    * sessionize xop past its segmentation gate runs one column-pruned
    * min/max job at build time), which briefly serialize other queries
    * on the SAME dataset; execution happens outside. */
  private val planMemo = new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, AnyRef]): Boolean =
      size() > CacheItem.MaxMemoizedPlans
  }
  def memoizedPlan[A <: AnyRef](key: String)(build: => A): A = planMemo.synchronized {
    planMemo.get(key) match {
      case null => val v = build; planMemo.put(key, v); v
      case hit  => hit.asInstanceOf[A]
    }
  }

  /** Drop one memo entry — the artifact-churn heal. "Stale hit is
    * impossible" above holds for DATASET mutations (they replace the
    * item); a memoized read of a PERSISTED INDEX, though, captures a
    * file listing that a later index_update/compaction swaps away — the
    * one dependency item replacement cannot see. The server's
    * missing-input-file retry invalidates the stale plan so the rebuilt
    * one is memoized in its place and the next identical request plans
    * fresh instead of re-tripping the retry forever. */
  private[graft] def invalidateMemo(key: String): Unit =
    planMemo.synchronized { planMemo.remove(key); () }

  /** Test hook: the memo's current keys (insertion/access order). */
  private[graft] def memoizedKeys: Seq[String] = planMemo.synchronized {
    val it = planMemo.keySet().iterator()
    val out = Seq.newBuilder[String]
    while (it.hasNext) out += it.next()
    out.result()
  }
}

object CacheItem {
  /** Per-dataset LRU bound on memoized plans; each entry pins its lazy
    * DataFrame (and any shuffle files its finalized plan references). */
  val MaxMemoizedPlans = 64
}

object DatasetCache {
  /** Persist `df` and build its cache with ONE Spark job, which also
    * returns the row count. `df.count()` would plan an aggregate over the
    * cache, two jobs under AQE; counting the rows of `df`'s own plan, a
    * scan of the cache, is one. It runs as an SQL execution, as an action
    * would, so its tasks see the session's SQL conf. Call it before
    * anything plans `df`, so that plan reads the cache it builds. */
  def materialize(df: DataFrame): Long = {
    df.persist(StorageLevel.MEMORY_ONLY)
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("materialize"))(
      qe.toRdd.count())
  }
}

/** Byte-budget LRU + TTL cache of DataFrames, replicating the reference's
  * eviction rules (reference: qcache/dataset_cache.py):
  *   - eviction order = least-recently-ACCESSED first
  *   - a single dataset larger than the whole budget is refused
  *   - TTL is checked lazily at query time, not by a reaper thread
  *
  * DataFrames persist MEMORY_ONLY; eviction unpersists. `clock` is
  * injectable so TTL behavior is testable without sleeping.
  */
final class DatasetCache(val maxSize: Long, val maxAge: Long,
                         clock: () => Long = () => System.currentTimeMillis()) {
  private val lock = new Object
  private val items = mutable.LinkedHashMap.empty[String, CacheItem]
  private var totalSize: Long = 0

  def size: Long = lock.synchronized(totalSize)
  def count: Int = lock.synchronized(items.size)
  def contains(key: String): Boolean = lock.synchronized(items.contains(key))

  /** Non-traffic lookup: no LRU bump, no access count — for internal
    * machinery (shape warmup) that must not masquerade as a client hit. */
  private[graft] def peek(key: String): Option[CacheItem] = lock.synchronized(items.get(key))

  /** Access bumps the LRU clock (reference: dataset_cache.py:14-18). */
  def get(key: String): Option[CacheItem] = lock.synchronized {
    items.get(key).map { item =>
      item.lastAccessTime = clock()
      item.accessCount += 1
      item
    }
  }

  def put(key: String, df: DataFrame, byteSize: Long, rowCount: Long): Unit = lock.synchronized {
    // unpersist a survivor of concurrent same-key stores (store() deletes
    // first, but two racing POSTs can both pass that check) — without this
    // the loser's blocks leak until session end
    items.remove(key).foreach { old => totalSize -= old.size; old.df.unpersist() }
    df.persist(StorageLevel.MEMORY_ONLY)
    items(key) = new CacheItem(df, byteSize, clock(), rowCount)
    totalSize += byteSize
  }

  /** Swap the frame under a key keeping its size/ctime bookkeeping — the
    * update statement's cache-replace (the reference mutates in place;
    * immutable DataFrames swap instead, SURVEY.md §7.4). The new frame
    * materializes OUTSIDE the lock — a Spark job must never run while
    * holding the cache mutex — and only the pointer swap synchronizes. */
  def replaceFrame(key: String, df: DataFrame): Unit = {
    val rowCount = DatasetCache.materialize(df) // before exposing the swapped frame
    val swapped = lock.synchronized {
      items.get(key) match {
        case Some(old) =>
          items(key) = new CacheItem(df, old.size, old.creationTime, rowCount)
          Some(old.df)
        case None => None
      }
    }
    swapped match {
      case Some(oldDf) => oldDf.unpersist()
      case None => df.unpersist() // key deleted concurrently; drop our copy
    }
  }

  def delete(key: String): Boolean = lock.synchronized {
    items.remove(key) match {
      case Some(item) => totalSize -= item.size; item.df.unpersist(); true
      case None => false
    }
  }

  def hasExpired(item: CacheItem): Boolean =
    maxAge > 0 && clock() > item.creationTime + maxAge * 1000

  /** Lazy TTL eviction (reference: dataset_cache.py:28-36). */
  def evictIfTooOld(key: String): Boolean = lock.synchronized {
    items.get(key) match {
      case Some(item) if hasExpired(item) => delete(key)
      case _ => false
    }
  }

  /** Evict least-recently-accessed datasets until `byteCount` fits.
    * Returns seconds each evicted dataset spent in the cache
    * (reference: dataset_cache.py:60-81). */
  def ensureFree(byteCount: Long): Seq[Double] = lock.synchronized {
    if (byteCount > maxSize)
      throw new IllegalStateException("Impossible to allocate")
    if (maxSize - totalSize >= byteCount) return Nil
    val now = clock()
    val lru = items.toSeq.sortBy(_._2.lastAccessTime)
    val durations = mutable.ArrayBuffer.empty[Double]
    for ((key, item) <- lru if maxSize - totalSize < byteCount) {
      durations += (now - item.creationTime) / 1000.0
      delete(key)
    }
    durations.toSeq
  }
}
