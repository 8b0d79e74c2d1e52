package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.ops.{ArtifactLock, ArtifactStore}

/** Durable snapshots of a streaming twin's driver-held accumulator, so
  * `rateAnomalyStream` / `retentionStream` can RESUME from an existing
  * Structured Streaming checkpoint instead of failing fast. The problem
  * it closes: the watermark aggregation's state store survives a
  * restart (finalized windows/pairs are never re-emitted), while the
  * foreachBatch accumulator dies with the driver — a naive resume would
  * silently score against an empty history. With a state dir attached,
  * every epoch persists the accumulator AFTER the sink ran; the first
  * post-restart batch reloads it and continues exactly.
  *
  * Layout mirrors the artifact kinds (same torn-read posture):
  * `<dir>/manifest.json` published atomically
  * ([[ArtifactStore.publishManifest]]) carrying `epoch` + `data_gen`,
  * each relation in a generationed directory
  * ([[ArtifactStore.genDirName]]), the previous
  * [[ArtifactStore.KeepGenerations]] generations kept for any lagging
  * reader, loads retried through [[ArtifactLock.retryingLoad]].
  *
  * Exactness across the crash window (foreachBatch is at-least-once:
  * Spark commits epoch N only after the body returns, so a crash
  * replays N):
  *  - crash BEFORE persist → the snapshot holds N−1; the replayed batch
  *    re-delivers N's rows and the accumulator merge re-applies them
  *    (the merges are idempotent by construction: (window, type) counts
  *    dedup, retention masks re-OR). The sink may see N's rows twice —
  *    the at-least-once contract every foreachBatch sink already has.
  *  - crash AFTER persist → the snapshot holds N; the replayed batch's
  *    rows are already folded in (same idempotence), and the restored
  *    horizon keeps the sink's feed monotone.
  * A snapshot whose epoch is ahead of `epoch` or more than one behind
  * means the checkpoint and the state dir are not a pair (one was
  * recreated without the other) — the stream fails fast rather than
  * diverge, see [[checkEpoch]]. The pairing is additionally by
  * IDENTITY: the manifest stamps the writing query's stable id (from
  * the checkpoint's metadata, stable across restarts), and [[load]]
  * fails fast on mismatch — closing the epoch check's blind window
  * (a leftover snapshot at epoch 0/1 next to a brand-new checkpoint).
  *
  * One streaming query OWNS its state dir (persist runs on the single
  * foreachBatch thread); [[persist]] still takes the artifact write
  * lock + cross-process lease so a misconfigured second query on the
  * same dir serializes instead of interleaving torn generations.
  */
private[graft] object StreamState {

  private val FormatVersion = 1L

  /** The owning StreamingQuery's STABLE id, read from the thread-local
    * property Spark stamps on the stream-execution thread (foreachBatch
    * bodies run there). This id is persisted in the checkpoint's
    * metadata file and survives restarts (unlike `runId`), so stamping
    * it into the state manifest pairs the two dirs by IDENTITY: a
    * leftover state dir next to a brand-new checkpoint fails fast at
    * load even in the epoch-cross-check's blind window (leftover epoch
    * 0/1 vs a fresh query's first epoch 0). None outside a streaming
    * thread (direct harness calls) — the epoch check still applies. */
  private def currentQueryId(spark: SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))

  /** A reloaded accumulator: the epoch it was persisted AFTER, its
    * relations (already MATERIALIZED by [[load]] — do not re-checkpoint
    * them), and the writer's extra metadata (e.g. the sink horizon). */
  case class Snapshot(epoch: Long, relations: Map[String, DataFrame],
                      meta: scala.collection.Map[String, Any])

  /** Persist the accumulator after epoch `epoch`: write each relation
    * into the NEXT generation's directory, publish the manifest
    * atomically, prune old generations. Idempotent on replay — a
    * re-persisted epoch writes a fresh generation with identical
    * content, and either manifest is exact. */
  def persist(spark: SparkSession, dir: String, kind: String, epoch: Long,
              relations: Seq[(String, DataFrame)],
              extraMeta: Seq[(String, Any)] = Nil): Unit =
    ArtifactLock.withWriteLock(dir) {
      val newGen = ArtifactStore.nextGen(spark, dir)
      relations.foreach { case (base, df) =>
        df.write.mode(SaveMode.Overwrite)
          .parquet(s"$dir/${ArtifactStore.genDirName(base, newGen)}")
      }
      val manifest = scala.collection.mutable.LinkedHashMap[String, Any](
        "version" -> FormatVersion,
        "kind" -> kind,
        "data_gen" -> newGen,
        "epoch" -> epoch)
      currentQueryId(spark).foreach(id => manifest("query_id") = id)
      extraMeta.foreach { case (k, v) => manifest(k) = v }
      ArtifactStore.publishManifest(spark, dir,
        graft.engine.QueryJson.write(manifest))
      // keep=1: unlike the shared index artifacts (unlocked readers
      // that can lag several saves while holding a captured file
      // listing), this dir's only intended reader is the stream itself
      // at restart, and [[load]] MATERIALIZES the relations inside its
      // retryingLoad attempt — a torn read re-resolves the manifest
      // whole. One prior generation covers that window without
      // retaining a third state-sized copy (the users relation is
      // user-count-shaped at every epoch).
      ArtifactStore.pruneGenerations(spark, dir, relations.map(_._1), newGen,
        keep = 1L)
    }

  /** Advance ONLY the manifest's epoch, leaving the relations (and
    * their generation) in place — for epochs that fold nothing (an
    * empty batch), so the epoch cross-check on a later resume still
    * proves no folded epoch is missing from the snapshot, without
    * rewriting state-sized parquet per empty tick. */
  def bumpEpoch(spark: SparkSession, dir: String, kind: String,
                epoch: Long): Unit =
    ArtifactLock.withWriteLock(dir) {
      val mPath = new org.apache.hadoop.fs.Path(dir, "manifest.json")
      val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(mPath)) throw new IllegalStateException(
        s"cannot bump stream-state epoch at $dir: no snapshot persisted yet")
      val in = fs.open(mPath)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val manifest = graft.engine.QueryJson.parse(text) match {
        case m: scala.collection.Map[String @unchecked, Any @unchecked] => m
        case _ => throw new IllegalStateException(
          s"malformed stream-state manifest at $dir")
      }
      if (!manifest.get("kind").contains(kind))
        throw new IllegalStateException(
          s"state dir $dir holds kind=${manifest.get("kind")}, not $kind")
      val next = scala.collection.mutable.LinkedHashMap[String, Any]()
      manifest.foreach { case (k, v) => next(k) = v }
      next("epoch") = epoch
      ArtifactStore.publishManifest(spark, dir,
        graft.engine.QueryJson.write(next))
    }

  /** Reload the latest snapshot, or None when the dir holds none (a
    * fresh pairing — the caller decides whether that is legal for its
    * first observed epoch). A foreign or newer-format manifest fails
    * fast: scoring against the WRONG stream's state must not look like
    * a clean resume. The relations come back MATERIALIZED
    * (localCheckpoint runs inside the retry attempt), so a read racing
    * a concurrent persist's prune is absorbed by re-resolving the
    * manifest — nothing downstream keeps a lazy plan over generation
    * files that [[persist]]'s keep=1 prune may delete. */
  def load(spark: SparkSession, dir: String, kind: String,
           bases: Seq[String]): Option[Snapshot] =
    ArtifactLock.retryingLoad(loadOnce(spark, dir, kind, bases))

  private def loadOnce(spark: SparkSession, dir: String, kind: String,
                       bases: Seq[String]): Option[Snapshot] = {
    val mPath = new org.apache.hadoop.fs.Path(dir, "manifest.json")
    val fs = mPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mPath)) return None
    val in = fs.open(mPath)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val manifest = graft.engine.QueryJson.parse(text) match {
      case m: scala.collection.Map[String @unchecked, Any @unchecked] => m
      case _ => throw new IllegalStateException(
        s"malformed stream-state manifest at $dir")
    }
    if (!manifest.get("kind").contains(kind))
      throw new IllegalStateException(
        s"state dir $dir holds kind=${manifest.get("kind")}, not $kind — " +
          "refusing to resume against another stream's accumulator")
    if (!manifest.get("version").contains(FormatVersion))
      throw new IllegalStateException(
        s"unsupported stream-state version ${manifest.get("version")} at $dir")
    // identity pairing: the snapshot carries its writer's stable query
    // id; a resuming query reuses the id from its checkpoint metadata,
    // so any mismatch means the state dir and the checkpoint are from
    // DIFFERENT runs — fail fast even where the epoch cross-check is
    // blind (a leftover snapshot at epoch 0/1 vs a fresh checkpoint)
    (manifest.get("query_id"), currentQueryId(spark)) match {
      case (Some(persisted: String), Some(current)) if persisted != current =>
        throw new IllegalStateException(
          s"stream state at $dir was persisted by query $persisted but " +
            s"this checkpoint's query id is $current — the checkpoint and " +
            "state dir are not from the same run; recreate them together")
      case _ => ()
    }
    val epoch = manifest.get("epoch") match {
      case Some(l: Long) => l
      case other => throw new IllegalStateException(
        s"stream-state manifest at $dir has no epoch (got $other)")
    }
    val gen = manifest.get("data_gen") match {
      case Some(l: Long) if l >= 0 => l
      case _ => 0L
    }
    val rels = bases.map { b =>
      // eager materialization INSIDE the retry attempt: the returned
      // frames must not be lazy plans over files a concurrent prune
      // can delete after this call returns
      b -> spark.read.parquet(s"$dir/${ArtifactStore.genDirName(b, gen)}")
        .localCheckpoint()
    }.toMap
    Some(Snapshot(epoch, rels, manifest))
  }

  /** Fail fast when the snapshot and the checkpoint's first replayed
    * epoch cannot be the same run: legal resumes see the snapshot at
    * `firstEpoch` (crash after persist, before commit) or
    * `firstEpoch − 1` (crash before persist). Anything else means the
    * checkpoint or the state dir was recreated without its partner. */
  def checkEpoch(snapshotEpoch: Long, firstEpoch: Long, dir: String): Unit =
    if (snapshotEpoch > firstEpoch || snapshotEpoch < firstEpoch - 1)
      throw new IllegalStateException(
        s"stream state at $dir was persisted after epoch $snapshotEpoch but " +
          s"the checkpoint replays from epoch $firstEpoch — the checkpoint " +
          "and state dir are not from the same run; recreate them together")
}
