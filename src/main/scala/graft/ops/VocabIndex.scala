package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Persistable corpus vocabulary — the fourth artifact kind beside
  * [[IvfIndex]], [[BloomIndex]] and [[MinHashIndex]]: the corpus's
  * top-k token relation `(token, n, rank)` as parquet plus a manifest,
  * built once per corpus version instead of recomputed by every
  * consumer ([[TextOps.oovRate]]'s vocabulary side, tokenizer-fit
  * checks, drift dashboards all re-ran the same explode + count
  * aggregation over the whole corpus per query).
  *
  * The relation is k-bounded — small enough to broadcast, which is
  * exactly how [[TextOps.oovRateAgainst]] consumes it — but it is
  * still stored as a relation, never collected here. `rank` is the
  * (n desc, token asc) position, so ONE artifact built at a generous k
  * serves every smaller vocabulary size by a `rank <= v` filter.
  *
  * Layout (generationed directories and a format-v2 manifest through
  * [[ArtifactStore]]):
  *   - `<path>/vocabulary[-g]/` — exact (no-capacity) builds only: the
  *     (token, n, rank) parquet. A capacity-built artifact's vocabulary
  *     is a pure function of its summary — the top-k rows — and is
  *     derived lazily at load, saving one write job per mutation;
  *   - `<path>/summary[-g]/` — capacity-built artifacts only: the
  *     mergeable Space-Saving summary `(token, lo, hi)` that
  *     [[update]] merges an appended batch into (bounded at
  *     max(capacity, k) rows; the manifest's `theta` certifies any
  *     unstored token's count);
  *   - `<path>/slabs/<id>/` — capacity-built artifacts only: each
  *     ingest's raw summary, what [[removeSlab]] re-merges;
  *   - `<path>/manifest.json` — k, the text column's name (free
  *     identity tripwire), the corpus doc count, the relation's own row
  *     count, and an order-independent content fingerprint of the
  *     corpus texts (the [[MinHashIndex]] decimal-sum formula over
  *     xxhash64(text) — text only, because the vocabulary depends on
  *     nothing else), all mandatory. A capacity-built artifact also
  *     records `capacity`, `theta`, `summary_rows` and the `slabs`
  *     registry — all four, or none for an exact build — and, when
  *     [[update]] auto-compacts, `auto_compact_keep`.
  *
  * `load` runs no Spark job; [[verifyCount]] is one scan of the tiny
  * relation; [[verifyContent]] recomputes the corpus fingerprint (one
  * column-pruned aggregation, opt-in via the xop `verify_index` flag).
  */
object VocabIndex {

  val FormatVersion = 2
  private val Kind = "vocabulary"

  /** Default registry bound for [[update]]'s auto-compaction: with K=16
    * the newest 16 ingests stay individually removable while the
    * registry (and removeSlab's re-merge fan-in) is capped at 17
    * entries regardless of update count. 0 disables. */
  val DefaultMaxSlabs = 16

  /** Loaded artifact: the LAZY (token, n, rank) relation plus manifest
    * parameters. k bounds which vocabulary sizes the artifact can
    * serve. A capacity-built artifact additionally carries its
    * mergeable Space-Saving summary `(token, lo, hi)`, the certified
    * untracked-count bound `theta`, the summary's row count and the
    * slab registry — the state [[update]] merges a delta corpus into
    * (true count of a stored token ∈ [lo, hi]; of any unstored token
    * ≤ theta); all five are None for an exact build. */
  final case class Artifact(vocab: DataFrame, k: Int,
                            capacity: Option[Int],
                            textCol: String,
                            nDocs: Long,
                            nTokens: Long,
                            contentFingerprint: String,
                            summary: Option[DataFrame],
                            theta: Option[Long],
                            slabs: Option[Seq[SlabMeta]],
                            dataGen: Long,
                            summaryRows: Option[Long])

  /** One ingest slab's registry entry: the raw per-slab summary lives
    * at `<path>/slabs/<id>/` (tokenSummaryAgg's (token, n, nhi, rho)
    * shape, null-token sentinel included), `theta` is that slab's own
    * certified untracked bound, and (nDocs, fingerprint) are the
    * slab's contribution to the manifest totals — what
    * [[removeSlab]] subtracts without rescanning any corpus.
    * An EPOCH slab ([[compactSlabs]]'s output) additionally records
    * `covers`: the original ingest ids folded into it, so a removal
    * request against compacted history can be rejected by name with
    * the rebuild instruction instead of a bare unknown-id error. */
  final case class SlabMeta(id: Long, theta: Long, nDocs: Long,
                            fingerprint: String, covers: Seq[Long] = Nil)

  /** Order-independent corpus-text fingerprint: the exact decimal sum
    * of xxhash64(text) — [[MinHashIndex.fingerprint]]'s formula without
    * the id column, because the vocabulary is a pure function of the
    * text multiset (an id swap that leaves texts alone changes
    * nothing here, and honestly reads as fresh). */
  def fingerprint(corpus: DataFrame, textCol: String): String =
    fingerprintAndCount(corpus, textCol)._1

  private def fingerprintAndCount(corpus: DataFrame,
                                  textCol: String): (String, Long) = {
    val row = corpus.agg(
      sum(xxhash64(Dedup.exactCol(textCol)).cast("decimal(38,0)")).as("fp"),
      count(lit(1)).as("n")).head()
    (Option(row.getDecimal(0)).map(d => BigDecimal(d).toBigInt.toString)
      .getOrElse("0"), row.getLong(1))
  }

  /** Observed-metric expressions for the corpus-consuming pass: the
    * manifest's doc count + content fingerprint ride the SAME job that
    * summarizes/aggregates the corpus (`observe` on the input relation)
    * instead of a second column-pruned corpus scan — same expressions,
    * exactly one evaluation per row. */
  private def corpusObs(textCol: String) = Seq(
    sum(xxhash64(Dedup.exactCol(textCol)).cast("decimal(38,0)")).as("fp"),
    count(lit(1)).as("n"))

  private def fpOf(m: Map[String, Any]): BigInt = Observed.decimalSum(m, "fp")

  private def obsLong(m: Map[String, Any], key: String): Long =
    Observed.long(m, key)

  /** The capacity-built state [[update]], [[removeSlab]] and
    * [[compactSlabs]] work on, as the manifest records it. */
  private final case class SketchState(capacity: Int, theta: Long,
                                       summaryRows: Long, slabs: Seq[SlabMeta])

  /** `art`'s capacity-built state and summary, or the rebuild
    * instruction when `art` is an exact build (which stores neither). */
  private def sketchOf(art: Artifact, what: String,
                       op: String): (SketchState, DataFrame) =
    (for (c <- art.capacity; t <- art.theta; r <- art.summaryRows;
          sl <- art.slabs; s <- art.summary) yield (SketchState(c, t, r, sl), s))
      .getOrElse(throw new IllegalArgumentException(
        s"$what was built exact (no capacity) and stores no mergeable " +
          s"summary — rebuild with a capacity to enable $op"))

  /** Publish generation `newGen`'s manifest and prune older generations
    * of the vocabulary/summary relations. */
  private def publish(spark: SparkSession, path: String, newGen: Long, k: Int,
                      textCol: String, nDocs: Long, nTokens: Long,
                      fingerprint: String, sketch: Option[SketchState],
                      extra: Seq[(String, Any)] = Nil): Unit =
    ArtifactStore.publish(spark, path, Kind, FormatVersion, newGen, Seq(
      "k" -> k.toLong,
      "text_col" -> textCol,
      "n_docs" -> nDocs,
      "n_tokens" -> nTokens,
      "fingerprint" -> fingerprint) ++
      sketch.toSeq.flatMap(s => Seq(
        "capacity" -> s.capacity.toLong,
        "theta" -> s.theta,
        "summary_rows" -> s.summaryRows,
        "slabs" -> s.slabs.map(slabEntry).toList)) ++ extra,
      Seq("vocabulary", "summary"))

  /** Summarize `corpus` at `capacity` into the staged raw summary at
    * `stage` — the one corpus-consuming action of a build or update,
    * with the batch's untracked bound Θ riding it as an observed metric
    * — and return Θ plus the staged summary normalized to
    * (token, lo, hi). */
  private def stageSummary(spark: SparkSession, corpus: DataFrame,
                           textCol: String, capacity: Int,
                           stage: Path): (Long, DataFrame) = {
    val thetaObs = org.apache.spark.sql.Observation()
    TextOps.tokenSummaryAgg(corpus, textCol, capacity)
      .observe(thetaObs, coalesce(sum(when(col("token").isNull,
        col("rho"))), lit(0L)).as("theta"))
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val theta = obsLong(thetaObs.get, "theta")
    (theta, spark.read.parquet(stage.toString).filter(col("token").isNotNull)
      .select(col("token"), col("n").as("lo"),
        (col("nhi") + lit(theta) - col("rho")).as("hi")))
  }

  /** The staged raw summary BECOMES slab `id` — a filesystem move, no
    * job: the per-ingest state [[removeSlab]] re-merges from. */
  private def promoteSlab(spark: SparkSession, stage: Path, path: String,
                          id: Long): Unit = {
    val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
    val dst = new Path(path, s"slabs/$id")
    fs.delete(dst, true)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(stage, dst))
      throw new IllegalStateException(s"could not move $stage to $dst")
  }

  /** The n-way mergeable-summaries merge of stored slabs (the pairwise
    * [[update]] rule generalized): a token's lo = Σ lo over the slabs
    * that track it; its hi = Σ (nhi + θᵢ − rho) over tracking slabs,
    * plus θⱼ for every slab that does not track it — computed as
    * Σ_present hi + (Σ_all θ − Σ_present θ) in a single aggregate. The
    * merged untracked bound is Σ_all θ. No slabs is the empty summary. */
  private def mergeSlabs(spark: SparkSession, path: String,
                         slabs: Seq[SlabMeta]): DataFrame = {
    val thetaSum = slabs.map(_.theta).sum
    slabs.map { s =>
      spark.read.parquet(s"$path/slabs/${s.id}")
        .filter(col("token").isNotNull)
        .select(col("token"), col("n").as("__lo"),
          (col("nhi") + lit(s.theta) - col("rho")).as("__hi"),
          lit(s.theta).as("__th"))
    }.reduceOption(_ unionByName _) match {
      case None =>
        import spark.implicits._
        Seq.empty[(String, Long, Long)].toDF("token", "lo", "hi")
      case Some(all) =>
        all.groupBy(col("token"))
          .agg(sum(col("__lo")).as("lo"),
            (sum(col("__hi")) + lit(thetaSum) - sum(col("__th"))).as("hi"))
    }
  }

  /** Build the top-`k` vocabulary and persist it at `path`. By default
    * the exact [[TextOps.topTokens]] lineage (one token exchange with
    * map-side combine, TakeOrdered k); pass `capacity` to build through
    * the memory-bounded [[TextOps.topTokensSketch]] instead when even
    * the aggregated vocabulary exchange is the bottleneck — the stored
    * counts are then the sketch's certified lower bounds, and the
    * manifest records the capacity so consumers can tell. The doc
    * count and content fingerprint ride the corpus-consuming job as
    * observed metrics. */
  def buildAndSave(corpus: DataFrame, textCol: String, k: Int,
                   path: String, capacity: Option[Int] = None): Artifact =
      ArtifactLock.withWriteLock(path) {
    require(k > 0, "k must be positive")
    capacity.foreach(c => require(c > 0, "capacity must be positive"))
    val spark = corpus.sparkSession
    // a rebuild over an existing artifact writes the NEXT generation's
    // data dirs (never truncating what a racing reader resolved)
    val newGen = ArtifactStore.nextGen(spark, path)
    val inObs = org.apache.spark.sql.Observation()
    val obsExprs = corpusObs(textCol)
    val observedCorpus = corpus.observe(inObs, obsExprs.head, obsExprs.tail: _*)
    val (sketch, nTokens) = capacity match {
      case Some(c) =>
        // mergeable-summary build: ONE corpus-consuming action (the
        // staged raw-aggregate write — the same bounded relation
        // topTokensSketch aggregates, ≤ capacity+1 rows per input
        // partition). Θ, the doc count and the fingerprint all ride
        // that one job as observed metrics; the summary AND the
        // vocabulary derive from the staged parquet, so the corpus
        // summarization never runs twice and the Θ sentinel is read
        // from the artifact's own data instead of a second corpus
        // consumer (the x63b stage-reuse lesson applied to artifact
        // builds).
        val stage = new Path(path, "summary.stage")
        val (bigTheta, norm) = stageSummary(spark, observedCorpus, textCol, c, stage)
        val (theta, nSummary, nVocab) =
          writeSummary(spark, path, norm, math.max(c, k), k, bigTheta, newGen)
        promoteSlab(spark, stage, path, 0L)
        val m = inObs.get
        (Some(SketchState(c, theta, nSummary,
          Seq(SlabMeta(0L, bigTheta, obsLong(m, "n"), fpOf(m).toString)))), nVocab)
      case None =>
        val top = TextOps.topTokens(observedCorpus, textCol, k)
        // rank over exactly k rows (post-limit): one task, never
        // corpus-wide; the row count rides the write as an observed
        // metric instead of a post-hoc parquet count. Only the EXACT
        // path stores a vocabulary relation — capacity artifacts derive
        // it from the summary at load (see [[writeSummary]]).
        val vObs = org.apache.spark.sql.Observation()
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token"))
        top.withColumn("rank", row_number().over(w))
          .observe(vObs, count(lit(1)).as("n"))
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$path/${ArtifactStore.genDirName("vocabulary", newGen)}")
        (None, obsLong(vObs.get, "n"))
    }
    val inM = inObs.get
    publish(spark, path, newGen, k, textCol, obsLong(inM, "n"), nTokens,
      fpOf(inM).toString, sketch)
    load(spark, path)
  }

  private def slabEntry(s: SlabMeta): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap[String, Any]("id" -> s.id, "theta" -> s.theta,
      "n_docs" -> s.nDocs, "fingerprint" -> s.fingerprint) ++
      (if (s.covers.nonEmpty) Seq("covers" -> s.covers.toList) else Nil)

  /** Merge a batch of APPENDED documents into a capacity-built
    * vocabulary artifact without rescanning the old corpus — the
    * incremental-maintenance closer for the fourth artifact kind
    * (MinHash and Bloom ledgers got theirs first; the vocabulary's
    * version rides the mergeable-summaries algebra instead of per-id
    * state, because token counts have no per-id remnant to anti-join).
    *
    * The delta corpus is summarized at the artifact's own capacity
    * (O(delta) work — the only jobs this method runs are delta-sized
    * or bounded-relation-sized, never an old-corpus scan), then merged
    * with the STORED summary, mergeable-summaries style (Agarwal et
    * al. 2012): lower bounds add; a side that does not track a token
    * contributes its own certified threshold to the upper bound (it
    * cannot have counted that token above it). The merged untracked
    * bound is θ₁+Θ₂; truncating the merged summary back to its
    * capacity folds any evicted row's `hi` into the stored theta, so
    * every certification survives arbitrarily many updates. With
    * ample capacity throughout, every bound is exact and the updated
    * artifact is BIT-IDENTICAL to a from-scratch rebuild of the full
    * corpus (pinned in VocabIndexSpec) — x78's oracle anchor.
    *
    * Additions are the fast path; removals cannot be subtracted from a
    * count summary, but they CAN be handled at slab granularity:
    * every build/update stores its raw per-ingest summary as a slab
    * (a filesystem move of the already-staged parquet — no extra job),
    * and [[removeSlab]] re-merges the survivors without any corpus
    * rescan. Arbitrary row-level removals still need a rebuild;
    * [[verifyContent]] against the full corpus remains the strong
    * staleness check.
    * The manifest's doc count and decimal-sum content fingerprint are
    * delta-updated (additions only ⇒ plain addition), so a subsequent
    * [[verifyContent]] against old∪added reads as fresh. An empty
    * delta is a no-op returning the loaded artifact unchanged.
    *
    * SELF-MAINTENANCE (`maxSlabs`, default [[DefaultMaxSlabs]]): without
    * a bound the slab registry grows one entry per update forever —
    * every [[removeSlab]] re-merge and manifest read pays for the full
    * history. When an update leaves MORE than `maxSlabs` registry
    * entries, the update auto-compacts ([[compactSlabs]] with
    * keepLast = maxSlabs): history older than the newest `maxSlabs`
    * ingests folds into one epoch slab, capping the registry at
    * maxSlabs + 1 entries while the newest ingests stay individually
    * removable — the same close-the-loop policy Bloom's updateOrRebuild
    * applies to its sizing. Compaction preserves every certified bound
    * and all manifest totals (x91's pin), so update ≡ rebuild is
    * unaffected. `maxSlabs = 0` disables the policy (unbounded
    * registry, every ingest stays removable); the active bound is
    * recorded in the manifest as `auto_compact_keep`. */
  def update(spark: SparkSession, path: String, added: DataFrame,
             textCol: String, maxSlabs: Int = DefaultMaxSlabs): Artifact =
      ArtifactLock.withWriteLock(path) {
    require(maxSlabs >= 0, "maxSlabs must be >= 0 (0 disables auto-compaction)")
    val art = load(spark, path)
    val what = s"vocabulary at $path"
    if (art.textCol != textCol) throw new IllegalArgumentException(
      s"$what was built over column '${art.textCol}', not '$textCol'")
    val (sk, oldSummary) = sketchOf(art, what, "incremental update")
    // summarize the delta at the artifact's own capacity; the staged
    // write is the only delta-corpus-consuming action (same
    // single-consumer discipline as the build path), and the delta's
    // doc count, fingerprint and θ₂ ride it as observed metrics — the
    // x78 job trim: they used to cost two more aggregate jobs
    val inObs = org.apache.spark.sql.Observation()
    val stage = new Path(path, "summary.stage")
    val obsExprs = corpusObs(textCol)
    val (theta2, deltaNorm) = stageSummary(spark,
      added.observe(inObs, obsExprs.head, obsExprs.tail: _*), textCol,
      sk.capacity, stage)
    val inM = inObs.get
    val nAdded = obsLong(inM, "n")
    if (nAdded == 0L) {
      stage.getFileSystem(spark.sessionState.newHadoopConf()).delete(stage, true)
      return art
    }
    val fpDelta = fpOf(inM)
    val merged = oldSummary
      .select(col("token").as("__t1"), col("lo").as("__lo1"), col("hi").as("__hi1"))
      .join(deltaNorm.select(col("token").as("__t2"), col("lo").as("__lo2"),
        col("hi").as("__hi2")), col("__t1") === col("__t2"), "full_outer")
      .select(coalesce(col("__t1"), col("__t2")).as("token"),
        (coalesce(col("__lo1"), lit(0L)) + coalesce(col("__lo2"), lit(0L))).as("lo"),
        (coalesce(col("__hi1"), lit(sk.theta)) + coalesce(col("__hi2"), lit(theta2))).as("hi"))
    val newGen = art.dataGen + 1L
    val (thetaStored, nSummary, nTokens) =
      writeSummary(spark, path, merged, math.max(sk.capacity, art.k), art.k,
        baseTheta = sk.theta + theta2, newGen = newGen)
    // the delta's raw summary becomes a new slab so [[removeSlab]] can
    // later subtract this ingest
    val id = sk.slabs.map(_.id).maxOption.getOrElse(-1L) + 1
    promoteSlab(spark, stage, path, id)
    val slabs = sk.slabs :+ SlabMeta(id, theta2, nAdded, fpDelta.toString)
    publish(spark, path, newGen, art.k, textCol, art.nDocs + nAdded, nTokens,
      (BigInt(art.contentFingerprint) + fpDelta).toString,
      Some(SketchState(sk.capacity, thetaStored, nSummary, slabs)),
      if (maxSlabs > 0) Seq("auto_compact_keep" -> maxSlabs.toLong) else Nil)
    // the self-maintenance trigger: fold history beyond the newest
    // maxSlabs ingests into one epoch slab (registry stays <= maxSlabs+1)
    if (maxSlabs > 0 && slabs.length > maxSlabs)
      compactSlabs(spark, path, keepLast = maxSlabs)
    else load(spark, path)
  }


  /** Remove one ingest slab from a slab-registry artifact and rebuild
    * the summary/vocabulary by re-merging the SURVIVING slabs — the
    * refresh-with-deletions case [[Dedup.corpusDiff]] routinely
    * reports, served at slab granularity with NO corpus rescan: the
    * only inputs are the stored per-slab summaries (each bounded at
    * partitions×capacity rows) and the work is one union + one
    * token-keyed aggregate + the shared truncation writer.
    *
    * The survivors merge by the n-way mergeable-summaries algebra
    * ([[mergeSlabs]]). With ample capacity every bound is exact and
    * removing a slab yields an artifact IDENTICAL to one built without
    * that slab (pinned in VocabIndexSpec).
    *
    * Manifest totals (doc count, decimal-sum fingerprint) subtract the
    * victim's recorded contribution, so [[verifyContent]] against the
    * surviving corpus reads as fresh. Removing the last slab leaves a
    * legal empty vocabulary. */
  def removeSlab(spark: SparkSession, path: String, slabId: Long): Artifact =
      ArtifactLock.withWriteLock(path) {
    val art = load(spark, path)
    val what = s"vocabulary at $path"
    val (sk, _) = sketchOf(art, what, "slab removal")
    if (!sk.slabs.exists(_.id == slabId)) {
      // compacted history is named in the rejection: the pre-slab
      // contract (arbitrary removals need a rebuild) is back in force
      // for ingests folded into an epoch slab
      sk.slabs.find(_.covers.contains(slabId)).foreach { epoch =>
        throw new IllegalArgumentException(
          s"$what: slab $slabId was compacted into epoch slab ${epoch.id} — " +
            "compacted history can no longer be removed at slab granularity; " +
            "rebuild the artifact from the surviving corpus")
      }
      throw new IllegalArgumentException(
        s"$what has no slab $slabId (stored: ${sk.slabs.map(_.id).mkString(", ")})")
    }
    val survivors = sk.slabs.filterNot(_.id == slabId)
    val newGen = art.dataGen + 1L
    val (theta, nSummary, nTokens) = writeSummary(spark, path,
      mergeSlabs(spark, path, survivors), math.max(sk.capacity, art.k), art.k,
      baseTheta = survivors.map(_.theta).sum, newGen = newGen)
    publish(spark, path, newGen, art.k, art.textCol, survivors.map(_.nDocs).sum,
      nTokens, survivors.map(s => BigInt(s.fingerprint)).sum.toString,
      Some(SketchState(sk.capacity, theta, nSummary, survivors)))
    // delete the victim dir only once the manifest stops referencing it:
    // a crash between the two leaves an orphaned dir, never a registry
    // entry that dangles into missing parquet
    val victimPath = new Path(path, s"slabs/$slabId")
    victimPath.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(victimPath, true)
    load(spark, path)
  }


  /** Compact the slab registry: fold every slab EXCEPT the newest
    * `keepLast` into one EPOCH slab, bounding [[removeSlab]]'s re-merge
    * fan-in and the manifest's registry size (both previously grew one
    * entry per [[update]], forever). The top-level summary, vocabulary,
    * and manifest totals are untouched — compaction reorganizes HISTORY,
    * not state; the only writes are the epoch slab dir and the manifest.
    *
    * The epoch slab is the victims' n-way merge ([[mergeSlabs]]),
    * truncated to the artifact's own capacity with the shared
    * eviction rule (evicted `hi` folds into the epoch theta), and stored
    * in the raw slab shape via the identity encoding
    * `(n, nhi, rho) = (lo, hi, theta_epoch)` — normalizing it with the
    * registry's theta reproduces the merged bounds exactly, so every
    * later [[removeSlab]] keeps working uniformly over epoch and ingest
    * slabs alike. With ample capacity nothing is evicted and a
    * post-compaction removal of a SURVIVING slab still equals a
    * never-added build (pinned in VocabIndexSpec). The folded ingest ids
    * are recorded as the epoch's `covers`, so removing compacted history
    * is rejected by name with the rebuild instruction — the pre-slab
    * contract, honestly restored for old history.
    *
    * Fewer than two victims is a no-op (nothing to fold). All jobs are
    * artifact-bounded: the merge unions ≤ victims×(partitions×capacity)
    * rows, the truncation is the shared TakeOrdered, and the epoch
    * rewrite reads back ≤ max(capacity, k) rows. */
  def compactSlabs(spark: SparkSession, path: String, keepLast: Int): Artifact =
      ArtifactLock.withWriteLock(path) {
    require(keepLast >= 0, "keepLast must be >= 0")
    val art = load(spark, path)
    val what = s"vocabulary at $path"
    val (sk, _) = sketchOf(art, what, "slab compaction")
    val ordered = sk.slabs.sortBy(_.id)
    val (victims, kept) = ordered.splitAt(math.max(0, ordered.length - keepLast))
    if (victims.length <= 1) return art
    val thetaSum = victims.map(_.theta).sum
    val merged = mergeSlabs(spark, path, victims)
    // shared truncation rule, against the artifact's own capacity: keep
    // the top rows by certified lo, fold every evicted hi into the
    // epoch's theta (certification survives compaction). The truncation
    // is written ONCE, directly in the raw slab shape with rho =
    // Σ victim θ (the no-eviction epoch theta, known upfront), and
    // promoted to the epoch dir by a rename — the ample-capacity common
    // case pays one write job instead of write + readback + rewrite
    // (the round-20 action trim). Only an actual eviction (pre/post
    // truncation counts differ, both observed on the write itself) pays
    // the anti-join and a bounded rewrite with the corrected theta.
    val sumCap = math.max(sk.capacity, art.k)
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val mergeTmp = new Path(path, "slabs/.compact.tmp")
    // a crash between the staged truncation write and the epoch
    // promotion leaves .compact.tmp behind (it is not a manifest-adjacent
    // temp file, so pruneGenerations' stale-tmp sweep never touches it);
    // reclaim it best-effort on the next compaction attempt
    try fs.delete(mergeTmp, true) catch { case _: Exception => () }
    val normObs = org.apache.spark.sql.Observation()
    val keptObs = org.apache.spark.sql.Observation()
    merged.observe(normObs, count(lit(1)).as("n"))
      .orderBy(col("lo").desc, col("token")).limit(sumCap)
      .observe(keptObs, count(lit(1)).as("n"))
      .select(col("token"), col("lo").as("n"), col("hi").as("nhi"),
        lit(thetaSum).as("rho"))
      .write.mode(SaveMode.Overwrite).parquet(mergeTmp.toString)
    val evicted =
      Observed.long(normObs.get, "n") != Observed.long(keptObs.get, "n")
    val thetaEpoch =
      if (!evicted) thetaSum
      else {
        val keptTokens = spark.read.parquet(mergeTmp.toString)
          .select(col("token").as("__kt"))
        val evictedMax = merged
          .join(broadcast(keptTokens), col("token") === col("__kt"), "left_anti")
          .agg(coalesce(max(col("hi")), lit(0L))).head().getLong(0)
        math.max(thetaSum, evictedMax)
      }
    val epochId = ordered.map(_.id).max + 1
    val epochDir = new Path(path, s"slabs/$epochId")
    fs.delete(epochDir, true)
    if (thetaEpoch == thetaSum) {
      // the staged truncation already carries the right rho: promote it
      if (!fs.rename(mergeTmp, epochDir))
        throw new IllegalStateException(
          s"could not move $mergeTmp to $epochDir")
    } else {
      spark.read.parquet(mergeTmp.toString)
        .select(col("token"), col("n"), col("nhi"),
          lit(thetaEpoch).as("rho"))
        .write.mode(SaveMode.Overwrite).parquet(epochDir.toString)
      fs.delete(mergeTmp, true)
    }
    val epoch = SlabMeta(epochId, thetaEpoch,
      victims.map(_.nDocs).sum,
      victims.map(s => BigInt(s.fingerprint)).sum.toString,
      victims.flatMap(v => v.id +: v.covers).sorted)
    // every OTHER manifest entry is untouched state — republish the
    // live manifest with only the registry replaced (compaction must
    // not reconstruct totals it did not recompute)
    val m = ArtifactStore.read(spark, path, Kind, FormatVersion, "vocabulary")
    ArtifactStore.publish(spark, path, Kind, FormatVersion, m.dataGen,
      m.fields.toSeq.collect {
        case ("slabs", _) => "slabs" -> (epoch +: kept).map(slabEntry).toList
        case kv @ (f, _) if !Set("version", "kind", "data_gen")(f) => kv
      }, Nil)
    // victim dirs go LAST, after the manifest stops referencing them: a
    // crash in this window leaves orphaned garbage dirs, not a registry
    // that dangles into missing parquet (the removeSlab ordering rule)
    for (v <- victims)
      fs.delete(new Path(path, s"slabs/${v.id}"), true)
    load(spark, path)
  }

  /** Truncate a normalized `(token, lo, hi)` summary to `sumCap` rows
    * (lo desc, token asc — the sketch's own ranking), folding every
    * evicted row's `hi` into the stored untracked bound, write
    * `summary/`, and return (theta, summaryRows, vocabRows).
    *
    * The top-`k` vocabulary is NOT materialized for capacity
    * artifacts: it is a pure function of the stored summary (its top
    * k rows by (lo desc, token), rank = position), so [[loadOnce]]
    * derives it lazily — byte-identical rows, one fewer write job per
    * mutation (the round-20 action trim: each artifact-sized write
    * action costs ~300 ms of fixed planning/commit overhead at any
    * scale, and the vocabulary write carried no information the
    * summary does not). `vocabRows` is therefore min(k, summaryRows)
    * by construction.
    *
    * `norm` is bounded at ≤ partitions×capacity rows — small per
    * partition, but NOT driver-small at fleet scale, so the
    * truncation is a distributed TakeOrdered (partial top-sumCap per
    * partition before the exchange), never a global row_number window
    * over the whole summary; the evicted-hi fold is a broadcast
    * anti-join against the capacity-sized kept set. Only the KEPT
    * relations (≤ sumCap rows — the artifact's own size) ever flow
    * through a single task. Writes land directly in the NEXT
    * generation's dirs (`newGen`) — fresh paths, so
    * `norm` may lazily read the artifact's own CURRENT relations (the
    * update path does) and an unlocked reader of the current
    * generation never sees a file vanish; the caller repoints the
    * manifest (atomic publish) and prunes older generations after. */
  private def writeSummary(spark: SparkSession, path: String,
                           norm: DataFrame, sumCap: Int, k: Int,
                           baseTheta: Long,
                           newGen: Long): (Long, Long, Long) = {
    val sNext = new Path(path, ArtifactStore.genDirName("summary", newGen))
    // row counts ride the write as observed metrics — the manifest's
    // summary_rows/n_tokens used to cost two post-swap parquet counts
    // (the x78 job trim)
    val normObs = org.apache.spark.sql.Observation()
    val sObs = org.apache.spark.sql.Observation()
    norm.observe(normObs, count(lit(1)).as("n"))
      .orderBy(col("lo").desc, col("token")).limit(sumCap)
      .observe(sObs, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(sNext.toString)
    val nNorm = Observed.long(normObs.get, "n")
    val nKept = Observed.long(sObs.get, "n")
    // the evicted-hi fold only costs a job when something was actually
    // evicted: equal pre/post-truncation counts (both observed on the
    // truncation write itself) prove the anti-join's input is empty —
    // the ample-capacity common case pays nothing
    val evictedMax =
      if (nNorm == nKept) 0L
      else norm
        .join(broadcast(spark.read.parquet(sNext.toString)
          .select(col("token").as("__kt"))),
          col("token") === col("__kt"), "left_anti")
        .agg(coalesce(max(col("hi")), lit(0L))).head().getLong(0)
    val theta = math.max(baseTheta, evictedMax)
    (theta, nKept, math.min(k.toLong, nKept))
  }

  /** The lazy top-`k` vocabulary relation of a stored summary — what
    * [[writeSummary]] stopped materializing: top k by (lo desc, token),
    * rank = position. The TakeOrdered is distributed; the rank window
    * runs over ≤ k rows in one task. */
  private def deriveVocab(summary: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token"))
    summary.select(col("token"), col("lo").as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)
      .withColumn("rank", row_number().over(w))
  }

  /** Load a persisted vocabulary. Runs no Spark job — the relation is
    * returned lazy; schema and manifest coherence are checked, every
    * failure mode surfacing as IllegalArgumentException (the artifacts'
    * shared fail-fast contract). A load racing concurrent maintenance is
    * retried bounded ([[ArtifactLock.retryingLoad]] — re-resolves the
    * manifest on a pruned-generation read failure); the relation handed
    * back stays lazy, so an action racing a LATER save is the consumer's
    * (or the HTTP server's re-plan retry's) window, bounded by the
    * [[ArtifactStore.KeepGenerations]] generations every prune keeps. */
  def load(spark: SparkSession, path: String): Artifact =
    ArtifactLock.retryingLoad(loadOnce(spark, path))

  private def loadOnce(spark: SparkSession, path: String): Artifact = {
    val m = ArtifactStore.read(spark, path, Kind, FormatVersion, "vocabulary")
    val k = m.posInt("k")
    val capacity = m.optPosInt("capacity")
    import org.apache.spark.sql.types._
    def colTypes(df: DataFrame): Map[String, DataType] =
      df.schema.fields.map(f => f.name -> f.dataType).toMap
    // capacity-built artifacts store the mergeable summary and derive
    // the vocabulary from it (its top-k rows — see [[writeSummary]]);
    // exact builds store the vocabulary relation itself
    val summary = capacity.map { _ =>
      val s = ArtifactStore.readRelation(spark, m,
        ArtifactStore.genDirName("summary", m.dataGen), "summary")
      val t = colTypes(s)
      if (!t.get("token").contains(StringType) ||
          !t.get("lo").contains(LongType) || !t.get("hi").contains(LongType))
        m.corrupt("summary must be (token STRING, lo BIGINT, hi BIGINT), got " +
          s.schema.catalogString)
      s
    }
    val vocab = summary match {
      case Some(s) => deriveVocab(s, k)
      case None =>
        val v = ArtifactStore.readRelation(spark, m,
          ArtifactStore.genDirName("vocabulary", m.dataGen), "relation")
        val t = colTypes(v)
        if (!t.get("token").contains(StringType) ||
            !t.get("n").contains(LongType) || !t.get("rank").contains(IntegerType))
          m.corrupt("relation must be (token STRING, n BIGINT, rank INT), got " +
            v.schema.catalogString)
        v
    }
    val slabs = capacity.map(_ => m.entries("slabs").map(e =>
      SlabMeta(e.long("id"), e.long("theta"), e.long("n_docs"),
        e.string("fingerprint"), e.optLongs("covers").getOrElse(Nil))))
    Artifact(vocab, k, capacity, m.string("text_col"), m.long("n_docs"),
      m.long("n_tokens"), m.string("fingerprint"), summary,
      capacity.map(_ => m.long("theta")), slabs, m.dataGen,
      capacity.map(_ => m.long("summary_rows")))
  }


  /** The token set for a requested vocabulary size: `rank <= size` over
    * the stored relation (one artifact at a generous k serves every
    * smaller size). A request beyond the artifact's k fails fast — the
    * tail past k was never stored, so serving it would silently shrink
    * the vocabulary. */
  def tokens(art: Artifact, size: Int, what: String): DataFrame = {
    require(size > 0, "vocabulary size must be positive")
    if (size > art.k)
      throw new IllegalArgumentException(
        s"$what stores the top ${art.k} tokens; cannot serve a " +
          s"vocabulary of $size — rebuild with a larger k")
    if (size == art.k) art.vocab.select(col("token"))
    else art.vocab.filter(col("rank") <= size).select(col("token"))
  }

  /** CHEAP integrity tripwire — one scan of the (tiny, k-bounded)
    * relation: row count vs the manifest's n_tokens, and rank integrity
    * (max rank == row count, so `rank <= size` slices are exact). The
    * content swap needs [[verifyContent]]. */
  def verifyCount(art: Artifact, what: String): Unit = {
    val row = art.vocab.agg(count(lit(1)).as("n"),
      coalesce(max(col("rank")), lit(0)).as("maxRank")).head()
    val actual = row.getLong(0)
    if (row.getInt(1).toLong != actual)
      throw new IllegalArgumentException(
        s"$what is corrupt: max rank ${row.getInt(1)} != row count $actual")
    if (actual != art.nTokens)
      throw new IllegalArgumentException(
        s"$what is corrupt: manifest claims ${art.nTokens} tokens, parquet holds $actual")
    // capacity artifacts derive the vocabulary from the summary, which
    // makes the count/rank check above true BY CONSTRUCTION (count ==
    // maxRank == min(k, summary rows)) — the real data plane is the
    // summary, so its row count is checked against the manifest too (a
    // smuggled summary row changes vocabulary CONTENTS without changing
    // its count)
    for (s <- art.summary; recorded <- art.summaryRows) {
      val actualSummary = s.count()
      if (actualSummary != recorded)
        throw new IllegalArgumentException(
          s"$what is corrupt: manifest claims $recorded summary rows, " +
            s"parquet holds $actualSummary")
    }
  }

  /** STRONG staleness check: recompute the corpus-text fingerprint and
    * compare with the manifest's — catches any text drift, including
    * in-place edits. One column-pruned aggregation over the corpus
    * (opt-in per query via the xop `verify_index` flag, or call after a
    * corpus refresh). */
  def verifyContent(spark: SparkSession, path: String, corpus: DataFrame,
                    textCol: String): Unit =
    verifyContent(load(spark, path), s"vocabulary at $path", corpus, textCol)

  /** [[verifyContent]] against an ALREADY-loaded artifact. */
  def verifyContent(art: Artifact, what: String, corpus: DataFrame,
                    textCol: String): Unit = {
    val (current, n) = fingerprintAndCount(corpus, textCol)
    if (art.nDocs != n || current != art.contentFingerprint)
      throw new IllegalArgumentException(
        s"$what is stale: corpus fingerprint $current (n=$n) does not match " +
          s"the recorded ${art.contentFingerprint} (n=${art.nDocs}) — rebuild the artifact")
  }
}
