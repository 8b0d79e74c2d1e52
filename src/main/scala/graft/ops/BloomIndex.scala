package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Persistable Bloom-exclusion artifact — the [[IvfIndex]] pattern
  * applied to [[Dedup.excludeByBloom]]'s sketch.
  *
  * The Bloom build is the per-refresh cost of id exclusion: one full
  * aggregation job over the exclusion list (10^9-id lists are normal for
  * a "never re-train on these" ledger), re-paid by every session that
  * excludes against it. This artifact persists the built sketch
  * (format v2, manifest and generations through [[ArtifactStore]]):
  *
  *   - `<path>/bloom[-g]/sketch.bin` — the serialized `BloomFilter`
  *     bytes as a raw file (Spark's own writeTo format; bit-array
  *     OR-merge makes the build order-independent, so the bytes are
  *     deterministic for a given list + parameters). The bytes are
  *     driver-held on both sides, so no Spark action moves them.
  *   - `<path>/manifest.json` — the build parameters (fpp, the sizing
  *     `n_items_built` and the exact `n_hash_functions`), the byte
  *     length as an integrity check, the id column's NAME and TYPE (a
  *     sketch probed through a different column or type silently
  *     under-deletes — the consumer validates both for free), the list's
  *     row count `n_ids`, the cumulative non-null insert load
  *     `n_inserted`, and an order-independent CONTENT fingerprint of the
  *     id list (exact decimal sum of xxhash64(id) — append, remove and
  *     replace all move it, unlike a bit-xor where a same-count pair
  *     swap can cancel; the count tripwire alone cannot see a same-size
  *     swap). All of them are mandatory; `fpp_estimate` is recorded
  *     once an [[update]] ran.
  *
  * The artifact is sketch-only by design: the exact exclusion ids stay
  * wherever the pipeline already keeps them (they are still needed for
  * the false-positive rescue anti-join — see
  * [[Dedup.excludeByBloomWith]]), while the aggregation over them is the
  * part worth persisting. Loading is O(bytes) driver memory — the same
  * bound the inline build already carries before broadcast.
  *
  * Consumers: `Dedup.excludeByBloomWith` takes the loaded bytes
  * directly, and the xop surface takes an `index` argument on
  * `exclude_ids` (resolved under `spark.graft.index.root`, like the IVF
  * artifact). The count/name/type tripwires are FREE and always checked
  * there; [[verifyContent]] recomputes the fingerprint (one
  * column-pruned aggregation job over the list) for explicit integrity
  * checks — the xop `verify_index` flag runs it per query for callers
  * who want the strong guarantee over the cheap one.
  */
object BloomIndex {

  /** Thrown by [[update]] when the delta would push the sketch past the
    * certified `maxFppFactor` bound. A DEDICATED type (still an
    * IllegalArgumentException, so every existing catch and the xop 400
    * taxonomy are unchanged) because [[updateOrRebuild]] dispatches its
    * rebuild fallback on it — matching on the message text was brittle:
    * a reworded guard, or an unrelated future IAE containing the word,
    * would silently change which failures rebuild versus propagate. */
  final class SketchOutgrownException(message: String)
    extends IllegalArgumentException(message)

  val FormatVersion = 2
  private val Kind = "bloom_exclusion"

  /** Order-independent content fingerprint of `df`'s id list: the exact
    * decimal sum of xxhash64 over the raw (non-distinct) column — one
    * column-pruned aggregation, safe at any list size (10^9 ids × the
    * 64-bit hash range stays ~28 digits, far inside decimal(38)).
    * Deterministic across partitionings and runs (xxhash64's seed is
    * fixed). Null ids contribute 0 — they never enter the sketch
    * (Spark's bloomFilter aggregate skips nulls), so they must not move
    * the fingerprint either; xxhash64(null) alone would return the
    * seed (42) and make an all-null list fingerprint as 42·n. Empty or
    * all-null list → "0". */
  def fingerprint(df: DataFrame, idCol: String): String =
    fingerprintAndCount(df, idCol)._1

  /** The fingerprint sum, the exact row count and the null-id count —
    * one aggregation, or observed metrics riding a sketch build. */
  private def fingerprintExprs(idCol: String): Seq[Column] = Seq(
    sum(when(col(idCol).isNotNull, xxhash64(col(idCol))).otherwise(lit(0L))
      .cast("decimal(38,0)")).as("fp"),
    count(lit(1)).as("n"),
    count(when(col(idCol).isNull, lit(1))).as("n_null"))

  /** [[fingerprint]] and the exact list row count from one pass. */
  private def fingerprintAndCount(df: DataFrame, idCol: String): (String, Long) = {
    val e = fingerprintExprs(idCol)
    val row = df.agg(e.head, e.tail: _*).head()
    (Option(row.getDecimal(0)).map(d => BigDecimal(d).toBigInt.toString)
      .getOrElse("0"), row.getLong(1))
  }

  /** `df` with [[fingerprintExprs]] observed into `obs`. */
  private def observedFingerprint(df: DataFrame, idCol: String,
                                  obs: org.apache.spark.sql.Observation): DataFrame = {
    val e = fingerprintExprs(idCol)
    df.observe(obs, e.head, e.tail: _*)
  }

  /** (fingerprint, rows, null ids) from an [[observedFingerprint]]. */
  private def observed(obs: org.apache.spark.sql.Observation): (String, Long, Long) = {
    val m = obs.get
    (Observed.decimalSum(m, "fp").toString, Observed.long(m, "n"),
      Observed.long(m, "n_null"))
  }

  /** Build the sketch over `exclude`'s id column (the same build
    * [[Dedup.excludeByBloom]] runs inline) and persist it at `path`.
    * The manifest's row count, null count and content fingerprint ride
    * the sketch-building aggregation as observed metrics, so the build
    * scans the exclusion list exactly once. An empty or all-null list
    * persists an empty sketch that excludes nothing. Returns the
    * serialized bytes. */
  def buildAndSave(exclude: DataFrame, idCol: String, fpp: Double,
                   path: String): Array[Byte] =
      ArtifactLock.withWriteLock(path) {
    val nItems = Dedup.bloomSizing(exclude)
    val obs = org.apache.spark.sql.Observation()
    val bytes = Dedup.buildBloomSized(observedFingerprint(exclude, idCol, obs),
      idCol, nItems, fpp)
    val (fp, n, nNull) = observed(obs)
    save(exclude.sparkSession, path, Artifact(bytes, n, idCol,
      exclude.schema(idCol).dataType.catalogString, fp, fpp, nItems,
      n - nNull, numHashFunctions(nItems, fpp).toLong))
    bytes
  }

  /** The sketch library's own hash-function sizing
    * (BloomFilterBase.optimalNumOfHashFunctions — private there,
    * reproduced verbatim and pinned against the library's actual field
    * by reflection in the spec): k = max(1, round(m/n·ln2)) computed
    * from the PRE-ROUNDING optimal bit count, not from bitSize(),
    * which rounds m up to a multiple of 64 and near a .5 boundary
    * reconstructs a k off by one — skewing the update path's fpp
    * honesty guard. Recorded in the manifest at build time so the
    * estimate never reconstructs. */
  private[graft] def numHashFunctions(nItems: Long, fpp: Double): Int = {
    val m = BloomFilter.optimalNumOfBits(nItems, fpp)
    math.max(1, math.round(m.toDouble / nItems * math.log(2)).toInt)
  }

  /** Loaded artifact: the sketch bytes plus its build metadata. `fpp` /
    * `nItemsBuilt` are the sketch's BUILD parameters (together they
    * determine the bit-array shape — [[update]] needs both);
    * `nInserted` counts every non-null id ever hashed INTO the sketch,
    * monotone under updates (removals leave bits set), the load the
    * false-positive estimate is computed from; `nIds` and
    * `contentFingerprint` track the CURRENT ledger. */
  final case class Artifact(bytes: Array[Byte], nIds: Long, idCol: String,
                            idType: String, contentFingerprint: String,
                            fpp: Double, nItemsBuilt: Long, nInserted: Long,
                            nHashFunctions: Long)

  /** Persist `art` as the next generation at `path`: the sketch as a
    * raw file in a fresh generation dir, then the manifest repointed
    * atomically and older generations pruned ([[ArtifactStore]]).
    * Caller holds the write lock. */
  private def save(spark: SparkSession, path: String, art: Artifact,
                   fppEstimate: Option[Double] = None): Unit = {
    val newGen = ArtifactStore.nextGen(spark, path)
    ArtifactStore.writeBytesFile(spark,
      s"$path/${ArtifactStore.genDirName("bloom", newGen)}", "sketch.bin", art.bytes)
    ArtifactStore.publish(spark, path, Kind, FormatVersion, newGen, Seq(
      "fpp" -> art.fpp,
      "n_bytes" -> art.bytes.length.toLong,
      "n_ids" -> art.nIds,
      "id_col" -> art.idCol,
      "id_type" -> art.idType,
      "fingerprint" -> art.contentFingerprint,
      "n_items_built" -> art.nItemsBuilt,
      "n_inserted" -> art.nInserted,
      "n_hash_functions" -> art.nHashFunctions) ++
      fppEstimate.map("fpp_estimate" -> _), Seq("bloom"))
  }

  /** Load a persisted sketch. Fails fast (IllegalArgumentException) on a
    * missing/foreign/corrupt artifact. */
  def load(spark: SparkSession, path: String): Array[Byte] =
    loadWithMeta(spark, path).bytes

  /** Load a persisted sketch with its manifest metadata. Every failure
    * mode — missing, foreign, older/newer format, a missing or mistyped
    * field, an unreadable or mis-sized sketch — surfaces as
    * IllegalArgumentException. A load racing concurrent saves is
    * retried bounded ([[ArtifactLock.retryingLoad]] — re-resolves the
    * manifest on a pruned-generation read failure). */
  def loadWithMeta(spark: SparkSession, path: String): Artifact =
    ArtifactLock.retryingLoad(loadOnce(spark, path))

  private def loadOnce(spark: SparkSession, path: String): Artifact = {
    val m = ArtifactStore.read(spark, path, Kind, FormatVersion, "bloom index")
    val bytes = ArtifactStore.readBytesFile(spark, m,
      s"${ArtifactStore.genDirName("bloom", m.dataGen)}/sketch.bin", "sketch")
    if (bytes.length.toLong != m.long("n_bytes"))
      m.corrupt(s"sketch holds ${bytes.length} bytes, manifest records " +
        m.long("n_bytes"))
    Artifact(bytes, m.long("n_ids"), m.string("id_col"), m.string("id_type"),
      m.string("fingerprint"), m.double("fpp"), m.long("n_items_built"),
      m.long("n_inserted"), m.long("n_hash_functions"))
  }

  /** STRONG staleness check: recompute the content fingerprint of the
    * current `exclude` list and compare with the manifest's — detects
    * the same-count different-content swap the free count tripwire
    * cannot. One column-pruned aggregation job over the list (so NOT on
    * the default query path — opt in per query via the xop
    * `verify_index` flag, or call this after a ledger refresh).
    * IllegalArgumentException on mismatch. */
  def verifyContent(spark: SparkSession, path: String,
                    exclude: DataFrame, idCol: String): Unit =
    verifyContent(loadWithMeta(spark, path), s"bloom index at $path",
      exclude, idCol)

  /** [[verifyContent]] against an ALREADY-loaded artifact — consumers
    * that just called [[loadWithMeta]] (the xop path) skip the second
    * manifest+sketch read. `what` names the artifact in errors. */
  def verifyContent(art: Artifact, what: String,
                    exclude: DataFrame, idCol: String): Unit = {
    val current = fingerprint(exclude, idCol)
    if (current != art.contentFingerprint)
      throw new IllegalArgumentException(
        s"$what is stale: exclude list content changed " +
          s"(fingerprint $current, artifact built over " +
          s"${art.contentFingerprint}) — rebuild the artifact")
  }

  /** INCREMENTAL sketch maintenance — the [[MinHashIndex.update]]
    * pattern applied to the exclusion ledger. A 10^9-id ledger that
    * gained a day's worth of ids should pay one aggregation over the
    * DAY, not the ledger; the caller supplies the delta (a ledger is
    * append-mostly and its owner knows its appends; [[Dedup.corpusDiff]]
    * over the id column computes one otherwise).
    *
    * `added` ids are hashed into the sketch at the BASE artifact's exact
    * (expectedNumItems, fpp) sizing — same bit-array shape, so the
    * OR-merge is bit-identical to hashing the union at that sizing
    * (pinned in spec). `removed` ids CANNOT leave a Bloom filter; their
    * bits stay set, which is SAFE for the exclusion operator — a stale
    * positive probe is rescued by [[Dedup.excludeByBloomWith]]'s exact
    * anti-join, so removals cost over-probing, never over-deletion. The
    * manifest's count and content fingerprint are delta-updated exactly
    * (the decimal sum: add arriving hashes, subtract departing), so the
    * free staleness tripwires and [[verifyContent]] keep tracking the
    * CURRENT ledger, not the sketch's monotone history.
    *
    * Honesty guard: every update recomputes the sketch's estimated
    * false-positive rate from its cumulative insert load
    * ((1 − e^(−k·n/m))^k with n = n_inserted, an upper bound since
    * duplicates count), records it in the manifest, and REFUSES to grow
    * a sketch past `maxFppFactor` × the built fpp — the explicit
    * rebuild trigger that keeps "incremental" from silently decaying
    * into "useless" (at 4× the default, every probe-positive still
    * short-circuits ~97% of the rescue join at fpp=0.01).
    *
    * Preconditions: `removed` rows must be exactly the rows that LEFT
    * the ledger (same multiplicity — the fingerprint is a sum over raw
    * rows; a removal count exceeding the recorded ledger size fails
    * fast as an obviously-wrong delta). An empty delta returns the
    * loaded artifact without writing. Like the MinHash swap, the
    * rewrite assumes a single-writer refresh window: nothing should
    * load the artifact mid-update. */
  def update(spark: SparkSession, path: String,
             added: DataFrame, addedIdCol: String,
             removed: Option[(DataFrame, String)] = None,
             maxFppFactor: Double = 4.0): Artifact =
      ArtifactLock.withWriteLock(path) {
    val art = loadWithMeta(spark, path)
    val what = s"bloom index at $path"
    // same identity tripwires the probe path enforces: a delta hashed
    // through a different column name or type would silently diverge
    // from the ledger the sketch claims to cover
    def checkSide(df: DataFrame, c: String, side: String): Unit = {
      Dedup.requireIntegralId(df, c, s"$side id")
      if (art.idCol != c)
        throw new IllegalArgumentException(
          s"$what was built over column '${art.idCol}', $side uses '$c'")
      val now = df.schema(c).dataType.catalogString
      if (art.idType != now)
        throw new IllegalArgumentException(
          s"$what was built over ${art.idType} ids, $side column '$c' is $now")
    }
    checkSide(added, addedIdCol, "added")
    removed.foreach { case (df, c) => checkSide(df, c, "removed") }
    // the added side's fingerprint/counts ride the added-side sketch
    // build as observed metrics (the buildAndSave discipline): one scan
    // of the delta. An empty or all-null delta builds an empty sketch of
    // the base's shape, whose merge below sets no bit.
    val addObs = org.apache.spark.sql.Observation()
    val addedSketch = Dedup.buildBloomSized(
      observedFingerprint(added, addedIdCol, addObs), addedIdCol,
      art.nItemsBuilt, art.fpp)
    val (addFp, nAdd, nAddNull) = observed(addObs)
    val (remFp, nRem) = removed.map { case (df, c) =>
      fingerprintAndCount(df, c) }.getOrElse(("0", 0L))
    if (nAdd == 0L && nRem == 0L) return art
    if (art.nIds + nAdd - nRem < 0L)
      throw new IllegalArgumentException(
        s"$what: removal of $nRem rows exceeds the ledger the artifact " +
          s"records (${art.nIds} + $nAdd added) — the delta does not describe " +
          "this ledger; rebuild instead")
    val newInserted = art.nInserted + (nAdd - nAddNull)
    // estimated fpp at the new load: k is the build's recorded count
    // (exact — never reconstructed from bitSize(), whose round-up to a
    // 64-bit-word multiple puts k off by one near a .5 boundary); m IS
    // the actual bit array length (the real geometry)
    val base = BloomFilter.readFrom(new java.io.ByteArrayInputStream(art.bytes))
    val k = art.nHashFunctions.toDouble
    val est = math.pow(1.0 - math.exp(-k * newInserted / base.bitSize().toDouble), k)
    if (est > maxFppFactor * art.fpp)
      throw new SketchOutgrownException(
        f"$what has outgrown its sketch: estimated false-positive rate " +
          f"$est%.2g at ${newInserted} inserted ids exceeds $maxFppFactor%.1f× " +
          f"the built fpp=${art.fpp}%.2g — rebuild the artifact at the new scale")
    base.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(addedSketch)))
    val bos = new java.io.ByteArrayOutputStream()
    base.writeTo(bos)
    save(spark, path, art.copy(bytes = bos.toByteArray,
      nIds = art.nIds + nAdd - nRem,
      contentFingerprint =
        (BigInt(art.contentFingerprint) + BigInt(addFp) - BigInt(remFp)).toString,
      nInserted = newInserted), fppEstimate = Some(est))
    loadWithMeta(spark, path)
  }

  /** [[update]] with the production fallback wired in: when the delta
    * would outgrow the sketch (the certified `maxFppFactor` refusal),
    * rebuild from the CURRENT ledger at the new scale instead of
    * throwing — the exclusion operator always requires the exact ledger
    * anyway, so the rebuild input is already at hand. `ledger` must be
    * the post-delta exclusion list (current ids, additions applied,
    * removals dropped); on the rebuild path the sketch is re-sized and
    * re-hashed from it with the original build's `fpp` (or `rebuildFpp`
    * when given), exactly as [[buildAndSave]] would. Returns the loaded
    * artifact either way; `wasRebuilt` distinguishes the paths for the
    * caller's refresh log. */
  def updateOrRebuild(spark: SparkSession, path: String,
                      added: DataFrame, addedIdCol: String,
                      ledger: DataFrame, ledgerIdCol: String,
                      removed: Option[(DataFrame, String)] = None,
                      maxFppFactor: Double = 4.0,
                      rebuildFpp: Option[Double] = None):
      (Artifact, Boolean) = ArtifactLock.withWriteLock(path) {
    // the lock spans the try-update AND the fallback rebuild: an
    // interleaved writer between them could otherwise make the rebuild
    // clobber state the other writer just published
    try (update(spark, path, added, addedIdCol, removed, maxFppFactor), false)
    catch {
      case _: SketchOutgrownException =>
        val fpp = rebuildFpp.getOrElse(loadWithMeta(spark, path).fpp)
        buildAndSave(ledger, ledgerIdCol, fpp, path)
        (loadWithMeta(spark, path), true)
    }
  }
}
