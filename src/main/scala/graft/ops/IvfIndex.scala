package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persistable coarse-quantizer (IVF / spherical-k-means) index artifact.
  *
  * The quantizer build is the expensive half of [[Similarity.ivfTopK]] /
  * [[Similarity.clusterAssign]] — a handful of driver-coordinated jobs
  * per corpus (centroid sample + k-means rounds). The session-level
  * [[IvfIndexCache]] amortizes it within one process, but a server
  * restart silently re-pays it per corpus. This artifact makes the index
  * a first-class on-disk object, the way any production ANN deployment
  * treats it:
  *
  *   - `<path>/centroids[-g]/centroids.bin` — the centroid list as a
  *     raw binary file (count, dim, raw IEEE754 bits): exact double
  *     round-trips, so a loaded quantizer reproduces assignments
  *     BIT-FOR-BIT (pinned in OpsSpec). Written and read via the
  *     filesystem API — the list is driver-held on both sides, so no
  *     Spark action is spent moving it.
  *   - `<path>/manifest.json` — format v2 ([[ArtifactStore]]) with the
  *     mandatory build parameters: n_cells requested, n_centroids
  *     actually built, dim, kmeans_iters. Everything goes through the
  *     Hadoop FileSystem API, so the path may be any Spark-reachable
  *     filesystem (local, HDFS, S3), not just the driver's local disk.
  *
  * The artifact is centroids-only by design: corpus cell ASSIGNMENT is a
  * stateless map-only pass (cheap, and any persisted copy would go stale
  * with the corpus), while the centroid build is the part worth
  * persisting. Loading is O(nCells·dim) driver memory — the same bound
  * the in-memory cache already carries.
  *
  * Consumers: `Similarity.ivfTopKWith` / `Similarity.clusterAssignWith`
  * accept the loaded centroids directly, and the xop surface takes an
  * `index` argument on `ann_ivf` / `emb_cluster` (resolved under the
  * `spark.graft.index.root` conf — see XopEngine).
  */
object IvfIndex {

  val FormatVersion = 2
  private val Kind = "ivf_coarse_quantizer"

  /** Build the quantizer for `corpus` (through the session cache — a
    * warm build is free) and persist it at `path`. Returns the
    * centroids. */
  def buildAndSave(corpus: DataFrame, idCol: String, vecCol: String,
                   nCells: Int, kmeansIters: Int, path: String): Seq[Seq[Double]] =
      ArtifactLock.withWriteLock(path) {
    require(nCells > 0, "nCells must be positive")
    require(kmeansIters >= 0, "kmeansIters must be >= 0")
    val centroids =
      Similarity.buildQuantizer(corpus, idCol, vecCol, nCells, kmeansIters)
    save(corpus.sparkSession, path, centroids,
      nCells = nCells, kmeansIters = kmeansIters)
    centroids
  }

  /** Warm-start re-centering of a persisted quantizer — the
    * incremental-maintenance form for the centroid artifact. A
    * quantizer is a SAMPLE of the corpus it was built on; after the
    * corpus drifts (new crawl snapshots, refreshed sources) the stored
    * centroids still define valid cells, but their placement degrades.
    * The remedy is not a from-scratch rebuild: Lloyd's iterations
    * seeded from the STORED centroids converge from where the old
    * build left off — `iters` map-only assignment passes plus tiny
    * (cell, dim-position) mean aggregates (see
    * [[Similarity.kmeansRefine]]), with the spherical k-means
    * objective (Σ corpus-wide cosine to the assigned centroid)
    * monotonically non-decreasing at every step — a refine can only
    * improve or hold the quantization, never worsen it (pinned in
    * IvfIndexSpec). The refined centroids overwrite the artifact, and
    * the manifest's kmeans_iters advances by `iters` so the build
    * history stays readable.
    *
    * `iters = 0` is a pure no-op: the loaded centroids are returned
    * unchanged and nothing is rewritten (the identity x79b anchors
    * through DuckDB). Seeding from an `iters = 0` artifact on an
    * unchanged corpus reproduces `buildQuantizer(..., iters)`
    * BIT-FOR-BIT — the raw-file round-trip is IEEE-exact and both
    * paths normalize the seed the same way (also pinned). */
  def refine(spark: SparkSession, path: String, corpus: DataFrame,
             vecCol: String, iters: Int): Seq[Seq[Double]] =
      ArtifactLock.withWriteLock(path) {
    require(iters >= 0, "iters must be >= 0")
    val q = ArtifactLock.retryingLoad(loadOnce(spark, path))
    if (iters == 0) q.centroids
    else {
      val refined = Similarity.kmeansRefine(corpus, vecCol, q.centroids, iters)
      save(spark, path, refined, nCells = q.nCells,
        kmeansIters = (q.kmeansIters + iters).toInt)
      refined
    }
  }

  /** Persist an already-built centroid list at `path` (overwrite): the
    * NEXT generation's raw centroid file, then the manifest repointed
    * atomically and older generations pruned ([[ArtifactStore]]) — the
    * refine path rewrites this artifact while unlocked readers may hold
    * the previous generation. */
  def save(spark: SparkSession, path: String, centroids: Seq[Seq[Double]],
           nCells: Int, kmeansIters: Int): Unit =
      ArtifactLock.withWriteLock(path) {
    require(centroids.nonEmpty, "centroids must be non-empty")
    require(centroids.map(_.length).distinct.size == 1,
      "centroids must share one dimensionality")
    val newGen = ArtifactStore.nextGen(spark, path)
    ArtifactStore.writeBytesFile(spark,
      s"$path/${ArtifactStore.genDirName("centroids", newGen)}",
      "centroids.bin", encodeCentroids(centroids))
    ArtifactStore.publish(spark, path, Kind, FormatVersion, newGen, Seq(
      "n_cells" -> nCells.toLong,
      "n_centroids" -> centroids.length.toLong,
      "dim" -> centroids.head.length.toLong,
      "kmeans_iters" -> kmeansIters.toLong), Seq("centroids"))
  }

  /** A loaded quantizer with the build parameters [[refine]] carries
    * forward. */
  private final case class Quantizer(centroids: Seq[Seq[Double]],
                                     nCells: Int, kmeansIters: Long)

  /** Load a persisted quantizer. Fails fast (IllegalArgumentException)
    * on a missing/foreign/corrupt artifact rather than returning a
    * half-index. A load racing concurrent saves is retried bounded
    * ([[ArtifactLock.retryingLoad]]): manifest-read → centroid-read is
    * not atomic, so a reader lagging several saves can still find its
    * resolved generation pruned — the retry re-resolves the manifest
    * and reads again. */
  def load(spark: SparkSession, path: String): Seq[Seq[Double]] =
    ArtifactLock.retryingLoad(loadOnce(spark, path)).centroids

  /** Raw on-disk centroid encoding: int32 count, int32 dim, then
    * count×dim float64 raw bits (DataOutputStream big-endian) —
    * bit-exact IEEE754 round-trip, decoded by [[decodeCentroids]]. */
  private def encodeCentroids(cs: Seq[Seq[Double]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(8 + cs.length * cs.head.length * 8)
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(cs.length)
    out.writeInt(cs.head.length)
    cs.foreach(_.foreach(out.writeDouble))
    out.flush()
    bos.toByteArray
  }

  private def decodeCentroids(m: ArtifactStore.Manifest,
                              bytes: Array[Byte]): Seq[Seq[Double]] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val n = in.readInt(); val dim = in.readInt()
      if (n <= 0 || dim <= 0 || bytes.length != 8L + n.toLong * dim * 8)
        m.corrupt(s"centroid file length ${bytes.length} disagrees with " +
          s"header ($n × $dim)")
      Seq.tabulate(n)(_ => Seq.fill(dim)(in.readDouble()))
    } catch { case _: java.io.EOFException => m.corrupt("truncated centroid file") }
  }

  private def loadOnce(spark: SparkSession, path: String): Quantizer = {
    val m = ArtifactStore.read(spark, path, Kind, FormatVersion, "IVF index")
    val centroids = decodeCentroids(m, ArtifactStore.readBytesFile(spark, m,
      s"${ArtifactStore.genDirName("centroids", m.dataGen)}/centroids.bin",
      "centroids"))
    if (centroids.length.toLong != m.long("n_centroids"))
      m.corrupt(s"manifest claims ${m.long("n_centroids")} centroids, the " +
        s"centroid file holds ${centroids.length}")
    if (centroids.head.length.toLong != m.long("dim"))
      m.corrupt("centroid dimensionality disagrees with manifest")
    Quantizer(centroids, m.posInt("n_cells"), m.long("kmeans_iters"))
  }
}
