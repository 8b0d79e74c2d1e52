package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistable decontamination artifact — the last pipeline family that
  * recomputed its reference side per run, brought to the same
  * manifest/generation/lease posture as [[BloomIndex]]/[[VocabIndex]]/
  * [[MinHashIndex]]/[[IvfIndex]].
  *
  * [[Decontaminate.contaminated]] re-derives the eval suite's distinct
  * word n-grams on EVERY invocation: normalize, tokenize, n-gram
  * explode, distinct — repaid by each of the many pipeline runs that
  * decontaminate against the same benchmark suite. This artifact
  * persists that derivation once per suite refresh:
  *
  *   - `<path>/grams[-g]/` — parquet `(gram STRING, gh BIGINT,
  *     n_refs BIGINT)`: every distinct eval n-gram, its xxhash64, and
  *     how many eval documents contain it. The ref counts make suite
  *     REFRESH exact: removing a document decrements its grams and only
  *     a count reaching zero leaves the relation — a gram shared by a
  *     surviving document keeps matching.
  *   - `<path>/bloom[-g]/sketch.bin` — serialized `BloomFilter` over
  *     the gram hashes as a raw file, the map-side pre-filter: the train
  *     side's exploded (doc, gram) relation is probed inside codegen and only
  *     probe-positive grams (true matches + fpp of the rest) reach the
  *     exact join, so the joined mass is contamination-density-sized,
  *     not corpus-gram-sized. False positives are rescued by the exact
  *     (hash, gram) join against the grams relation — the same
  *     sketch-then-verify posture as [[Dedup.excludeByBloomWith]] — so
  *     results are EXACT regardless of fpp.
  *   - `<path>/manifest.json` — format v2, atomically published
  *     ([[ArtifactStore]]), all fields mandatory: the gram length `n` (a
  *     consumer probing with a different n would silently miss every
  *     gram — it fails fast instead), fpp, generation, gram count,
  *     sketch byte length, and an order-independent content fingerprint
  *     (exact decimal sum of the gram hashes) for [[verifyContent]].
  *
  * Unlike the id-ledger Bloom ([[BloomIndex.update]]), incremental
  * refresh here rebuilds the SKETCH every time: the sketch's input is
  * the grams relation itself (benchmark-suite-sized — thousands to a
  * few million rows), so re-sketching costs one small aggregation while
  * buying true removal (no monotone bit decay, no fpp-outgrowth
  * refusal path). What [[update]] avoids re-paying is the expensive
  * half: the n-gram derivation over the FULL eval corpus — only the
  * delta documents are tokenized and exploded; the standing grams merge
  * by count.
  *
  * Mutations run under [[ArtifactLock.withWriteLock]] (process monitor
  * + cross-process fenced lease); generationed relations keep
  * [[ArtifactStore.KeepGenerations]] prior generations for unlocked
  * readers and loads retry through [[ArtifactLock.retryingLoad]] (lazy
  * probes through [[ArtifactLock.probeRetrying]]).
  */
object DecontIndex {

  val FormatVersion = 2
  private val Kind = "decont_ngram"

  /** A loaded artifact: the distinct eval-gram relation (lazy over the
    * pinned generation — gram-set-sized), the sketch bytes, and the
    * build parameters consumers validate against. */
  final case class Artifact(grams: DataFrame, bloomBytes: Array[Byte],
                            n: Int, fpp: Double, nGrams: Long,
                            contentFingerprint: String, dataGen: Long)

  /** The (gram, gh, n_refs) relation for an eval corpus — one explode
    * with per-document dedup, one count aggregation. */
  private def gramCounts(eval: DataFrame, textCol: String, n: Int): DataFrame =
    eval.select(explode(
        Decontaminate.wordNgrams(col(textCol), n, distinct = true)).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n_refs"))
      .select(col("gram"), xxhash64(col("gram")).as("gh"), col("n_refs"))

  /** Derive the eval suite's gram relation and persist grams + sketch +
    * manifest at `path`. The eval corpus is scanned ONCE (the gram
    * derivation); the sketch and fingerprint aggregate over the
    * just-written gram relation, which is suite-sized. A suite with no
    * n-gram of length `n` (every document shorter) persists an empty
    * artifact that flags nothing. */
  def buildAndSave(eval: DataFrame, textCol: String, path: String,
                   n: Int = 8, fpp: Double = 0.01): Artifact = {
    require(n > 0, "n must be positive")
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val spark = eval.sparkSession
    ArtifactLock.withWriteLock(path) {
      saveGrams(spark, path, gramCounts(eval, textCol, n), n, fpp)
    }
  }

  /** Write `grams` as the next generation, rebuild the sketch from it,
    * publish the manifest, prune old generations, and return the
    * resulting Artifact CONSTRUCTED FROM THE WRITE ITSELF: the sketch
    * bytes are in hand, count/fingerprint rode the write as observed
    * metrics, and the gram relation is the same pinned-generation read
    * the sketch was built from — so the save does not pay a trailing
    * `load` (manifest re-read + sketch readback collect) just to hand
    * back state it already holds. The write path still round-trips the
    * big relation (the sketch aggregates over the just-written grams
    * parquet), and the fresh-reader fail-fast contract stays covered by
    * every real load ([[load]]'s one sketch-readback collect — e.g.
    * [[update]] starts with one). Caller holds the write lock.
    *
    * `abortIf` runs between the grams write and any publication: when
    * it throws, the just-written (never-referenced) generation dir is
    * removed and the artifact is observably unchanged — [[update]]'s
    * negative-ref-count guard rides the write this way instead of
    * paying a second full computation of the merged relation. */
  private def saveGrams(spark: SparkSession, path: String, grams: DataFrame,
                        n: Int, fpp: Double,
                        abortIf: () => Unit = () => ()): Artifact = {
    val newGen = ArtifactStore.nextGen(spark, path)
    val gramsDir = s"$path/${ArtifactStore.genDirName("grams", newGen)}"
    // the gram count and content fingerprint ride the write as observed
    // metrics (the shared artifact-build discipline) — they used to
    // cost a second aggregation over the written parquet
    val obs = org.apache.spark.sql.Observation()
    grams.observe(obs,
        count(lit(1)).as("n_grams"),
        sum(col("gh").cast("decimal(38,0)")).as("fp"))
      .write.mode(SaveMode.Overwrite).parquet(gramsDir)
    try abortIf()
    catch { case e: Throwable =>
      try new org.apache.hadoop.fs.Path(gramsDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
        .delete(new org.apache.hadoop.fs.Path(gramsDir), true)
      catch { case _: Exception => () }
      throw e
    }
    val m = obs.get
    val nGrams = Observed.long(m, "n_grams")
    val fingerprint = Observed.decimalSum(m, "fp").toString
    // the sketch aggregates over the just-written suite-sized parquet
    // instead of re-deriving grams
    val written = spark.read.parquet(gramsDir)
    val bytes = Dedup.buildBloomSized(written, "gh",
      math.max(nGrams, 1L), fpp)
    // the sketch bytes are driver-held: a raw file, no Spark job
    ArtifactStore.writeBytesFile(spark,
      s"$path/${ArtifactStore.genDirName("bloom", newGen)}", "sketch.bin", bytes)
    ArtifactStore.publish(spark, path, Kind, FormatVersion, newGen, Seq(
      "n" -> n.toLong,
      "fpp" -> fpp,
      "n_grams" -> nGrams,
      "n_bytes" -> bytes.length.toLong,
      "fingerprint" -> fingerprint), Seq("grams", "bloom"))
    Artifact(written, bytes, n, fpp, nGrams, fingerprint, newGen)
  }

  /** Load a persisted artifact. Fails fast (IllegalArgumentException)
    * on a missing/foreign/corrupt artifact; a load racing concurrent
    * saves is retried bounded ([[ArtifactLock.retryingLoad]]). The
    * grams relation comes back LAZY over the pinned generation —
    * [[ArtifactStore.KeepGenerations]] prior generations outlive later
    * saves for exactly this reader; an action racing maintenance
    * belongs inside [[ArtifactLock.probeRetrying]]. */
  def load(spark: SparkSession, path: String): Artifact =
    ArtifactLock.retryingLoad(loadOnce(spark, path))

  private def loadOnce(spark: SparkSession, path: String): Artifact = {
    val m = ArtifactStore.read(spark, path, Kind, FormatVersion,
      "decontamination index")
    val bytes = ArtifactStore.readBytesFile(spark, m,
      s"${ArtifactStore.genDirName("bloom", m.dataGen)}/sketch.bin", "sketch")
    if (bytes.length.toLong != m.long("n_bytes"))
      m.corrupt(s"sketch holds ${bytes.length} bytes, manifest records " +
        m.long("n_bytes"))
    val grams = ArtifactStore.readRelation(spark, m,
      ArtifactStore.genDirName("grams", m.dataGen), "gram relation")
    Artifact(grams, bytes, m.posInt("n"), m.double("fpp"), m.long("n_grams"),
      m.string("fingerprint"), m.dataGen)
  }

  /** STRONG staleness check: re-derive the gram fingerprint from the
    * CURRENT eval corpus and compare with the manifest's — one
    * derivation pass over the eval corpus, so NOT on the default query
    * path (opt in via the xop `verify_index` flag or after a suite
    * refresh). IllegalArgumentException on mismatch. */
  def verifyContent(art: Artifact, what: String,
                    eval: DataFrame, textCol: String): Unit = {
    val row = gramCounts(eval, textCol, art.n)
      .agg(sum(col("gh").cast("decimal(38,0)")).as("fp")).head()
    val current = Option(row.getDecimal(0))
      .map(d => BigDecimal(d).toBigInt.toString).getOrElse("0")
    if (current != art.contentFingerprint)
      throw new IllegalArgumentException(
        s"$what is stale: eval suite content changed (fingerprint " +
          s"$current, artifact built over ${art.contentFingerprint}) — " +
          "update or rebuild the artifact")
  }

  /** INCREMENTAL suite refresh: fold added/removed eval DOCUMENTS into
    * the artifact without re-deriving grams over the whole suite. Only
    * the delta documents pay tokenize + explode; the standing relation
    * merges by ref count (a removal decrements — the gram leaves only
    * when no surviving document references it), and the sketch +
    * fingerprint rebuild from the merged suite-sized relation, so
    * removals truly leave the sketch (no monotone decay, no outgrowth
    * refusal — see the class doc).
    *
    * Preconditions: `removed` must be exactly the documents that LEFT
    * the suite, with the same text the artifact ingested — a removal
    * decrementing a gram below zero means the delta does not describe
    * this suite and fails fast. An empty delta returns the loaded
    * artifact without writing. */
  def update(spark: SparkSession, path: String, textCol: String,
             added: Option[DataFrame] = None,
             removed: Option[DataFrame] = None): Artifact =
      ArtifactLock.withWriteLock(path) {
    val art = load(spark, path)
    val addCounts = added.map(gramCounts(_, textCol, art.n))
    val remCounts = removed.map(gramCounts(_, textCol, art.n))
    if (addCounts.isEmpty && remCounts.isEmpty) return art
    val deltas =
      addCounts.map(_.select(col("gram"), col("n_refs").as("__d"))).toSeq ++
      remCounts.map(_.select(col("gram"), (-col("n_refs")).as("__d")))
    val merged = deltas
      .foldLeft(art.grams.select(col("gram"), col("n_refs").as("__d")))(
        _.unionByName(_))
      .groupBy("gram")
      .agg(sum(col("__d")).as("n_refs"))
      .select(col("gram"), xxhash64(col("gram")).as("gh"), col("n_refs"))
    // the negative-ref-count guard rides the grams write as an observed
    // metric (a negative count proves the delta is not this suite's
    // history): the merged relation is computed ONCE instead of once
    // for a standalone check and again for the write. A tripped guard
    // throws before anything is published and removes the staged,
    // never-referenced generation dir — the artifact is unchanged.
    // CONTRACT the guard depends on: the observe sits BELOW the
    // n_refs > 0 filter, and the optimizer must not push that filter
    // under the CollectMetrics node (true in Spark 4.1.2 —
    // PushPredicateThroughNonJoin has no CollectMetrics case), or
    // negative rows would be dropped before they are counted and a bad
    // delta would publish. DecontIndexSpec's fail-fast test pins this:
    // its negative rows are exactly the filtered rows, so a pushed-down
    // filter would flip the test from throw to silent success.
    val negObs = org.apache.spark.sql.Observation()
    val guarded = merged
      .observe(negObs, coalesce(sum(when(col("n_refs") < 0, lit(1L))),
        lit(0L)).as("neg"))
      .filter(col("n_refs") > 0)
    saveGrams(spark, path, guarded, art.n, art.fpp, abortIf = () => {
      if (Observed.long(negObs.get, "neg") > 0)
        throw new IllegalArgumentException(
          s"decontamination index at $path: the removal delta drops grams " +
            "the artifact never ingested (ref count below zero) — the delta " +
            "does not describe this suite; rebuild instead")
    })
  }
}

