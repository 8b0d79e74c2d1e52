package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All candidate generation is
  * bucket-join based (shuffle on bucket keys, never a cross join), so each
  * operator scales to the full corpus on a real cluster:
  *
  *   - exact:      1 shuffle on the content fingerprint
  *   - MinHash:    map-side signatures → explode bands → self-join on
  *                 (band, bucket) — candidates only within equal buckets
  *   - SimHash:    map-side 64-bit signature → 4×16-bit band join →
  *                 Hamming verify via bit_count(xor)
  *   - Jaccard:    shared-token-bucket join → exact set Jaccard verify
  *
  * Signatures are pure Catalyst expressions (xxhash64 + higher-order
  * functions) — no UDFs, no driver-side state, no ML pipeline overhead.
  */
object Dedup {

  /** Spread a small-file input across cores before heavy per-row compute:
    * a single-row-group parquet table arrives as ONE partition, which
    * would serialize signature computation on one thread. The target is
    * bounded by ~1k rows per partition (plan-stats estimate, free on
    * cached relations): full parallelism for a tiny input just multiplies
    * shuffle FILES — stack-sampled at 60-80% of an LSH operator's wall
    * time at small scale — without adding useful concurrency. Stats-ONLY:
    * no partition-count probe (`df.rdd` would force full physical
    * planning on the driver once per spread per query). The stats can't
    * reveal the CURRENT partition count, so the gate is a byte budget
    * plus a file-count check on the scan leaves: a sub-2-GiB input is
    * repartitioned unless its scan already lists >= target files (a
    * many-file scan arrives pre-split — see `arrivesSplit` in the
    * body) — that shuffle costs seconds at worst and covers
    * the pathological single-row-group file (unsplittable below row-group
    * granularity no matter what maxPartitionBytes says, and row groups
    * never reach 2 GiB in practice) — while a larger corpus is left
    * alone: it necessarily spans many row groups/files and arrives
    * pre-split, and repartitioning 100 TB to "spread" it would be the
    * bug.
    *
    * `key` drives a deterministic HASH exchange, not round-robin:
    * AQE's stage cache refuses to even CONSIDER a nondeterministic
    * round-robin exchange for reuse, and a deterministic key also keeps
    * the layout stable for downstream co-location. Reuse eligibility is
    * necessary but not sufficient, though — round-9 executed-plan
    * audits showed multi-branch consumers still duplicate the exchange
    * whenever column pruning or inferred `isnotnull` constraints make
    * the branch subtrees canonically unequal (see withKeyAgg's cost
    * note); the operators where that duplication was expensive now
    * compute their second branch as an explicit independent narrow
    * pass instead of relying on reuse. */
  private[graft] val SpreadMaxBytes: Long = 2L << 30
  private[graft] def spread(df: DataFrame, key: Column): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    val dp = df.sparkSession.sparkContext.defaultParallelism
    val target = math.min(dp.toLong,
      math.max(1L, Similarity.approxRows(df) / 1000L)).toInt
    // A many-file scan already arrives spread without any exchange:
    // FilePartition's split sizing caps maxSplitBytes at bytesPerCore,
    // and every file pays at least openCostInBytes of padding, so
    // >= target files yield >= ~target arrival splits whatever the
    // file sizes. Only file-backed leaves count — in-memory relations
    // (LocalRelation, cached test fixtures) arrive in arbitrary few
    // partitions and still need the fan-out. Reads the FileIndex's
    // already-materialized listing; no physical planning.
    def arrivesSplit: Boolean = {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      val leaves = plan.collectLeaves()
      leaves.nonEmpty && leaves.forall {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.inputFiles.length >= target
          case _ => false
        }
        case _ => false
      }
    }
    // unknown sizes report huge (Long.MaxValue-ish) → treated as big → no-op
    if (target > 1 && plan.stats.sizeInBytes < BigInt(SpreadMaxBytes)
        && !arrivesSplit)
      df.repartition(target, key)
    else df
  }

  /** Per-key aggregate joined back onto its occurrence relation — the
    * skew-safe replacement for `f(...).over(Window.partitionBy(key))` on
    * occurrence lineages (grams, chunks, terms, fingerprints). The
    * groupBy gets map-side partial combine, so each task contributes one
    * row per DISTINCT key it holds — a Zipf-head key (a boilerplate
    * 8-gram, "the" in a df count) costs one row per mapper instead of
    * funneling its whole occurrence set into a single reduce task. The
    * join back is a plain equi-join that AQE can broadcast (the keyed
    * aggregate is vocabulary-sized) or skew-split. Window aggregation
    * has neither escape: it does NO partial combine, and AQE's skew
    * handling covers JOINS only — it cannot split a skewed window
    * partition. `agg` must be pre-aliased; predicates on its output
    * columns push below the join into the aggregate side.
    *
    * Cost honesty: the occurrence subtree executes ONCE PER BRANCH —
    * two parallel, skew-free map scans (the aggregate branch prunes to
    * the key column, so its copy is narrow). Round-9 executed-plan
    * audits showed AQE stage reuse does NOT deduplicate the branches in
    * practice, even under a shared spread exchange: per-branch column
    * pruning and constraint inference (a join downstream of one branch
    * injects `isnotnull` filters the other branch lacks) make the
    * shared subtrees canonically unequal. Operators where the second
    * pass was heavyweight (bm25Batch/tfidfKeywords df, unigramNll
    * total, the as-of boundary, sessionize bounds) were restructured to
    * explicit independent narrow passes; for the remaining gram-lineage
    * callers the pruned re-scan IS the narrow pass, and at corpus scale
    * two skew-free map scans remain the right trade against the window
    * form's guaranteed single-task funnel on every hot key.
    *
    * PRECONDITION: `key` must be non-null on every row. The inner
    * equi-join drops null-key rows, where the window form it replaces
    * keeps them (nulls form one window partition). Every current caller
    * constructs the key by exploding grams/chunks/terms out of
    * non-null text, which cannot produce nulls; a caller with a
    * nullable key must filter or default nulls first. */
  private[graft] def withKeyAgg(occ: DataFrame, key: String, agg: Column): DataFrame =
    occ.join(occ.groupBy(col(key)).agg(agg), Seq(key))

  /** Exact dedup: keep the lowest-`orderCol` row per fingerprint of the
    * normalized text. ONE aggregation with map-side partial combine: each
    * task collapses its slice of a duplicate class to a single candidate
    * row before the shuffle, so a mass-duplicated document (the corpus
    * norm, not the exception) costs one row per mapper. The previous
    * `row_number over Window.partitionBy(fingerprint)` form funneled a
    * hot fingerprint's entire class into one reduce task — AQE cannot
    * split a skewed window partition (its skew handling covers joins
    * only). Ties on `orderCol` are broken arbitrarily-but-one, like the
    * window form; callers pass a unique ordering column. */
  def exactByText(df: DataFrame, textCol: String, orderCol: String): DataFrame = {
    // backtick-quoted refs + getField, never bare dotted-path parsing:
    // user column names from CSV headers can contain dots and must
    // resolve as exact names (both functions.col and Dataset.apply
    // parse unquoted dots as struct paths)
    val payload = struct(df.columns.map(exactCol): _*)
    // struct-wrapped order key: min_by DROPS rows whose ordering is null,
    // while struct(null) stays non-null and sorts first — matching the
    // window form's nulls-first orderBy
    df.groupBy(TextOps.fingerprintMd5(exactCol(textCol)).as("__fp"))
      .agg(min_by(payload, struct(exactCol(orderCol))).as("__keep"))
      .select(df.columns.map(c => col("__keep").getField(c).as(c)): _*)
  }

  /** Column reference that resolves `name` EXACTLY — backtick-quoted so
    * dots in CSV-derived names never parse as struct paths (embedded
    * backticks escape as ``). Both `functions.col` and `Dataset.apply`
    * split unquoted dots. */
  private[graft] def exactCol(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** Deterministic spread key for operators whose contract has no id
    * column: xxhash64 over every ATOMIC column (exact-quoted names, so
    * dotted CSV headers resolve; map-typed and nested columns are
    * skipped — xxhash64 rejects MapType). The server surface always
    * carries the hidden row-order column, so rows stay distinct even on
    * boilerplate-heavy corpora; `fallback` (the operator's text column)
    * covers the no-atomic-columns edge. */
  private[graft] def spreadKey(df: DataFrame, fallback: String): Column = {
    import org.apache.spark.sql.types._
    val atomic = df.schema.fields.collect {
      case f if (f.dataType match {
        case _: NumericType | StringType | BooleanType | BinaryType |
             DateType | TimestampType | TimestampNTZType => true
        case _ => false
      }) => exactCol(f.name)
    }
    if (atomic.nonEmpty) xxhash64(atomic.toSeq: _*)
    else xxhash64(exactCol(fallback))
  }

  /** Word n-gram shingles of the normalized text (n tokens per shingle). */
  def shingles(c: Column, n: Int): Column = {
    val toks = TextOps.tokens(c)
    when(size(toks) < n, array(TextOps.normalizeText(c)))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
  }

  private val MersenneP = 2147483647L // 2^31 - 1

  /** Base hash of each shingle, computed ONCE per row. The signature's 64
    * permutations are then cheap affine passes over this array. Keeping
    * this in its own projection matters: higher-order functions are outside
    * whole-stage codegen's subexpression elimination, so inlining the
    * shingle tree into every per-seed transform would re-shingle the
    * document numHashes times. */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => pmod(xxhash64(s), lit(MersenneP)))

  /** Fused shingle-hash kernel: text column → distinct base-hash array in
    * one native pass (graft.functions.ShingleHashesExpr) — value-identical
    * to `shingleHashes(shingles(c, n))` (asserted in tests), minus ~3
    * interpreted lambda evals per shingle. */
  def shingleHashesFused(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.ShingleHashesExpr(
        org.apache.spark.sql.GraftSqlShims.expression(TextOps.tokens(c)),
        org.apache.spark.sql.GraftSqlShims.expression(TextOps.normalizeText(c)), n))

  /** MinHash signature over precomputed shingle hashes — the native
    * codegen'd kernel (see graft.functions.MinHashSignatureExpr). */
  def minhashSignature(hashesCol: Column, numHashes: Int): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.MinHashSignatureExpr(
        org.apache.spark.sql.GraftSqlShims.expression(hashesCol), numHashes))

  /** Pure higher-order-function formulation of the same signature —
    * bit-identical to the native kernel (asserted in tests), kept as the
    * reference implementation and codegen cross-check. */
  def minhashSignatureHof(hashesCol: Column, numHashes: Int): Column = {
    val p = MersenneP
    array((0 until numHashes).map { j =>
      // Deterministic per-j affine transform keeps the permutations
      // independent-ish without a UDF or driver-side randomness.
      val a = 1103515245L * (j + 1) % p
      val b = 12345L * (j * j + 1) % p
      array_min(transform(hashesCol, h => pmod(lit(a) * h + lit(b), lit(p))))
    }: _*)
  }

  /** The (id, sig) MinHash signature relation — the lineage every MinHash
    * operator shares, and EXACTLY what [[MinHashIndex]] persists. Two
    * projection layers on purpose (shingle+hash once, then the numHashes
    * affine permutation passes): CollapseProject keeps them separate
    * because "hs" is a non-cheap expression referenced numHashes times. */
  private[graft] def signatureRelation(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int, shingleSize: Int): DataFrame = {
    val hashed = spread(df, col(idCol)).select(col(idCol).as("id"),
      shingleHashesFused(col(textCol), shingleSize).as("hs"))
    hashed.select(col("id"), minhashSignature(col("hs"), numHashes).as("sig"))
  }

  /** [[signatureRelation]] plus the per-row raw-content hash
    * `fp = xxhash64(id, text)` — the summand of [[MinHashIndex]]'s
    * order-independent corpus fingerprint, persisted per row so an
    * incremental index update can (a) recompute WHICH ids drifted by
    * comparing stored vs current hashes without any text shuffle and
    * (b) delta-update the manifest fingerprint (subtract departing fp,
    * add arriving) without re-scanning the unchanged corpus. */
  private[graft] def signatureRelationWithFp(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int, shingleSize: Int): DataFrame = {
    val hashed = spread(df, col(idCol)).select(col(idCol).as("id"),
      shingleHashesFused(col(textCol), shingleSize).as("hs"),
      xxhash64(exactCol(idCol), exactCol(textCol)).as("fp"))
    hashed.select(col("id"), minhashSignature(col("hs"), numHashes).as("sig"),
      col("fp"))
  }

  /** Band-expand a signature relation into (p, band, bucket): band hash =
    * xxhash64 of the band's slice of the signature, emitted by one
    * posexplode so candidate generation needs ONE shuffle and one
    * signature pass (a banded self-join would compute the whole signature
    * lineage once per side). `side` tags payloads for the cross-side
    * operators; None keeps the self-pair payload shape. */
  private[graft] def bandedFromSigs(sigs: DataFrame, bands: Int, r: Int,
                                    side: Option[Int]): DataFrame = {
    val payload = side match {
      case Some(s) => struct(col("id"), lit(s).as("side"), col("sig"))
      case None => struct(col("id"), col("sig"))
    }
    sigs.select(payload.as("p"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * lit(r) + 1, lit(r))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Self-pair emission downstream of the banding: in-bucket candidates
    * verified by signature agreement rate, thresholded, (id_a, id_b)
    * dedup'd. Shared verbatim by the inline and index-served sweeps. */
  private def selfPairs(banded: DataFrame, numHashes: Int,
                        threshold: Double): DataFrame =
    bucketPairsWithPayload(banded)
      .withColumn("est_jaccard",
        size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          x => x)).cast("double") / numHashes.toDouble)
      .filter(col("est_jaccard") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("est_jaccard"))
      .dropDuplicates("id_a", "id_b") // same pair can share several bands
      .withColumn("est_jaccard", round(col("est_jaccard"), 4))

  /** Near-duplicate PAIRS via MinHash LSH banding: signatures are split
    * into `bands` bands of r rows; docs sharing any full band land in the
    * same bucket and become candidates; candidates are verified with the
    * exact signature agreement rate (an unbiased Jaccard estimate).
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7, shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigs = signatureRelation(df, idCol, textCol, numHashes, shingleSize)
    selfPairs(bandedFromSigs(sigs, bands, r, None), numHashes, threshold)
  }

  /** [[minhashPairs]]'s sweep re-run over a persisted [[MinHashIndex]]:
    * re-band the stored signatures at any (bands, threshold) without
    * touching corpus text — tuning passes read ~numHashes longs per doc
    * instead of re-shingling the corpus. Identical output to
    * [[minhashPairs]] at the index's (numHashes, shingleSize): parquet
    * round-trips the int64 signatures bit-exactly. */
  def minhashPairsFromIndex(index: MinHashIndex.Artifact,
                            bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    require(bands > 0 && index.numHashes % bands == 0,
      s"bands must divide the index's num_hashes=${index.numHashes}")
    selfPairs(bandedFromSigs(index.sigs, bands, index.numHashes / bands, None),
      index.numHashes, threshold)
  }

  /** Incremental NEAR-dup detection against an existing corpus — the
    * fuzzy counterpart of [[dedupAgainst]]: which documents of a new
    * batch are MinHash-near-duplicates of anything already in the
    * corpus. Both sides band identically, a side tag rides in the bucket
    * payload, and only CROSS-side pairs are emitted, so intra-corpus and
    * intra-batch duplicates (already handled at corpus build time /
    * by [[minhashPairs]] on the batch) cost nothing.
    *
    * Shape at scale: one union and ONE (band, bucket) shuffle, exactly
    * [[minhashPairs]]'s plan. The corpus side re-signatures per refresh
    * here; [[minhashPairsAgainstIndex]] is the production form — a
    * persisted [[MinHashIndex]] serves the corpus's signature relation
    * and the plan downstream of the union is unchanged.
    *
    * Returns (batch_id, corpus_id, est_jaccard), thresholded and
    * dedup'd. */
  def minhashPairsAgainst(batch: DataFrame, batchIdCol: String, batchTextCol: String,
                          corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
                          numHashes: Int = 64, bands: Int = 16,
                          threshold: Double = 0.7, shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val both = bandedFromSigs(signatureRelation(
        corpus, corpusIdCol, corpusTextCol, numHashes, shingleSize),
        bands, r, Some(0))
      .unionByName(bandedFromSigs(signatureRelation(
        batch, batchIdCol, batchTextCol, numHashes, shingleSize),
        bands, r, Some(1)))
    crossSidePairs(both, numHashes, threshold)
  }

  /** Cross-side thresholded pair emission downstream of the banding
    * union — shared verbatim by the inline and index-served against
    * operators, so the two differ ONLY in where the corpus signatures
    * come from. */
  private def crossSidePairs(both: DataFrame, numHashes: Int,
                             threshold: Double): DataFrame =
    bucketPairsWithPayload(both)
      .filter(col("a.side") =!= col("b.side"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          x => x)).cast("double") / numHashes.toDouble)
      .filter(col("est_jaccard") >= threshold)
      .select(
        when(col("a.side") === 1, col("a.id")).otherwise(col("b.id")).as("batch_id"),
        when(col("a.side") === 1, col("b.id")).otherwise(col("a.id")).as("corpus_id"),
        col("est_jaccard"))
      .dropDuplicates("batch_id", "corpus_id")
      .withColumn("est_jaccard", round(col("est_jaccard"), 4))

  /** [[minhashPairsAgainst]] with the corpus side served by a persisted
    * [[MinHashIndex]]: the corpus text is never read and its signatures
    * never recomputed — the probe reads ~numHashes int64s per corpus doc
    * off the signature parquet (a 100–1000× input reduction on document
    * corpora, and the whole shingle+permute CPU pass gone), bands them,
    * and unions the freshly-signatured batch side. numHashes and
    * shingleSize come FROM the artifact: the batch side must shingle
    * identically or cross-side signatures are silently incomparable,
    * which is exactly why they are manifest fields, not parameters. */
  def minhashPairsAgainstIndex(batch: DataFrame, batchIdCol: String,
                               batchTextCol: String, index: MinHashIndex.Artifact,
                               bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    require(bands > 0 && index.numHashes % bands == 0,
      s"bands must divide the index's num_hashes=${index.numHashes}")
    val r = index.numHashes / bands
    val both = bandedFromSigs(index.sigs, bands, r, Some(0))
      .unionByName(bandedFromSigs(signatureRelation(
        batch, batchIdCol, batchTextCol, index.numHashes, index.shingleSize),
        bands, r, Some(1)))
    crossSidePairs(both, index.numHashes, threshold)
  }

  /** The admitted batch: `batch` minus every document
    * [[minhashPairsAgainst]] flags as near-duplicating the corpus (one
    * anti-join on the batch id). */
  def dropNearDuplicatesAgainst(batch: DataFrame, batchIdCol: String, batchTextCol: String,
                                corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
                                numHashes: Int = 64, bands: Int = 16,
                                threshold: Double = 0.7, shingleSize: Int = 3): DataFrame = {
    val doomed = minhashPairsAgainst(batch, batchIdCol, batchTextCol,
      corpus, corpusIdCol, corpusTextCol, numHashes, bands, threshold, shingleSize)
      .select(col("batch_id").as(batchIdCol)).distinct()
    batch.join(doomed, Seq(batchIdCol), "left_anti")
  }

  /** The admitted batch against a persisted [[MinHashIndex]] — the
    * refresh-time production loop: one artifact build per corpus
    * version, then every incoming batch admits itself with a map-only
    * signature pass over the batch plus one (band, bucket) shuffle. */
  def dropNearDuplicatesAgainstIndex(batch: DataFrame, batchIdCol: String,
      batchTextCol: String, index: MinHashIndex.Artifact,
      bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    val doomed = minhashPairsAgainstIndex(batch, batchIdCol, batchTextCol,
      index, bands, threshold)
      .select(col("batch_id").as(batchIdCol)).distinct()
    batch.join(doomed, Seq(batchIdCol), "left_anti")
  }

  /** STREAMING incremental near-dup detection against a persisted
    * [[MinHashIndex]] — documents arriving on a stream are flagged
    * in-flight, the live form of [[minhashPairsAgainstIndex]]:
    * signature + banding are map-only over each micro-batch, the probe
    * is a STATELESS stream-static equi-join on (band, bucket) (cross-
    * side pairs by construction — no union, no streaming aggregation),
    * and the only state Spark keeps is the watermark-bounded
    * (batch_id, corpus_id) dedup that collapses multi-band matches of
    * one pair, exactly like [[EventStreams.dedupStream]]'s repair
    * stage. Emits the batch twin's rows (batch_id, corpus_id,
    * est_jaccard) in append mode; admission (the drop form) is
    * [[dropNearDuplicatesAgainstIndexStream]], which runs the batch
    * anti-join inside `foreachBatch`.
    *
    * Two documented deviations from the batch twin, both invisible
    * unless the skew cap bites: the degenerate-bucket cap counts CORPUS
    * members only (total bucket size is not observable statelessly in a
    * stream), and the oversized-bucket set is resolved ONCE at stream
    * start — one corpus-scale aggregation job whose result (normally
    * zero buckets) filters the static side for the stream's lifetime,
    * so no per-trigger corpus shuffle exists. Spark's stream-static
    * contract re-reads the static side per trigger, so by default
    * (`persistStatic = true`) the signature relation is persisted
    * MEMORY_AND_DISK here — the oversized-bucket job doubles as the
    * materializing action, and every trigger after the first reads the
    * in-memory relation instead of re-scanning the signature parquet
    * (asserted on the micro-batch plan in StreamingSpec). The cache
    * rides the shared `index.sigs` plan: unpersist it via
    * `index.sigs.unpersist()` after the stream stops (the stream's end
    * is not observable from here; the cache is the session's to
    * reclaim, and LRU-evicts under pressure either way). */
  def minhashPairsAgainstIndexStream(batchStream: DataFrame, idCol: String,
      textCol: String, tsCol: String, watermarkDelay: String,
      index: MinHashIndex.Artifact, bands: Int = 16, threshold: Double = 0.7,
      maxBucket: Int = 1000, persistStatic: Boolean = true): DataFrame = {
    require(bands > 0 && index.numHashes % bands == 0,
      s"bands must divide the index's num_hashes=${index.numHashes}")
    val r = index.numHashes / bands
    if (persistStatic &&
        index.sigs.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      index.sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusBanded = bandedFromSigs(index.sigs, bands, r, None)
      .select(col("p.id").as("corpus_id"), col("p.sig").as("corpus_sig"),
        col("band"), col("bucket"))
    // the oversized-bucket list is tiny by construction (boilerplate
    // content only); a pathologically skewed corpus fails fast instead
    // of shipping an unbounded literal into the plan
    val oversized = corpusBanded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
      .select("band", "bucket").limit(10001).collect()
    require(oversized.length <= 10000,
      "more than 10000 corpus buckets exceed maxBucket — the corpus is " +
        "pathologically boilerplate-heavy; raise maxBucket or dedup it first")
    val capped =
      if (oversized.isEmpty) corpusBanded
      else corpusBanded.filter(!struct(col("band"), col("bucket")).isin(
        oversized.map(row => struct(lit(row.getInt(0)), lit(row.getLong(1)))): _*))

    val streamSigs = batchStream.withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol).as("__ts"), col(idCol).as("batch_id"),
        shingleHashesFused(col(textCol), index.shingleSize).as("hs"))
      .select(col("__ts"), col("batch_id"),
        minhashSignature(col("hs"), index.numHashes).as("sig"))
    val streamBanded = streamSigs.select(col("__ts"), col("batch_id"),
      col("sig").as("batch_sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * lit(r) + 1, lit(r))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

    streamBanded.join(capped, Seq("band", "bucket"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("batch_sig"), col("corpus_sig"), (x, y) => x === y),
          x => x)).cast("double") / index.numHashes.toDouble)
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicatesWithinWatermark("batch_id", "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** STREAMING admission against a persisted [[MinHashIndex]] — the
    * drop form of [[minhashPairsAgainstIndexStream]], packaged so the
    * production loop needs no hand-rolled glue: every micro-batch runs
    * the BATCH [[dropNearDuplicatesAgainstIndex]] verbatim inside
    * `foreachBatch` and hands the admitted rows (original batch schema,
    * near-dups of the corpus removed) to `sink` with the epoch id.
    * Admission is per-row against the static corpus only — no
    * cross-batch state, so no watermark argument exists and a
    * multi-micro-batch split admits exactly what one batch call over
    * the union admits (asserted in StreamingSpec).
    *
    * Returns the un-started `DataStreamWriter`; the caller picks
    * trigger/checkpoint and calls `.start()`. `persistStatic` follows
    * the pairs stream's contract: the signature relation persists
    * MEMORY_AND_DISK so per-trigger probes read memory, and
    * `index.sigs.unpersist()` after stream stop returns the memory. */
  def dropNearDuplicatesAgainstIndexStream(batchStream: DataFrame,
      idCol: String, textCol: String, index: MinHashIndex.Artifact,
      bands: Int = 16, threshold: Double = 0.7,
      persistStatic: Boolean = true)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(bands > 0 && index.numHashes % bands == 0,
      s"bands must divide the index's num_hashes=${index.numHashes}")
    if (persistStatic &&
        index.sigs.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      index.sigs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    batchStream.writeStream.foreachBatch { (b: DataFrame, epoch: Long) =>
      // the using-join inside the batch op moves the id column first;
      // restore the stream's own column order so the sink sees rows
      // shaped exactly like its input
      sink(dropNearDuplicatesAgainstIndex(b, idCol, textCol, index,
        bands, threshold).select(b.columns.map(exactCol): _*), epoch)
    }
  }

  /** In-bucket candidate pairs from a (band, bucket, p) relation where `p`
    * is a payload struct whose FIRST field is the id: group payloads per
    * bucket, emit (a, b) pairs with a.id < b.id. The payload (signature /
    * vector) rides through the one groupBy shuffle so similarity verifies
    * in-bucket — the alternative (joining payloads back by id) re-computes
    * the whole signature lineage once per join. Callers dedup (id_a, id_b)
    * AFTER computing their similarity column, when rows are narrow.
    *
    * `maxBucket` caps degenerate buckets (boilerplate content hashing
    * identically) — the standard skew guard: a 10^6-member bucket would
    * otherwise emit 5·10^11 pairs from one task. Skipped buckets trade
    * recall on *extremely* common content for bounded work. */
  private[graft] def bucketPairsWithPayload(banded: DataFrame,
                                          maxBucket: Int = 1000): DataFrame = {
    val grouped = banded.groupBy(col("band"), col("bucket"))
      .agg(array_sort(collect_set(col("p"))).as("ps")) // struct sort ⇒ by id
      .filter(size(col("ps")).between(2, maxBucket))
    // Pair generation as TWO codegen'd explodes (posexplode each member,
    // then explode the tail slice) instead of one nested interpreted
    // transform: higher-order functions are CodegenFallback, and the
    // original nested-lambda form burned ~30 µs of interpreted eval per
    // pair — the dominant CPU cost of every LSH operator, and the part
    // that degraded further as the session accumulated distinct plans
    // (megamorphic interpreted call sites defeat JIT inlining). Slice and
    // the generators run inside whole-stage codegen; the quadratic copy is
    // generated Java over struct references.
    grouped
      .select(col("ps"), posexplode(col("ps")))
      .select(col("col").as("a"), explode(slice(col("ps"), col("pos") + lit(2),
        size(col("ps")) - col("pos") - 1)).as("b"))
  }

  /** Drop every doc that has a near-duplicate with a smaller id (the
    * standard greedy keep-first policy; transitive chains collapse to their
    * minimum without an iterative connected-components pass). */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Dedup threshold SWEEP — the planning report for the near-dup
    * families (the [[Sampling.mixtureWeights]] pattern applied to
    * dedup): given a (id_a, id_b, score) pair relation with id_a <
    * id_b — any family's output: exact Jaccard, MinHash estimate,
    * cosine — and a list of candidate thresholds, report how many
    * documents keep-first dedup would drop at each threshold and the
    * corpus fraction, so the threshold is picked from the curve instead
    * of folklore. The prediction is EXACT for [[dropNearDuplicates]]'
    * greedy policy: a doc drops at t iff its best smaller-id partner
    * scores ≥ t, so the curve is the per-doc MAX score distribution
    * read cumulatively (monotone decreasing in t; asserted equal to
    * actually running the drop, per threshold, in OpsSpec).
    *
    * Shape at scale: one map-combining (id_b → max score) aggregation
    * over the pairs relation, ONE conditional-sum pass over that
    * per-doc relation covering ALL thresholds (a bounded literal list
    * — never one scan per threshold), one column-pruned corpus count,
    * and a row-local explode of the one-row result. Returns
    * (threshold, docs_dropped, n_docs, drop_rate) ordered by
    * threshold. */
  def dedupSweep(corpus: DataFrame, pairs: DataFrame, scoreCol: String,
                 thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    require(thresholds.forall(t => !t.isNaN && !t.isInfinite),
      "thresholds must be finite")
    val ts = thresholds.distinct.sorted
    val maxs = pairs.groupBy(col("id_b")).agg(max(col(scoreCol)).as("__s"))
    val sums = ts.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when(col("__s") >= t, 1L).otherwise(0L)), lit(0L))
        .as(s"__c$i") }
    val counts = maxs.agg(sums.head, sums.tail: _*)
    val n = corpus.agg(count(lit(1)).as("__n"))
    counts.crossJoin(n)
      .select(explode(array(ts.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"), col(s"__c$i").as("docs_dropped"),
          col("__n").as("n_docs")) }: _*)).as("r"))
      .select(col("r.threshold").as("threshold"),
        col("r.docs_dropped").as("docs_dropped"),
        col("r.n_docs").as("n_docs"))
      .withColumn("drop_rate",
        when(col("n_docs") === 0, lit(0.0))
          .otherwise(Rounding.halfUp4(
            col("docs_dropped").cast("double") / col("n_docs"))))
  }

  /** [[exactByText]] plus a `mult` column: the exact-duplicate class
    * representatives (lowest-`orderCol` member each) with the class SIZE
    * attached — the collapse step of the duplication-proof near-dup
    * family. Same single map-side-combining aggregation as exactByText
    * (one extra count per group), so a mass-duplicated document still
    * costs one row per mapper before the shuffle. */
  def exactByTextWeighted(df: DataFrame, textCol: String,
                          orderCol: String): DataFrame = {
    val payload = struct(df.columns.map(exactCol): _*)
    df.groupBy(TextOps.fingerprintMd5(exactCol(textCol)).as("__fp"))
      .agg(min_by(payload, struct(exactCol(orderCol))).as("__keep"),
        count(lit(1)).as("mult"))
      .select(df.columns.map(c => col("__keep").getField(c).as(c)) :+ col("mult"): _*)
  }

  /** Weighted banding core shared by [[minhashPairsWeighted]] and its
    * band-exhaustive anchor: the standard LSH lineage over an ALREADY-
    * collapsed representative relation ([[exactByTextWeighted]]'s
    * output), each side's class multiplicity riding the banding payload
    * struct — no post-hoc id join to re-attach it. */
  private def weightedRepPairs(reps: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int, threshold: Double,
      shingleSize: Int): DataFrame = {
    val r = numHashes / bands
    val hashed = spread(reps, col(idCol)).select(exactCol(idCol).as("id"),
      shingleHashesFused(col(textCol), shingleSize).as("hs"), col("mult"))
    val sigs = hashed.select(col("id"),
      minhashSignature(col("hs"), numHashes).as("sig"), col("mult"))
    val banded = sigs.select(
      struct(col("id"), col("sig"), col("mult")).as("p"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * lit(r) + 1, lit(r))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    bucketPairsWithPayload(banded)
      .withColumn("est_jaccard",
        size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          x => x)).cast("double") / numHashes.toDouble)
      .filter(col("est_jaccard") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("est_jaccard"),
        col("a.mult").as("mult_a"), col("b.mult").as("mult_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("est_jaccard", round(col("est_jaccard"), 4))
  }

  /** Duplication-proof near-duplicate PAIRS: exact-duplicate classes
    * collapse to representatives with multiplicity FIRST (x1's one-
    * aggregation machinery), only representatives band and pair, and
    * each pair carries both classes' sizes. On a corpus where documents
    * have m exact copies each — the crawl norm, and exactly the regime
    * where [[minhashPairs]]' output goes quadratic (every cross pair
    * expands m² times, every class adds m(m−1)/2 internal est=1.0
    * pairs) — this emits ONE row per near-dup RELATION, and the
    * expanded arithmetic is recoverable exactly: an (a, b) row stands
    * for mult_a·mult_b expanded pairs and each class for its internal
    * m(m−1)/2; [[dedupSweepWeighted]] folds both into the exact
    * keep-first drop curve. Returns
    * (id_a, id_b, est_jaccard, mult_a, mult_b), id_a < id_b, the ids
    * being class representatives (lowest member id). */
  def minhashPairsWeighted(df: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 64, bands: Int = 16,
                           threshold: Double = 0.7,
                           shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    weightedRepPairs(exactByTextWeighted(df, textCol, idCol), idCol, textCol,
      numHashes, bands, threshold, shingleSize)
  }

  /** [[minhashPairsWeighted]]'s oracle anchor — the x2b pattern: band-
    * exhaustive candidates (bands = numHashes) over the collapsed
    * representatives, post-verified by EXACT fused shingle Jaccard, on
    * an id-bounded slice. Output = the exact representative pair set
    * with multiplicities, replayable in DuckDB (collapse = GROUP BY the
    * normalized-text fingerprint; pairs = quadratic exact Jaccard over
    * the representatives). */
  def minhashPairsWeightedBandExhaustive(df: DataFrame, idCol: String,
      textCol: String, maxId: Long, threshold: Double, numHashes: Int = 64,
      shingleSize: Int = 3): DataFrame = {
    val slice = df.filter(col(idCol) < maxId)
    val reps = exactByTextWeighted(slice, textCol, idCol)
    val cand = weightedRepPairs(reps, idCol, textCol, numHashes,
      bands = numHashes, threshold = 0.0, shingleSize = shingleSize)
      .select("id_a", "id_b", "mult_a", "mult_b")
    val tok = spread(reps, col(idCol)).select(exactCol(idCol).as("id"),
      array_sort(shingleHashesFused(col(textCol), shingleSize)).as("hs"))
      .withColumn("n", size(col("hs")))
    cand
      .join(tok.select(col("id").as("id_a"), col("hs").as("hs_a"),
        col("n").as("n_a")), "id_a")
      .join(tok.select(col("id").as("id_b"), col("hs").as("hs_b"),
        col("n").as("n_b")), "id_b")
      .withColumn("__i", intersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard", jaccardOf(col("__i"), col("n_a"), col("n_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"),
        col("mult_a"), col("mult_b"))
  }

  /** [[dedupSweep]] with the duplication folded back in: given the
    * collapse relation ([[exactByTextWeighted]]'s output, `mult` per
    * representative) and a weighted representative pair relation, report
    * the EXACT drop curve keep-first dedup would realize on the FULL
    * expanded corpus — without ever materializing expanded pairs.
    *
    * The fold is exact by the keep-first argument: every non-
    * representative member drops at any threshold ≤ 1 (its own class's
    * representative is a smaller-id partner at score exactly 1), and a
    * representative drops iff some class with a smaller representative
    * scores ≥ t — which is keep-first over the representative pairs
    * (a smaller-id expanded partner exists iff the other class's
    * representative is smaller). So docs_dropped(t) =
    * Σ(mult−1)·[t ≤ 1] + |{id_b : max score ≥ t}| and n_docs = Σ mult —
    * pinned equal to [[dedupSweep] ] over the expanded corpus/pairs in
    * OpsSpec and against the DuckDB expansion in x90b's oracle.
    *
    * Shape at scale: one map-combining per-rep max over the pairs, ONE
    * conditional-sum pass covering all thresholds, one two-sum pass
    * over the collapse relation. Nothing is expanded-corpus-sized. */
  def dedupSweepWeighted(classes: DataFrame, pairs: DataFrame,
                         scoreCol: String,
                         thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    require(thresholds.forall(t => !t.isNaN && !t.isInfinite),
      "thresholds must be finite")
    val ts = thresholds.distinct.sorted
    val maxs = pairs.groupBy(col("id_b")).agg(max(col(scoreCol)).as("__s"))
    val sums = ts.zipWithIndex.map { case (t, i) =>
      coalesce(sum(when(col("__s") >= t, 1L).otherwise(0L)), lit(0L))
        .as(s"__c$i") }
    val counts = maxs.agg(sums.head, sums.tail: _*)
    val base = classes.agg(
      coalesce(sum(col("mult")), lit(0L)).as("__n"),
      coalesce(sum(col("mult") - 1L), lit(0L)).as("__intra"))
    counts.crossJoin(base)
      .select(explode(array(ts.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("threshold"),
          (col(s"__c$i") +
            (if (t <= 1.0) col("__intra") else lit(0L))).as("docs_dropped"),
          col("__n").as("n_docs")) }: _*)).as("r"))
      .select(col("r.threshold").as("threshold"),
        col("r.docs_dropped").as("docs_dropped"),
        col("r.n_docs").as("n_docs"))
      .withColumn("drop_rate",
        when(col("n_docs") === 0, lit(0.0))
          .otherwise(Rounding.halfUp4(
            col("docs_dropped").cast("double") / col("n_docs"))))
  }

  /** Borderline-first human-audit queue over a near-duplicate pair
    * relation — the review step every threshold decision closes with:
    * the k pairs whose score sits CLOSEST to the operating threshold
    * (|score − threshold| ascending, then (id_a, id_b) — the unique
    * pair identity breaks exact-distance ties deterministically), with
    * both documents' texts attached for side-by-side reading. A random
    * pair sample mostly re-confirms the obvious; the borderline pairs
    * are where the threshold actually decides, so k human judgments
    * here measure precision AT the cut — the number
    * [[dedupSweep]]'s curve cannot provide (it counts drops, not
    * whether the drops were right).
    *
    * Shape at scale: the queue reduces to TakeOrdered over the pair
    * relation (per-partition partial top-k; only k pairs ever leave a
    * partition, no global sort), and the two text attachments join the
    * k-row queue — broadcast — against the corpus, so the corpus is
    * scanned but never shuffled, and no text moves for a pair that
    * didn't make the queue. The distance rounds to 9 decimals before
    * ordering (the module's engine-portability rule: scores are already
    * round(…, 4) products, so 9 decimals is far past any real tie).
    *
    * Returns (id_a, id_b, score, dist, text_a, text_b) ordered by
    * (dist, id_a, id_b) — queue order, most ambiguous first. Corpus ids
    * must be unique (the module-wide corpus contract, see
    * [[corpusDiff]]): a duplicated id would fan its queue rows out
    * through the text joins. */
  def auditPairs(pairs: DataFrame, scoreCol: String, corpus: DataFrame,
                 idCol: String, textCol: String, threshold: Double,
                 k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(!threshold.isNaN && !threshold.isInfinite, "threshold must be finite")
    val queue = pairs
      .withColumn("dist",
        Rounding.halfUp(abs(col(scoreCol).cast("double") - lit(threshold)), 9))
      .orderBy(col("dist"), col("id_a"), col("id_b"))
      .limit(k)
      .select(col("id_a"), col("id_b"), col(scoreCol).as("score"), col("dist"))
    val texts = corpus.select(col(idCol).as("__tid"), col(textCol).as("__text"))
    val withA = texts.join(broadcast(queue), col("__tid") === col("id_a"))
      .select(col("id_a"), col("id_b"), col("score"), col("dist"),
        col("__text").as("text_a"))
    texts.join(broadcast(withA), col("__tid") === col("id_b"))
      .select(col("id_a"), col("id_b"), col("score"), col("dist"),
        col("text_a"), col("__text").as("text_b"))
      .orderBy(col("dist"), col("id_a"), col("id_b"))
  }

  /** [[auditPairs]] over a WEIGHTED pair relation (must carry
    * mult_a/mult_b — any weighted family's output): the same
    * borderline-first queue with both class sizes riding into the
    * review, so the auditor sees how many expanded documents each
    * decision governs (a borderline pair between two mult-1 singletons
    * and one between two 10k-copy classes are very different calls).
    * `corpus` is the REPRESENTATIVE relation ([[exactByTextWeighted]]'s
    * output or a projection of it) — texts attach per representative;
    * nothing here is expanded-corpus-sized. */
  def auditPairsWeighted(pairs: DataFrame, scoreCol: String,
                         corpus: DataFrame, idCol: String, textCol: String,
                         threshold: Double, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    require(!threshold.isNaN && !threshold.isInfinite, "threshold must be finite")
    val queue = pairs
      .withColumn("dist",
        Rounding.halfUp(abs(col(scoreCol).cast("double") - lit(threshold)), 9))
      .orderBy(col("dist"), col("id_a"), col("id_b"))
      .limit(k)
      .select(col("id_a"), col("id_b"), col(scoreCol).as("score"),
        col("dist"), col("mult_a"), col("mult_b"))
    val texts = corpus.select(col(idCol).as("__tid"), col(textCol).as("__text"))
    val withA = texts.join(broadcast(queue), col("__tid") === col("id_a"))
      .select(col("id_a"), col("id_b"), col("score"), col("dist"),
        col("mult_a"), col("mult_b"), col("__text").as("text_a"))
    texts.join(broadcast(withA), col("__tid") === col("id_b"))
      .select(col("id_a"), col("id_b"), col("score"), col("dist"),
        col("mult_a"), col("mult_b"),
        col("text_a"), col("__text").as("text_b"))
      .orderBy(col("dist"), col("id_a"), col("id_b"))
  }

  /** Corpus VERSION diff — the refresh-ops companion of the artifact
    * staleness tripwires: given two versions of a corpus, classify every
    * id as `added` / `removed` / `changed` (same id, different
    * normalized-text fingerprint) / `unchanged`. Content identity is
    * [[TextOps.fingerprintMd5]] (the same normalization dedupAgainst and
    * the x11 fingerprint use), so whitespace/case-only edits read as
    * unchanged. A diff that is anything but all-`unchanged` is exactly
    * when the MinHash/Bloom artifacts need rebuilding — this is the
    * report that says so, and which batch to re-admit.
    *
    * Shape at scale: each side reduces map-side to (id, fingerprint) —
    * 16 bytes of payload per doc — and ONE id-keyed full-outer hash join
    * classifies; no text ever shuffles. Null ids join nothing and
    * surface as an `added` + `removed` pair, the honest reading of
    * unidentifiable rows.
    *
    * PRECONDITION: ids must be unique within each side (the corpus
    * contract every artifact in this module shares). A duplicated id
    * fans out through the full-outer join and emits one status row per
    * cross-side pairing — repeated, and contradictory when the
    * duplicates' texts differ. There is no principled single answer for
    * "did id X change" when X names two different texts, so the
    * operator does not pick one; reduce each side to one row per id
    * first (e.g. a groupBy(id).agg(min(text)) or whatever tiebreak the
    * pipeline's ids are supposed to carry). */
  def corpusDiff(old: DataFrame, oldIdCol: String, oldTextCol: String,
                 cur: DataFrame, curIdCol: String, curTextCol: String): DataFrame = {
    // presence rides as an explicit marker: a null TEXT fingerprints to
    // null, which must read as a (null-safe) content comparison, never
    // as side absence
    val o = old.select(exactCol(oldIdCol).as("id"),
      TextOps.fingerprintMd5(exactCol(oldTextCol)).as("__fo"),
      lit(true).as("__po"))
    val c = cur.select(exactCol(curIdCol).as("id"),
      TextOps.fingerprintMd5(exactCol(curTextCol)).as("__fc"),
      lit(true).as("__pc"))
    o.join(c, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__po").isNull, lit("added"))
          .when(col("__pc").isNull, lit("removed"))
          .when(col("__fo") <=> col("__fc"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Incremental exact dedup against an EXISTING corpus: drop rows whose
    * normalized-content fingerprint already appears in `corpus` — the
    * refresh-time stage that admits only genuinely NEW documents into a
    * training set. One anti-join on the md5 key; the seen side reduces to
    * distinct fingerprints first, so AQE broadcasts it when it is small,
    * and at equal scale it is one hash shuffle per side. (excludeByBloom
    * is the sketch-probe variant when the exclusion KEY set is ids.) */
  def dedupAgainst(df: DataFrame, textCol: String,
                   corpus: DataFrame, corpusTextCol: String): DataFrame =
    df.join(
      corpus.select(TextOps.fingerprintMd5(col(corpusTextCol)).as("__fp")).distinct(),
      TextOps.fingerprintMd5(col(textCol)) === col("__fp"), "left_anti")

  /** Per-document duplicated-span statistics — the diagnostic behind
    * substring-level dedup (Lee et al. 2021, "Deduplicating Training Data
    * Makes Language Models Better"): for every document, how many of its
    * distinct word `n`-grams occur anywhere ELSE in the corpus (another
    * document, or again elsewhere after the per-doc dedup — i.e. the gram
    * is held by ≥2 documents). High `dup_frac` marks boilerplate-heavy
    * documents worth chunk-dedup ([[dedupChunks]]) or dropping.
    *
    * Shape at scale: grams are deduplicated PER DOCUMENT inside the
    * native kernel before the explode (one row per distinct gram), the
    * per-gram corpus document-count aggregates with map-side combine
    * (each task emits its distinct grams once — a boilerplate gram costs
    * one row per mapper, where the previous gram-window funneled its
    * whole occurrence lineage into a single task), the count joins back
    * onto the occurrences (AQE-broadcastable/skew-splittable), and one
    * id shuffle re-aggregates per document. No gram dictionary is
    * collected and no self-join materializes pairs.
    *
    * Returns (id, n_grams, n_dup_grams, dup_frac) for every input row;
    * documents shorter than `n` tokens have zero grams and dup_frac 0.
    */
  def dupGramStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 8): DataFrame = {
    val grams = spread(df, col(idCol)).select(col(idCol).as("id"),
      explode(Decontaminate.wordNgrams(col(textCol), n, distinct = true)).as("gram"))
    val perDoc = withKeyAgg(grams, "gram", count(lit(1)).as("__docs"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum((col("__docs") > 1).cast("long")).as("n_dup_grams"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("n_dup_grams").cast("double") / col("n_grams"), 4)))
  }

  /** Per-document n-gram NOVELTY — the data-valuation signal dual to
    * [[dupGramStats]]: the fraction of a document's distinct word
    * n-grams whose FIRST corpus occurrence (lowest id) is this document.
    * A crawl refresh scores newly-fetched pages by how much genuinely
    * new text they contribute; boilerplate re-crawls score ~0.
    *
    * Shape at scale: distinct grams explode once; the first-owner id is
    * a per-gram min AGGREGATE (map-side combine — one row per distinct
    * gram per task) joined back onto the occurrences, the skew-safe
    * [[withKeyAgg]] shape (a min-window over the gram lineage would put
    * a boilerplate gram's whole occurrence set in one task); the per-doc
    * rollup and the left join back are id-keyed. Docs shorter than `n`
    * tokens have no grams and report novelty 0. */
  def gramNovelty(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 8): DataFrame = {
    require(n > 0, "n must be positive")
    val grams = spread(df, col(idCol)).select(col(idCol).as("id"),
      explode(Decontaminate.wordNgrams(col(textCol), n, distinct = true)).as("gram"))
    val perDoc = withKeyAgg(grams, "gram", min(col("id")).as("__first"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum((col("__first") === col("id")).cast("long")).as("n_novel"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(round(col("n_novel").cast("double") / col("n_grams"), 4)))
  }

  /** Exact duplicated-span SCRUB — the REWRITE counterpart to
    * [[dupGramStats]]'s measurement (Lee et al. 2022 substring dedup,
    * reference: arXiv 2107.06499): every token covered by a word
    * `n`-gram whose exact token sequence occurs ≥ 2 times corpus-wide
    * (across documents or repeated within one) is excised; the survivors
    * re-join with single spaces (a normalized reconstruction). Returns
    * (idCol, clean_text, n_tokens_removed).
    *
    * Shape at scale: positional grams explode once from a materialized
    * gram array (never re-tokenizing per exploded row); the occurrence
    * count is a per-gram AGGREGATE with map-side combine joined back
    * onto the occurrences (the skew-safe [[withKeyAgg]] shape — the
    * previous gram-window put a boilerplate gram's whole occurrence
    * lineage into one task); only DUPLICATED occurrences survive to the
    * per-doc start-position collect, so the rollup is sized by
    * duplication density, not corpus length; and the rewrite is a
    * map-side two-arg filter over the token array. The collected start
    * list is bounded by tokens-per-doc. */
  def scrubDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 8): DataFrame = {
    require(n > 0, "n must be positive")
    val g = spread(df, col(idCol))
      .select(col(idCol).as("__id"),
        Decontaminate.wordNgrams(col(textCol), n).as("__g"))
      .select(col("__id"), posexplode(col("__g")).as(Seq("__s", "__gram")))
    // the >= 2 predicate pushes below the join into the aggregate side,
    // so only duplicated grams' occurrences flow into the doc rollup
    val dupStarts = withKeyAgg(g, "__gram", count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= 2)
      .groupBy("__id").agg(collect_list(col("__s")).as("__starts"))
    df.join(dupStarts, df(idCol) === dupStarts("__id"), "left")
      // null text tokenizes to null: coalesce so the rewrite yields
      // ('', 0) instead of propagating nulls through size/array_join
      .withColumn("__tk", coalesce(TextOps.tokens(col(textCol)),
        array().cast("array<string>")))
      .withColumn("__kept", filter(col("__tk"), (t, p) =>
        !exists(coalesce(col("__starts"), array().cast("array<int>")),
          s => s <= p && p <= s + lit(n - 1))))
      .select(df(idCol),
        array_join(col("__kept"), " ").as("clean_text"),
        (size(col("__tk")) - size(col("__kept"))).cast("long")
          .as("n_tokens_removed"))
  }

  /** Passage-level (chunk) dedup: split every document into
    * non-overlapping `chunkTokens`-token chunks, keep only the FIRST
    * corpus-wide occurrence of each distinct chunk (first = lowest
    * (id, position)), and reassemble documents from their surviving
    * chunks — the C4-style stage that strips boilerplate passages
    * repeated ACROSS documents without dropping whole documents.
    *
    * Shape at scale: explode to (id, idx, chunk) — ~tokens/chunkTokens
    * rows per doc, chunked by the native kernel — then ONE per-chunk
    * min-aggregate with map-side partial combine: each task collapses
    * its slice of a repeated chunk to one (chunk, first-occurrence) row
    * before the shuffle, so a chunk repeated across millions of
    * documents costs one row per mapper (the previous keep-first window
    * funneled the whole repetition class into a single task — AQE splits
    * skewed joins, not skewed window partitions). One id shuffle
    * reassembles in chunk order. Documents emptied entirely survive with
    * clean_text = '' (the caller decides to drop).
    *
    * Returns (id, clean_text, n_kept, n_chunks).
    */
  def dedupChunks(df: DataFrame, idCol: String, textCol: String,
                  chunkTokens: Int = 16): DataFrame = {
    val chunks = spread(df, col(idCol)).select(col(idCol).as("id"),
        posexplode(Decontaminate.tokenChunks(col(textCol), chunkTokens)))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "chunk")
    // first occurrence = lexicographic min of (id, idx) — exact and
    // deterministic because (id, idx) is unique per occurrence
    val kept = chunks.groupBy(col("chunk"))
      .agg(min(struct(col("id"), col("idx"))).as("__f"))
      .select(col("__f.id").as("id"), col("__f.idx").as("idx"), col("chunk"))
    val rebuilt = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s => s.getField("chunk"))).as("clean_text"))
    df.select(col(idCol).as("id"),
        size(Decontaminate.tokenChunks(col(textCol), chunkTokens)).as("n_chunks"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_chunks").cast("long").as("n_chunks"))
  }

  /** Line-level corpus dedup — the C4 recipe (Raffel et al. 2020 §2.2
    * discards all but one occurrence of repeated spans; the public C4
    * reproductions apply it at line granularity): keep only the FIRST
    * corpus-wide occurrence of each distinct non-blank line (first =
    * lowest (id, position)) and reassemble documents from their
    * surviving lines in order. Unlike [[dedupChunks]] (fixed token
    * windows over NORMALIZED text), lines respect the document's own
    * structure and preserve raw line content; blank/whitespace-only
    * lines always survive — they are structure, not content, and
    * deduping "" corpus-wide would eat every paragraph break after the
    * first document.
    *
    * Shape at scale: posexplode to (id, idx, line); non-blank lines go
    * through ONE per-line min-aggregate with map-side partial combine
    * (the [[dedupChunks]] shape — a boilerplate footer repeated across
    * millions of documents costs one row per mapper, never one task);
    * blank lines bypass the aggregate map-side; one id shuffle
    * reassembles in line order. Returns (id, clean_text, n_kept,
    * n_lines) for every input row. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = spread(df, col(idCol))
      .select(col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n")))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "line")
    // first occurrence = lexicographic min of (id, idx) — exact and
    // deterministic because (id, idx) is unique per occurrence
    val kept = lines.filter(trim(col("line")) =!= "")
      .groupBy(col("line"))
      .agg(min(struct(col("id"), col("idx"))).as("__f"))
      .select(col("__f.id").as("id"), col("__f.idx").as("idx"), col("line"))
      .unionByName(lines.filter(trim(col("line")) === ""))
    val rebuilt = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line"))).as("clean_text"))
    df.select(col(idCol).as("id"),
        size(split(coalesce(col(textCol), lit("")), "\n")).as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_lines").cast("long").as("n_lines"))
  }

  /** Corpus-frequency boilerplate removal (the RefinedWeb/C4 sibling of
    * [[dedupLines]]): scrub every line that appears in at least
    * `minDocs` DISTINCT documents — cookie banners, nav menus, "all
    * rights reserved" footers — from every document, keeping genuine
    * content lines (which repeat across few documents) untouched.
    * Where dedupLines keeps each line's FIRST occurrence corpus-wide,
    * this keeps NO occurrence of the frequent head: a line that a
    * million crawled pages share is template chrome, not content, and
    * its first occurrence is no more content than its last. Blank lines
    * are structure, not content — never counted, never scrubbed. Output
    * mirrors dedupLines: (id, clean_text, n_kept, n_lines), one row per
    * input row, `n_kept` counting kept lines (blanks included).
    *
    * `minDocs` is absolute; pick it relative to corpus size (a line in
    * 0.1% of a 10^9-doc crawl is boilerplate; 100 is a reasonable floor
    * at any scale — below that, popular real quotations start to match).
    *
    * Shape at scale: lines explode map-side; the document-frequency
    * aggregation collapses to DISTINCT (line, id) in its partial step
    * (the x69 pattern — a line repeated within one doc costs one row per
    * mapper), then counts per line. The frequent head is tiny by
    * construction (lines above `minDocs` docs), so AQE broadcasts it
    * into the anti-join and the rebuild groups by id exactly as
    * dedupLines does. Lines shuffle by line-key once — inherent to exact
    * frequency; a 64-bit line-hash exchange would be narrower but one
    * collision would scrub an innocent line, so exactness wins. */
  def scrubCommonLines(df: DataFrame, idCol: String, textCol: String,
                       minDocs: Int): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs — " +
      "1 would scrub every non-blank line in the corpus)")
    val lines = spread(df, col(idCol))
      .select(col(idCol).as("id"),
        posexplode(split(coalesce(col(textCol), lit("")), "\n")))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "line")
    val common = lines.filter(trim(col("line")) =!= "")
      .select(col("line"), col("id")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("line"))
    // blank lines survive for free: they are filtered out of `common`
    // above, so the anti-join cannot match them
    val kept = lines.join(common, Seq("line"), "left_anti")
    val rebuilt = kept.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("idx"), col("line")))),
          s => s.getField("line"))).as("clean_text"))
    df.select(col(idCol).as("id"),
        size(split(coalesce(col(textCol), lit("")), "\n")).as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_lines").cast("long").as("n_lines"))
  }

  /** Exact id-exclusion through a Bloom sketch — the scale path for
    * "drop every row on this seen/eval/opt-out list". A plain anti-join
    * shuffles the corpus on id; here the exclusion list tree-aggregates
    * into a KB-MB Bloom filter (driver-merged sketch, NOT collected data —
    * the same order as a broadcast relation's key set), the corpus is
    * probed map-only inside codegen, and only the probe-POSITIVE rows
    * (|exclude| + fpp·N of them) pay the verifying anti-join that rescues
    * false positives. Result is exactly `df MINUS exclude-ids`, with the
    * shuffle shrunk by ~1/fpp on the non-excluded mass.
    */
  def excludeByBloom(df: DataFrame, idCol: String, exclude: DataFrame,
                     excludeIdCol: String, fpp: Double = 0.01): DataFrame =
    excludeByBloomWith(df, idCol, buildBloom(exclude, excludeIdCol, fpp),
      exclude, excludeIdCol)

  /** The sketch build half of [[excludeByBloom]] — one tree-aggregation
    * over the exclusion list into serialized BloomFilter bytes
    * (order-independent bit-array merge ⇒ deterministic for a given list
    * and parameters). [[BloomIndex]] persists exactly these bytes. */
  private[graft] def buildBloom(exclude: DataFrame, excludeIdCol: String,
                                fpp: Double): Array[Byte] =
    buildBloomSized(exclude, excludeIdCol, bloomSizing(exclude), fpp)

  /** The expectedNumItems [[buildBloom]] sizes its sketch with —
    * exposed so [[BloomIndex.buildAndSave]] can RECORD it: incremental
    * update must rebuild the added-side sketch with the base's exact
    * (expectedNumItems, fpp) pair or the bit arrays won't merge. */
  private[graft] def bloomSizing(exclude: DataFrame): Long =
    math.max(Similarity.approxRows(exclude), 1L)

  /** [[buildBloom]] at an EXPLICIT sizing — the incremental-update path,
    * where the added rows must hash into a bit array shaped exactly like
    * the base artifact's. Runs the aggregate `stat.bloomFilter` runs,
    * but decodes its result itself: with no non-null id in the input
    * (an empty or all-null list) the aggregate's buffer is null, which
    * `stat.bloomFilter` dereferences into a NullPointerException. The
    * answer there is the aggregate's own empty buffer — the same
    * (nItems, numBits) shape with no bit set, so it probes negative
    * everywhere and merges into a same-sized sketch as a no-op. */
  private[graft] def buildBloomSized(exclude: DataFrame, excludeIdCol: String,
                                     nItems: Long, fpp: Double): Array[Byte] = {
    requireIntegralId(exclude, excludeIdCol, "exclude id")
    import org.apache.spark.sql.catalyst.expressions.Literal
    val agg = new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      org.apache.spark.sql.GraftSqlShims.expression(col(excludeIdCol)),
      Literal(nItems),
      Literal(org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(nItems, fpp)))
    val bytes = exclude
      .select(org.apache.spark.sql.GraftSqlShims.column(agg.toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
    if (bytes != null) bytes
    else {
      val bos = new java.io.ByteArrayOutputStream()
      agg.createAggregationBuffer().writeTo(bos)
      bos.toByteArray
    }
  }

  /** The Bloom exclusion's ids must be integral on BOTH sides: the
    * sketch stores and probes 64-bit values (BloomContainsExpr requires
    * bigint; the probe side casts up exactly from narrower integers).
    * A string id would insert UTF8 bytes but probe parsed longs, a
    * fractional id would truncate distinct values together — either way
    * probe-negative rows skip the rescue anti-join and the operator
    * silently UNDER-deletes, so the mismatch fails fast instead. */
  private[graft] def requireIntegralId(df: DataFrame, c: String, what: String): Unit = {
    import org.apache.spark.sql.types._
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case dt => throw new IllegalArgumentException(
        s"$what column '$c' must be an integer type for Bloom exclusion " +
          s"(got ${dt.catalogString})")
    }
  }

  /** [[excludeByBloom]] with a PREBUILT sketch (a [[BloomIndex]] load) —
    * skips the per-run aggregation over the exclusion list; `exclude` is
    * still consulted, but only by the probe-positive rescue anti-join
    * (the sketch's false positives must be verified against the exact
    * ids, so the list relation stays a required input — the artifact
    * persists the expensive aggregation, not the data). */
  def excludeByBloomWith(df: DataFrame, idCol: String, bloomBytes: Array[Byte],
                         exclude: DataFrame, excludeIdCol: String): DataFrame = {
    require(bloomBytes.nonEmpty, "bloom bytes must be non-empty")
    requireIntegralId(df, idCol, "corpus id")
    requireIntegralId(exclude, excludeIdCol, "exclude id")
    val probe = org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.BloomContainsExpr(
        org.apache.spark.sql.GraftSqlShims.expression(col(idCol).cast("long")),
        bloomBytes))
    val excludeIds = exclude.select(col(excludeIdCol).as(idCol)).distinct()
    // null ids probe to null; coalesce keeps them on the clean side — the
    // anti-join this construction must equal KEEPS null-key rows (they
    // match nothing), so dropping them here would deviate
    val hit = coalesce(probe, lit(false))
    df.filter(!hit).unionByName(
      df.filter(hit).join(excludeIds, Seq(idCol), "left_anti"))
  }

  /** Collapse near-duplicate pairs into connected components: every id
    * that appears in a pair is labeled with the MINIMUM id reachable
    * through the undirected pair graph. Iterative neighbor-min label
    * propagation — each round is one join + one aggregate (both shuffling
    * on id), and the loop runs until a round changes nothing, i.e.
    * O(component diameter) rounds. Near-dup components are shallow (a dup
    * cluster's diameter is a few hops), so this converges in a handful of
    * distributed rounds at any corpus size; only the per-round converged?
    * check touches the driver. Returns (id, cluster). */
  def duplicateClusters(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
    edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    var persisted = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
    persisted.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    var labels = persisted
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster").as("c")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("c")).as("nmin"))
      val next = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"),
          col("cluster").as("__old"))
      next.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      changed = next.filter(col("cluster") < col("__old")).count()
      // unpersist the frame that was CACHED last round — not a projection
      // of it, which would make the release a silent no-op and pin one
      // full label table per iteration until session end
      persisted.unpersist()
      persisted = next
      labels = next.select("id", "cluster")
    }
    edges.unpersist()
    // the final round's cache stays pinned: it backs the returned frame's
    // lineage (releasing it would re-run every iteration on evaluation)
    // and is O(paired ids) — the size of the result itself
    labels
  }

  /** Duplicate-family size spectrum — the dedup QA report read off a
    * labeled cluster relation ([[duplicateClusters]]' output shape):
    * for each family size, how many components have it and how many
    * documents they hold. The shape of this spectrum is the decision
    * input dedup reviews start from — a corpus dominated by size-2
    * families is boilerplate-edited near-dups (scrub-grade), a fat
    * tail of 1000-doc families is template spam or a crawler loop
    * (drop-grade, and worth an [[auditPairs]] look), and
    * Σ (size − 1) · n_clusters over the spectrum is exactly the doc
    * count a keep-one-per-family collapse will delete.
    *
    * Shape at scale: component sizes are one map-side-combined count
    * aggregate over the (doc → cluster) relation (a million-doc family
    * costs one row per mapper); the spectrum re-aggregates the
    * cluster-count-sized relation, and — the [[TextOps.tokenSpectrum]]
    * argument — has at most O(√D) rows for D labeled docs, so reading
    * or sorting it is never corpus-shaped work. Returns
    * (size, n_clusters, n_docs), ordered by size. */
  def clusterSpectrum(clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy(col("cluster"))
      .agg(count(lit(1)).as("size"))
    sizes.groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("size") * col("n_clusters"))
      .orderBy(col("size"))
  }

  /** Keep exactly ONE doc (the min id) per near-duplicate component —
    * the clustered version of dropNearDuplicates, which over-deletes on
    * chains (A~B, B~C without A~C greedily drops both B and C even though
    * C's only duplicate is already gone). Docs in no pair are kept. */
  def dropNearDuplicatesClustered(df: DataFrame, pairs: DataFrame,
                                  idCol: String): DataFrame = {
    val doomed = duplicateClusters(pairs)
      .filter(col("cluster") < col("id")).select(col("id").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Quality-priority clustered collapse: keep, per near-duplicate
    * component, the member with the HIGHEST `score` (ties → the minimum
    * id) instead of [[dropNearDuplicatesClustered]]'s min-id rule — real
    * pipelines keep the best-quality representative of each duplicate
    * group, not the one that happened to be crawled first. Docs in no
    * pair are untouched. `score` is any numeric expression over `df`'s
    * columns; null scores lose to every non-null score (an all-null
    * component falls back to min id).
    *
    * Shape at scale: components from the same bounded label propagation
    * ([[duplicateClusters]] — O(diameter) rounds over the PAIRED ids
    * only), then per-component argmax as two map-side-combining
    * aggregates over that paired-ids-sized relation (max score, then min
    * id among the maximal) — never a window over the corpus, and the
    * final keep/drop decision reaches `df` as one anti-join on id. */
  def dropNearDuplicatesClusteredBy(df: DataFrame, pairs: DataFrame,
                                    idCol: String, score: Column): DataFrame = {
    val labels = duplicateClusters(pairs) // (id, cluster), paired ids only
    val scored = labels.join(
      df.select(col(idCol).as("id"), score.as("__score")), Seq("id"))
    val best = scored.groupBy(col("cluster")).agg(max(col("__score")).as("__m"))
    // null-safe equality: an all-null component has __m null and keeps
    // its min id; mixed components match only the non-null maximum
    val keep = scored.join(best, Seq("cluster"))
      .filter(col("__score") <=> col("__m"))
      .groupBy(col("cluster")).agg(min(col("id")).as("id"))
      .select(col("id"))
    val doomed = labels.join(keep, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash over precomputed token hashes: per bit b, the bit is
    * set iff more token-hashes have bit b set than cleared — the native
    * codegen kernel (graft.functions.SimHashExpr). */
  def simhashOfHashes(hashes: Column): Column =
    org.apache.spark.sql.GraftSqlShims.column(graft.functions.SimHashExpr(
      org.apache.spark.sql.GraftSqlShims.expression(hashes)))

  /** HOF formulation of the same SimHash — bit-identical to the kernel
    * (asserted in tests), kept as the reference implementation. */
  def simhashOfHashesHof(hashes: Column): Column = {
    val n = size(hashes)
    val bits = transform(sequence(lit(0), lit(63)), b =>
      when(size(filter(hashes,
          h => call_function("shiftright", h, b).bitwiseAND(1) === 1)) * 2 >= n,
        call_function("shiftleft", lit(1L), b)).otherwise(lit(0L)))
    aggregate(bits, lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** 64-bit SimHash of the token multiset (single-expression convenience
    * form; prefer the two-projection shape in pipelines). */
  def simhash(c: Column): Column =
    simhashOfHashes(transform(TextOps.tokens(c), t => xxhash64(t)))

  /** SimHash near-dup pairs: 4×16-bit band join for candidates, then
    * Hamming distance ≤ maxHamming via bit_count(xor). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val hashed = spread(df, col(idCol)).select(col(idCol).as("id"),
      transform(TextOps.tokens(col(textCol)), t => xxhash64(t)).as("th"))
    val sigs = hashed.select(col("id"), simhashOfHashes(col("th")).as("sh"))
    val banded = sigs.select(struct(col("id"), col("sh")).as("p"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("sh"), b * lit(16)).bitwiseAND(0xFFFF))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    bucketPairsWithPayload(banded)
      .withColumn("hamming", bit_count(col("a.sh").bitwiseXOR(col("b.sh"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Duplication-proof SimHash pairs — [[minhashPairsWeighted]]'s
    * pattern applied to the SimHash family: exact-duplicate classes
    * collapse to representatives with multiplicity FIRST (the same
    * [[exactByTextWeighted]] aggregation — SimHash is a pure function
    * of the normalized text, so collapse loses no pair RELATION), only
    * representatives band and verify, and each emitted pair carries
    * both class sizes. On the crawl norm — documents with m exact
    * copies each — plain [[simhashPairs]] output scales m² (every
    * cross pair expands, every class adds m(m−1)/2 hamming-0 rows);
    * this emits ONE row per relation and the expanded arithmetic is
    * exactly recoverable (mult_a·mult_b per row, m(m−1)/2 per class),
    * which x92b's oracle nets against the plain expansion to zero.
    * Returns (id_a, id_b, hamming, mult_a, mult_b), id_a < id_b, ids
    * being class representatives (lowest member id). */
  def simhashPairsWeighted(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3): DataFrame =
    weightedSimhashRepPairs(exactByTextWeighted(df, textCol, idCol),
      idCol, textCol, maxHamming)

  /** The banding core over an ALREADY-COLLAPSED representative relation
    * (must carry `mult`): [[simhashPairs]]' 4×16-bit band join with the
    * multiplicity riding the banding payload struct — no post-hoc id
    * join to re-attach it. */
  private def weightedSimhashRepPairs(reps: DataFrame, idCol: String,
      textCol: String, maxHamming: Int): DataFrame = {
    val hashed = spread(reps, col(idCol)).select(exactCol(idCol).as("id"),
      transform(TextOps.tokens(col(textCol)), t => xxhash64(t)).as("th"),
      col("mult"))
    val sigs = hashed.select(col("id"), simhashOfHashes(col("th")).as("sh"),
      col("mult"))
    val banded = sigs.select(struct(col("id"), col("sh"), col("mult")).as("p"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("sh"), b * lit(16)).bitwiseAND(0xFFFF))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    bucketPairsWithPayload(banded)
      .withColumn("hamming", bit_count(col("a.sh").bitwiseXOR(col("b.sh"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"),
        col("a.mult").as("mult_a"), col("b.mult").as("mult_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exhaustive weighted SimHash pairs within an id-bounded slice — the
    * collapse of [[simhashPairsWeighted]] followed by the deliberately
    * quadratic all-pairs stage of [[simhashPairsExhaustive]] over the
    * representatives, multiplicities carried through. The anchor twin:
    * at maxHamming ≤ 3 the banded form must equal this exactly
    * (pigeonhole over 4×16-bit bands, x3b's argument — collapse does
    * not change it, representatives are just a subset with the same
    * signatures). */
  def simhashPairsWeightedExhaustive(df: DataFrame, idCol: String,
      textCol: String, maxId: Long, maxHamming: Int): DataFrame = {
    val reps = exactByTextWeighted(df.filter(col(idCol) < maxId),
      textCol, idCol)
    val sigs = spread(reps, col(idCol)).select(exactCol(idCol).as("id"),
      simhashOfHashes(transform(TextOps.tokens(col(textCol)),
        t => xxhash64(t))).as("sh"), col("mult"))
    val a = sigs.select(col("id").as("id_a"), col("sh").as("sh_a"),
      col("mult").as("mult_a"))
    val b = sigs.select(col("id").as("id_b"), col("sh").as("sh_b"),
      col("mult").as("mult_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"),
        col("mult_a"), col("mult_b"))
  }

  /** Similarity view of a weighted SimHash pair relation: sim =
    * (64 − hamming)/64 rounded half-up to 4 — the [0, 1] score
    * [[dedupSweepWeighted]] expects (exact copies sit at exactly 1.0,
    * which the fold's Σ(mult−1) intra-class term relies on). Kept as a
    * named helper so the xop sweep dispatch and the anchor queries
    * share one definition of the hamming→similarity mapping. */
  def simhashSim(hamming: Column): Column =
    Rounding.halfUp4((lit(64) - hamming).cast("double") / 64.0)

  /** Exhaustive SimHash pairs within an id-bounded slice — all pairs,
    * no banding, same signature arithmetic as [[simhashPairs]].
    * Deliberately quadratic (id-bounded); exists as the completeness
    * anchor for the banded candidate generation: with 4 bands of 16
    * bits, PIGEONHOLE guarantees every pair at hamming ≤ 3 shares at
    * least one full band, so on any slice
    * `simhashPairs(slice, maxHamming ≤ 3)` must equal this output
    * exactly (x3b drives that difference through the oracle gate as an
    * empty-result query). This anchors CANDIDATE COMPLETENESS only —
    * signature correctness is pinned separately by the kernel-vs-HOF
    * bit-identity tests. */
  def simhashPairsExhaustive(df: DataFrame, idCol: String, textCol: String,
                             maxId: Long, maxHamming: Int): DataFrame = {
    val sigs = spread(df.filter(col(idCol) < maxId), col(idCol))
      .select(col(idCol).as("id"),
        simhashOfHashes(transform(TextOps.tokens(col(textCol)),
          t => xxhash64(t))).as("sh"))
    val a = sigs.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sigs.select(col("id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Per-doc sorted distinct token-HASH array: the pair-stage Jaccard
    * operand. Token identity moves from strings to xxhash64 longs once per
    * DOCUMENT, so the quadratic pair stage compares primitive arrays with
    * the zero-allocation merge kernel instead of building per-pair string
    * hash sets (the measured dominant cost). 64-bit collisions would
    * perturb a count by 1 in ~10^-15 of pairs — far below the oracle's
    * rounding. */
  private def sortedTokenHashes(textCol: Column): Column =
    array_sort(array_distinct(transform(TextOps.tokens(textCol), t => xxhash64(t))))

  /** |a ∩ b| via graft.functions.SortedIntersectCountExpr (merge loop). */
  private def intersectCount(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftSqlShims.column(
      graft.functions.SortedIntersectCountExpr(
        org.apache.spark.sql.GraftSqlShims.expression(a),
        org.apache.spark.sql.GraftSqlShims.expression(b)))

  private def jaccardOf(interCol: Column, na: Column, nb: Column): Column =
    interCol.cast("double") / (na + nb - interCol).cast("double")

  /** Exact token-set Jaccard for candidate pairs. `candidates` must have
    * id_a/id_b; |union| is derived as n_a + n_b − |intersect| so only one
    * merge pass runs per pair. */
  def jaccardVerify(df: DataFrame, idCol: String, textCol: String,
                    candidates: DataFrame, threshold: Double): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      sortedTokenHashes(col(textCol)).as("hs"))
      .withColumn("n", size(col("hs")))
    candidates
      .join(tok.select(col("id").as("id_a"), col("hs").as("hs_a"), col("n").as("n_a")), "id_a")
      .join(tok.select(col("id").as("id_b"), col("hs").as("hs_b"), col("n").as("n_b")), "id_b")
      .withColumn("__i", intersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard", jaccardOf(col("__i"), col("n_a"), col("n_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** All-pairs Jaccard within an id-bounded slice over a prepared
    * (id, sorted-distinct-hash-array) relation. */
  private def pairwiseJaccard(tok: DataFrame, threshold: Double): DataFrame = {
    val t = tok.withColumn("n", size(col("hs")))
    val a = t.select(col("id").as("id_a"), col("hs").as("hs_a"), col("n").as("n_a"))
    val b = t.select(col("id").as("id_b"), col("hs").as("hs_b"), col("n").as("n_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("__i", intersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard", jaccardOf(col("__i"), col("n_a"), col("n_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** All-pairs token-set Jaccard within an id-bounded slice — the
    * oracle-checkable exact variant (quadratic; bounded by maxId so the
    * cost is constant in corpus scale). The LSH variants above are the
    * full-corpus path. */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
                        maxId: Long, threshold: Double): DataFrame =
    pairwiseJaccard(
      spread(df.filter(col(idCol) < maxId), col(idCol)).select(col(idCol).as("id"),
        sortedTokenHashes(col(textCol)).as("hs")),
      threshold)

  /** Same exact-pairs form over word n-gram SHINGLE sets (the MinHash
    * pipeline's set definition) — one fused kernel pass per document to
    * sorted distinct shingle hashes, then the merge-count kernel per pair.
    * Replaces per-pair array_intersect/array_union on shingle STRINGS,
    * whose per-pair hash-set builds dominated the whole bench. */
  def shingleJaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
                               maxId: Long, threshold: Double,
                               shingleSize: Int = 3): DataFrame =
    pairwiseJaccard(
      spread(df.filter(col(idCol) < maxId), col(idCol)).select(col(idCol).as("id"),
        array_sort(shingleHashesFused(col(textCol), shingleSize)).as("hs")),
      threshold)

  /** [[shingleJaccardPairsExact]] over the COLLAPSED representatives of
    * an id-bounded slice, multiplicities carried — the weighted audit
    * queue's and weighted jaccard sweep's exact pair pass. Unlike the
    * band-exhaustive form this is complete at ANY threshold including 0
    * (no banding, so no ~(1−j)^numHashes escape at low scores); the
    * quadratic is bounded by the collapsed rep count of the slice,
    * which duplication can only shrink. */
  def shingleJaccardPairsWeightedExact(df: DataFrame, idCol: String,
      textCol: String, maxId: Long, threshold: Double,
      shingleSize: Int = 3): DataFrame = {
    val reps = exactByTextWeighted(df.filter(col(idCol) < maxId),
      textCol, idCol)
    val tok = spread(reps, col(idCol)).select(exactCol(idCol).as("id"),
      array_sort(shingleHashesFused(col(textCol), shingleSize)).as("hs"),
      col("mult")).withColumn("n", size(col("hs")))
    val a = tok.select(col("id").as("id_a"), col("hs").as("hs_a"),
      col("n").as("n_a"), col("mult").as("mult_a"))
    val b = tok.select(col("id").as("id_b"), col("hs").as("hs_b"),
      col("n").as("n_b"), col("mult").as("mult_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("__i", intersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard", jaccardOf(col("__i"), col("n_a"), col("n_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"),
        col("mult_a"), col("mult_b"))
  }

  /** Band-EXHAUSTIVE incremental MinHash — [[minhashPairsBandExhaustive]]'s
    * cross-side form, anchoring [[minhashPairsAgainst]] (x43b): both
    * sides run the REAL against-banding at bands = numHashes (candidate
    * = cross-side docs sharing ANY min-hash value), candidates verify
    * with the exact fused shingle-set Jaccard, and on id-bounded slices
    * the output must equal the exact cross-side pair set — replayable in
    * DuckDB, so this is an oracle row, with the same ~(1−j)^numHashes
    * escape bound as the self-join anchor. */
  def minhashPairsAgainstBandExhaustive(
      batch: DataFrame, batchIdCol: String, batchTextCol: String,
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      threshold: Double, numHashes: Int = 64,
      shingleSize: Int = 3): DataFrame = {
    val cand = minhashPairsAgainst(batch, batchIdCol, batchTextCol,
      corpus, corpusIdCol, corpusTextCol, numHashes = numHashes,
      bands = numHashes, threshold = 0.0, shingleSize = shingleSize)
      .select("batch_id", "corpus_id")
    exactCrossSideVerify(cand, batch, batchIdCol, batchTextCol,
      corpus, corpusIdCol, corpusTextCol, threshold, shingleSize)
  }

  /** [[minhashPairsAgainstBandExhaustive]] with candidates generated
    * through a persisted [[MinHashIndex]] (x66's anchor): the
    * index-served banding must surface the same exhaustive candidate set
    * as the inline lineage — parquet round-trips the int64 signatures
    * bit-exactly — so on id-bounded slices the output equals the exact
    * cross-side pair set and shares x43b's DuckDB oracle verbatim. The
    * `corpus` frame here serves ONLY the exact-Jaccard verification of
    * candidates (an id-bounded join); candidate generation never reads
    * corpus text. */
  def minhashPairsAgainstIndexBandExhaustive(
      batch: DataFrame, batchIdCol: String, batchTextCol: String,
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      index: MinHashIndex.Artifact, threshold: Double): DataFrame = {
    val cand = minhashPairsAgainstIndex(batch, batchIdCol, batchTextCol,
      index, bands = index.numHashes, threshold = 0.0)
      .select("batch_id", "corpus_id")
    exactCrossSideVerify(cand, batch, batchIdCol, batchTextCol,
      corpus, corpusIdCol, corpusTextCol, threshold, index.shingleSize)
  }

  /** Exact shingle-set Jaccard verification of cross-side candidate
    * pairs — the shared tail of both band-exhaustive against anchors. */
  private def exactCrossSideVerify(cand: DataFrame,
      batch: DataFrame, batchIdCol: String, batchTextCol: String,
      corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
      threshold: Double, shingleSize: Int): DataFrame = {
    def tok(df: DataFrame, idCol: String, textCol: String) =
      spread(df, col(idCol)).select(col(idCol).as("id"),
        array_sort(shingleHashesFused(col(textCol), shingleSize)).as("hs"))
        .withColumn("n", size(col("hs")))
    cand
      .join(tok(batch, batchIdCol, batchTextCol)
        .select(col("id").as("batch_id"), col("hs").as("hs_b"), col("n").as("n_b")),
        "batch_id")
      .join(tok(corpus, corpusIdCol, corpusTextCol)
        .select(col("id").as("corpus_id"), col("hs").as("hs_c"), col("n").as("n_c")),
        "corpus_id")
      .withColumn("__i", intersectCount(col("hs_b"), col("hs_c")))
      .withColumn("jaccard", jaccardOf(col("__i"), col("n_b"), col("n_c")))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Band-EXHAUSTIVE MinHash on an id-bounded slice — the oracle anchor
    * for [[minhashPairs]] (x2b), the x14b/x7b recall-forcing pattern
    * applied to MinHash banding. Candidates flow through the REAL banding
    * machinery at bands = numHashes (band width r = 1: two docs are
    * candidates iff they share ANY of the numHashes min-hash values),
    * then each candidate pair is verified with the EXACT shingle-set
    * Jaccard (same fused-kernel arithmetic and rounding as
    * [[shingleJaccardPairsExact]]) and thresholded. On the slice this
    * must equal [[shingleJaccardPairsExact]]'s output and therefore
    * shares x4's DuckDB oracle verbatim — UNLESS a pair with true
    * Jaccard ≥ threshold shares none of its numHashes min-hash values.
    * For j ≥ 0.5 and 64 hashes that probability is ~(1−j)^64 ≤ 5e−20
    * per pair; an oracle mismatch here is a genuine finding about the
    * hash family, not noise, which is exactly why the anchor exists. */
  def minhashPairsBandExhaustive(df: DataFrame, idCol: String, textCol: String,
                                 maxId: Long, threshold: Double,
                                 numHashes: Int = 64,
                                 shingleSize: Int = 3): DataFrame = {
    val slice = df.filter(col(idCol) < maxId)
    // threshold 0.0 on the banded stage: every in-bucket candidate
    // survives to the exact verify (est_jaccard of a candidate is ≥ 1/64
    // by construction anyway — they share a band)
    val cand = minhashPairs(slice, idCol, textCol, numHashes = numHashes,
      bands = numHashes, threshold = 0.0, shingleSize = shingleSize)
      .select("id_a", "id_b")
    val tok = spread(slice, col(idCol)).select(col(idCol).as("id"),
      array_sort(shingleHashesFused(col(textCol), shingleSize)).as("hs"))
      .withColumn("n", size(col("hs")))
    cand
      .join(tok.select(col("id").as("id_a"), col("hs").as("hs_a"), col("n").as("n_a")), "id_a")
      .join(tok.select(col("id").as("id_b"), col("hs").as("hs_b"), col("n").as("n_b")), "id_b")
      .withColumn("__i", intersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard", jaccardOf(col("__i"), col("n_a"), col("n_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }
}
