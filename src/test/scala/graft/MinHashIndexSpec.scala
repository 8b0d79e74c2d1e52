package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{ArtifactLock, Dedup, MinHashIndex}

/** Persisted MinHash signature index: the index-served operators must be
  * EXACTLY the inline ones (signatures round-trip parquet bit-exactly),
  * and the manifest's parameter/identity/content tripwires must catch
  * every staleness mode — including the in-place text edit no count
  * check can see. */
class MinHashIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // a corpus with genuine near-dups (1↔2 share most shingles), an exact
  // duplicate pair (3↔4), and unrelated rows
  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog yesterday"),
    (3L, "pack my box with five dozen liquor jugs"),
    (4L, "pack my box with five dozen liquor jugs"),
    (5L, "colorless green ideas sleep furiously at night"),
    (6L, "a completely unrelated sentence about spark physical plans"))
    .toDF("doc_id", "text")

  private def batch = Seq(
    (101L, "the quick brown fox jumps over the lazy dog today"),
    (102L, "pack my box with five dozen liquor jugs"),
    (103L, "nothing here resembles anything stored in the corpus"))
    .toDF("doc_id", "text")

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("minhash_index_spec")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.orderBy(df.columns.head, df.columns(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("index-served against/self/drop operators equal the inline ones exactly") {
    val path = tmpDir() + "/idx"
    val art = MinHashIndex.buildAndSave(corpus, "doc_id", "text",
      numHashes = 64, shingleSize = 3, path = path)
    assert(art.numHashes == 64 && art.shingleSize == 3)

    val inlineAgainst = Dedup.minhashPairsAgainst(batch, "doc_id", "text",
      corpus, "doc_id", "text", threshold = 0.5)
    val viaIndex = Dedup.minhashPairsAgainstIndex(batch, "doc_id", "text",
      art, threshold = 0.5)
    assert(pairs(viaIndex) == pairs(inlineAgainst))
    assert(pairs(viaIndex).map(_._1).toSet == Set(101L, 102L))

    val inlineSelf = Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5)
    val selfIdx = Dedup.minhashPairsFromIndex(art, threshold = 0.5)
    assert(pairs(selfIdx) == pairs(inlineSelf))
    assert(pairs(selfIdx).map(p => (p._1, p._2)).contains((3L, 4L)))

    // a sweep at DIFFERENT bands than any build-time choice still works —
    // bands is probe-time, the artifact stores raw signatures
    assert(pairs(Dedup.minhashPairsFromIndex(art, bands = 32, threshold = 0.5))
      == pairs(Dedup.minhashPairs(corpus, "doc_id", "text", bands = 32, threshold = 0.5)))

    val inlineDrop = Dedup.dropNearDuplicatesAgainst(batch, "doc_id", "text",
      corpus, "doc_id", "text", threshold = 0.5)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val dropIdx = Dedup.dropNearDuplicatesAgainstIndex(batch, "doc_id", "text",
      art, threshold = 0.5)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(dropIdx == inlineDrop)
    assert(dropIdx == Seq(103L))

    // band-exhaustive anchor form: index-served candidates + exact verify
    // equals the fully-inline exhaustive anchor (x66 ≡ x43b)
    val exInline = Dedup.minhashPairsAgainstBandExhaustive(batch, "doc_id", "text",
      corpus, "doc_id", "text", threshold = 0.5)
    val exIdx = Dedup.minhashPairsAgainstIndexBandExhaustive(batch, "doc_id", "text",
      corpus, "doc_id", "text", art, threshold = 0.5)
    assert(pairs(exIdx) == pairs(exInline))

    // probe-time parameter guard: bands must divide the artifact's hashes
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashPairsAgainstIndex(batch, "doc_id", "text", art, bands = 7)
    }
    assert(e.getMessage.contains("divide"))
  }

  test("manifest records parameters, identity, count, and fingerprint") {
    val path = tmpDir() + "/meta"
    MinHashIndex.buildAndSave(corpus, "doc_id", "text",
      numHashes = 32, shingleSize = 2, path = path)
    val art = MinHashIndex.load(spark, path)
    assert(art.numHashes == 32 && art.shingleSize == 2)
    assert(art.idCol == "doc_id")
    assert(art.idType == "bigint")
    assert(art.nDocs == 6L)
    assert(art.contentFingerprint == MinHashIndex.fingerprint(corpus, "doc_id", "text"))
    // the signature relation is lazy and corpus-shaped; fp is the
    // per-row fingerprint summand incremental update runs on
    assert(art.sigs.columns.toSeq == Seq("id", "sig", "fp"))
    assert(art.sigs.count() == 6L)
    MinHashIndex.verifyCount(art, "minhash index")
  }

  test("verifyCount catches signature-length drift a schema check cannot") {
    val path = tmpDir() + "/lencheck"
    MinHashIndex.buildAndSave(corpus, "doc_id", "text",
      numHashes = 16, shingleSize = 3, path = path)
    // hand-append a row whose sig length disagrees with the manifest's
    // num_hashes: schema-valid, silently deflates est_jaccard if probed
    // (written inside a shard directory so the partitioned layout stays
    // structurally consistent — the tampering being simulated)
    Seq((99L, Seq(1L, 2L, 3L), 42L)).toDF("id", "sig", "fp")
      .write.mode("append").parquet(s"$path/signatures/sig_shard=0")
    val art = MinHashIndex.load(spark, path) // schema-level checks pass
    val e = intercept[IllegalArgumentException] {
      MinHashIndex.verifyCount(art, "minhash index") }
    assert(e.getMessage.contains("length"))
  }

  test("incremental update equals a from-scratch rebuild of the new corpus") {
    val root = tmpDir()
    // v2: 4 removed, 5 edited in place, 7 added, rest untouched
    val v2 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog yesterday"),
      (3L, "pack my box with five dozen liquor jugs"),
      (5L, "colorless green ideas sleep furiously at noon"),
      (6L, "a completely unrelated sentence about spark physical plans"),
      (7L, "a brand new document arriving with the corpus refresh"))
      .toDF("doc_id", "text")
    val updPath = s"$root/upd"
    MinHashIndex.buildAndSave(corpus, "doc_id", "text", path = updPath)
    val updated = MinHashIndex.update(spark, updPath, v2, "doc_id", "text")
    val scratch = MinHashIndex.buildAndSave(v2, "doc_id", "text",
      path = s"$root/scratch")
    def rows(a: MinHashIndex.Artifact) = a.sigs.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getLong(2))).toList
    // signatures are a pure function of (text, params): the updated
    // relation must be ROW-IDENTICAL to a from-scratch v2 build, and the
    // delta-updated manifest must carry the same fingerprint and count
    assert(rows(updated) == rows(scratch))
    assert(updated.contentFingerprint == scratch.contentFingerprint)
    assert(updated.nDocs == scratch.nDocs && updated.nDocs == 6L)
    MinHashIndex.verifyContent(spark, updPath, v2, "doc_id", "text")
    MinHashIndex.verifyCount(updated, "updated index")
    // probes off the updated artifact equal inline probes of v2
    assert(pairs(Dedup.minhashPairsFromIndex(updated, threshold = 0.5))
      == pairs(Dedup.minhashPairs(v2, "doc_id", "text", threshold = 0.5)))
    // a drift-free corpus is a no-op: same fingerprint, nothing rewritten
    val again = MinHashIndex.update(spark, updPath, v2, "doc_id", "text")
    assert(again.contentFingerprint == updated.contentFingerprint)

    // null ids are one row per side, compared null-safely: an in-place
    // edit of the null-id row is re-signatured like any other
    val s1 = Seq((Some("a"), "alpha doc"), (None: Option[String], "null text one"))
      .toDF("doc_id", "text")
    val s2 = Seq((Some("a"), "alpha doc"), (None: Option[String], "null text two"))
      .toDF("doc_id", "text")
    val nPath = s"$root/nulls"
    MinHashIndex.buildAndSave(s1, "doc_id", "text", path = nPath)
    val nUpd = MinHashIndex.update(spark, nPath, s2, "doc_id", "text")
    val nScratch = MinHashIndex.buildAndSave(s2, "doc_id", "text",
      path = s"$root/nulls_scratch")
    def srows(a: MinHashIndex.Artifact) =
      a.sigs.orderBy("id").collect()
        .map(r => (Option(r.getString(0)), r.getSeq[Long](1).toList, r.getLong(2)))
        .toList
    assert(srows(nUpd) == srows(nScratch))
    assert(nUpd.contentFingerprint == nScratch.contentFingerprint)
  }

  /** Per-file MD5 of a directory tree (data files only) — the
    * drift-sized-IO contract is checked at the filesystem level, not
    * the row level: unaffected shards must keep their exact bytes. */
  private def checksums(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map { p =>
        val rel = root.relativize(p).toString
        val sum = java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(p))
          .map("%02x".format(_)).mkString
        rel -> sum
      }.toMap
  }

  test("sharded layout: a 1-row drift rewrites only its shard, others stay byte-identical") {
    // shardSpan=2 spreads ids 1..6 over shards 0..3; editing only id 3
    // must rewrite shard sig_shard=1 and leave every other shard's
    // files untouched on disk (names AND bytes)
    val root = tmpDir()
    val path = s"$root/sharded"
    val art0 = MinHashIndex.buildAndSave(corpus, "doc_id", "text",
      numHashes = 16, shingleSize = 3, path = path, shardSpan = 2L)
    assert(art0.shardSpan.contains(2L))
    val shardDirs = new java.io.File(s"$path/signatures").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(shardDirs == Set("sig_shard=0", "sig_shard=1",
      "sig_shard=2", "sig_shard=3"))
    val before = checksums(s"$path/signatures")
    // drift: id 3's text changes in place; everything else identical
    val v2 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog yesterday"),
      (3L, "pack my crate with six dozen cider jugs instead"),
      (4L, "pack my box with five dozen liquor jugs"),
      (5L, "colorless green ideas sleep furiously at night"),
      (6L, "a completely unrelated sentence about spark physical plans"))
      .toDF("doc_id", "text")
    val updated = MinHashIndex.update(spark, path, v2, "doc_id", "text")
    val after = checksums(s"$path/signatures")
    val untouchedBefore = before.filterNot(_._1.startsWith("sig_shard=1"))
    val untouchedAfter = after.filterNot(_._1.startsWith("sig_shard=1"))
    assert(untouchedAfter == untouchedBefore,
      "unaffected shards' files must be byte-identical after the update")
    assert(after.keys.exists(_.startsWith("sig_shard=1")) &&
      after.filter(_._1.startsWith("sig_shard=1")) !=
        before.filter(_._1.startsWith("sig_shard=1")),
      "the drifted id's shard must actually be rewritten")
    // and the surgically-updated artifact still equals a fresh build
    val scratch = MinHashIndex.buildAndSave(v2, "doc_id", "text",
      numHashes = 16, shingleSize = 3, path = s"$root/scratch", shardSpan = 2L)
    def rows(a: MinHashIndex.Artifact) = a.sigs.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toList, r.getLong(2))).toList
    assert(rows(updated) == rows(scratch))
    assert(updated.contentFingerprint == scratch.contentFingerprint)
    MinHashIndex.verifyContent(spark, path, v2, "doc_id", "text")
    MinHashIndex.verifyCount(updated, "surgical update")
    // removal-only drift: shard 3 (id 6 alone) empties and its
    // directory is deleted; shard 2 is rewritten keeping id 4
    val v3 = v2.filter(col("doc_id") =!= 5L && col("doc_id") =!= 6L)
    MinHashIndex.update(spark, path, v3, "doc_id", "text")
    val dirsAfter = new java.io.File(s"$path/signatures").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirsAfter == Set("sig_shard=0", "sig_shard=1", "sig_shard=2"))
    MinHashIndex.verifyContent(spark, path, v3, "doc_id", "text")
  }

  test("hash-sharded layout (string ids): a 1-row drift rewrites only its shard, others stay byte-identical") {
    // string/UUID-keyed corpora — at least as common as integral ids in
    // real crawls — get the SAME drift-sized update IO as the span
    // layout, via sig_shard = pmod(xxhash64(id), n_shards). Same
    // filesystem-level contract as the integral twin above: editing one
    // document rewrites only the shard its id hashes to.
    val root = tmpDir()
    val path = s"$root/hash_sharded"
    val v1 = Seq(
      ("url:a", "the quick brown fox jumps over the lazy dog today"),
      ("url:b", "the quick brown fox jumps over the lazy dog yesterday"),
      ("url:c", "pack my box with five dozen liquor jugs"),
      ("url:d", "pack my box with five dozen liquor jugs"),
      ("url:e", "colorless green ideas sleep furiously at night"),
      ("url:f", "a completely unrelated sentence about spark physical plans"))
      .toDF("doc_id", "text")
    val art0 = MinHashIndex.buildAndSave(v1, "doc_id", "text",
      numHashes = 16, shingleSize = 3, path = path, hashShards = 4)
    assert(art0.nShards.contains(4) && art0.shardSpan.isEmpty)
    // the drifted id's shard is hash-determined — read it off the live
    // partitioned relation rather than assuming a value
    val driftShard = spark.read.parquet(s"$path/signatures")
      .filter(col("id") === "url:c").select("sig_shard")
      .head().get(0).toString
    val before = checksums(s"$path/signatures")
    val v2 = v1.withColumn("text",
      when(col("doc_id") === "url:c",
        lit("pack my crate with six dozen cider jugs instead"))
        .otherwise(col("text")))
    val updated = MinHashIndex.update(spark, path, v2, "doc_id", "text")
    val after = checksums(s"$path/signatures")
    val prefix = s"sig_shard=$driftShard"
    assert(after.filterNot(_._1.startsWith(prefix))
      == before.filterNot(_._1.startsWith(prefix)),
      "unaffected hash shards' files must be byte-identical after the update")
    assert(after.keys.exists(_.startsWith(prefix)) &&
      after.filter(_._1.startsWith(prefix)) != before.filter(_._1.startsWith(prefix)),
      "the drifted id's hash shard must actually be rewritten")
    // update ≡ rebuild, row-for-row and fingerprint-for-fingerprint
    val scratch = MinHashIndex.buildAndSave(v2, "doc_id", "text",
      numHashes = 16, shingleSize = 3, path = s"$root/scratch", hashShards = 4)
    def rows(a: MinHashIndex.Artifact) = a.sigs.orderBy("id").collect()
      .map(r => (r.getString(0), r.getSeq[Long](1).toList, r.getLong(2))).toList
    assert(rows(updated) == rows(scratch))
    assert(updated.contentFingerprint == scratch.contentFingerprint)
    MinHashIndex.verifyContent(spark, path, v2, "doc_id", "text")
    MinHashIndex.verifyCount(updated, "hash-sharded surgical update")
    // removal-only drift: a shard whose every row departs loses its
    // directory (delete IS its rewrite), and the artifact stays exact
    val removed = "url:f"
    val rmShard = spark.read.parquet(s"$path/signatures")
      .filter(col("id") === removed).select("sig_shard").head().get(0).toString
    val lone = spark.read.parquet(s"$path/signatures")
      .filter(col("sig_shard") === rmShard).count() == 1L
    val v3 = v2.filter(col("doc_id") =!= removed)
    MinHashIndex.update(spark, path, v3, "doc_id", "text")
    val dirsAfter = new java.io.File(s"$path/signatures").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirsAfter.contains(s"sig_shard=$rmShard") == !lone)
    MinHashIndex.verifyContent(spark, path, v3, "doc_id", "text")
  }

  test("load fails fast on missing, foreign, and corrupt artifacts") {
    val root = tmpDir()
    def writeManifest(dir: String, text: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, "manifest.json")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // missing
    val e1 = intercept[IllegalArgumentException] {
      MinHashIndex.load(spark, s"$root/absent") }
    assert(e1.getMessage.contains("missing manifest"))
    // foreign kind (a bloom artifact is not a signature index)
    graft.ops.BloomIndex.buildAndSave(Seq(1L).toDF("id"), "id", 0.01, s"$root/bl")
    val e2 = intercept[IllegalArgumentException] {
      MinHashIndex.load(spark, s"$root/bl") }
    assert(e2.getMessage.contains("expected minhash_signatures"))
    // good artifact, then tampered manifests
    val path = s"$root/idx"
    MinHashIndex.buildAndSave(corpus, "doc_id", "text", path = path)
    def manifest(version: Int, fields: String): String =
      s"""{"version":$version,"kind":"minhash_signatures","data_gen":0,""" +
        s""""id_col":"doc_id","id_type":"bigint","n_docs":6,""" +
        s""""fingerprint":"0","shard_span":1048576$fields}"""
    writeManifest(path, manifest(99, ""","num_hashes":64,"shingle_size":3"""))
    val e3 = intercept[IllegalArgumentException] { MinHashIndex.load(spark, path) }
    assert(e3.getMessage.contains("version"))
    writeManifest(path, manifest(2, ""","shingle_size":3"""))
    val e4 = intercept[IllegalArgumentException] { MinHashIndex.load(spark, path) }
    assert(e4.getMessage.contains("num_hashes"))
    writeManifest(path, "{not json")
    val e5 = intercept[IllegalArgumentException] { MinHashIndex.load(spark, path) }
    assert(e5.getMessage.contains("malformed minhash index manifest"))
    // unreadable signatures parquet
    writeManifest(path, manifest(2, ""","num_hashes":64,"shingle_size":3"""))
    val sigDir = new org.apache.hadoop.fs.Path(path, "signatures")
    sigDir.getFileSystem(spark.sessionState.newHadoopConf()).delete(sigDir, true)
    val e6 = intercept[IllegalArgumentException] { MinHashIndex.load(spark, path) }
    assert(e6.getMessage.contains("unreadable signatures"))
    // wrong signature schema
    Seq((1L, "x")).toDF("id", "nosig").write.parquet(s"$path/signatures")
    val e7 = intercept[IllegalArgumentException] { MinHashIndex.load(spark, path) }
    assert(e7.getMessage.contains("ARRAY<BIGINT>"))
  }

  test("content fingerprint catches id swaps AND in-place text edits") {
    val path = tmpDir() + "/fp"
    MinHashIndex.buildAndSave(corpus, "doc_id", "text", path = path)
    // identical content, reordered and repartitioned: clean
    MinHashIndex.verifyContent(spark, path,
      corpus.orderBy(col("doc_id").desc).repartition(5), "doc_id", "text")
    // same count, one id swapped: stale
    val idSwap = corpus.withColumn("doc_id",
      when(col("doc_id") === 6L, 60L).otherwise(col("doc_id")))
    val e1 = intercept[IllegalArgumentException] {
      MinHashIndex.verifyContent(spark, path, idSwap, "doc_id", "text") }
    assert(e1.getMessage.contains("stale"))
    // same count, same ids, ONE text edited in place — the drift a count
    // tripwire (and Bloom's id fingerprint) cannot see; here it makes
    // stored signatures wrong, so it must fail
    val edited = corpus.withColumn("text",
      when(col("doc_id") === 5L, lit("colorless green ideas sleep furiously at noon"))
        .otherwise(col("text")))
    val e2 = intercept[IllegalArgumentException] {
      MinHashIndex.verifyContent(spark, path, edited, "doc_id", "text") }
    assert(e2.getMessage.contains("stale"))
    // grown corpus: count mismatch reported through the same check
    val grown = corpus.unionByName(Seq((7L, "a new row")).toDF("doc_id", "text"))
    val e3 = intercept[IllegalArgumentException] {
      MinHashIndex.verifyContent(spark, path, grown, "doc_id", "text") }
    assert(e3.getMessage.contains("stale"))
  }

  test("probeRetrying serves library-level probes through update churn") {
    // the sharded layout swaps shard files IN PLACE (no generations —
    // the relation is corpus-sized), so a direct library consumer whose
    // plan captured a pre-swap file listing races every update. The
    // HTTP server absorbs that with its re-plan retry;
    // ArtifactLock.probeRetrying is
    // the same retry for library callers — this churn test is an update
    // thread against a repeated plan-and-act probe, zero failures.
    val path = tmpDir() + "/idx"
    MinHashIndex.buildAndSave(corpus, "doc_id", "text", path = path)
    // churn-invariant expectation, pinned before the updater starts:
    // only row 5 drifts below, and it never matches the batch
    val expected = Dedup.minhashPairsAgainstIndex(batch, "doc_id", "text",
      MinHashIndex.load(spark, path)).count()
    assert(expected >= 3L)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    @volatile var stop = false
    val updater = new Thread(() => {
      var i = 0
      while (!stop) {
        i += 1
        // one drifted row per update: exactly one shard re-staged+swapped
        val v = corpus.withColumn("text",
          when(col("doc_id") === 5L, concat(col("text"), lit(s" rev$i")))
            .otherwise(col("text")))
        try MinHashIndex.update(spark, path, v, "doc_id", "text")
        catch { case t: Throwable => errors.add(t); stop = true }
      }
    }, "minhash-churn-updater")
    updater.start()
    val probes = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      (1 to 40).foreach { _ =>
        // plan AND action inside the retry — the count() is where a
        // captured pre-swap listing actually fails
        val n = ArtifactLock.probeRetrying(MinHashIndex.load(spark, path)) { art =>
          Dedup.minhashPairsAgainstIndex(batch, "doc_id", "text", art).count()
        }
        // the updated row 5 never matches the batch, so the pair count
        // is stable across every corpus revision
        assert(n == expected, s"expected $expected cross-side pairs, got $n")
        probes.incrementAndGet()
      }
    } finally { stop = true; updater.join(60000) }
    assert(errors.isEmpty,
      s"update thread failed during churn: ${Option(errors.peek())}")
    assert(probes.get() == 40L)
  }
}
