package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{TextOps, VocabIndex}

/** Persisted vocabulary artifact: the stored top-k relation must equal
  * the inline [[TextOps.topTokens]] (so artifact-served consumers are
  * output-identical to inline ones), smaller sizes slice exactly by
  * rank, and the manifest tripwires catch every staleness mode. */
class VocabIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha beta gamma alpha beta alpha"),
    (2L, "beta gamma delta beta"),
    (3L, "gamma delta epsilon"),
    (4L, "alpha zeta eta theta iota kappa"),
    (5L, null.asInstanceOf[String]))
    .toDF("doc_id", "text")

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("vocab_index_spec")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("stored relation equals inline topTokens; rank slices smaller sizes") {
    val path = tmpDir() + "/v"
    val art = VocabIndex.buildAndSave(corpus, "text", k = 5, path = path)
    assert(art.k == 5 && art.capacity.isEmpty)
    assert(art.textCol == "text")
    assert(art.nDocs == 5L && art.nTokens == 5L)
    assert(art.contentFingerprint == VocabIndex.fingerprint(corpus, "text"))
    val stored = art.vocab.orderBy("rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val inline = TextOps.topTokens(corpus, "text", 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(stored.map(t => (t._1, t._2)) == inline)
    assert(stored.map(_._3) == (1 to 5))
    // rank <= 3 slice == inline top-3 vocabulary
    val sliced = VocabIndex.tokens(art, 3, "vocab").orderBy("token")
      .collect().map(_.getString(0)).toSeq
    assert(sliced == TextOps.topTokens(corpus, "text", 3)
      .select("token").orderBy("token").collect().map(_.getString(0)).toSeq)
    // a size beyond k fails fast instead of silently shrinking
    val e = intercept[IllegalArgumentException] {
      VocabIndex.tokens(art, 6, "vocab") }
    assert(e.getMessage.contains("rebuild with a larger k"))
    VocabIndex.verifyCount(art, "vocab")
    VocabIndex.verifyContent(spark, path, corpus, "text")
  }

  test("sketch-built artifact records capacity; ample capacity equals exact") {
    val path = tmpDir() + "/sk"
    val art = VocabIndex.buildAndSave(corpus, "text", k = 4, path = path,
      capacity = Some(4096))
    assert(art.capacity.contains(4096))
    val stored = art.vocab.orderBy("rank").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val inline = TextOps.topTokens(corpus, "text", 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(stored == inline,
      "ample sketch capacity must store the exact vocabulary")
  }

  test("artifact-served oovRate equals the inline operator exactly") {
    val path = tmpDir() + "/oov"
    val art = VocabIndex.buildAndSave(corpus, "text", k = 5, path = path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val viaArt = rows(TextOps.oovRateAgainst(corpus, "doc_id", "text",
      VocabIndex.tokens(art, 3, "vocab")))
    val inline = rows(TextOps.oovRate(corpus, "doc_id", "text", 3))
    assert(viaArt == inline)
  }

  test("update: ample-capacity merge equals a from-scratch rebuild bit-for-bit") {
    val root = tmpDir()
    val a = corpus.filter(col("doc_id") <= 3)
    val b = corpus.filter(col("doc_id") > 3)
    val up = s"$root/up"
    VocabIndex.buildAndSave(a, "text", k = 5, path = up, capacity = Some(4096))
    val updated = VocabIndex.update(spark, up, b, "text")
    val scratch = VocabIndex.buildAndSave(corpus, "text", k = 5,
      path = s"$root/full", capacity = Some(4096))
    def vocabRows(art: VocabIndex.Artifact) = art.vocab.orderBy("rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    def sumRows(art: VocabIndex.Artifact) = art.summary.get.orderBy("token")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(vocabRows(updated) == vocabRows(scratch))
    assert(sumRows(updated) == sumRows(scratch))
    // no evictions anywhere => exact counts, zero untracked bound
    assert(updated.theta.contains(0L) && scratch.theta.contains(0L))
    assert(sumRows(updated).forall { case (_, lo, hi) => lo == hi })
    assert(updated.nDocs == scratch.nDocs)
    assert(updated.contentFingerprint == scratch.contentFingerprint)
    // the delta-updated fingerprint reads the merged corpus as FRESH
    VocabIndex.verifyContent(spark, up, corpus, "text")
    VocabIndex.verifyCount(updated, "updated vocab")
  }

  test("removeSlab: dropping an ingest slab equals the never-added build; no corpus rescan") {
    val root = tmpDir()
    val a = corpus.filter(col("doc_id") <= 3)
    val b = corpus.filter(col("doc_id") > 3)
    val path = s"$root/slabbed"
    val base = VocabIndex.buildAndSave(a, "text", k = 5, path = path,
      capacity = Some(4096))
    assert(base.slabs.map(_.map(_.id)).contains(Seq(0L)), "build must register slab 0")
    val updated = VocabIndex.update(spark, path, b, "text")
    assert(updated.slabs.map(_.map(_.id)).contains(Seq(0L, 1L)),
      "update must register its delta as a new slab")
    // removing the added slab restores the base build EXACTLY (ample
    // capacity everywhere): summary, vocabulary, theta, manifest totals
    val removed = VocabIndex.removeSlab(spark, path, 1L)
    def vocabRows(art: VocabIndex.Artifact) = art.vocab.orderBy("rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    def sumRows(art: VocabIndex.Artifact) = art.summary.get.orderBy("token")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val never = VocabIndex.buildAndSave(a, "text", k = 5,
      path = s"$root/never", capacity = Some(4096))
    assert(vocabRows(removed) == vocabRows(never))
    assert(sumRows(removed) == sumRows(never))
    assert(removed.theta == never.theta)
    assert(removed.nDocs == never.nDocs)
    assert(removed.contentFingerprint == never.contentFingerprint)
    assert(removed.slabs.map(_.map(_.id)).contains(Seq(0L)))
    // verifyContent against the surviving corpus reads as fresh
    VocabIndex.verifyContent(spark, path, a, "text")
    VocabIndex.verifyCount(removed, "slab-removed vocab")
    // the artifact can keep updating after a removal
    val again = VocabIndex.update(spark, path, b, "text")
    assert(again.slabs.map(_.map(_.id)).contains(Seq(0L, 1L)))
    VocabIndex.verifyContent(spark, path, corpus, "text")
    // removing the base slab keeps only the delta's corpus
    val onlyB = VocabIndex.removeSlab(spark, path, 0L)
    val bOnly = VocabIndex.buildAndSave(b, "text", k = 5,
      path = s"$root/bonly", capacity = Some(4096))
    assert(sumRows(onlyB) == sumRows(bOnly))
    assert(onlyB.nDocs == bOnly.nDocs &&
      onlyB.contentFingerprint == bOnly.contentFingerprint)
    // removing the last slab leaves a legal empty vocabulary
    val empty = VocabIndex.removeSlab(spark, path, 1L)
    assert(empty.nDocs == 0L && empty.nTokens == 0L)
    assert(empty.vocab.count() == 0L)
    // guards: unknown slab, exact-built artifact
    val eU = intercept[IllegalArgumentException] {
      VocabIndex.removeSlab(spark, path, 99L) }
    assert(eU.getMessage.contains("no slab"))
    VocabIndex.buildAndSave(a, "text", k = 3, path = s"$root/exact")
    val eE = intercept[IllegalArgumentException] {
      VocabIndex.removeSlab(spark, s"$root/exact", 0L) }
    assert(eE.getMessage.contains("capacity"))
  }

  test("compactSlabs: epoch fold bounds the registry; surviving removals stay exact; compacted history rejected") {
    val root = tmpDir()
    val path = s"$root/compact"
    val b1 = corpus.filter(col("doc_id") === 1)
    val b2 = corpus.filter(col("doc_id") === 2)
    val b3 = corpus.filter(col("doc_id") === 3)
    val b4 = corpus.filter(col("doc_id") === 4)
    VocabIndex.buildAndSave(b1, "text", k = 5, path = path, capacity = Some(4096))
    VocabIndex.update(spark, path, b2, "text")
    VocabIndex.update(spark, path, b3, "text")
    val full = VocabIndex.update(spark, path, b4, "text")
    assert(full.slabs.map(_.map(_.id)).contains(Seq(0L, 1L, 2L, 3L)))
    def vocabRows(art: VocabIndex.Artifact) = art.vocab.orderBy("rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    def sumRows(art: VocabIndex.Artifact) = art.summary.get.orderBy("token")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val (vBefore, sBefore) = (vocabRows(full), sumRows(full))
    // compact all but the newest 2: slabs 0+1 fold into epoch 4
    val compacted = VocabIndex.compactSlabs(spark, path, keepLast = 2)
    assert(compacted.slabs.map(_.map(_.id)).contains(Seq(4L, 2L, 3L)))
    val epoch = compacted.slabs.get.find(_.id == 4L).get
    assert(epoch.covers == Seq(0L, 1L))
    // compaction reorganizes HISTORY only — the served state is untouched
    assert(vocabRows(compacted) == vBefore && sumRows(compacted) == sBefore)
    assert(compacted.nDocs == full.nDocs && compacted.theta == full.theta &&
      compacted.contentFingerprint == full.contentFingerprint)
    // the victim dirs are gone, the epoch dir exists
    val slabDirs = new java.io.File(s"$path/slabs").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(slabDirs == Set("2", "3", "4"))
    // removing a SURVIVING slab still equals the never-added build
    val removed = VocabIndex.removeSlab(spark, path, 3L)
    val never = VocabIndex.buildAndSave(
      b1.unionByName(b2).unionByName(b3), "text", k = 5,
      path = s"$root/never123", capacity = Some(4096))
    assert(vocabRows(removed) == vocabRows(never))
    assert(sumRows(removed) == sumRows(never))
    assert(removed.theta == never.theta && removed.nDocs == never.nDocs &&
      removed.contentFingerprint == never.contentFingerprint)
    // removing the epoch itself removes its whole covered history
    val epochGone = VocabIndex.removeSlab(spark, path, 4L)
    val only3 = VocabIndex.buildAndSave(b3, "text", k = 5,
      path = s"$root/only3", capacity = Some(4096))
    assert(sumRows(epochGone) == sumRows(only3) &&
      epochGone.nDocs == only3.nDocs &&
      epochGone.contentFingerprint == only3.contentFingerprint)
    // compacted history is rejected BY NAME with the rebuild instruction
    VocabIndex.update(spark, path, b4, "text")
    val after = VocabIndex.compactSlabs(spark, path, keepLast = 0)
    assert(after.slabs.map(_.map(_.id)).contains(Seq(4L)))
    assert(after.slabs.get.head.covers == Seq(2L, 3L))
    val e = intercept[IllegalArgumentException] {
      VocabIndex.removeSlab(spark, path, 2L) }
    assert(e.getMessage.contains("compacted into epoch slab") &&
      e.getMessage.contains("rebuild"))
    // an epoch can itself be compacted: covers accumulate transitively
    VocabIndex.update(spark, path, b1, "text")
    val twice = VocabIndex.compactSlabs(spark, path, keepLast = 0)
    val epoch2 = twice.slabs.get.head
    assert(epoch2.id == 6L && epoch2.covers == Seq(2L, 3L, 4L, 5L))
    val e4 = intercept[IllegalArgumentException] {
      VocabIndex.removeSlab(spark, path, 4L) }
    assert(e4.getMessage.contains("compacted into epoch slab 6"))
    // and the twice-compacted artifact still serves the exact state
    val rebuilt = VocabIndex.buildAndSave(b3.unionByName(b4).unionByName(b1),
      "text", k = 5, path = s"$root/rebuilt341", capacity = Some(4096))
    assert(sumRows(twice) == sumRows(rebuilt) &&
      twice.contentFingerprint == rebuilt.contentFingerprint)
    // no-ops and guards: fewer than two victims changes nothing; exact
    // builds have no slabs to compact
    val single = s"$root/single"
    VocabIndex.buildAndSave(b1, "text", k = 5, path = single, capacity = Some(4096))
    val noop = VocabIndex.compactSlabs(spark, single, keepLast = 0)
    assert(noop.slabs.map(_.map(_.id)).contains(Seq(0L)))
    VocabIndex.buildAndSave(b1, "text", k = 3, path = s"$root/exact")
    val eE = intercept[IllegalArgumentException] {
      VocabIndex.compactSlabs(spark, s"$root/exact", 1) }
    assert(eE.getMessage.contains("capacity"))
  }

  test("update auto-compacts the registry past max_slabs; totals stay rebuild-exact") {
    val root = tmpDir()
    val path = s"$root/auto"
    VocabIndex.buildAndSave(corpus.filter(col("doc_id") === 1), "text", k = 5,
      path = path, capacity = Some(4096))
    var art: VocabIndex.Artifact = null
    for (d <- 2L to 5L)
      art = VocabIndex.update(spark, path,
        corpus.filter(col("doc_id") === d), "text", maxSlabs = 2)
    // 4 updates at K=2 (the last a NULL-TEXT-only batch — the sentinel
    // keeps its metrics alive, so it still counts): registry capped at
    // K+1 after the epoch folds
    assert(art.slabs.get.length <= 3)
    // totals still rebuild-exact after the folds
    val scratch = VocabIndex.buildAndSave(corpus, "text", k = 5,
      path = s"$root/full", capacity = Some(4096))
    def vocabRows(a: VocabIndex.Artifact) = a.vocab.orderBy("rank").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    def sumRows(a: VocabIndex.Artifact) = a.summary.get.orderBy("token")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(vocabRows(art) == vocabRows(scratch))
    assert(sumRows(art) == sumRows(scratch))
    assert(art.theta == scratch.theta && art.nDocs == scratch.nDocs)
    assert(art.contentFingerprint == scratch.contentFingerprint)
    // the active policy is recorded in the manifest
    val manifestText = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/manifest.json")), "UTF-8")
    assert(manifestText.contains("\"auto_compact_keep\""))
    // the artifact keeps updating and stays content-fresh
    VocabIndex.verifyContent(spark, path, corpus, "text")
    // maxSlabs = 0 disables: the registry grows one slab per update
    val off = s"$root/off"
    VocabIndex.buildAndSave(corpus.filter(col("doc_id") === 1), "text", k = 5,
      path = off, capacity = Some(4096))
    var artOff: VocabIndex.Artifact = null
    for (d <- 2L to 5L)
      artOff = VocabIndex.update(spark, off,
        corpus.filter(col("doc_id") === d), "text", maxSlabs = 0)
    assert(artOff.slabs.get.map(_.id) == Seq(0L, 1L, 2L, 3L, 4L))
    intercept[IllegalArgumentException] {
      VocabIndex.update(spark, off, corpus.filter(col("doc_id") === 2),
        "text", maxSlabs = -1) }
  }

  test("update: tight capacity keeps certified bounds sound; guards fail fast") {
    val root = tmpDir()
    // single partitions with distinct tokens >> capacity => evictions
    // on both the base build and the delta sketch
    val a = corpus.filter(col("doc_id") <= 3).repartition(1)
    val b = corpus.filter(col("doc_id") > 3).repartition(1)
    val path = s"$root/tight"
    VocabIndex.buildAndSave(a, "text", k = 3, path = path, capacity = Some(3))
    assert(VocabIndex.load(spark, path).theta.exists(_ > 0L))
    val art = VocabIndex.update(spark, path, b, "text")
    val truth = TextOps.topTokens(corpus, "text", 1000).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val stored = art.summary.get.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stored.nonEmpty && stored.length <= 3,
      "merged summary must stay bounded at max(capacity, k)")
    stored.foreach { case (t, lo, hi) =>
      val n = truth.getOrElse(t, 0L)
      assert(lo <= n && n <= hi, s"bounds [$lo,$hi] must contain $n for '$t'")
    }
    val theta = art.theta.get
    val trackedTokens = stored.map(_._1).toSet
    truth.foreach { case (t, n) =>
      if (!trackedTokens.contains(t))
        assert(n <= theta, s"untracked '$t' has count $n above theta $theta")
    }
    // update on an exact-built artifact fails fast
    VocabIndex.buildAndSave(corpus, "text", k = 3, path = s"$root/exact")
    val e = intercept[IllegalArgumentException] {
      VocabIndex.update(spark, s"$root/exact", b, "text") }
    assert(e.getMessage.contains("rebuild with a capacity"))
    // text column tripwire
    val e2 = intercept[IllegalArgumentException] {
      VocabIndex.update(spark, path,
        b.withColumnRenamed("text", "body"), "body") }
    assert(e2.getMessage.contains("built over column"))
    // empty delta is a no-op
    val same = VocabIndex.update(spark, path, b.filter(col("doc_id") < 0), "text")
    assert(same.theta == art.theta && same.nDocs == art.nDocs &&
      same.contentFingerprint == art.contentFingerprint)
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
    val e1 = intercept[IllegalArgumentException] {
      VocabIndex.load(spark, s"$root/absent") }
    assert(e1.getMessage.contains("missing manifest"))
    // foreign kind
    graft.ops.BloomIndex.buildAndSave(Seq(1L).toDF("id"), "id", 0.01, s"$root/bl")
    val e2 = intercept[IllegalArgumentException] {
      VocabIndex.load(spark, s"$root/bl") }
    assert(e2.getMessage.contains("expected vocabulary"))
    val path = s"$root/v"
    VocabIndex.buildAndSave(corpus, "text", k = 3, path = path)
    def manifest(version: Int, k: String): String =
      s"""{"version":$version,"kind":"vocabulary","data_gen":0,$k""" +
        """"text_col":"text","n_docs":5,"n_tokens":3,"fingerprint":"0"}"""
    writeManifest(path, manifest(99, """"k":3,"""))
    assert(intercept[IllegalArgumentException] {
      VocabIndex.load(spark, path) }.getMessage.contains("version"))
    writeManifest(path, manifest(2, ""))
    assert(intercept[IllegalArgumentException] {
      VocabIndex.load(spark, path) }.getMessage.contains("bad k"))
    writeManifest(path, "{not json")
    assert(intercept[IllegalArgumentException] {
      VocabIndex.load(spark, path) }.getMessage.contains("malformed"))
    // wrong relation schema
    writeManifest(path, manifest(2, """"k":3,"""))
    val vDir = new org.apache.hadoop.fs.Path(path, "vocabulary")
    vDir.getFileSystem(spark.sessionState.newHadoopConf()).delete(vDir, true)
    Seq(("a", 1L)).toDF("token", "nope").write.parquet(s"$path/vocabulary")
    assert(intercept[IllegalArgumentException] {
      VocabIndex.load(spark, path) }.getMessage.contains("rank INT"))
  }

  test("staleness tripwires: count, rank integrity, content fingerprint") {
    val path = tmpDir() + "/stale"
    VocabIndex.buildAndSave(corpus, "text", k = 4, path = path)
    // tampered data plane: an extra row breaks count AND rank integrity
    Seq(("smuggled", 99L, 99)).toDF("token", "n", "rank")
      .write.mode("append").parquet(s"$path/vocabulary")
    val art = VocabIndex.load(spark, path)
    val e1 = intercept[IllegalArgumentException] {
      VocabIndex.verifyCount(art, "vocab") }
    assert(e1.getMessage.contains("corrupt"))
    // content drift: an in-place text edit flips the fingerprint
    val edited = corpus.withColumn("text",
      when(col("doc_id") === 2L, lit("totally different now"))
        .otherwise(col("text")))
    val e2 = intercept[IllegalArgumentException] {
      VocabIndex.verifyContent(spark, path, edited, "text") }
    assert(e2.getMessage.contains("stale"))
    // identical content, reordered: clean
    VocabIndex.verifyContent(spark, path,
      corpus.orderBy(col("doc_id").desc).repartition(3), "text")
  }

  test("capacity artifacts: a smuggled summary row trips verifyCount") {
    // the derived vocabulary has count == maxRank == min(k, summary rows)
    // BY CONSTRUCTION, so the count/rank tripwire alone can no longer see
    // a tampered data plane — verifyCount must check the summary's own
    // row count against the manifest (a smuggled high-count summary row
    // changes vocabulary CONTENTS without changing its count)
    val path = tmpDir() + "/sumstale"
    val art = VocabIndex.buildAndSave(corpus, "text", k = 4, path = path,
      capacity = Some(4096))
    VocabIndex.verifyCount(art, "vocab") // clean artifact passes
    Seq(("smuggled", 999L, 999L)).toDF("token", "lo", "hi")
      .write.mode("append").parquet(s"$path/summary")
    val e = intercept[IllegalArgumentException] {
      VocabIndex.verifyCount(VocabIndex.load(spark, path), "vocab") }
    assert(e.getMessage.contains("summary rows"), e.getMessage)
  }

  test("concurrent updates on one artifact path serialize: no delta is lost") {
    // the server runs requests on a thread pool, so two maintenance calls
    // can race on the same artifact's manifest read-modify-write cycle —
    // ArtifactLock must serialize them so BOTH deltas land (an unlocked
    // interleave loses one registry entry / doc count)
    val path = tmpDir() + "/v"
    VocabIndex.buildAndSave(corpus, "text", k = 5, path = path,
      capacity = Some(64))
    val deltas = (0 until 4).map { i =>
      Seq((100L + i, s"word$i word$i common")).toDF("doc_id", "text")
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val fs = deltas.map(d => Future {
      VocabIndex.update(spark, path, d, "text", maxSlabs = 0) })
    Await.result(Future.sequence(fs), 120.seconds)
    val art = VocabIndex.load(spark, path)
    assert(art.nDocs == 5L + 4L,
      s"lost update: n_docs=${art.nDocs}")
    assert(art.slabs.exists(_.length == 5), // base slab + one per update
      s"lost registry entry: ${art.slabs.map(_.length)}")
    // content totals survived every interleave: with ample capacity the
    // summary is exact, so each update's tokens carry their true counts
    val counts = art.summary.get.filter(col("token").isNotNull)
      .select("token", "lo").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (0 until 4).foreach { i =>
      assert(counts.get(s"word$i").contains(2L), s"word$i: ${counts.get(s"word$i")}")
    }
    assert(counts.get("common").contains(4L), s"common: ${counts.get("common")}")
  }
}
