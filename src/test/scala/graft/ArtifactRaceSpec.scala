package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.VocabIndex

/** The UNLOCKED read side of artifact maintenance (the round-17 ADVICE
  * candidate): [[graft.ops.ArtifactLock]] serializes writers per path
  * but deliberately does not lock loads — so a reader racing an update
  * or a slab compaction must always see a COMPLETE manifest, old or
  * new, never a truncated one. The previous create-overwrite truncated
  * manifest.json in place (a real torn-read window on every
  * maintenance write); publishes now go through
  * [[graft.ops.ArtifactStore.publishManifest]] (hidden temp + atomic
  * rename-with-OVERWRITE). This spec hammers that window: a reader
  * thread loads the artifact in a tight loop while the main thread
  * drives updates and multi-dir slab compactions. */
class ArtifactRaceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("unlocked loads never see a torn manifest across updates + compactions") {
    val path = java.nio.file.Files.createTempDirectory("vocab_race")
      .toString + "/idx"
    val base = Seq((1L, "alpha beta gamma alpha"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    VocabIndex.buildAndSave(base, "text", k = 8, path = path,
      capacity = Some(4096))

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val loads = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          val a = VocabIndex.load(spark, path)
          // torn manifests fail the load's own validation; a successful
          // load must also be INTERNALLY consistent (the constants every
          // legal manifest version of this artifact carries)
          assert(a.k == 8 && a.capacity.contains(4096))
          a.slabs.foreach { reg =>
            assert(reg.nonEmpty && reg.map(_.id).distinct.size == reg.size)
          }
          loads.incrementAndGet()
        } catch {
          case t: Throwable => errors.add(t); stop = true
        }
      }
    }, "artifact-race-reader")
    reader.start()
    try {
      (1 to 10).foreach { i =>
        val batch = Seq((100L + i, s"tok$i alpha beta word$i extra$i"))
          .toDF("doc_id", "text")
        // maxSlabs=0 disables auto-compaction so the explicit
        // compactSlabs below exercises the multi-dir swap deliberately
        VocabIndex.update(spark, path, batch, "text", maxSlabs = 0)
        if (i % 3 == 0)
          VocabIndex.compactSlabs(spark, path, keepLast = 1)
      }
    } finally {
      stop = true
      reader.join(30000)
    }
    assert(errors.isEmpty,
      s"reader saw a torn/invalid artifact: ${Option(errors.peek())}")
    assert(loads.get() > 0, "the reader never completed a load")
  }

  test("bloom loads never see a torn sketch across repeated saves") {
    import graft.ops.BloomIndex
    val path = java.nio.file.Files.createTempDirectory("bloom_race")
      .toString + "/idx"
    val exclude = (1L to 50L).map(Tuple1(_)).toDF("xid")
    BloomIndex.buildAndSave(exclude, "xid", fpp = 0.01, path)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val loads = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          // loadWithMeta's own n_bytes-vs-manifest check IS the torn
          // detector: a stale sketch against a fresh manifest (or any
          // partial read) fails it
          BloomIndex.loadWithMeta(spark, path)
          loads.incrementAndGet()
        } catch { case t: Throwable => errors.add(t); stop = true }
      }
    }, "bloom-race-reader")
    reader.start()
    try {
      // alternate two differently-sized exclusion lists so every save
      // writes a sketch whose BYTE LENGTH differs from its predecessor
      (1 to 8).foreach { i =>
        val n = if (i % 2 == 0) 50L else 5000L
        BloomIndex.buildAndSave((1L to n).map(Tuple1(_)).toDF("xid"),
          "xid", fpp = 0.01, path)
      }
    } finally { stop = true; reader.join(30000) }
    assert(errors.isEmpty,
      s"reader saw a torn bloom artifact: ${Option(errors.peek())}")
    assert(loads.get() > 0)
  }

  test("ivf quantizer loads never torn across repeated saves") {
    import graft.ops.IvfIndex
    val path = java.nio.file.Files.createTempDirectory("ivf_race")
      .toString + "/idx"
    def cents(n: Int): Seq[Seq[Double]] =
      (0 until n).map(i => Seq(i.toDouble, 1.0, -i.toDouble))
    IvfIndex.save(spark, path, cents(4), nCells = 4, kmeansIters = 3)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val loads = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop) {
        try {
          // load's own n_centroids-vs-rows check is the torn detector:
          // a stale relation against a fresh manifest (the saves below
          // alternate centroid COUNTS) fails it
          val c = IvfIndex.load(spark, path)
          assert(c.nonEmpty && c.forall(_.length == 3))
          loads.incrementAndGet()
        } catch { case t: Throwable => errors.add(t); stop = true }
      }
    }, "ivf-race-reader")
    reader.start()
    try {
      (1 to 8).foreach { i =>
        val n = if (i % 2 == 0) 4 else 16
        IvfIndex.save(spark, path, cents(n), nCells = n, kmeansIters = 3)
      }
    } finally { stop = true; reader.join(30000) }
    assert(errors.isEmpty,
      s"reader saw a torn ivf artifact: ${Option(errors.peek())}")
    assert(loads.get() > 0)
  }

  /** Run `save(i)` `n` times back-to-back while TWO reader threads loop
    * `loadCheck` — the SAVE-STORM shape that actually produced round
    * 18's intermittent IVF failure: with only one prior generation
    * kept, a reader that resolved manifest generation g and then lagged
    * two rapid saves found g's data dir pruned mid-read. K=2 kept
    * generations plus the bounded manifest-re-resolving load retry
    * ([[graft.ops.ArtifactLock.retryingLoad]]) must absorb the storm. */
  private def storm(n: Int)(save: Int => Unit)(loadCheck: () => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val loads = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var stop = false
    val readers = (1 to 2).map { r =>
      val t = new Thread(() => {
        while (!stop) {
          try { loadCheck(); loads.incrementAndGet() }
          catch { case t: Throwable => errors.add(t); stop = true }
        }
      }, s"storm-reader-$r")
      t.start(); t
    }
    try (1 to n).foreach(save)
    finally { stop = true; readers.foreach(_.join(30000)) }
    assert(errors.isEmpty,
      s"a reader failed under the save storm: ${Option(errors.peek())}")
    assert(loads.get() > 0, "no reader completed a load")
  }

  test("save-storm: ivf loads survive 25 back-to-back saves") {
    import graft.ops.IvfIndex
    val path = java.nio.file.Files.createTempDirectory("ivf_storm")
      .toString + "/idx"
    def cents(n: Int): Seq[Seq[Double]] =
      (0 until n).map(i => Seq(i.toDouble, 1.0, -i.toDouble))
    IvfIndex.save(spark, path, cents(4), nCells = 4, kmeansIters = 1)
    storm(25) { i =>
      val n = 2 + (i % 5)
      IvfIndex.save(spark, path, cents(n), nCells = n, kmeansIters = 1)
    } { () =>
      val c = IvfIndex.load(spark, path)
      assert(c.nonEmpty && c.forall(_.length == 3))
    }
  }

  test("save-storm: bloom loads survive 25 back-to-back saves") {
    import graft.ops.BloomIndex
    val path = java.nio.file.Files.createTempDirectory("bloom_storm")
      .toString + "/idx"
    BloomIndex.buildAndSave((1L to 50L).map(Tuple1(_)).toDF("xid"),
      "xid", fpp = 0.01, path)
    storm(25) { i =>
      // vary the exclusion-list size so every save's sketch byte length
      // differs — loadWithMeta's n_bytes check is the torn detector
      val n = if (i % 2 == 0) 50L else 5000L
      BloomIndex.buildAndSave((1L to n).map(Tuple1(_)).toDF("xid"),
        "xid", fpp = 0.01, path)
    } { () => BloomIndex.loadWithMeta(spark, path) }
  }

  test("retryingLoad: bounded attempts, tight classifier, exhaustion surfaces") {
    import graft.ops.ArtifactLock
    // exhaustion: a persistently-missing input is retried exactly twice
    // (3 attempts), then the LAST failure escapes unchanged
    var calls = 0
    val e = intercept[java.io.FileNotFoundException] {
      ArtifactLock.retryingLoad[Unit] {
        calls += 1
        throw new java.io.FileNotFoundException(s"gone (attempt $calls)")
      }
    }
    assert(calls == 3 && e.getMessage.contains("attempt 3"))
    // the classifier walks wrapped causes (the loads' one-exception
    // contract attaches them) ...
    assert(ArtifactLock.isMissingInputFile(new IllegalArgumentException(
      "corrupt: unreadable", new java.io.FileNotFoundException("x"))))
    assert(ArtifactLock.isMissingInputFile(new org.apache.spark.SparkException(
      "Job aborted: [FAILED_READ_FILE.FILE_NOT_EXIST] task failure")))
    // a swap's delete→rename window can leave the relation directory
    // listable but FOOTERLESS — the read then dies at schema inference
    // (UNABLE_TO_INFER_SCHEMA), one instant before FILE_NOT_EXIST could
    // fire; the real exception, produced the real way
    val emptyDir = java.nio.file.Files.createTempDirectory("footerless")
    val inferE = intercept[org.apache.spark.sql.AnalysisException] {
      spark.read.parquet(emptyDir.toString).collect()
    }
    assert(inferE.getCondition == "UNABLE_TO_INFER_SCHEMA", inferE.getCondition)
    assert(ArtifactLock.isMissingInputFile(inferE))
    assert(ArtifactLock.isMissingInputFile(
      new IllegalArgumentException("corrupt: unreadable signatures", inferE)))
    // ... but a bare "does not exist" (a genuinely missing dataset, the
    // old over-broad match) is NOT retryable churn
    assert(!ArtifactLock.isMissingInputFile(new org.apache.spark.SparkException(
      "Table or view does not exist: foo")))
    assert(!ArtifactLock.isMissingInputFile(
      new IllegalArgumentException("no bloom index at /x (missing manifest.json)")))
    // and a non-missing-input failure is never retried
    var once = 0
    intercept[IllegalStateException] {
      ArtifactLock.retryingLoad[Unit] { once += 1; throw new IllegalStateException("boom") }
    }
    assert(once == 1)
  }

  test("save-storm: vocab loads survive 25 back-to-back updates") {
    val path = java.nio.file.Files.createTempDirectory("vocab_storm")
      .toString + "/idx"
    VocabIndex.buildAndSave(
      Seq((1L, "alpha beta gamma alpha"), (2L, "beta gamma delta"))
        .toDF("doc_id", "text"),
      "text", k = 8, path = path, capacity = Some(4096))
    storm(25) { i =>
      VocabIndex.update(spark, path,
        Seq((100L + i, s"tok$i alpha storm$i")).toDF("doc_id", "text"),
        "text", maxSlabs = 2)
    } { () =>
      val a = VocabIndex.load(spark, path)
      assert(a.k == 8 && a.capacity.contains(4096))
    }
  }
}
