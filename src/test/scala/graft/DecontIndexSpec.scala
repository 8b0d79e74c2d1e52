package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{ArtifactLock, Decontaminate, DecontIndex}

/** The persisted decontamination artifact: the index-served operator
  * must be indistinguishable from the inline derivation, suite refresh
  * must be exact under shared grams, and the artifact must carry the
  * same torn-read/churn posture as the other index kinds. */
class DecontIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/idx"

  // eval suite with deliberate overlap structure: docs 101/102 SHARE
  // the gram "one two three four"; 103 is too short to produce a
  // 4-gram; 104 has null text; punctuation/case exercise normalization
  private lazy val eval = Seq(
    (101L, "One two THREE four five"),
    (102L, "zero one two three four"),
    (103L, "tiny doc"),
    (104L, null)
  ).toDF("doc_id", "text")

  private lazy val train = Seq(
    (1L, "prefix one two three four suffix words here"),   // hits both eval docs' shared gram region
    (2L, "two three four five and more trailing text"),    // hits 101's tail gram
    (3L, "completely unrelated content with no overlap"),
    (4L, null),
    (5L, "zero one two three")                             // 4 tokens -> one gram, matches 102
  ).toDF("doc_id", "text")

  private def probe(art: DecontIndex.Artifact): Seq[(Long, Long)] =
    Decontaminate.contaminatedWith(train, "doc_id", "text", art)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  private def inline(evalDf: DataFrame): Seq[(Long, Long)] =
    Decontaminate.contaminated(train, evalDf, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  test("index-served contamination equals the inline operator exactly") {
    val path = tmp("dc_basic")
    val art = DecontIndex.buildAndSave(eval, "text", path, n = 4)
    val expected = inline(eval)
    assert(expected.nonEmpty, "fixture broken: no contamination")
    assert(probe(art) == expected)
    // a fresh load of the same artifact serves identically
    assert(probe(DecontIndex.load(spark, path)) == expected)
    // manifest metadata is honest: distinct gram count and n
    val reloaded = DecontIndex.load(spark, path)
    assert(reloaded.n == 4)
    val nDistinct = eval.select(explode(
        Decontaminate.wordNgrams(col("text"), 4, distinct = true)).as("g"))
      .select("g").distinct().count()
    assert(reloaded.nGrams == nDistinct)
  }

  test("a suite with no n-gram of length n persists an empty artifact that flags nothing") {
    val path = tmp("dc_empty")
    // every document is shorter than n = 8 (or null)
    val short = eval.filter(col("doc_id") =!= 101L && col("doc_id") =!= 102L)
    val art = DecontIndex.buildAndSave(short, "text", path, n = 8)
    assert(art.nGrams == 0L)
    val loaded = DecontIndex.load(spark, path)
    assert(loaded.nGrams == 0L && loaded.grams.count() == 0L)
    assert(probe(loaded).isEmpty)
    DecontIndex.verifyContent(loaded, "decont index", short, "text")
    // a later delta with real grams updates it like any other artifact
    val grown = DecontIndex.update(spark, path, "text",
      added = Some(Seq((9L, "one two three four five six seven eight nine"))
        .toDF("doc_id", "text")))
    assert(grown.nGrams == 2L)
  }

  test("update folds suite deltas exactly; shared grams survive removal") {
    val path = tmp("dc_upd")
    // v1 = suite missing doc 102 but carrying a foreign doc 999
    val foreign = Seq((999L, "foreign benchmark text that was never eval"))
      .toDF("doc_id", "text")
    val v1 = eval.filter(col("doc_id") =!= 102L).unionByName(foreign)
    DecontIndex.buildAndSave(v1, "text", path, n = 4)
    val art = DecontIndex.update(spark, path, "text",
      added = Some(eval.filter(col("doc_id") === 102L)),
      removed = Some(foreign))
    // updated artifact == built-from-scratch over the true suite:
    // same probe rows AND same content fingerprint
    assert(probe(art) == inline(eval))
    val scratch = DecontIndex.buildAndSave(eval, "text", tmp("dc_scr"), n = 4)
    assert(art.contentFingerprint == scratch.contentFingerprint)
    assert(art.nGrams == scratch.nGrams)
    // removing doc 101 must NOT remove the gram it shares with the
    // surviving 102 ("one two three four") — ref counts, not presence
    val art2 = DecontIndex.update(spark, path, "text",
      removed = Some(eval.filter(col("doc_id") === 101L)))
    val expected2 = inline(eval.filter(col("doc_id") =!= 101L))
    assert(probe(art2) == expected2)
    assert(art2.grams.filter(col("gram") === "one two three four").count() == 1,
      "the gram shared with the surviving doc must remain")
  }

  test("update fails fast on a delta the suite never held; empty delta no-ops") {
    val path = tmp("dc_bad")
    DecontIndex.buildAndSave(eval, "text", path, n = 4)
    val before = DecontIndex.load(spark, path)
    val e = intercept[IllegalArgumentException] {
      DecontIndex.update(spark, path, "text",
        removed = Some(Seq((7L, "never was in this suite at all ever"))
          .toDF("doc_id", "text")))
    }
    assert(e.getMessage.contains("does not describe this suite"), e.getMessage)
    // the failed update must not have published anything
    assert(DecontIndex.load(spark, path).dataGen == before.dataGen)
    // empty delta: same generation back, no write
    val same = DecontIndex.update(spark, path, "text")
    assert(same.dataGen == before.dataGen)
  }

  test("load failure taxonomy: missing, foreign kind — one exception type") {
    val missing = intercept[IllegalArgumentException] {
      DecontIndex.load(spark, tmp("dc_none"))
    }
    assert(missing.getMessage.contains("missing manifest.json"))
    // a bloom artifact is a different kind
    val bloomPath = tmp("dc_foreign")
    graft.ops.BloomIndex.buildAndSave(
      (1L to 10L).map(Tuple1(_)).toDF("xid"), "xid", fpp = 0.01, bloomPath)
    val foreign = intercept[IllegalArgumentException] {
      DecontIndex.load(spark, bloomPath)
    }
    assert(foreign.getMessage.contains("expected decont_ngram"))
  }

  test("verifyContent: green on the built suite, stale after it changes") {
    val path = tmp("dc_verify")
    val art = DecontIndex.buildAndSave(eval, "text", path, n = 4)
    DecontIndex.verifyContent(art, "decont index", eval, "text") // no throw
    val e = intercept[IllegalArgumentException] {
      DecontIndex.verifyContent(art, "decont index",
        eval.filter(col("doc_id") =!= 101L), "text")
    }
    assert(e.getMessage.contains("stale"))
  }

  test("save-storm: decont loads survive 25 back-to-back updates") {
    // the ArtifactRaceSpec shape for this kind: rapid writer, two
    // readers looping full loads (manifest + sketch + grams count);
    // K=2 kept generations + retryingLoad must absorb every race
    val path = tmp("dc_storm")
    DecontIndex.buildAndSave(eval, "text", path, n = 4)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val loads = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var stop = false
    val readers = (1 to 2).map { r =>
      val t = new Thread(() => {
        while (!stop) {
          try {
            val a = DecontIndex.load(spark, path)
            assert(a.n == 4 && a.bloomBytes.nonEmpty)
            loads.incrementAndGet()
          } catch { case t: Throwable => errors.add(t); stop = true }
        }
      }, s"dc-storm-reader-$r")
      t.start(); t
    }
    try {
      (1 to 25).foreach { i =>
        val doc = Seq((1000L + i, s"storm document number $i with words " +
          s"alpha$i beta$i gamma$i delta$i")).toDF("doc_id", "text")
        val art = DecontIndex.update(spark, path, "text", added = Some(doc))
        assert(art.nGrams > 0)
      }
    } finally { stop = true; readers.foreach(_.join(30000)) }
    assert(errors.isEmpty,
      s"a reader failed under the save storm: ${Option(errors.peek())}")
    assert(loads.get() > 0, "no reader completed a load")
  }

  test("probeRetrying serves probes through update churn") {
    // churn-invariant probe: the updater adds docs whose grams never
    // appear in the train side, so the contamination row set is stable
    // across every suite revision — any failure is a real torn read
    val path = tmp("dc_churn")
    DecontIndex.buildAndSave(eval, "text", path, n = 4)
    val expected = inline(eval)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    @volatile var stop = false
    val updater = new Thread(() => {
      var i = 0
      while (!stop) {
        i += 1
        val doc = Seq((2000L + i, s"churn item $i never matching train " +
          s"omega$i psi$i chi$i phi$i")).toDF("doc_id", "text")
        try DecontIndex.update(spark, path, "text", added = Some(doc))
        catch { case t: Throwable => errors.add(t); stop = true }
      }
    }, "dc-churn-updater")
    updater.start()
    val probes = new java.util.concurrent.atomic.AtomicLong(0L)
    try {
      (1 to 20).foreach { _ =>
        // plan AND action inside the retry (the collect is where a
        // captured pruned-generation listing actually fails)
        val got = ArtifactLock.probeRetrying(DecontIndex.load(spark, path)) { art =>
          Decontaminate.contaminatedWith(train, "doc_id", "text", art)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
        }
        assert(got == expected, s"expected $expected, got $got")
        probes.incrementAndGet()
      }
    } finally { stop = true; updater.join(60000) }
    assert(errors.isEmpty,
      s"update thread failed during churn: ${Option(errors.peek())}")
    assert(probes.get() == 20L)
  }
}

