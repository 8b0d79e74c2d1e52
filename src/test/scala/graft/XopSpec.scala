package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.engine.{MalformedQueryException, QueryEngine}
import graft.sources.Ingest

/** The xop clause: extension operators exposed in the JSON dialect
  * (SURVEY §7.5). Each operator must run through QueryEngine.run exactly
  * like a reference clause, compose with the rest of the query, and fail
  * into the 400 taxonomy. */
class XopSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // server-shaped table: carries the hidden ingest-order column
  lazy val docs: DataFrame = Ingest.fromCsv(spark,
    """id,src,text
      |1,web,the quick brown fox jumps over the lazy dog
      |2,web,pack my box with five dozen liquor jugs
      |3,web,the quick brown fox jumps over the lazy dog
      |4,book,a a a a a a a a
      |5,book,el rapido zorro marron salta sobre el perro perezoso
      |6,web,pack my box with five dozen liquor jugs
      |""".stripMargin)

  def run(json: String): DataFrame = QueryEngine.run(docs, json).df
  def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getAs[Number](0).longValue).toSeq

  test("dedup_exact keeps the first ingest-order row per text") {
    val out = run("""{"xop": {"name": "dedup_exact", "args": {"column": "text"}}}""")
    assert(ids(out) == Seq(1L, 2L, 4L, 5L))
  }

  test("dedup_exact with explicit order column keeps lowest order value") {
    val out = run(
      """{"xop": {"name": "dedup_exact", "args": {"column": "text", "order": "id"}},
          "order_by": ["id"]}""")
    assert(ids(out) == Seq(1L, 2L, 4L, 5L))
  }

  test("xop composes with where / select / order_by / limit") {
    val out = run(
      """{"xop": {"name": "text_tokens", "args": {"column": "text"}},
          "where": [">", "n_tokens", 7],
          "select": ["id", "n_tokens"],
          "order_by": ["-n_tokens", "id"],
          "limit": 2}""")
    assert(out.columns.toSeq == Seq("id", "n_tokens"))
    assert(ids(out) == Seq(1L, 3L))
  }

  test("text_quality appends the feature columns") {
    val out = run("""{"xop": {"name": "text_quality", "args": {"column": "text"}}}""")
    for (c <- Seq("n_tokens", "alpha_ratio", "punct_ratio", "stopword_ratio", "quality_score"))
      assert(out.columns.contains(c))
    assert(out.count() == 6)
  }

  test("text_langid flags the spanish row") {
    val out = run(
      """{"xop": {"name": "text_langid", "args": {"column": "text"}},
          "where": ["==", "lang", "'es'"]}""")
    assert(ids(out) == Seq(5L))
  }

  test("text_fingerprint groups duplicate texts") {
    val out = run(
      """{"xop": {"name": "text_fingerprint", "args": {"column": "text"}},
          "select": ["fingerprint", ["count", "id"]],
          "group_by": ["fingerprint"],
          "order_by": ["fingerprint"]}""")
    assert(out.count() == 4)
    assert(out.select("id").collect().map(_.getLong(0)).sum == 6)
  }

  test("text_vocab returns top-k tokens") {
    val out = run("""{"xop": {"name": "text_vocab", "args": {"column": "text", "k": 3}}}""")
    assert(out.count() == 3)
  }

  test("text_vocab with capacity runs the certified sketch") {
    val exact = run(
      """{"xop": {"name": "text_vocab", "args": {"column": "text", "k": 3}}}""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val sketch = run(
      """{"xop": {"name": "text_vocab",
                  "args": {"column": "text", "k": 3, "capacity": 1024}}}""")
    assert(sketch.columns.toSeq == Seq("token", "n", "n_max"))
    val rows = sketch.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.map(t => (t._1, t._2)) == exact)
    assert(rows.forall(t => t._2 == t._3)) // ample capacity: zero bound gap
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "text_vocab",
                  "args": {"column": "text", "k": 3, "capacity": 0}}}""") }
  }

  test("text_vocab with group ranks tokens per group value") {
    val out = run(
      """{"xop": {"name": "text_vocab",
                  "args": {"column": "text", "group": "src", "k": 1}},
          "order_by": ["src"]}""")
    assert(out.columns.toSeq == Seq("src", "token", "n", "rank"))
    val rows = out.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // book: doc 4 "a a a ..." + doc 5 spanish → 'a' dominates; web: 'the'
    assert(rows == Seq(("book", "a"), ("web", "the")))
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "text_vocab",
                  "args": {"column": "text", "group": "src",
                           "capacity": 64}}}""") }
  }

  test("chunk_dedup rebuilds documents from surviving chunks") {
    val out = run(
      """{"xop": {"name": "chunk_dedup",
                  "args": {"id": "id", "column": "text", "chunk_tokens": 4}},
          "order_by": ["id"]}""")
    assert(out.columns.toSeq == Seq("id", "clean_text", "n_kept", "n_chunks"))
    // row 3 duplicates row 1 exactly → all its chunks were seen first on id=1
    val row3 = out.filter("id = 3").head()
    assert(row3.getAs[Long]("n_kept") == 0L)
    assert(row3.getAs[String]("clean_text") == "")
  }

  test("sample_fraction is deterministic and roughly proportional") {
    val out = run(
      """{"xop": {"name": "sample_fraction", "args": {"id": "id", "fraction": 0.5}}}""")
    val again = run(
      """{"xop": {"name": "sample_fraction", "args": {"id": "id", "fraction": 0.5}}}""")
    assert(ids(out) == ids(again))
    assert(out.count() <= 6)
  }

  test("sample_stratified keeps k per stratum") {
    val out = run(
      """{"xop": {"name": "sample_stratified",
                  "args": {"id": "id", "strata": "src", "k": 1}}}""")
    assert(out.count() == 2)
    assert(out.select("src").distinct().count() == 2)
  }

  test("sample_mixture applies per-source weights") {
    val all = run(
      """{"xop": {"name": "sample_mixture",
                  "args": {"id": "id", "source": "src",
                           "weights": {"web": 1.0}, "default": 0}}}""")
    assert(ids(all).sorted == Seq(1L, 2L, 3L, 6L))
  }

  test("sample_mixture epochs mode replicates; plain mode rejects weights above 1") {
    val doubled = run(
      """{"xop": {"name": "sample_mixture",
                  "args": {"id": "id", "source": "src", "epochs": true,
                           "weights": {"web": 2.0}, "default": 0}},
          "order_by": ["id", "epoch"]}""")
    assert(doubled.columns.contains("epoch"))
    assert(doubled.collect().map(r =>
      (r.getAs[Number]("id").longValue, r.getAs[Number]("epoch").longValue)).toSeq
      == Seq(1L -> 0L, 1L -> 1L, 2L -> 0L, 2L -> 1L, 3L -> 0L, 3L -> 1L,
        6L -> 0L, 6L -> 1L))
    val e = intercept[MalformedQueryException] { run(
      """{"xop": {"name": "sample_mixture",
                  "args": {"id": "id", "source": "src",
                           "weights": {"web": 2.0}, "default": 0}}}""") }
    assert(e.getMessage.contains("epochs"))
  }

  test("profile audits every column in one pass") {
    val out = run("""{"xop": {"name": "profile"}, "order_by": ["column"]}""")
    assert(out.columns.contains("column") && out.columns.contains("n_distinct"))
    assert(out.count() == 3) // id, src, text — hidden row id excluded
  }

  // ------------------------------------------------------------------
  // near-dup family
  // ------------------------------------------------------------------

  def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
      .toSeq.sorted

  test("dedup_minhash emits duplicate pairs; action=drop keeps survivors") {
    val p = run(
      """{"xop": {"name": "dedup_minhash", "args": {"id": "id", "column": "text"}}}""")
    assert(pairs(p) == Seq((1L, 3L), (2L, 6L)))
    val d = run(
      """{"xop": {"name": "dedup_minhash",
                  "args": {"id": "id", "column": "text", "action": "drop"}},
          "order_by": ["id"]}""")
    assert(ids(d) == Seq(1L, 2L, 4L, 5L))
  }

  test("dedup_simhash finds the exact-duplicate pairs at hamming 0") {
    val p = run(
      """{"xop": {"name": "dedup_simhash",
                  "args": {"id": "id", "column": "text", "max_hamming": 0}}}""")
    assert(pairs(p) == Seq((1L, 3L), (2L, 6L)))
  }

  test("dedup_jaccard emits exact shingle-jaccard pairs") {
    val p = run(
      """{"xop": {"name": "dedup_jaccard",
                  "args": {"id": "id", "column": "text", "threshold": 0.9}}}""")
    assert(pairs(p) == Seq((1L, 3L), (2L, 6L)))
  }

  test("dedup_clusters labels components of a pair relation (composes via from)") {
    val out = run(
      """{"xop": {"name": "dedup_clusters"},
          "from": {"xop": {"name": "dedup_minhash",
                           "args": {"id": "id", "column": "text"}}},
          "order_by": ["id"]}""")
    val labels = out.collect().map(r =>
      (r.getAs[Number]("id").longValue, r.getAs[Number]("cluster").longValue)).toSeq
    assert(labels == Seq((1L, 1L), (2L, 2L), (3L, 1L), (6L, 2L)))
  }

  // ------------------------------------------------------------------
  // embeddings + ANN (vector-typed fixture, Scala-built frame)
  // ------------------------------------------------------------------

  lazy val vecs: DataFrame = {
    import spark.implicits._
    Seq((1L, Seq(1.0, 0.0), "a"), (2L, Seq(0.999, 0.01), "a"),
        (3L, Seq(0.0, 1.0), "b"), (4L, Seq(0.01, 0.999), "b"),
        (5L, Seq(-1.0, 0.0), "a"))
      .toDF("id", "vec", "label")
  }
  def runV(json: String): DataFrame = QueryEngine.run(vecs, json).df

  test("dedup_embcos pairs near-identical vectors") {
    val p = runV(
      """{"xop": {"name": "dedup_embcos",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99}}}""")
    assert(pairs(p) == Seq((1L, 2L), (3L, 4L)))
  }

  test("semantic_dedup: cluster-scoped pairs, drop keeps cluster, keep_best honors score") {
    val p = runV(
      """{"xop": {"name": "semantic_dedup",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "centroids": [[2.0, 0.0], [0.0, 0.5]]}}}""")
    assert(pairs(p) == Seq((1L, 2L), (3L, 4L)))
    assert(p.columns.contains("cluster"))
    val d = runV(
      """{"xop": {"name": "semantic_dedup",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "centroids": [[2.0, 0.0], [0.0, 0.5]],
                           "action": "drop"}},
          "order_by": ["id"]}""")
    assert(ids(d) == Seq(1L, 3L, 5L))
    assert(d.columns.contains("cluster"))
    // keep_best by the id column itself: max id per component survives
    val kb = runV(
      """{"xop": {"name": "semantic_dedup",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "centroids": [[2.0, 0.0], [0.0, 0.5]],
                           "action": "keep_best", "score": "id"}},
          "order_by": ["id"]}""")
    assert(ids(kb) == Seq(2L, 4L, 5L))
  }

  test("semantic_dedup k/iters quantizer-build path runs deterministically") {
    val run1 = runV(
      """{"xop": {"name": "semantic_dedup",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "k": 2, "iters": 1, "action": "drop"}},
          "order_by": ["id"]}""")
    assert(run1.columns.contains("cluster"))
    val ids1 = ids(run1)
    assert(ids1.nonEmpty && ids1.size <= 5)
    // the hash-ordered centroid sample + refinement is deterministic, so
    // a second run returns the identical survivor set
    assert(ids(runV(
      """{"xop": {"name": "semantic_dedup",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "k": 2, "iters": 1, "action": "drop"}},
          "order_by": ["id"]}""")) == ids1)
  }

  test("semantic_dedup strict args: score without keep_best, keep_best without score, centroids+k all 400") {
    intercept[MalformedQueryException] { runV(
      """{"xop": {"name": "semantic_dedup",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "centroids": [[1.0, 0.0]], "score": "id"}}}""") }
    intercept[MalformedQueryException] { runV(
      """{"xop": {"name": "semantic_dedup",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "centroids": [[1.0, 0.0]], "action": "keep_best"}}}""") }
    intercept[MalformedQueryException] { runV(
      """{"xop": {"name": "semantic_dedup",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "centroids": [[1.0, 0.0]], "k": 2}}}""") }
    // score is rejected on the drop branch too (it bypasses pairsOrDrop)
    intercept[MalformedQueryException] { runV(
      """{"xop": {"name": "semantic_dedup",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "centroids": [[1.0, 0.0]], "action": "drop",
                           "score": "id"}}}""") }
  }

  test("dedup_minhash action=keep_best collapses a component to its best-scoring member") {
    // docs 1~3 are exact dups; score by id keeps the LATER copy (3), the
    // opposite of drop's keep-first — proving the score drives the choice
    val kb = run(
      """{"xop": {"name": "dedup_minhash",
                  "args": {"id": "id", "column": "text",
                           "action": "keep_best", "score": "id"}},
          "order_by": ["id"]}""")
    assert(ids(kb) == Seq(3L, 4L, 5L, 6L))
  }

  test("emb_quantize emits int8 vectors with per-row scale") {
    val out = runV("""{"xop": {"name": "emb_quantize", "args": {"id": "id", "column": "vec"}}}""")
    assert(out.columns.contains("q") && out.columns.contains("scale"))
    assert(out.count() == 5)
  }

  test("emb_outliers keeps the k farthest per label") {
    val out = runV(
      """{"xop": {"name": "emb_outliers",
                  "args": {"id": "id", "column": "vec", "label": "label", "k": 1}}}""")
    val byLabel = out.collect().map(r =>
      (r.getAs[String]("label"), r.getAs[Number]("id").longValue)).toMap
    assert(byLabel("a") == 5L) // -1,0 is farthest from label-a centroid
  }

  test("emb_cluster assigns every vector a cluster and cohesion") {
    val out = runV(
      """{"xop": {"name": "emb_cluster", "args": {"id": "id", "column": "vec", "k": 2, "iters": 2}}}""")
    assert(out.columns.contains("cluster") && out.columns.contains("cohesion"))
    val rows = out.collect().map(r =>
      (r.getAs[Number]("id").longValue, r.getAs[Int]("cluster")))
    assert(rows.length == 5 && rows.forall { case (_, c) => c >= 0 && c < 2 })
    // the vector column must be a numeric array — strings 400
    intercept[MalformedQueryException] { runV(
      """{"xop": {"name": "emb_cluster", "args": {"id": "id", "column": "id", "k": 2}}}""") }
  }

  test("emb_cluster with explicit centroids: deterministic argmax, strict args") {
    val out = runV(
      """{"xop": {"name": "emb_cluster",
                  "args": {"column": "vec",
                           "centroids": [[2.0, 0.0], [0.0, 0.5]]}},
          "order_by": ["id"]}""")
    // scale-invariant (centroids normalized): (1,0)→0, (.999,.01)→0,
    // (0,1)→1, (.01,.999)→1, (-1,0)→ cos(c0)=-1 < cos(c1)=0 → 1
    assert(out.collect().map(_.getAs[Int]("cluster")).toSeq
      == Seq(0, 0, 1, 1, 1))
    // build args are meaningless with explicit centroids → 400
    intercept[MalformedQueryException] { runV(
      """{"xop": {"name": "emb_cluster",
                  "args": {"column": "vec", "k": 2,
                           "centroids": [[1.0, 0.0]]}}}""") }
    // malformed centroid shapes → 400
    intercept[MalformedQueryException] { runV(
      """{"xop": {"name": "emb_cluster",
                  "args": {"column": "vec", "centroids": [[1.0], [1.0, 0.0]]}}}""") }
    intercept[MalformedQueryException] { runV(
      """{"xop": {"name": "emb_cluster",
                  "args": {"column": "vec", "centroids": ["x"]}}}""") }
  }

  test("emb_cluster/ann_ivf 'index': persisted quantizer under the configured root") {
    val root = java.nio.file.Files.createTempDirectory("xop_index").toString
    graft.ops.IvfIndex.save(spark, s"$root/q", Seq(Seq(2.0, 0.0), Seq(0.0, 0.5)),
      nCells = 2, kmeansIters = 0)
    // without the root conf the argument is rejected outright
    spark.conf.unset("spark.graft.index.root")
    intercept[MalformedQueryException] { runV(
      """{"xop": {"name": "emb_cluster", "args": {"column": "vec", "index": "q"}}}""") }
    spark.conf.set("spark.graft.index.root", root)
    try {
      // loaded centroids behave exactly like the same inline centroids
      val out = runV(
        """{"xop": {"name": "emb_cluster", "args": {"column": "vec", "index": "q"}},
            "order_by": ["id"]}""")
      assert(out.collect().map(_.getAs[Int]("cluster")).toSeq == Seq(0, 0, 1, 1, 1))
      // ann_ivf consumes the same artifact; probe-all over 2 cells must
      // rank like brute force
      val ann = runV(
        """{"xop": {"name": "ann_ivf",
                    "args": {"id": "id", "column": "vec", "k": 2, "probe": 2,
                             "index": "q", "query_vectors": [[1.0, 0.0]]}}}""")
      assert(ann.collect().map(_.getAs[Number]("neighbor_id").longValue).toSeq
        == Seq(1L, 2L))
      // strict-arg posture: index excludes build args on both operators
      intercept[MalformedQueryException] { runV(
        """{"xop": {"name": "emb_cluster",
                    "args": {"column": "vec", "index": "q", "k": 2}}}""") }
      intercept[MalformedQueryException] { runV(
        """{"xop": {"name": "emb_cluster",
                    "args": {"column": "vec", "index": "q",
                             "centroids": [[1.0, 0.0]]}}}""") }
      intercept[MalformedQueryException] { runV(
        """{"xop": {"name": "ann_ivf",
                    "args": {"id": "id", "column": "vec", "index": "q",
                             "cells": 4, "query_vectors": [[1.0, 0.0]]}}}""") }
      // path traversal and absolute paths are rejected
      intercept[MalformedQueryException] { runV(
        """{"xop": {"name": "emb_cluster", "args": {"column": "vec", "index": "../q"}}}""") }
      intercept[MalformedQueryException] { runV(
        """{"xop": {"name": "emb_cluster", "args": {"column": "vec", "index": "/etc/q"}}}""") }
      // a missing artifact is a 400 (part of the query), not a 500
      intercept[MalformedQueryException] { runV(
        """{"xop": {"name": "emb_cluster", "args": {"column": "vec", "index": "absent"}}}""") }
      // semantic_dedup consumes the same artifact: loaded centroids
      // must produce the same survivors as the equivalent inline ones
      val semIdx = ids(runV(
        """{"xop": {"name": "semantic_dedup",
                    "args": {"id": "id", "column": "vec", "threshold": 0.99,
                             "index": "q", "action": "drop"}},
            "order_by": ["id"]}"""))
      assert(semIdx == Seq(1L, 3L, 5L))
      intercept[MalformedQueryException] { runV(
        """{"xop": {"name": "semantic_dedup",
                    "args": {"id": "id", "column": "vec", "threshold": 0.99,
                             "index": "q", "k": 2}}}""") }
      // exclude_ids consumes a persisted BLOOM artifact under the same
      // root: same survivors as the inline build; fpp is a build arg and
      // 400s alongside index; loading the IVF artifact as a bloom 400s
      locally {
        import spark.implicits._
        graft.ops.BloomIndex.buildAndSave(
          Seq(2L, 4L).toDF("id"), "id", fpp = 0.01, s"$root/bl")
        val out = QueryEngine.run(docs,
          """{"xop": {"name": "exclude_ids",
                      "args": {"id": "id", "exclude": "xids", "index": "bl"}},
              "order_by": ["id"]}""", resolver).df
        assert(ids(out) == Seq(1L, 3L, 5L, 6L))
        intercept[MalformedQueryException] { QueryEngine.run(docs,
          """{"xop": {"name": "exclude_ids",
                      "args": {"id": "id", "exclude": "xids", "index": "bl",
                               "fpp": 0.05}}}""", resolver).df }
        intercept[MalformedQueryException] { QueryEngine.run(docs,
          """{"xop": {"name": "exclude_ids",
                      "args": {"id": "id", "exclude": "xids", "index": "q"}}}""",
          resolver).df }
        // staleness tripwire: the artifact records the build-time list
        // row count; a drifted exclude dataset (exact size known free
        // from local-relation stats) is a 400, not silent under-exclusion
        val drifted: String => Option[org.apache.spark.sql.DataFrame] =
          n => if (n == "xids") Some(Seq(2L, 4L, 6L).toDF("id")) else None
        val e = intercept[MalformedQueryException] { QueryEngine.run(docs,
          """{"xop": {"name": "exclude_ids",
                      "args": {"id": "id", "exclude": "xids", "index": "bl"}}}""",
          drifted).df }
        assert(e.getMessage.contains("stale"))
        // identity tripwires (free, schema-only): a sketch built over
        // column 'id' probed through a renamed or retyped exclude column
        // is a 400, not silent under-deletion
        val renamed: String => Option[org.apache.spark.sql.DataFrame] =
          n => if (n == "xids") Some(Seq(2L, 4L).toDF("other_id")) else None
        val eName = intercept[MalformedQueryException] { QueryEngine.run(docs,
          """{"xop": {"name": "exclude_ids",
                      "args": {"id": "id", "exclude": "xids",
                               "exclude_id": "other_id", "index": "bl"}}}""",
          renamed).df }
        assert(eName.getMessage.contains("built over column"))
        val retyped: String => Option[org.apache.spark.sql.DataFrame] =
          n => if (n == "xids") Some(Seq(2, 4).toDF("id")) else None // int ≠ bigint
        val eType = intercept[MalformedQueryException] { QueryEngine.run(docs,
          """{"xop": {"name": "exclude_ids",
                      "args": {"id": "id", "exclude": "xids", "index": "bl"}}}""",
          retyped).df }
        assert(eType.getMessage.contains("bigint"))
        // verify_index: fresh content passes; a SAME-COUNT swap (blind
        // spot of the free count tripwire) is caught by the fingerprint
        val okVerify = QueryEngine.run(docs,
          """{"xop": {"name": "exclude_ids",
                      "args": {"id": "id", "exclude": "xids", "index": "bl",
                               "verify_index": true}},
              "order_by": ["id"]}""", resolver).df
        assert(ids(okVerify) == Seq(1L, 3L, 5L, 6L))
        val sameCount: String => Option[org.apache.spark.sql.DataFrame] =
          n => if (n == "xids") Some(Seq(2L, 5L).toDF("id")) else None
        val eFp = intercept[MalformedQueryException] { QueryEngine.run(docs,
          """{"xop": {"name": "exclude_ids",
                      "args": {"id": "id", "exclude": "xids", "index": "bl",
                               "verify_index": true}}}""", sameCount).df }
        assert(eFp.getMessage.contains("stale"))
        // verify_index only makes sense with a persisted index
        val eNoIdx = intercept[MalformedQueryException] { QueryEngine.run(docs,
          """{"xop": {"name": "exclude_ids",
                      "args": {"id": "id", "exclude": "xids",
                               "verify_index": true}}}""", resolver).df }
        assert(eNoIdx.getMessage.contains("requires 'index'"))
      }
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("an 'index' naming an older-format (v1) artifact is a 400 that says rebuild") {
    val root = java.nio.file.Files.createTempDirectory("xop_index_v1").toString
    graft.ops.IvfIndex.save(spark, s"$root/q", Seq(Seq(2.0, 0.0), Seq(0.0, 0.5)),
      nCells = 2, kmeansIters = 0)
    // the same quantizer as written by a version-1 build
    val mp = new org.apache.hadoop.fs.Path(s"$root/q", "manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mp, true)
    try out.write(("""{"version":1,"kind":"ivf_coarse_quantizer","n_cells":2,""" +
      """"n_centroids":2,"dim":2,"kmeans_iters":0}""").getBytes("UTF-8"))
    finally out.close()
    spark.conf.set("spark.graft.index.root", root)
    try {
      val e = intercept[MalformedQueryException] { runV(
        """{"xop": {"name": "emb_cluster", "args": {"column": "vec", "index": "q"}}}""") }
      assert(e.getMessage.contains("older format (version 1)") &&
        e.getMessage.contains("rebuild"), e.getMessage)
      // maintenance clauses refuse it the same way, before any write
      val e2 = intercept[MalformedQueryException] { runV(
        """{"xop": {"name": "ivf_refine",
                    "args": {"column": "vec", "index": "q", "iters": 1}}}""") }
      assert(e2.getMessage.contains("older format (version 1)"), e2.getMessage)
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("cluster-balanced sampling: emb_cluster nests into sample_stratified") {
    // the semantic-balancing chain: assign clusters, then keep k per
    // cluster — one nested-from query, strata = the derived column
    val out = runV(
      """{"xop": {"name": "sample_stratified",
                  "args": {"id": "id", "strata": "cluster", "k": 1}},
          "from": {"xop": {"name": "emb_cluster",
                           "args": {"id": "id", "column": "vec",
                                    "k": 2, "iters": 2}}},
          "order_by": ["id"]}""")
    val picked = out.collect().map(r =>
      (r.getAs[Number]("id").longValue, r.getAs[Int]("cluster")))
    assert(picked.length == 2)                  // one per cluster
    assert(picked.map(_._2).distinct.length == 2) // both clusters present
  }

  test("ann_brute answers inline query_vectors (ids never collide)") {
    val out = runV(
      """{"xop": {"name": "ann_brute",
                  "args": {"id": "id", "column": "vec", "k": 2,
                           "query_vectors": [[1.0, 0.0]]}},
          "order_by": ["rank"]}""")
    val neigh = out.select("neighbor_id").collect().map(_.getAs[Number](0).longValue).toSeq
    assert(neigh == Seq(1L, 2L))
    assert(out.select("query_id").head().getAs[Number](0).longValue == -1L)
  }

  test("ann queries can come from a stored dataset via the resolver") {
    import spark.implicits._
    val queries = Seq((100L, Seq(0.0, 1.0), "q")).toDF("id", "vec", "label")
    val out = QueryEngine.run(vecs,
      """{"xop": {"name": "ann_brute",
                  "args": {"id": "id", "column": "vec", "k": 1,
                           "queries": "qset"}}}""",
      name => if (name == "qset") Some(queries) else None).df
    val row = out.head()
    assert(row.getAs[Number]("query_id").longValue == 100L)
    assert(row.getAs[Number]("neighbor_id").longValue == 3L)
  }

  // ------------------------------------------------------------------
  // sampling / packing (compose: text_tokens feeds the token column)
  // ------------------------------------------------------------------

  test("sample_tokens caps each source at a token budget (composes via from)") {
    val out = run(
      """{"xop": {"name": "sample_tokens",
                  "args": {"id": "id", "source": "src", "tokens": "n_tokens",
                           "budget": 10}},
          "from": {"xop": {"name": "text_tokens", "args": {"column": "text"}}},
          "order_by": ["id"]}""")
    // every kept row's cumulative per-source tokens <= 10
    assert(out.count() >= 1 && out.count() < 6)
  }

  test("seq_pack assigns bins under the token budget (composes via from)") {
    val out = run(
      """{"xop": {"name": "seq_pack",
                  "args": {"order": "id", "tokens": "n_tokens", "budget": 16}},
          "from": {"xop": {"name": "text_tokens", "args": {"column": "text"}}},
          "order_by": ["id"]}""")
    assert(out.columns.contains("bin") && out.columns.contains("tokens_before"))
    assert(out.count() == 6)
  }

  // ------------------------------------------------------------------
  // events
  // ------------------------------------------------------------------

  lazy val events: DataFrame = {
    import spark.implicits._
    def t(m: Int, s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:$s%02d")
    Seq((1L, t(0, 0), 1L, "click", 1.0, """{"k": 4}"""),
        (2L, t(0, 30), 1L, "view", 2.0, """{"k": 6}"""),
        (3L, t(5, 0), 1L, "click", 3.0, "oops"),
        (4L, t(0, 10), 2L, "click", 4.0, null))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("sessionize xop runs the batch gap sessionization") {
    val out = QueryEngine.run(events,
      """{"xop": {"name": "sessionize", "args": {"gap_seconds": 60}},
          "order_by": ["user_id", "session_start"]}""").df
    assert(out.count() == 3) // user1 x2 sessions, user2 x1
    assert(out.columns.contains("n_events"))
  }

  test("sessionize strategy=native matches segmented; granule with native 400s") {
    val seg = QueryEngine.run(events,
      """{"xop": {"name": "sessionize", "args": {"gap_seconds": 60}},
          "order_by": ["user_id", "session_start"]}""").df
    val nat = QueryEngine.run(events,
      """{"xop": {"name": "sessionize",
                  "args": {"gap_seconds": 60, "strategy": "native"}},
          "order_by": ["user_id", "session_start"]}""").df
    assert(nat.collect().toSeq == seg.collect().toSeq)
    intercept[MalformedQueryException] { QueryEngine.run(events,
      """{"xop": {"name": "sessionize",
                  "args": {"gap_seconds": 60, "strategy": "native",
                           "granule": 100}}}""").df }
    intercept[MalformedQueryException] { QueryEngine.run(events,
      """{"xop": {"name": "sessionize",
                  "args": {"gap_seconds": 60, "strategy": "nope"}}}""").df }
    // strategy=window (the one-exchange uniform-key form) matches too,
    // and rejects a granule (it has no segmentation to tune)
    val win = QueryEngine.run(events,
      """{"xop": {"name": "sessionize",
                  "args": {"gap_seconds": 60, "strategy": "window"}},
          "order_by": ["user_id", "session_start"]}""").df
    assert(win.collect().toSeq == seg.collect().toSeq)
    intercept[MalformedQueryException] { QueryEngine.run(events,
      """{"xop": {"name": "sessionize",
                  "args": {"gap_seconds": 60, "strategy": "window",
                           "granule": 100}}}""").df }
  }

  test("sessionize strategy=segmented segments a small table; its rows equal the auto rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LW}
    def windowKeys(df: DataFrame): Seq[Set[String]] =
      df.queryExecution.optimizedPlan.collect {
        case w: LW => w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      }
    val auto = QueryEngine.run(events,
      """{"xop": {"name": "sessionize", "args": {"gap_seconds": 60}},
          "order_by": ["user_id", "session_start"]}""").df
    val seg = QueryEngine.run(events,
      """{"xop": {"name": "sessionize",
                  "args": {"gap_seconds": 60, "strategy": "segmented"}},
          "order_by": ["user_id", "session_start"]}""").df
    // below the row gate the auto path keeps the one-window carry ...
    assert(windowKeys(auto).nonEmpty && windowKeys(auto).forall(_ == Set("user_id")))
    // ... while "segmented" plans the granule-bucketed local windows
    assert(windowKeys(seg).contains(Set("user_id", "__g")))
    assert(seg.collect().toSeq == auto.collect().toSeq)
  }

  test("sessionizeWindowed ≡ the segmented carry row for row (explicit strategies agree)") {
    // a fixture with cross-granule sessions at an explicit narrow width,
    // so the segmented path's carry machinery actually merges — the
    // windowed form must produce the identical relation
    import spark.implicits._
    def t(m: Int, s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:$s%02d")
    val ev = Seq(
      (1L, t(0, 0), 7L, "a", 1.0), (2L, t(0, 50), 7L, "a", 2.0),
      (3L, t(1, 40), 7L, "a", 3.0), (4L, t(5, 0), 7L, "a", 4.0),
      (5L, t(0, 10), 8L, "a", 5.0), (6L, t(9, 0), 8L, "a", 6.0),
      (7L, t(9, 30), 9L, "a", 7.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("user_id", "session_start").collect().toSeq
    val seg = graft.streaming.EventStreams.sessionizeBatch(
      ev, gapSeconds = 60, granule = Some(100L), strategy = "segmented")
    val win = graft.streaming.EventStreams.sessionizeWindowed(ev, gapSeconds = 60)
    assert(rows(win) == rows(seg) && rows(win).nonEmpty)
  }

  test("funnel xop runs the ordered-step analysis with strict args") {
    val out = QueryEngine.run(events,
      """{"xop": {"name": "funnel",
                  "args": {"key": "user_id", "steps": ["click", "view"]}},
          "order_by": ["user_id"]}""").df
    // user 1: click@0 → view@0:30 (depth 2); user 2: click only (depth 1)
    assert(out.collect().map(r => (r.getAs[Long]("user_id"),
      r.getAs[Int]("steps_completed"))).toSeq == Seq((1L, 2), (2L, 1)))
    intercept[MalformedQueryException] { QueryEngine.run(events,
      """{"xop": {"name": "funnel", "args": {"key": "user_id"}}}""").df }
    intercept[MalformedQueryException] { QueryEngine.run(events,
      """{"xop": {"name": "funnel",
                  "args": {"key": "user_id", "steps": []}}}""").df }
    intercept[MalformedQueryException] { QueryEngine.run(events,
      """{"xop": {"name": "funnel",
                  "args": {"key": "user_id", "steps": [1, 2]}}}""").df }
  }

  test("props_rollup xop parses and aggregates per type") {
    val out = QueryEngine.run(events,
      """{"xop": {"name": "props_rollup"}, "order_by": ["event_type"]}""").df
    val click = out.filter("event_type = 'click'").head()
    assert(click.getAs[Long]("n_events") == 3L)
    assert(click.getAs[Long]("n_with_k") == 1L)
  }

  // ------------------------------------------------------------------
  // multimodal
  // ------------------------------------------------------------------

  test("mm_assets wraps text as binary assets; mm_chunks samples payload") {
    val out = run(
      """{"xop": {"name": "mm_chunks", "args": {"chunk_size": 4, "stride": 2}},
          "from": {"xop": {"name": "mm_assets", "args": {"id": "id", "column": "text"}}},
          "order_by": ["asset_id", "chunk_index"]}""")
    assert(out.columns.toSeq == Seq("asset_id", "chunk_index", "chunk_bytes"))
    assert(out.count() > 6) // several chunks per doc
  }

  test("mm_meta header-decodes payloads through the xop surface") {
    // text payloads are not valid image containers → unknown/null dims,
    // but real byte lengths; the REAL-bytes parse paths are pinned in
    // OpsSpec against ImageIO-encoded fixtures
    val out = run(
      """{"xop": {"name": "mm_meta"},
          "from": {"xop": {"name": "mm_assets", "args": {"id": "id", "column": "text"}}},
          "order_by": ["asset_id"]}""")
    assert(out.columns.toSeq == Seq("asset_id", "media_type", "format",
      "width", "height", "payload_bytes"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(2) == "unknown"))
    assert(rows.forall(_.getLong(5) > 0L))
  }

  // ------------------------------------------------------------------
  // two-dataset operators through the resolver
  // ------------------------------------------------------------------

  lazy val evalSet: DataFrame = Ingest.fromCsv(spark,
    """eid,text
      |900,the quick brown fox jumps over the lazy dog
      |""".stripMargin)

  def resolver(name: String): Option[DataFrame] = name match {
    case "evalset" => Some(evalSet)
    case "xids" =>
      import spark.implicits._
      Some(Seq(2L, 4L).toDF("id"))
    case "dims" =>
      import spark.implicits._
      Some(Seq(("web", "crawl"), ("book", "curated")).toDF("src", "label"))
    case "qset" =>
      import spark.implicits._
      Some(Seq((1L, "quick fox"), (2L, "liquor jugs"))
        .toDF("query_id", "query_text"))
    case "clicks" =>
      import spark.implicits._
      Some(Seq(
        (200L, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 1L, 1.0),
        (201L, java.sql.Timestamp.valueOf("2024-01-01 10:00:59"), 1L, 2.0),
        (202L, java.sql.Timestamp.valueOf("2024-01-01 10:01:30"), 2L, 4.0))
        .toDF("event_id", "ts", "user_id", "value"))
    case _ => None
  }

  test("corpus_diff xop reports drift vs a stored old version") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val oldVersion: String => Option[DataFrame] = n =>
      if (n == "old") Some(docs.filter(col("id") =!= 6)
        .withColumn("text",
          when(col("id") === 1, lit("totally different words"))
            .otherwise(col("text"))))
      else None
    val out = QueryEngine.run(docs,
      """{"xop": {"name": "corpus_diff",
                  "args": {"id": "id", "column": "text", "old": "old"}},
          "order_by": ["id"]}""", oldVersion).df
    assert(out.columns.toSeq == Seq("id", "status"))
    val rows = out.collect().map(r =>
      (r.getAs[Number](0).longValue, r.getString(1))).toSeq
    assert(rows == Seq(1L -> "changed", 2L -> "unchanged", 3L -> "unchanged",
      4L -> "unchanged", 5L -> "unchanged", 6L -> "added"))
    intercept[MalformedQueryException] { QueryEngine.run(docs,
      """{"xop": {"name": "corpus_diff",
                  "args": {"id": "id", "column": "text", "old": "old",
                           "old_id": "nope"}}}""", oldVersion) }
  }

  test("retention xop cohorts the event frame; guards ts shape") {
    import spark.implicits._
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 1L, 1.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-02 11:00:00"), 2L, 1.0))
      .toDF("event_id", "ts", "user_id", "value")
    val out = QueryEngine.run(ev,
      """{"xop": {"name": "retention",
                  "args": {"period_seconds": 86400, "max_offset": 7}},
          "order_by": ["cohort", "offset"]}""").df
    assert(out.columns.toSeq == Seq("cohort", "offset", "n_users"))
    assert(out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((19723L, 0L, 1L), (19723L, 1L, 1L), (19724L, 0L, 1L)))
    // docs frame has no user_id/ts → 400
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "retention"}}""") }
    intercept[MalformedQueryException] { QueryEngine.run(ev,
      """{"xop": {"name": "retention", "args": {"period_seconds": 0}}}""") }
  }

  test("interval_join attributes same-key in-horizon matches via the resolver") {
    import spark.implicits._
    val anchors = Seq(
      (100L, java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), 1L, 0.0),
      (101L, java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), 2L, 0.0))
      .toDF("event_id", "ts", "user_id", "value")
    val out = QueryEngine.run(anchors,
      """{"xop": {"name": "interval_join",
                  "args": {"right": "clicks", "key": "user_id", "horizon": 60}},
          "order_by": ["anchor_id"]}""", resolver).df
    // anchor 100 (user 1, horizon [10:01:00, 10:02:00]) matches the
    // 10:01:00 click only — 10:00:59 is 1s outside the closed start;
    // anchor 101 (user 2) matches the 10:01:30 click
    assert(out.collect().map(r => (r.getAs[Long]("anchor_id"),
      r.getAs[Double]("match_value"))).toSeq == Seq((100L, 1.0), (101L, 4.0)))
    // how=left keeps a matchless anchor with null match fields
    val left = QueryEngine.run(anchors,
      """{"xop": {"name": "interval_join",
                  "args": {"right": "clicks", "key": "user_id", "horizon": 30,
                           "how": "left"}},
          "order_by": ["anchor_id"]}""", resolver).df
    // horizon 30 drops anchor 100's 10:01:00 click (60s away); 101 keeps
    // its 10:01:30 click (30s away, closed end)
    assert(left.collect().map(r => (r.getAs[Long]("anchor_id"),
      Option(r.getAs[java.lang.Double]("match_value")).map(_.doubleValue))).toSeq
      == Seq((100L, None), (101L, Some(4.0))))
    intercept[MalformedQueryException] { QueryEngine.run(anchors,
      """{"xop": {"name": "interval_join",
                  "args": {"right": "clicks", "key": "user_id", "horizon": 30,
                           "how": "anti"}}}""", resolver).df }
    // horizon is required and non-negative; ts must be a timestamp
    intercept[MalformedQueryException] { QueryEngine.run(anchors,
      """{"xop": {"name": "interval_join",
                  "args": {"right": "clicks", "key": "user_id"}}}""", resolver).df }
    intercept[MalformedQueryException] { QueryEngine.run(
      anchors.withColumn("ts", org.apache.spark.sql.functions.lit(5L)),
      """{"xop": {"name": "interval_join",
                  "args": {"right": "clicks", "key": "user_id", "horizon": 60}}}""",
      resolver).df }
  }

  test("decontaminate drops train docs sharing n-grams with a stored eval set") {
    val out = QueryEngine.run(docs,
      """{"xop": {"name": "decontaminate",
                  "args": {"id": "id", "column": "text", "eval": "evalset"}},
          "order_by": ["id"]}""", resolver).df
    assert(ids(out) == Seq(2L, 4L, 5L, 6L))
    val flagged = QueryEngine.run(docs,
      """{"xop": {"name": "decontaminate",
                  "args": {"id": "id", "column": "text", "eval": "evalset",
                           "action": "flag"}},
          "order_by": ["id"]}""", resolver).df
    assert(ids(flagged) == Seq(1L, 3L))
    // scrub: contaminated docs keep their UNSHARED text instead of dying
    val scrubbed = QueryEngine.run(docs,
      """{"xop": {"name": "decontaminate",
                  "args": {"id": "id", "column": "text", "eval": "evalset",
                           "action": "scrub"}},
          "order_by": ["id"]}""", resolver).df
    assert(ids(scrubbed) == Seq(1L, 2L, 3L, 4L, 5L, 6L)) // every train row survives
    val removed = scrubbed.collect()
      .map(r => r.getAs[Number]("id").longValue -> r.getAs[Long]("n_tokens_removed")).toMap
    assert(removed(1L) > 0L && removed(3L) > 0L) // the flagged docs lost spans
    assert(removed(2L) == 0L && removed(4L) == 0L)
  }

  test("decontaminate serves the eval side from a persisted index") {
    val root = java.nio.file.Files.createTempDirectory("xop_dc").toString
    graft.ops.DecontIndex.buildAndSave(evalSet, "text", s"$root/dc", n = 8)
    spark.conf.set("spark.graft.index.root", root)
    try {
      // index-served flag/drop must equal the inline eval-relation path
      val flagged = QueryEngine.run(docs,
        """{"xop": {"name": "decontaminate",
                    "args": {"id": "id", "column": "text", "index": "dc",
                             "action": "flag"}},
            "order_by": ["id"]}""", resolver).df
      assert(ids(flagged) == Seq(1L, 3L))
      val dropped = QueryEngine.run(docs,
        """{"xop": {"name": "decontaminate",
                    "args": {"id": "id", "column": "text", "index": "dc"}},
            "order_by": ["id"]}""", resolver).df
      assert(ids(dropped) == Seq(2L, 4L, 5L, 6L))
      // verify_index recomputes the fingerprint against the named eval
      // relation: green on the suite the index was built from
      assert(ids(QueryEngine.run(docs,
        """{"xop": {"name": "decontaminate",
                    "args": {"id": "id", "column": "text", "index": "dc",
                             "eval": "evalset", "eval_column": "text",
                             "verify_index": true, "action": "flag"}},
            "order_by": ["id"]}""", resolver).df) == Seq(1L, 3L))
      // ...and a 400 when the suite drifted from the artifact
      val stale = intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "decontaminate",
                    "args": {"id": "id", "column": "text", "index": "dc",
                             "eval": "xdocs", "eval_column": "text",
                             "verify_index": true}}}""",
        n => if (n == "xdocs") Some(docs) else resolver(n)) }
      assert(stale.getMessage.contains("stale"))
      // arg taxonomy: the index fixes n; eval alongside index (without
      // verify) is ambiguous; scrub is not index-served; verify_index
      // without index is meaningless
      assert(intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "decontaminate",
                    "args": {"id": "id", "column": "text", "index": "dc",
                             "n": 4}}}""", resolver) }
        .getMessage.contains("fixes 'n'"))
      assert(intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "decontaminate",
                    "args": {"id": "id", "column": "text", "index": "dc",
                             "eval": "evalset"}}}""", resolver) }
        .getMessage.contains("ambiguous"))
      assert(intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "decontaminate",
                    "args": {"id": "id", "column": "text", "index": "dc",
                             "action": "scrub"}}}""", resolver) }
        .getMessage.contains("not index-served"))
      assert(intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "decontaminate",
                    "args": {"id": "id", "column": "text", "eval": "evalset",
                             "verify_index": true}}}""", resolver) }
        .getMessage.contains("requires 'index'"))
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("char_entropy xop appends the entropy signal") {
    val out = run(
      """{"xop": {"name": "char_entropy", "args": {"column": "text"}},
          "where": [">", "entropy", 0.5], "order_by": ["id"]}""")
    assert(out.columns.contains("entropy"))
    assert(out.count() >= 5) // only the degenerate "a a a..." row can score low
  }

  test("quantiles xop emits per-group long-form quantiles") {
    val out = run(
      """{"xop": {"name": "quantiles",
                  "args": {"group": "src", "column": "id", "qs": [0.5]}},
          "order_by": ["src"]}""")
    val rows = out.collect().map(r =>
      (r.getAs[String]("src"), r.getAs[Double]("quantile"), r.getAs[Double]("value")))
    assert(rows.length == 2)
    assert(rows.forall(_._2 == 0.5))
  }

  test("line_dedup xop strips corpus-duplicated lines, keeps first owners") {
    // single-line docs: line dedup degenerates to whole-text keep-first
    // (ids 3 and 6 duplicate 1 and 2 → emptied)
    val out = run(
      """{"xop": {"name": "line_dedup", "args": {"id": "id", "column": "text"}},
          "order_by": ["id"]}""")
    assert(out.collect().map(_.getAs[Long]("n_kept")).toSeq ==
      Seq(1L, 1L, 0L, 1L, 1L, 0L))
  }

  test("mixture_weights xop plans the epoch mix from token supply vs targets") {
    val out = run(
      """{"xop": {"name": "mixture_weights",
                  "args": {"source": "src", "column": "text",
                           "targets": {"web": 0.5, "nope": 0.1},
                           "budget_tokens": 100, "max_weight": 2.0}},
          "order_by": ["source"]}""")
    val rows = out.collect().map(r => (r.getAs[String]("source"),
      r.getAs[Long]("available_tokens"), r.getAs[Double]("weight"),
      r.getAs[String]("status"))).toSeq
    // web supply = 9+8+9+8 = 34 tokens → 0.5·100/34 ≈ 1.470588 epochs;
    // book is present but untargeted (weight 0, ok); nope has no docs
    assert(rows == Seq(
      ("book", 17L, 0.0, "ok"),
      ("nope", 0L, 0.0, "no_supply"),
      ("web", 34L, 1.470588, "ok")))
    // targets and budget_tokens are mandatory; bad budgets 400
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "mixture_weights",
                  "args": {"source": "src", "column": "text",
                           "budget_tokens": 100}}}""") }
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "mixture_weights",
                  "args": {"source": "src", "column": "text",
                           "targets": {"web": 0.5}, "budget_tokens": 0}}}""") }
  }

  test("dedup_sweep xop reports the drop curve; families validate their args") {
    // exact family over the fixture: texts 1/3 and 2/6 are exact dups →
    // two docs drop at every threshold up to 1.0
    val out = run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "max_id": 100,
                           "thresholds": [0.5, 1.0]}}}""")
    val rows = out.collect().map(r => (r.getDouble(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).toSeq
    assert(rows == Seq((0.5, 2L, 6L, 0.3333), (1.0, 2L, 6L, 0.3333)))
    // the minhash family finds the same exact dups (production path)
    val mh = run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "family": "minhash",
                           "thresholds": [0.5]}}}""").collect()
    assert(mh.head.getLong(1) == 2L)
    // arg taxonomy: thresholds mandatory and bounded; jaccard needs
    // max_id; minhash-only args 400 under jaccard; unknown family 400s
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "max_id": 100}}}""") }
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "max_id": 100,
                           "thresholds": [1.5]}}}""") }
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text",
                           "thresholds": [0.5]}}}""") }
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "max_id": 100,
                           "bands": 8, "thresholds": [0.5]}}}""") }
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "max_id": 100,
                           "family": "zap", "thresholds": [0.5]}}}""") }
  }

  test("weighted dedup_minhash/dedup_sweep match the expanded truth without expanded pairs") {
    // the fixture's duplication is EXACT (1≡3, 2≡6), so the weighted
    // collapse absorbs it entirely: the rep-level pair relation is
    // empty at the default threshold, yet drop and the sweep reproduce
    // the unweighted answers exactly
    val wp = run(
      """{"xop": {"name": "dedup_minhash",
                  "args": {"id": "id", "column": "text", "weighted": true}}}""")
    assert(wp.columns.toSeq ==
      Seq("id_a", "id_b", "est_jaccard", "mult_a", "mult_b"))
    assert(wp.count() == 0L)
    val wd = run(
      """{"xop": {"name": "dedup_minhash",
                  "args": {"id": "id", "column": "text", "weighted": true,
                           "action": "drop"}},
          "order_by": ["id"]}""")
    assert(ids(wd) == Seq(1L, 2L, 4L, 5L)) // = the unweighted drop
    // weighted sweep, exact family: same curve as the unweighted one
    val ws = run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "max_id": 100,
                           "weighted": true, "thresholds": [0.5, 1.0]}}}""")
    assert(ws.collect().map(r => (r.getDouble(0), r.getLong(1),
      r.getLong(2), r.getDouble(3))).toSeq ==
      Seq((0.5, 2L, 6L, 0.3333), (1.0, 2L, 6L, 0.3333)))
    // weighted sweep, minhash family (the full-corpus production path)
    val wm = run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "family": "minhash",
                           "weighted": true, "thresholds": [0.5]}}}""").collect()
    assert(wm.head.getLong(1) == 2L)
    // taxonomy: keep_best's score is rep-fixed under weighted; weighted
    // sweeps are inline-only; weighted must be a boolean
    val eS = intercept[MalformedQueryException] { run(
      """{"xop": {"name": "dedup_minhash",
                  "args": {"id": "id", "column": "text", "weighted": true,
                           "action": "keep_best", "score": "id"}}}""") }
    assert(eS.getMessage.contains("not available weighted"))
    val eI = intercept[MalformedQueryException] { run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "family": "minhash",
                           "weighted": true, "index": "nope",
                           "thresholds": [0.5]}}}""") }
    assert(eI.getMessage.contains("inline-only"))
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "dedup_minhash",
                  "args": {"id": "id", "column": "text", "weighted": 1}}}""") }
  }

  test("weighted dedup_simhash + simhash sweep family match the unweighted truth") {
    // exact dups collapse (1≡3, 2≡6): rep-level hamming-0 pairs are
    // empty, yet drop and the sweep reproduce the unweighted answers
    val sp = run(
      """{"xop": {"name": "dedup_simhash",
                  "args": {"id": "id", "column": "text", "max_hamming": 0,
                           "weighted": true}}}""")
    assert(sp.columns.toSeq ==
      Seq("id_a", "id_b", "hamming", "mult_a", "mult_b"))
    assert(sp.count() == 0L)
    val sd = run(
      """{"xop": {"name": "dedup_simhash",
                  "args": {"id": "id", "column": "text", "max_hamming": 0,
                           "weighted": true, "action": "drop"}},
          "order_by": ["id"]}""")
    assert(ids(sd) == Seq(1L, 2L, 4L, 5L))
    def curve(df: DataFrame) = df.collect().map(r => (r.getDouble(0),
      r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val su = curve(run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "family": "simhash",
                           "thresholds": [0.9531, 1.0]}}}"""))
    val sw = curve(run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "family": "simhash",
                           "weighted": true, "thresholds": [0.9531, 1.0]}}}"""))
    assert(su == sw)
    assert(su.last == ((1.0, 2L, 6L, 0.3333))) // the two exact dups
    // keep_best's score is rep-fixed under weighted; simhash sweeps
    // take no banding args
    val eS = intercept[MalformedQueryException] { run(
      """{"xop": {"name": "dedup_simhash",
                  "args": {"id": "id", "column": "text", "weighted": true,
                           "action": "keep_best", "score": "id"}}}""") }
    assert(eS.getMessage.contains("not available weighted"))
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "text", "family": "simhash",
                           "bands": 4, "thresholds": [0.9]}}}""") }
  }

  test("weighted dedup_embcos + embcos sweep family match the unweighted truth") {
    val wp = runV(
      """{"xop": {"name": "dedup_embcos",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "weighted": true}}}""")
    assert(wp.columns.toSeq == Seq("id_a", "id_b", "cos", "mult_a", "mult_b"))
    assert(pairs(wp) == Seq((1L, 2L), (3L, 4L))) // no exact-dup vectors
    assert(wp.select("mult_a", "mult_b").collect()
      .forall(r => r.getLong(0) == 1L && r.getLong(1) == 1L))
    val wd = runV(
      """{"xop": {"name": "dedup_embcos",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "weighted": true, "action": "drop"}},
          "order_by": ["id"]}""")
    assert(ids(wd) == Seq(1L, 3L, 5L))
    def curve(df: DataFrame) = df.collect().map(r => (r.getDouble(0),
      r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val cu = curve(runV(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "vec", "family": "embcos",
                           "thresholds": [0.99, 1.0]}}}"""))
    val cw = curve(runV(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "vec", "family": "embcos",
                           "weighted": true, "thresholds": [0.99, 1.0]}}}"""))
    assert(cu == cw)
    assert(cu == Seq((0.99, 2L, 5L, 0.4), (1.0, 0L, 5L, 0.0)))
    // embcos needs a numeric-array column; score rep-fixed weighted
    intercept[MalformedQueryException] { runV(
      """{"xop": {"name": "dedup_sweep",
                  "args": {"id": "id", "column": "label", "family": "embcos",
                           "thresholds": [0.99]}}}""") }
    val eS = intercept[MalformedQueryException] { runV(
      """{"xop": {"name": "dedup_embcos",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "weighted": true, "action": "keep_best",
                           "score": "id"}}}""") }
    assert(eS.getMessage.contains("not available weighted"))
  }

  test("weighted audit_pairs reviews representative pairs with class sizes") {
    val wq = run(
      """{"xop": {"name": "audit_pairs",
                  "args": {"id": "id", "column": "text", "max_id": 100,
                           "threshold": 0.5, "k": 3, "weighted": true}}}""")
    assert(wq.columns.toSeq == Seq("id_a", "id_b", "score", "dist",
      "mult_a", "mult_b", "text_a", "text_b"))
    // ≡ the unweighted queue over the collapsed corpus, sizes attached
    val reps = graft.ops.Dedup.exactByText(docs, "text", "id")
    val direct = graft.ops.Dedup.auditPairs(
      graft.ops.Dedup.shingleJaccardPairsExact(reps, "id", "text", 100, 0.0, 3),
      "jaccard", reps, "id", "text", 0.5, 3).collect()
    val got = wq.collect()
    assert(got.length == 3)
    assert(got.map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue, r.getDouble(2))).toSeq ==
      direct.map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue, r.getDouble(2))).toSeq)
    // classes {1,3} and {2,6} have size 2; singletons 4, 5 size 1
    val m = got.map(r => (r.getAs[Number](0).longValue,
      r.getAs[Number](1).longValue) ->
      (r.getAs[Long]("mult_a"), r.getAs[Long]("mult_b"))).toMap
    for (((a, b), (ma, mb)) <- m) {
      assert(ma == (if (a <= 2) 2L else 1L))
      assert(mb == (if (b <= 2) 2L else 1L))
    }
  }

  test("common_line_scrub xop drops lines shared by min_docs distinct documents") {
    // single-line docs: the two texts shared by two docs each (1/3 and
    // 2/6) are boilerplate at min_docs=2 and vanish from ALL FOUR; the
    // unique texts (4, 5) survive
    val out = run(
      """{"xop": {"name": "common_line_scrub",
                  "args": {"id": "id", "column": "text", "min_docs": 2}},
          "order_by": ["id"]}""")
    assert(out.collect().map(_.getAs[Long]("n_kept")).toSeq ==
      Seq(0L, 0L, 0L, 1L, 1L, 0L))
    // min_docs=1 would scrub everything — rejected
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "common_line_scrub",
                  "args": {"id": "id", "column": "text", "min_docs": 1}}}""") }
  }

  test("text_chunks and oov_rate xops run and validate args") {
    val chunks = run(
      """{"xop": {"name": "text_chunks",
                  "args": {"id": "id", "column": "text",
                           "chunk_tokens": 4, "stride": 2}},
          "order_by": ["id", "chunk_idx"]}""")
    assert(chunks.count() > 6) // every multi-token doc expands
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "text_chunks",
                  "args": {"id": "id", "column": "text",
                           "chunk_tokens": 4, "stride": 5}}}""") }
    val oov = run(
      """{"xop": {"name": "oov_rate",
                  "args": {"id": "id", "column": "text", "vocab": 5}},
          "order_by": ["id"]}""")
    assert(oov.count() == 6)
    assert(oov.columns.contains("oov_rate"))
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "oov_rate",
                  "args": {"id": "id", "column": "text", "vocab": 0}}}""") }
  }

  test("sample_weighted xop draws a k-bounded deterministic sample") {
    val out = run(
      """{"xop": {"name": "sample_weighted",
                  "args": {"id": "id", "weight": "id", "k": 3}},
          "order_by": ["id"]}""")
    val first = ids(out)
    assert(first.length == 3)
    assert(ids(run(
      """{"xop": {"name": "sample_weighted",
                  "args": {"id": "id", "weight": "id", "k": 3}},
          "order_by": ["id"]}""")) == first) // reproducible
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "sample_weighted",
                  "args": {"id": "id", "weight": "id", "k": 0}}}""") }
  }

  test("line_quality xop filters lines and validates its args") {
    // fixture docs have no terminal punctuation → everything drops with
    // defaults; relaxing the punct rule keeps the long docs' single line
    val strict = run(
      """{"xop": {"name": "line_quality", "args": {"column": "text"}},
          "order_by": ["id"]}""")
    assert(strict.collect().map(_.getAs[Long]("n_kept")).forall(_ == 0L))
    val loose = run(
      """{"xop": {"name": "line_quality",
                  "args": {"column": "text", "require_punct": false,
                           "banned": ["liquor"]}},
          "order_by": ["id"]}""")
    val kept = loose.collect().map(r =>
      r.getAs[Number]("id").longValue -> r.getAs[Long]("n_kept")).toMap
    assert(kept(1L) == 1L && kept(4L) == 1L)
    assert(kept(2L) == 0L && kept(6L) == 0L) // "liquor" banned
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "line_quality",
                  "args": {"column": "text", "banned": [7]}}}""") }
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "line_quality",
                  "args": {"column": "text", "min_words": -1}}}""") }
  }

  test("quantiles/quantile_band approx flag runs the sketch path") {
    // approx_percentile returns an actual group ELEMENT (no
    // interpolation), so assert membership rather than the exact-path
    // interpolated value; the long-form shape is identical
    val out = run(
      """{"xop": {"name": "quantiles",
                  "args": {"group": "src", "column": "id", "qs": [0.5],
                           "approx": true}},
          "order_by": ["src"]}""")
    val groups = Map("web" -> Set(1.0, 2.0, 3.0, 6.0), "book" -> Set(4.0, 5.0))
    val rows = out.collect().map(r =>
      (r.getAs[String]("src"), r.getAs[Double]("quantile"), r.getAs[Double]("value")))
    assert(rows.length == 2)
    assert(rows.forall { case (g, q, v) => q == 0.5 && groups(g)(v) })
    // band extremes are exact order statistics in the sketch too:
    // the full [0,1] band keeps everything
    val band = run(
      """{"xop": {"name": "quantile_band",
                  "args": {"group": "src", "column": "id",
                           "lo": 0.0, "hi": 1.0, "approx": true}}}""")
    assert(band.count() == 6)
    // non-boolean approx is a 400
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "quantiles",
                  "args": {"group": "src", "column": "id", "approx": 7}}}""") }
  }

  test("pmi_pairs max_doc_tokens caps expansion and validates its range") {
    val capped = run(
      """{"xop": {"name": "pmi_pairs",
                  "args": {"column": "text", "k": 5, "max_doc_tokens": 4}}}""")
    assert(capped.count() <= 5) // completes with the alphabetical-prefix cap
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "pmi_pairs",
                  "args": {"column": "text", "max_doc_tokens": 1}}}""") }
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "pmi_pairs",
                  "args": {"column": "text", "max_doc_tokens": 100000}}}""") }
  }

  test("pii_redact xop scrubs and counts") {
    import spark.implicits._
    val msgs = Seq((1L, "write to a@b.example.com now")).toDF("id", "text")
    val out = QueryEngine.run(msgs,
      """{"xop": {"name": "pii_redact", "args": {"column": "text"}}}""").df.head()
    assert(out.getAs[Number]("n_emails").intValue == 1)
    assert(out.getAs[String]("redacted") == "write to <EMAIL> now")
  }

  test("sample_topk xop keeps the best k per group (composes with quality)") {
    val out = run(
      """{"xop": {"name": "sample_topk",
                  "args": {"group": "src", "id": "id", "score": "quality_score", "k": 1}},
          "from": {"xop": {"name": "text_quality", "args": {"column": "text"}}},
          "select": ["id", "src"], "order_by": ["src", "id"]}""")
    assert(out.count() == 2) // one winner per source
  }

  test("asof xop joins the latest right row from a stored dataset") {
    import spark.implicits._
    val lefts = Seq((1L, 10L, "q1"), (1L, 3L, "q2")).toDF("k", "t", "tag")
    val rights = Seq((1L, 5L, 1.5), (1L, 9L, 2.5)).toDF("k", "t", "price")
    val out = QueryEngine.run(lefts,
      """{"xop": {"name": "asof",
                  "args": {"right": "prices", "key": "k", "time": "t",
                           "payload": ["price"]}},
          "order_by": ["t"]}""",
      n => if (n == "prices") Some(rights) else None).df.collect()
    assert(Option(out(0).get(out(0).fieldIndex("price"))).isEmpty) // t=3: none before
    assert(out(1).getAs[Double]("price") == 2.5)                   // t=10: latest is 9

    // explicit granule: same result through the segmented path; zero/
    // negative granule is a 400-class malformed error
    val seg = QueryEngine.run(lefts,
      """{"xop": {"name": "asof",
                  "args": {"right": "prices", "key": "k", "time": "t",
                           "payload": ["price"], "granule": 4}},
          "order_by": ["t"]}""",
      n => if (n == "prices") Some(rights) else None).df.collect()
    assert(seg.map(r => Option(r.get(r.fieldIndex("price")))).toSeq ==
      out.map(r => Option(r.get(r.fieldIndex("price")))).toSeq)
    intercept[graft.engine.MalformedQueryException] {
      QueryEngine.run(lefts,
        """{"xop": {"name": "asof",
                    "args": {"right": "prices", "key": "k", "time": "t",
                             "payload": ["price"], "granule": 0}}}""",
        n => if (n == "prices") Some(rights) else None).df.collect()
    }
  }

  test("minhash_against xop flags/drops near-dups of a stored corpus") {
    // evalset holds the fox sentence — docs 1 and 3 near-duplicate it
    val pairs = QueryEngine.run(docs,
      """{"xop": {"name": "minhash_against",
                  "args": {"id": "id", "column": "text", "corpus": "evalset",
                           "corpus_id": "eid", "corpus_column": "text",
                           "threshold": 0.5}},
          "order_by": ["batch_id"]}""", resolver).df
    assert(pairs.columns.toSeq == Seq("batch_id", "corpus_id", "est_jaccard"))
    assert(pairs.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(1L, 3L))
    val admitted = QueryEngine.run(docs,
      """{"xop": {"name": "minhash_against",
                  "args": {"id": "id", "column": "text", "corpus": "evalset",
                           "corpus_id": "eid", "corpus_column": "text",
                           "threshold": 0.5, "action": "drop"}},
          "order_by": ["id"]}""", resolver).df
    assert(ids(admitted) == Seq(2L, 4L, 5L, 6L))
    intercept[MalformedQueryException] { QueryEngine.run(docs,
      """{"xop": {"name": "minhash_against",
                  "args": {"id": "id", "column": "text", "corpus": "evalset",
                           "corpus_id": "eid", "bands": 7}}}""", resolver) }
  }

  test("minhash_against 'index': persisted signatures replace the corpus side") {
    val root = java.nio.file.Files.createTempDirectory("xop_mh_index").toString
    graft.ops.MinHashIndex.buildAndSave(evalSet, "eid", "text", path = s"$root/mh")
    spark.conf.set("spark.graft.index.root", root)
    try {
      // index-served probe matches the inline corpus probe exactly
      val viaIndex = QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "index": "mh",
                             "threshold": 0.5}},
            "order_by": ["batch_id"]}""", resolver).df
      assert(viaIndex.columns.toSeq == Seq("batch_id", "corpus_id", "est_jaccard"))
      assert(viaIndex.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(1L, 3L))
      val dropIdx = QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "index": "mh",
                             "threshold": 0.5, "action": "drop"}},
            "order_by": ["id"]}""", resolver).df
      assert(ids(dropIdx) == Seq(2L, 4L, 5L, 6L))
      // the artifact fixes the signature parameters
      intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "index": "mh",
                             "num_hashes": 32}}}""", resolver) }
      intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "index": "mh",
                             "shingle": 2}}}""", resolver) }
      // bands stays probe-time, but must divide the artifact's hashes
      intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "index": "mh",
                             "bands": 7}}}""", resolver) }
      // a corpus alongside the index is only admitted for verification
      intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "index": "mh",
                             "corpus": "evalset"}}}""", resolver) }
      // verify_index without index is meaningless
      intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "corpus": "evalset",
                             "corpus_id": "eid", "verify_index": true}}}""", resolver) }
      // verify_index + fresh corpus: clean pass, same output
      val verified = QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "index": "mh",
                             "verify_index": true, "corpus": "evalset",
                             "corpus_id": "eid", "threshold": 0.5}},
            "order_by": ["batch_id"]}""", resolver).df
      assert(verified.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(1L, 3L))
      // verify_index + an in-place text edit (same count, same ids):
      // stale — the drift only a content fingerprint can see
      val editedEval: String => Option[DataFrame] =
        n => if (n == "evalset") Some(Ingest.fromCsv(spark,
          """eid,text
            |900,the slow brown fox naps under the lazy dog
            |""".stripMargin)) else None
      val eStale = intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "index": "mh",
                             "verify_index": true, "corpus": "evalset",
                             "corpus_id": "eid"}}}""", editedEval) }
      assert(eStale.getMessage.contains("stale"))
      // identity tripwire: verification against a renamed id column
      val renamedEval: String => Option[DataFrame] =
        n => if (n == "evalset") Some(evalSet.withColumnRenamed("eid", "other_id"))
             else None
      val eName = intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "index": "mh",
                             "verify_index": true, "corpus": "evalset",
                             "corpus_id": "other_id"}}}""", renamedEval) }
      assert(eName.getMessage.contains("built over column"))
      // a bloom artifact under the same root is a foreign kind here
      graft.ops.BloomIndex.buildAndSave(
        { import spark.implicits._; Seq(2L).toDF("id") }, "id", 0.01, s"$root/bl2")
      intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "index": "bl2"}}}""",
        resolver) }
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("index_update xop refreshes a persisted minhash index in place") {
    val root = java.nio.file.Files.createTempDirectory("xop_mh_upd").toString
    graft.ops.MinHashIndex.buildAndSave(evalSet, "eid", "text", path = s"$root/mh")
    spark.conf.set("spark.graft.index.root", root)
    try {
      // corpus v2: the stored row edited in place, one new row
      val v2 = Ingest.fromCsv(spark,
        """eid,text
          |900,the quick brown fox jumps over the lazy cat
          |901,pack my box with five dozen liquor jugs
          |""".stripMargin)
      val rep = QueryEngine.run(v2,
        """{"xop": {"name": "index_update",
                    "args": {"id": "eid", "column": "text", "index": "mh"}}}""",
        resolver).df.collect()
      assert(rep.length == 1)
      val r = rep.head
      assert(r.getAs[Long]("n_docs_before") == 1L &&
        r.getAs[Long]("n_docs") == 2L && r.getAs[Boolean]("changed"))
      // the refreshed artifact passes the STRONG content check against v2
      graft.ops.MinHashIndex.verifyContent(spark, s"$root/mh", v2, "eid", "text")
      // and index-served probes now see v2: docs 2/6 match the NEW 901
      // row, docs 1/3 still clear the 0.5 bar against the edited 900
      val probe = QueryEngine.run(docs,
        """{"xop": {"name": "minhash_against",
                    "args": {"id": "id", "column": "text", "index": "mh",
                             "threshold": 0.5}},
            "order_by": ["batch_id"]}""", resolver).df
      assert(probe.collect().map(_.getAs[Number](0).longValue).toSeq ==
        Seq(1L, 2L, 3L, 6L))
      // drift-free corpus: a no-op reporting changed=false
      val rep2 = QueryEngine.run(v2,
        """{"xop": {"name": "index_update",
                    "args": {"id": "eid", "column": "text", "index": "mh"}}}""",
        resolver).df.collect().head
      assert(!rep2.getAs[Boolean]("changed") &&
        rep2.getAs[String]("fingerprint") == r.getAs[String]("fingerprint"))
      // the index arg is mandatory, and unknown args are rejected
      intercept[MalformedQueryException] { QueryEngine.run(v2,
        """{"xop": {"name": "index_update",
                    "args": {"id": "eid", "column": "text"}}}""", resolver) }
      intercept[MalformedQueryException] { QueryEngine.run(v2,
        """{"xop": {"name": "index_update",
                    "args": {"id": "eid", "column": "text", "index": "mh",
                             "num_hashes": 32}}}""", resolver) }
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("bloom_update xop grows a persisted exclusion sketch incrementally") {
    val root = java.nio.file.Files.createTempDirectory("xop_bl_upd").toString
    import spark.implicits._
    val v1 = (1L to 30L).map(Tuple1(_)).toDF("id")
    graft.ops.BloomIndex.buildAndSave(v1, "id", fpp = 0.01, s"$root/bl")
    spark.conf.set("spark.graft.index.root", root)
    try {
      // refresh: five arriving ids (the query frame), three departures
      // (a resolver-named dataset)
      val added = (31L to 35L).map(Tuple1(_)).toDF("id")
      val gone: String => Option[DataFrame] =
        n => if (n == "gone") Some((1L to 30L by 10).map(Tuple1(_)).toDF("id"))
             else None
      val rep = QueryEngine.run(added,
        """{"xop": {"name": "bloom_update",
                    "args": {"id": "id", "index": "bl", "removed": "gone"}}}""",
        gone).df.collect()
      assert(rep.length == 1)
      val r = rep.head
      assert(r.getAs[Long]("n_ids_before") == 30L &&
        r.getAs[Long]("n_ids") == 32L &&
        r.getAs[Long]("n_inserted") == 35L && // monotone: removals don't decrement
        r.getAs[Boolean]("changed"))
      // the manifest tracks the CURRENT ledger: strong verification
      // passes against it, and the exclude_ids count tripwire agrees
      val removedSet = (1L to 30L by 10).toSet
      val current = ((1L to 30L).filterNot(removedSet) ++ (31L to 35L))
        .map(Tuple1(_)).toDF("id")
      graft.ops.BloomIndex.verifyContent(spark, s"$root/bl", current, "id")
      val corpus = (1L to 40L).map(i => (i, s"d$i")).toDF("id", "text")
      val cur: String => Option[DataFrame] =
        n => if (n == "cur") Some(current) else None
      val kept = QueryEngine.run(corpus,
        """{"xop": {"name": "exclude_ids",
                    "args": {"id": "id", "exclude": "cur", "index": "bl"}}}""",
        cur).df.select("id").collect().map(_.getLong(0)).toSet
      // departures are rescued by the exact anti-join (kept again);
      // arrivals are excluded; never-listed ids pass
      assert(kept == (removedSet ++ (36L to 40L)))
      // outgrowing the sketch surfaces the rebuild trigger as a 400
      val flood = (100L to 5100L).map(Tuple1(_)).toDF("id")
      val eG = intercept[MalformedQueryException] { QueryEngine.run(flood,
        """{"xop": {"name": "bloom_update",
                    "args": {"id": "id", "index": "bl"}}}""", resolver) }
      assert(eG.getMessage.contains("outgrown"))
      // removed_id without removed, and a missing index arg, are 400s
      intercept[MalformedQueryException] { QueryEngine.run(added,
        """{"xop": {"name": "bloom_update",
                    "args": {"id": "id", "index": "bl", "removed_id": "id"}}}""",
        resolver) }
      intercept[MalformedQueryException] { QueryEngine.run(added,
        """{"xop": {"name": "bloom_update", "args": {"id": "id"}}}""",
        resolver) }
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("vocab_update xop merges an appended batch into a persisted vocabulary") {
    val root = java.nio.file.Files.createTempDirectory("xop_vc_upd").toString
    import spark.implicits._
    val v1 = Seq((1L, "alpha beta alpha"), (2L, "beta gamma")).toDF("id", "text")
    val added = Seq((3L, "alpha delta delta delta")).toDF("id", "text")
    graft.ops.VocabIndex.buildAndSave(v1, "text", k = 4, path = s"$root/v",
      capacity = Some(1024))
    spark.conf.set("spark.graft.index.root", root)
    try {
      val rep = QueryEngine.run(added,
        """{"xop": {"name": "vocab_update",
                    "args": {"column": "text", "index": "v"}}}""",
        resolver).df.collect()
      assert(rep.length == 1)
      val r = rep.head
      assert(r.getAs[Long]("n_docs_before") == 2L &&
        r.getAs[Long]("n_docs") == 3L &&
        r.getAs[Long]("n_tokens") == 4L &&
        r.getAs[Long]("theta") == 0L &&
        r.getAs[Boolean]("changed"))
      // the merged artifact serves the union vocabulary: delta is now
      // the second-ranked token (3 occurrences, ties under alpha's 3)
      val art = graft.ops.VocabIndex.load(spark, s"$root/v")
      val toks = art.vocab.orderBy("rank").collect()
        .map(r2 => (r2.getString(0), r2.getLong(1))).toSeq
      assert(toks == Seq(("alpha", 3L), ("delta", 3L), ("beta", 2L), ("gamma", 1L)))
      graft.ops.VocabIndex.verifyContent(spark, s"$root/v",
        v1.unionByName(added), "text")
      // an exact-built artifact cannot be updated: 400, not a crash
      graft.ops.VocabIndex.buildAndSave(v1, "text", k = 4, path = s"$root/ex")
      val e = intercept[MalformedQueryException] { QueryEngine.run(added,
        """{"xop": {"name": "vocab_update",
                    "args": {"column": "text", "index": "ex"}}}""", resolver) }
      assert(e.getMessage.contains("rebuild with a capacity"))
      // a missing index arg is a 400
      intercept[MalformedQueryException] { QueryEngine.run(added,
        """{"xop": {"name": "vocab_update", "args": {"column": "text"}}}""",
        resolver) }
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("vocab_remove_slab xop drops one ingest slab and re-merges survivors") {
    val root = java.nio.file.Files.createTempDirectory("xop_vc_rm").toString
    import spark.implicits._
    val v1 = Seq((1L, "alpha beta alpha"), (2L, "beta gamma")).toDF("id", "text")
    val added = Seq((3L, "alpha delta delta delta")).toDF("id", "text")
    graft.ops.VocabIndex.buildAndSave(v1, "text", k = 4, path = s"$root/v",
      capacity = Some(1024))
    graft.ops.VocabIndex.update(spark, s"$root/v", added, "text")
    spark.conf.set("spark.graft.index.root", root)
    try {
      val rep = QueryEngine.run(v1,
        """{"xop": {"name": "vocab_remove_slab",
                    "args": {"index": "v", "slab": 1}}}""",
        resolver).df.collect()
      assert(rep.length == 1)
      val r = rep.head
      assert(r.getAs[Long]("n_docs_before") == 3L &&
        r.getAs[Long]("n_docs") == 2L &&
        r.getAs[Long]("n_slabs") == 1L)
      // the artifact is back to v1's exact vocabulary
      val art = graft.ops.VocabIndex.load(spark, s"$root/v")
      val toks = art.vocab.orderBy("rank").collect()
        .map(r2 => (r2.getString(0), r2.getLong(1))).toSeq
      assert(toks == Seq(("alpha", 2L), ("beta", 2L), ("gamma", 1L)))
      graft.ops.VocabIndex.verifyContent(spark, s"$root/v", v1, "text")
      // unknown slab / missing args are 400s, not crashes
      val e = intercept[MalformedQueryException] { QueryEngine.run(v1,
        """{"xop": {"name": "vocab_remove_slab",
                    "args": {"index": "v", "slab": 42}}}""", resolver) }
      assert(e.getMessage.contains("no slab"))
      intercept[MalformedQueryException] { QueryEngine.run(v1,
        """{"xop": {"name": "vocab_remove_slab", "args": {"index": "v"}}}""",
        resolver) }
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("vocab_compact xop folds old slabs into an epoch; force arg is maintenance-only") {
    val root = java.nio.file.Files.createTempDirectory("xop_vc_cp").toString
    import spark.implicits._
    val v1 = Seq((1L, "alpha beta alpha")).toDF("id", "text")
    val b2 = Seq((2L, "beta gamma")).toDF("id", "text")
    val b3 = Seq((3L, "alpha delta delta delta")).toDF("id", "text")
    graft.ops.VocabIndex.buildAndSave(v1, "text", k = 4, path = s"$root/v",
      capacity = Some(1024))
    graft.ops.VocabIndex.update(spark, s"$root/v", b2, "text")
    graft.ops.VocabIndex.update(spark, s"$root/v", b3, "text")
    spark.conf.set("spark.graft.index.root", root)
    try {
      val rep = QueryEngine.run(v1,
        """{"xop": {"name": "vocab_compact",
                    "args": {"index": "v", "keep_last": 1, "force": true}}}""",
        resolver).df.collect()
      assert(rep.length == 1)
      val r = rep.head
      assert(r.getAs[Long]("n_slabs_before") == 3L &&
        r.getAs[Long]("n_slabs") == 2L &&
        r.getAs[Long]("n_docs") == 3L &&
        r.getAs[Boolean]("changed"))
      // compacted ingests are rejected by name at the slab-removal verb
      val eC = intercept[MalformedQueryException] { QueryEngine.run(v1,
        """{"xop": {"name": "vocab_remove_slab",
                    "args": {"index": "v", "slab": 0}}}""", resolver) }
      assert(eC.getMessage.contains("compacted into epoch slab"))
      // a second compaction at the same cut is the documented no-op
      val again = QueryEngine.run(v1,
        """{"xop": {"name": "vocab_compact",
                    "args": {"index": "v", "keep_last": 1}}}""",
        resolver).df.collect().head
      assert(again.getAs[Long]("n_slabs") == 2L &&
        !again.getAs[Boolean]("changed"))
      // taxonomy: negative keep_last, force on a READ op, non-bool force
      intercept[MalformedQueryException] { QueryEngine.run(v1,
        """{"xop": {"name": "vocab_compact",
                    "args": {"index": "v", "keep_last": -1}}}""", resolver) }
      val eF = intercept[MalformedQueryException] { QueryEngine.run(v1,
        """{"xop": {"name": "dedup_exact",
                    "args": {"column": "text", "force": true}}}""", resolver) }
      assert(eF.getMessage.contains("only valid on maintenance ops"))
      intercept[MalformedQueryException] { QueryEngine.run(v1,
        """{"xop": {"name": "vocab_compact",
                    "args": {"index": "v", "force": "yes"}}}""", resolver) }
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("vocab_growth and token_spectrum xops report corpus shape") {
    import spark.implicits._
    val df = Seq((0L, "a b"), (1L, "a c"), (10L, "b d"))
      .toDF("id", "text")
    val curve = QueryEngine.run(df,
      """{"xop": {"name": "vocab_growth",
                  "args": {"id": "id", "column": "text", "granule": 10}}}""",
      resolver).df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(curve == Seq((0L, 3L, 3L), (10L, 1L, 4L)))
    val spec = QueryEngine.run(df,
      """{"xop": {"name": "token_spectrum", "args": {"column": "text"}}}""",
      resolver).df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // counts: a=2, b=2, c=1, d=1
    assert(spec == Seq((1L, 2L, 4L), (2L, 2L, 2L)))
    intercept[MalformedQueryException] { QueryEngine.run(df,
      """{"xop": {"name": "vocab_growth",
                  "args": {"id": "id", "column": "text", "granule": 0}}}""",
      resolver) }
  }

  test("ivf_refine xop re-centers a persisted quantizer in place") {
    val root = java.nio.file.Files.createTempDirectory("xop_ivf_ref").toString
    import spark.implicits._
    val r = new scala.util.Random(3)
    val vecs = (0L until 60L).map(i => (i, Seq.fill(4)(r.nextDouble() - 0.5)))
      .toDF("id", "vec")
    graft.ops.IvfIndex.buildAndSave(vecs, "id", "vec", nCells = 4,
      kmeansIters = 0, path = s"$root/q")
    spark.conf.set("spark.graft.index.root", root)
    try {
      val rep = QueryEngine.run(vecs,
        """{"xop": {"name": "ivf_refine",
                    "args": {"column": "vec", "index": "q", "iters": 2}}}""",
        resolver).df.collect()
      assert(rep.length == 1)
      assert(rep.head.getAs[Long]("n_centroids") == 4L &&
        rep.head.getAs[Long]("iters") == 2L &&
        rep.head.getAs[Boolean]("changed"))
      // iters=0 is the no-op: same centroids, changed=false
      val rep0 = QueryEngine.run(vecs,
        """{"xop": {"name": "ivf_refine",
                    "args": {"column": "vec", "index": "q", "iters": 0}}}""",
        resolver).df.collect()
      assert(!rep0.head.getAs[Boolean]("changed"))
      // negative iters and a missing index are 400s
      intercept[MalformedQueryException] { QueryEngine.run(vecs,
        """{"xop": {"name": "ivf_refine",
                    "args": {"column": "vec", "index": "q", "iters": -1}}}""",
        resolver) }
      intercept[MalformedQueryException] { QueryEngine.run(vecs,
        """{"xop": {"name": "ivf_refine", "args": {"column": "vec"}}}""",
        resolver) }
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("oov_rate 'index': a persisted vocabulary serves the membership side") {
    val root = java.nio.file.Files.createTempDirectory("xop_vocab").toString
    graft.ops.VocabIndex.buildAndSave(docs, "text", k = 10, path = s"$root/v")
    spark.conf.set("spark.graft.index.root", root)
    try {
      def run(q: String) = QueryEngine.run(docs, q, resolver).df
        .collect().map(r => (r.getAs[Number]("id").longValue,
          r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[Double]("oov_rate"))).toSeq
      // artifact rank<=5 slice ≡ inline top-5 vocabulary
      val inline = run(
        """{"xop": {"name": "oov_rate",
                    "args": {"id": "id", "column": "text", "vocab": 5}},
            "order_by": ["id"]}""")
      val viaIdx = run(
        """{"xop": {"name": "oov_rate",
                    "args": {"id": "id", "column": "text", "vocab": 5,
                             "index": "v"}},
            "order_by": ["id"]}""")
      assert(viaIdx == inline)
      // omitted 'vocab' defaults to the artifact's k
      assert(run(
        """{"xop": {"name": "oov_rate",
                    "args": {"id": "id", "column": "text", "index": "v"}},
            "order_by": ["id"]}""") ==
        run("""{"xop": {"name": "oov_rate",
                    "args": {"id": "id", "column": "text", "vocab": 10}},
            "order_by": ["id"]}"""))
      // a size beyond the stored k cannot be served
      intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "oov_rate",
                    "args": {"id": "id", "column": "text", "vocab": 11,
                             "index": "v"}}}""", resolver) }
      // identity tripwire: the artifact records its text column
      intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "oov_rate",
                    "args": {"id": "id", "column": "src", "index": "v"}}}""",
        resolver) }
      // verify_index without index is meaningless
      intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "oov_rate",
                    "args": {"id": "id", "column": "text",
                             "verify_index": true}}}""", resolver) }
      // verify_index + fresh corpus: clean, same output
      assert(run(
        """{"xop": {"name": "oov_rate",
                    "args": {"id": "id", "column": "text", "vocab": 5,
                             "index": "v", "verify_index": true}},
            "order_by": ["id"]}""") == inline)
      // verify_index + drifted corpus: stale
      val drifted = docs.withColumn("text",
        org.apache.spark.sql.functions.concat(docs("text"),
          org.apache.spark.sql.functions.lit(" drifted")))
      val eStale = intercept[MalformedQueryException] {
        QueryEngine.run(drifted,
          """{"xop": {"name": "oov_rate",
                      "args": {"id": "id", "column": "text", "index": "v",
                               "verify_index": true}}}""", resolver) }
      assert(eStale.getMessage.contains("stale"))
      // a minhash artifact under the same root is a foreign kind here
      graft.ops.MinHashIndex.buildAndSave(evalSet, "eid", "text",
        path = s"$root/mh2")
      intercept[MalformedQueryException] { QueryEngine.run(docs,
        """{"xop": {"name": "oov_rate",
                    "args": {"id": "id", "column": "text",
                             "index": "mh2"}}}""", resolver) }
    } finally spark.conf.unset("spark.graft.index.root")
  }

  test("dedup_against xop drops texts already in a stored corpus") {
    import spark.implicits._
    val corpus = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("cid", "body")
    val out = QueryEngine.run(docs,
      """{"xop": {"name": "dedup_against",
                  "args": {"column": "text", "corpus": "corp",
                           "corpus_column": "body"}},
          "order_by": ["id"]}""",
      n => if (n == "corp") Some(corpus) else None).df
    assert(ids(out) == Seq(2L, 4L, 5L, 6L)) // 1 and 3 match the corpus text
  }

  test("split xop assigns ordered named splits") {
    val out = run(
      """{"xop": {"name": "split",
                  "args": {"id": "id",
                           "splits": [["train", 0.5], ["test", 0.5]]}},
          "order_by": ["id"]}""")
    assert(out.columns.contains("split"))
    val splits = out.select("split").collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "test")))
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "split",
                      "args": {"id": "id", "splits": [["a", 0.9], ["b", 0.9]]}}}""")
    }
  }

  test("split xop with text is leakage-free: exact-dup classes share one split") {
    import spark.implicits._
    // two ids with byte-identical text + one whitespace variant: all
    // three must land in ONE split (the class hashes on min id 1)
    val d = Seq((1L, "same body"), (2L, "  same  body "), (3L, "same body"),
      (4L, "another body")).toDF("id", "text")
    val out = QueryEngine.run(d,
      """{"xop": {"name": "split",
                  "args": {"id": "id", "text": "text",
                           "splits": [["train", 0.5], ["test", 0.5]]}},
          "order_by": ["id"]}""", _ => None).df
    val bySplit = out.select("id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bySplit(2L) == bySplit(1L) && bySplit(3L) == bySplit(1L))
    // the singleton keeps the id-hash label of the plain split form
    val plain = QueryEngine.run(d,
      """{"xop": {"name": "split",
                  "args": {"id": "id",
                           "splits": [["train", 0.5], ["test", 0.5]]}},
          "order_by": ["id"]}""", _ => None).df
      .select("id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bySplit(4L) == plain(4L))
    assert(bySplit(1L) == plain(1L)) // class rep 1 keeps its own label
  }

  test("weighted near-dup pipeline end-to-end: collapse → pairs → clusters → leak-free split") {
    import spark.implicits._
    // the duplication-proof pipeline in one xop flow (VERDICT r17 item
    // 7): ids 1,2 are EXACT copies (identical text and vector — the
    // collapse key either way), 3 is a near-dup of the class (cos ≈
    // 0.999 to the rep), 4 is orthogonal. The weighted pair relation
    // must hold ONE representative pair with the class sizes; clusters
    // label the reps; the split must keep the WHOLE family (exact
    // members via 'text', near links via 'clusters') in one split while
    // the singleton keeps its plain per-id label.
    val d = Seq(
      (1L, "alpha body", Seq(1.0, 0.0, 0.0)),
      (2L, "alpha body", Seq(1.0, 0.0, 0.0)),
      (3L, "alpha body tweaked", Seq(0.999, 0.0447, 0.0)),
      (4L, "different thing", Seq(0.0, 1.0, 0.0)))
      .toDF("id", "text", "vec")
    // stage 1: weighted embedding-cosine pairs (collapse-first)
    val pairs = QueryEngine.run(d,
      """{"xop": {"name": "dedup_embcos",
                  "args": {"id": "id", "column": "vec", "threshold": 0.99,
                           "weighted": true}}}""", _ => None).df
    val pRows = pairs.select("id_a", "id_b", "mult_a", "mult_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(pRows == Seq((1L, 3L, 2L, 1L)),
      s"expected the one rep pair with class sizes, got ${pRows.toList}")
    // stage 2: components over the rep pairs
    val clusters = QueryEngine.run(pairs,
      """{"xop": {"name": "dedup_clusters"}}""", _ => None).df
    assert(clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (3L, 1L)))
    // stage 3: the split rides BOTH leakage args — members collapse to
    // their rep ('text'), reps follow their component ('clusters')
    val out = QueryEngine.run(d,
      """{"xop": {"name": "split",
                  "args": {"id": "id", "text": "text", "clusters": "cl",
                           "splits": [["train", 0.5], ["test", 0.5]]}},
          "select": ["id", "split"], "order_by": ["id"]}""",
      n => if (n == "cl") Some(clusters) else None).df
    val got = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(2L) == got(1L) && got(3L) == got(1L),
      s"the whole family must share one split: $got")
    val plain = QueryEngine.run(d,
      """{"xop": {"name": "split",
                  "args": {"id": "id",
                           "splits": [["train", 0.5], ["test", 0.5]]}}}""",
      _ => None).df.select("id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(4L) == plain(4L), "the singleton keeps its plain label")
    assert(got(1L) == plain(1L), "the family rep keeps its own plain label")
    // clusters-only form (no text): reps follow the component, the
    // uncollapsed exact member hashes its own id — the form x95c uses
    // when the pair relation already holds every member
    val clOnly = QueryEngine.run(d,
      """{"xop": {"name": "split",
                  "args": {"id": "id", "clusters": "cl",
                           "splits": [["train", 0.5], ["test", 0.5]]}}}""",
      n => if (n == "cl") Some(clusters) else None).df
      .select("id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(clOnly(3L) == clOnly(1L))
    assert(clOnly(4L) == plain(4L))
  }

  test("hash-sampler xops 400 on a non-integral id (not a runtime 500)") {
    import spark.implicits._
    val d = Seq(("a", "t", 1.0)).toDF("sid", "text", "w")
    def bad(q: String): Unit = {
      val e = intercept[MalformedQueryException](
        QueryEngine.run(d, q, _ => None))
      assert(e.getMessage.contains("integral id column"), e.getMessage)
    }
    bad("""{"xop": {"name": "split",
                    "args": {"id": "sid", "splits": [["train", 1.0]]}}}""")
    bad("""{"xop": {"name": "sample_fraction",
                    "args": {"id": "sid", "fraction": 0.5}}}""")
    bad("""{"xop": {"name": "sample_stratified",
                    "args": {"id": "sid", "strata": "text", "k": 1}}}""")
    bad("""{"xop": {"name": "sample_weighted",
                    "args": {"id": "sid", "weight": "w", "k": 1}}}""")
    bad("""{"xop": {"name": "budget_select",
                    "args": {"id": "sid", "priority": "w", "tokens": "w",
                             "budget": 10}}}""")
  }

  test("split 400s on a non-integral clusters relation (both forms)") {
    import spark.implicits._
    val d = Seq((1L, "alpha", 1.0), (2L, "beta", 2.0)).toDF("id", "text", "w")
    val badClusters = Seq(("1", "1")).toDF("id", "cluster") // string-typed
    def bad(q: String): Unit = {
      val e = intercept[MalformedQueryException](QueryEngine.run(d, q,
        n => if (n == "cl") Some(badClusters) else None))
      assert(e.getMessage.contains("must be an integral"), e.getMessage)
    }
    // clusters-only and text+clusters forms both pre-validate: a string
    // clusters id would otherwise surface as Sampling's
    // IllegalArgumentException — a 500 over HTTP instead of a 400
    bad("""{"xop": {"name": "split",
                    "args": {"id": "id", "clusters": "cl",
                             "splits": [["train", 1.0]]}}}""")
    bad("""{"xop": {"name": "split",
                    "args": {"id": "id", "text": "text", "clusters": "cl",
                             "splits": [["train", 1.0]]}}}""")
    // missing column still reports the shape error, not a type error
    val noCluster = Seq((1L, 9L)).toDF("id", "notcluster")
    val e = intercept[MalformedQueryException](QueryEngine.run(d,
      """{"xop": {"name": "split",
                  "args": {"id": "id", "clusters": "cl",
                           "splits": [["train", 1.0]]}}}""",
      n => if (n == "cl") Some(noCluster) else None))
    assert(e.getMessage.contains("(id, cluster)"), e.getMessage)
  }

  test("exclude_ids removes rows on a stored exclusion list") {
    val out = QueryEngine.run(docs,
      """{"xop": {"name": "exclude_ids",
                  "args": {"id": "id", "exclude": "xids"}},
          "order_by": ["id"]}""", resolver).df
    assert(ids(out) == Seq(1L, 3L, 5L, 6L))
  }

  test("search_bm25 xop returns ranked matches and composes with where") {
    val out = run(
      """{"xop": {"name": "search_bm25",
                  "args": {"id": "id", "column": "text", "query": "quick fox", "k": 10}}}""")
    assert(out.columns.toSeq == Seq("id", "score"))
    val got = out.collect().map(r =>
      r.getAs[Number](0).longValue -> r.getDouble(1)).toSeq
    assert(got.map(_._1).toSet == Set(1L, 3L)) // only the fox docs match
    assert(got == got.sortBy(t => (-t._2, t._1)))
    // identical texts, identical score — ids break the tie
    assert(got.map(_._1) == Seq(1L, 3L))
    val filtered = run(
      """{"xop": {"name": "search_bm25",
                  "args": {"id": "id", "column": "text", "query": "quick fox"}},
          "where": [">", "id", 1]}""")
    assert(ids(filtered) == Seq(3L))
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "search_bm25",
                  "args": {"id": "id", "column": "text", "query": "   "}}}""") }
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "search_bm25",
                  "args": {"id": "id", "column": "text", "query": "fox", "k": 0}}}""") }
  }

  test("search_bm25 with a stored query set answers every query at once") {
    val out = QueryEngine.run(docs,
      """{"xop": {"name": "search_bm25",
                  "args": {"id": "id", "column": "text", "queries": "qset", "k": 5}},
          "order_by": ["query_id", "-score", "id"]}""", resolver).df
    assert(out.columns.toSeq == Seq("query_id", "id", "score"))
    val byQuery = out.collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getAs[Number](1).longValue).toSet).toMap
    assert(byQuery(1L) == Set(1L, 3L)) // the fox docs
    assert(byQuery(2L) == Set(2L, 6L)) // the liquor docs
    // query and queries are mutually exclusive
    intercept[MalformedQueryException] { QueryEngine.run(docs,
      """{"xop": {"name": "search_bm25",
                  "args": {"id": "id", "column": "text", "query": "fox",
                           "queries": "qset"}}}""", resolver) }
    // missing query-text column in the stored set → 400
    intercept[MalformedQueryException] { QueryEngine.run(docs,
      """{"xop": {"name": "search_bm25",
                  "args": {"id": "id", "column": "text", "queries": "qset",
                           "query_text": "nope"}}}""", resolver) }
  }

  test("dup_grams xop reports corpus-duplicated n-gram fractions") {
    val out = QueryEngine.run(docs,
      """{"xop": {"name": "dup_grams", "args": {"id": "id", "column": "text", "n": 3}},
          "order_by": ["id"]}""").df
    assert(out.columns.toSeq == Seq("id", "n_grams", "n_dup_grams", "dup_frac"))
    val frac = out.collect()
      .map(r => r.getAs[Number](0).longValue -> r.getDouble(3)).toMap
    // docs 1/3 and 2/6 are exact duplicates → every gram shared; doc 5
    // (the only Spanish doc) shares nothing
    assert(frac(1L) == 1.0 && frac(3L) == 1.0 && frac(2L) == 1.0 && frac(6L) == 1.0)
    assert(frac(5L) == 0.0)
  }

  test("repetition_signals xop: Gopher char-fraction metrics, overlap-agnostic") {
    val out = QueryEngine.run(docs,
      """{"xop": {"name": "repetition_signals",
                  "args": {"id": "id", "column": "text"}},
          "order_by": ["id"]}""").df
    assert(out.columns.toSeq == Seq("id", "n_lines", "dup_line_frac",
      "dup_line_char_frac", "top_2gram_char_frac", "dup_5gram_char_frac"))
    val rows = out.collect()
      .map(r => r.getAs[Number](0).longValue ->
        (r.getDouble(4), r.getDouble(5))).toMap
    // doc 4 "a a a a a a a a": "a a"×7 covers 21 of 15 normalized chars
    // (overlap-agnostic, like the original — degenerate text scores >1);
    // the duplicated 5-gram coverage caps at 1.0
    assert(rows(4L) == ((1.4, 1.0)))
    // a natural sentence: no duplicated 5-grams
    assert(rows(1L)._2 == 0.0)
  }

  test("join xop enriches from a stored dataset and errors on collisions") {
    val out = QueryEngine.run(docs,
      """{"xop": {"name": "join",
                  "args": {"right": "dims", "on": ["src"], "how": "left",
                           "columns": ["label"], "broadcast": true}},
          "select": ["id", "src", "label"], "order_by": ["id"]}""", resolver).df
    val got = out.collect().map(r => (r.getAs[Number](0).longValue, r.getString(2))).toMap
    assert(got(1L) == "crawl" && got(4L) == "curated")
    assert(out.count() == 6) // left join preserves every doc
    // semi keeps only left columns; anti is its complement
    val semi = QueryEngine.run(docs,
      """{"xop": {"name": "join", "args": {"right": "dims", "on": ["src"], "how": "semi"}},
          "order_by": ["id"]}""", resolver).df
    assert(semi.columns.toSeq == docs.drop(graft.engine.ExprCompiler.RowId).columns.toSeq)
    assert(ids(semi) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // payload colliding with a left column → 400
    intercept[MalformedQueryException] { QueryEngine.run(docs,
      """{"xop": {"name": "join",
                  "args": {"right": "dims", "on": ["src"], "columns": ["src"]}}}""",
      resolver) }
    // unknown key pair shape → 400
    intercept[MalformedQueryException] { QueryEngine.run(docs,
      """{"xop": {"name": "join", "args": {"right": "dims", "on": [1], "how": "left"}}}""",
      resolver) }
    // 'how' outside the taxonomy → 400
    intercept[MalformedQueryException] { QueryEngine.run(docs,
      """{"xop": {"name": "join", "args": {"right": "dims", "on": ["src"], "how": "cross"}}}""",
      resolver) }
  }

  test("span_scrub xop rewrites corpus-duplicated spans away") {
    // docs 1 and 3 share the fox sentence: their 3-gram spans all scrub
    val out = run(
      """{"xop": {"name": "span_scrub", "args": {"id": "id", "column": "text", "n": 3}},
          "order_by": ["id"]}""").collect()
    val byId = out.map(r => r.getAs[Number]("id").longValue ->
      r.getAs[Long]("n_tokens_removed")).toMap
    assert(byId(1L) == 9L && byId(3L) == 9L) // whole sentence covered
    assert(byId(5L) == 0L)                   // unique doc untouched
  }

  test("tfidf_keywords xop ranks terms per doc and composes with where") {
    val out = run(
      """{"xop": {"name": "tfidf_keywords", "args": {"id": "id", "column": "text", "k": 2}},
          "where": ["==", "rank", 1],
          "order_by": ["id"]}""")
    assert(out.columns.toSeq == Seq("id", "term", "score", "rank"))
    assert(out.count() == 6) // one rank-1 term per doc
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "tfidf_keywords", "args": {"id": "id", "column": "text", "k": 0}}}""")
    }
  }

  test("quality_rules xop audits documents; thresholds reachable from args") {
    val out = run(
      """{"xop": {"name": "quality_rules",
                  "args": {"column": "text", "min_tokens": 9,
                           "min_stopword_ratio": 0.0}},
          "order_by": ["id"]}""").collect()
    // doc 4 ("a a a a a a a a"): 8 tokens < 9 AND maximally duplicated
    val d4 = out.find(_.getAs[Number]("id").longValue == 4L).get
    assert(!d4.getAs[Boolean]("pass"))
    assert(d4.getAs[String]("reasons").split(",").contains("word_count"))
    assert(d4.getAs[String]("reasons").split(",").contains("dup_word_frac"))
  }

  test("unigram_nll xop scores every non-empty doc") {
    val out = run(
      """{"xop": {"name": "unigram_nll", "args": {"id": "id", "column": "text"}},
          "order_by": ["id"]}""")
    assert(out.columns.toSeq == Seq("id", "n_tokens", "nll"))
    val rows = out.collect()
    assert(rows.length == 6)
    assert(rows.forall(_.getAs[Double]("nll") > 0))
    // repeat-run determinism (ordered fold, no arrival-order float sums)
    val again = run(
      """{"xop": {"name": "unigram_nll", "args": {"id": "id", "column": "text"}},
          "order_by": ["id"]}""").collect()
    assert(rows.map(_.getAs[Double]("nll")).toSeq ==
      again.map(_.getAs[Double]("nll")).toSeq)
  }

  test("range_join xop buckets intervals from a stored dataset") {
    import spark.implicits._
    val lefts = Seq((1L, 150L), (2L, 450L), (3L, 999L)).toDF("eid", "t")
    val ivs = Seq(("w1", 100L, 200L), ("w2", 400L, 500L)).toDF("name", "s", "e")
    val res: String => Option[DataFrame] =
      n => if (n == "ivs") Some(ivs) else None
    val out = QueryEngine.run(lefts,
      """{"xop": {"name": "range_join",
                  "args": {"right": "ivs", "ts": "t", "start": "s", "end": "e",
                           "payload": ["name"], "granule": 100}},
          "order_by": ["eid"]}""", res).df.collect()
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "w1"), (2L, "w2")))
    // left how keeps unmatched rows with null payload
    val lj = QueryEngine.run(lefts,
      """{"xop": {"name": "range_join",
                  "args": {"right": "ivs", "ts": "t", "start": "s", "end": "e",
                           "payload": ["name"], "granule": 100, "how": "left"}},
          "order_by": ["eid"]}""", res).df.collect()
    assert(lj.length == 3 && lj.last.isNullAt(lj.last.fieldIndex("name")))
    // 400s: string time column, missing granule, bad how
    intercept[MalformedQueryException] { QueryEngine.run(lefts,
      """{"xop": {"name": "range_join",
                  "args": {"right": "ivs", "ts": "t", "start": "name", "end": "e",
                           "payload": ["name"], "granule": 100}}}""", res) }
    intercept[MalformedQueryException] { QueryEngine.run(lefts,
      """{"xop": {"name": "range_join",
                  "args": {"right": "ivs", "ts": "t", "start": "s", "end": "e",
                           "payload": ["name"]}}}""", res) }
    intercept[MalformedQueryException] { QueryEngine.run(lefts,
      """{"xop": {"name": "range_join",
                  "args": {"right": "ivs", "ts": "t", "start": "s", "end": "e",
                           "payload": ["name"], "granule": 100, "how": "anti"}}}""", res) }
    // fractional time columns are a 400: cast('long') would silently
    // truncate toward zero instead of flooring — callers floor explicitly
    val dlefts = Seq((1L, 150.5)).toDF("eid", "t")
    intercept[MalformedQueryException] { QueryEngine.run(dlefts,
      """{"xop": {"name": "range_join",
                  "args": {"right": "ivs", "ts": "t", "start": "s", "end": "e",
                           "payload": ["name"], "granule": 100}}}""", res) }
  }

  test("round-7 analysis xops run through the dialect with sane shapes") {
    // gram_novelty: duplicate docs 3/6 contribute nothing new
    val nov = run(
      """{"xop": {"name": "gram_novelty", "args": {"id": "id", "column": "text", "n": 3}},
          "order_by": ["id"]}""").collect()
      .map(r => r.getAs[Number]("id").longValue -> r.getAs[Double]("novelty")).toMap
    assert(nov(1L) == 1.0 && nov(3L) == 0.0 && nov(2L) == 1.0 && nov(6L) == 0.0)
    // token_divergence: one row per source, kl >= 0 (within rounding)
    val kl = run(
      """{"xop": {"name": "token_divergence", "args": {"group": "src", "column": "text"}},
          "order_by": ["src"]}""").collect()
    assert(kl.map(_.getString(0)).toSeq == Seq("book", "web"))
    assert(kl.forall(_.getDouble(2) >= -0.0001))
    // pmi_pairs: k bounds the output, scores ranked desc
    val pmi = run(
      """{"xop": {"name": "pmi_pairs", "args": {"column": "text", "k": 5}}}""").collect()
    assert(pmi.length <= 5)
    assert(pmi.map(_.getAs[Double]("pmi")).toSeq ==
      pmi.map(_.getAs[Double]("pmi")).sortBy(-_).toSeq)
    // quantile_band: full [0,1] band keeps everything; bad band 400s
    val band = run(
      """{"xop": {"name": "quantile_band",
                  "args": {"group": "src", "column": "id", "lo": 0.0, "hi": 1.0}}}""")
    assert(band.count() == 6)
    intercept[MalformedQueryException] { run(
      """{"xop": {"name": "quantile_band",
                  "args": {"group": "src", "column": "id", "lo": 0.9, "hi": 0.1}}}""") }
    // bigram_nll: every multi-token doc scored, duplicates tie exactly
    val bnll = run(
      """{"xop": {"name": "bigram_nll", "args": {"id": "id", "column": "text"}},
          "order_by": ["id"]}""").collect()
      .map(r => r.getAs[Number]("id").longValue -> r.getAs[Double]("nll")).toMap
    assert(bnll.size == 6 && bnll(1L) == bnll(3L) && bnll(2L) == bnll(6L))
  }

  test("dataset references 400 without a resolver, and are detected for memo bypass") {
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "decontaminate",
                      "args": {"id": "id", "column": "text", "eval": "evalset"}}}""")
        .collect()
    }
    import graft.engine.{Query, XopEngine}
    assert(XopEngine.referencesDatasets(Query.parse(
      """{"xop": {"name": "decontaminate",
                  "args": {"id": "id", "column": "text", "eval": "evalset"}}}""")))
    assert(XopEngine.referencesDatasets(Query.parse(
      """{"select": ["id"],
          "from": {"xop": {"name": "exclude_ids", "args": {"id": "id", "exclude": "x"}}}}""")))
    assert(!XopEngine.referencesDatasets(Query.parse(
      """{"xop": {"name": "ann_brute",
                  "args": {"id": "id", "column": "vec", "query_vectors": [[1.0]]}}}""")))
  }

  test("error taxonomy: unknown name, missing arg, bad types, unknown column") {
    intercept[MalformedQueryException] { run("""{"xop": {"name": "nope"}}""") }
    intercept[MalformedQueryException] { run("""{"xop": {"name": "dedup_exact"}}""") }
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "dedup_exact", "args": {"column": 7}}}""")
    }
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "dedup_exact", "args": {"column": "zz"}}}""")
    }
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "sample_fraction", "args": {"id": "id", "fraction": 1.5}}}""")
    }
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "text_tokens", "args": {"column": "text", "zap": 1}}}""")
    }
    intercept[MalformedQueryException] { run("""{"xop": {"nome": "dedup_exact"}}""") }
    intercept[MalformedQueryException] { run("""{"xop": "dedup_exact"}""") }
  }

  test("xop cannot be combined with update") {
    intercept[MalformedQueryException] {
      graft.engine.Query.parse(
        """{"xop": {"name": "profile"}, "update": [["id", 0]], "where": ["==", "id", 1]}""")
    }
  }

  test("budget_select xop takes the best rows until the token budget") {
    import spark.implicits._
    val t = Seq(
      (1L, 9L, 10L), (2L, 9L, 10L), (3L, 5L, 10L), (4L, 1L, 10L)
    ).toDF("id", "prio", "tok")
    val out = QueryEngine.run(t,
      """{"xop": {"name": "budget_select",
                  "args": {"id": "id", "priority": "prio", "tokens": "tok",
                           "budget": 25}}}""").df
    assert(out.columns.toSeq == Seq("id", "prio", "tokens"))
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // per-source form: each source under its own budget, default for
    // unlisted; equals the Scala API
    val t2 = Seq(
      (1L, "a", 9L, 10L), (2L, "a", 5L, 10L), (3L, "b", 9L, 10L),
      (4L, "c", 9L, 10L)
    ).toDF("id", "src", "prio", "tok")
    val perSrc = QueryEngine.run(t2,
      """{"xop": {"name": "budget_select",
                  "args": {"id": "id", "priority": "prio", "tokens": "tok",
                           "source": "src", "budgets": {"a": 15},
                           "default_budget": 10}}}""").df
    assert(perSrc.collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
    // mixing the global and per-source forms 400s; budgets must be an
    // object of non-negative integers
    intercept[MalformedQueryException] { QueryEngine.run(t2,
      """{"xop": {"name": "budget_select",
                  "args": {"id": "id", "priority": "prio", "tokens": "tok",
                           "budget": 5, "source": "src", "budgets": {"a": 1}}}}""") }
    intercept[MalformedQueryException] { QueryEngine.run(t2,
      """{"xop": {"name": "budget_select",
                  "args": {"id": "id", "priority": "prio", "tokens": "tok",
                           "source": "src", "budgets": {"a": -1}}}}""") }
    intercept[MalformedQueryException] { QueryEngine.run(t2,
      """{"xop": {"name": "budget_select",
                  "args": {"id": "id", "priority": "prio", "tokens": "tok",
                           "source": "src"}}}""") }
    // budget mandatory; non-numeric priority 400s; unknown arg 400s
    intercept[MalformedQueryException] { QueryEngine.run(t,
      """{"xop": {"name": "budget_select",
                  "args": {"id": "id", "priority": "prio", "tokens": "tok"}}}""") }
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "budget_select",
                      "args": {"id": "id", "priority": "text", "tokens": "id",
                               "budget": 10}}}""") }
    intercept[MalformedQueryException] { QueryEngine.run(t,
      """{"xop": {"name": "budget_select",
                  "args": {"id": "id", "priority": "prio", "tokens": "tok",
                           "budget": 25, "zap": 1}}}""") }
  }

  test("mix_drift xop scores the mix against a stored base version") {
    import org.apache.spark.sql.functions.col
    val resolver: String => Option[DataFrame] = n =>
      if (n == "v1") Some(docs.filter(col("id") <= 4)) else None
    val out = QueryEngine.run(docs,
      """{"xop": {"name": "mix_drift",
                  "args": {"column": "src", "base": "v1"}}}""", resolver).df
    assert(out.columns.toSeq == Seq("value", "share_base", "share_cur", "psi"))
    val rows = out.collect().map(r =>
      (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    // base: web 3/4, book 1/4; cur: web 4/6, book 2/6
    assert(rows.map(_._1).toSeq == Seq("book", "web"))
    assert(rows(0)._2 == 0.25 && math.abs(rows(0)._3 - 0.333333) < 1e-9)
    assert(rows.forall(_._4 >= 0))
    // semantics delegate to Profile.mixDrift exactly
    val direct = graft.ops.Profile.mixDrift(
      docs.filter(col("id") <= 4).select(col("src")), docs, "src")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.toSeq == direct.toSeq)
    // unknown base dataset / missing base column 400
    intercept[MalformedQueryException] { QueryEngine.run(docs,
      """{"xop": {"name": "mix_drift",
                  "args": {"column": "src", "base": "nope"}}}""", resolver) }
    intercept[MalformedQueryException] { QueryEngine.run(docs,
      """{"xop": {"name": "mix_drift",
                  "args": {"column": "src", "base": "v1",
                           "base_column": "zz"}}}""", resolver) }
  }

  test("rate_anomaly xop scores windows against the trailing history; guards") {
    import spark.implicits._
    val ev = (0 to 6).flatMap { m =>
      val base = Seq((java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00"), "a"))
      if (m == 6) base ++ (1 to 8).map(i =>
        (java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:$i%02d"), "a"))
      else base
    }.toDF("ts", "event_type")
    val out = QueryEngine.run(ev,
      """{"xop": {"name": "rate_anomaly",
                  "args": {"window": "1 minute", "trailing": 5, "z": 1.0}}}""").df
    assert(out.columns.toSeq == Seq("window_start", "event_type", "n_events",
      "trail_mean", "z", "anomaly"))
    val rows = out.collect()
    assert(rows.length == 7)
    // the burst minute is the only flagged row (flat line jumps)
    assert(rows.count(_.getBoolean(5)) == 1 && rows.last.getBoolean(5))
    // guards: bad window grammar, trailing < 2, z <= 0, missing columns
    intercept[MalformedQueryException] { QueryEngine.run(ev,
      """{"xop": {"name": "rate_anomaly", "args": {"window": "whenever"}}}""") }
    intercept[MalformedQueryException] { QueryEngine.run(ev,
      """{"xop": {"name": "rate_anomaly", "args": {"trailing": 1}}}""") }
    intercept[MalformedQueryException] { QueryEngine.run(ev,
      """{"xop": {"name": "rate_anomaly", "args": {"z": 0}}}""") }
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "rate_anomaly"}}""") }
  }

  test("cluster_spectrum xop composes on dedup_clusters through a from pipeline") {
    // fixture dup families: texts 1/3 and 2/6 → two size-2 components
    val out = run(
      """{"xop": {"name": "cluster_spectrum"},
          "from": {"xop": {"name": "dedup_clusters"},
                   "from": {"xop": {"name": "dedup_jaccard",
                                    "args": {"id": "id", "column": "text",
                                             "max_id": 100, "threshold": 0.9}}}}}""")
    assert(out.columns.toSeq == Seq("size", "n_clusters", "n_docs"))
    assert(out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == Seq((2L, 2L, 4L)))
    // no cluster column and none named → 400
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "cluster_spectrum"}}""") }
  }

  test("audit_pairs xop builds the borderline review queue; arg taxonomy") {
    val out = run(
      """{"xop": {"name": "audit_pairs",
                  "args": {"id": "id", "column": "text", "max_id": 100,
                           "threshold": 0.5, "k": 3}}}""")
    assert(out.columns.toSeq ==
      Seq("id_a", "id_b", "score", "dist", "text_a", "text_b"))
    val direct = graft.ops.Dedup.auditPairs(
      graft.ops.Dedup.shingleJaccardPairsExact(docs, "id", "text", 100, 0.0, 3),
      "jaccard", docs, "id", "text", 0.5, 3).collect()
    val got = out.collect()
    assert(got.length == 3)
    assert(got.map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue, r.getDouble(2))).toSeq ==
      direct.map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue, r.getDouble(2))).toSeq)
    // max_id mandatory (quadratic pass must be bounded); k/threshold bounded
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "audit_pairs",
                      "args": {"id": "id", "column": "text"}}}""") }
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "audit_pairs",
                      "args": {"id": "id", "column": "text", "max_id": 100,
                               "k": 0}}}""") }
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "audit_pairs",
                      "args": {"id": "id", "column": "text", "max_id": 100,
                               "threshold": 1.5}}}""") }
    intercept[MalformedQueryException] {
      run("""{"xop": {"name": "audit_pairs",
                      "args": {"id": "id", "column": "text", "max_id": 100,
                               "min_score": -0.1}}}""") }
  }
}
