package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

import graft.ops.{ArtifactStore, BloomIndex, DecontIndex, IvfIndex, MinHashIndex,
  VocabIndex}

/** The format-v2 manifest contract every index family shares through
  * [[ArtifactStore]]: a version-1 manifest reads "older format … rebuild
  * it", a version above 2 reads "newer format", and every field a v2
  * writer emits is mandatory — removing any one of them fails the load
  * as "corrupt: bad <field>", never as a silently defaulted value. Each
  * check runs against a real built artifact with its manifest rewritten
  * by hand. */
class ArtifactStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("artifact_store_spec").toString

  private def manifestOf(path: String): mutable.LinkedHashMap[String, Any] = {
    val p = new org.apache.hadoop.fs.Path(path, "manifest.json")
    val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    graft.engine.QueryJson.parse(text).asInstanceOf[mutable.LinkedHashMap[String, Any]]
  }

  /** Hand-written manifests go through the writers' own atomic publish,
    * so no checksum sidecar goes stale when a later save replaces them. */
  private def writeManifest(path: String, text: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    dir.getFileSystem(spark.sessionState.newHadoopConf()).mkdirs(dir)
    ArtifactStore.publishManifest(spark, path, text)
  }

  private def writeManifest(path: String, m: scala.collection.Map[String, Any]): Unit =
    writeManifest(path, graft.engine.QueryJson.write(m))

  /** Version and field checks for the artifact at `path`. `mandatory`
    * fields must each fail as "corrupt: bad <field>" when removed;
    * `special` maps the remaining written fields to the message their
    * removal produces. Together they must cover every field the build
    * wrote. The intact manifest is restored and loads at the end. */
  private def checkContract(path: String, kind: String, load: String => Any,
                            mandatory: Seq[String],
                            special: Map[String, String] = Map.empty): Unit = {
    val good = manifestOf(path)
    assert(good("version") == 2L && good("kind") == kind)
    assert((good.keySet -- Set("version", "kind")).toSet ==
      (mandatory ++ special.keys).toSet,
      s"$kind writes ${good.keys.mkString(", ")}")
    def loadError(m: scala.collection.Map[String, Any]): String = {
      writeManifest(path, m)
      intercept[IllegalArgumentException](load(path)).getMessage
    }
    try {
      val older = loadError(good.clone() += ("version" -> 1L))
      assert(older.contains("older format (version 1)") && older.contains("rebuild"),
        older)
      val newer = loadError(good.clone() += ("version" -> 3L))
      assert(newer.contains("newer format (version 3)") &&
        newer.contains("this build reads version 2"), newer)
      assert(loadError(good.clone() -= "version").contains("corrupt: bad version"))
      assert(loadError(good.clone() -= "kind").contains(s"expected $kind"))
      for (f <- mandatory) {
        val e = loadError(good.clone() -= f)
        assert(e.contains(s"corrupt: bad $f"), s"removing $f: $e")
        val mistyped = loadError(good.clone() += (f -> List("x")))
        assert(mistyped.contains(s"corrupt: bad $f"), s"mistyping $f: $mistyped")
      }
      for ((f, msg) <- special) {
        val e = loadError(good.clone() -= f)
        assert(e.contains(msg), s"removing $f: $e")
      }
    } finally writeManifest(path, good)
    load(path)
  }

  test("bloom manifest v2: version bounds and mandatory fields") {
    val path = tmpDir() + "/bl"
    BloomIndex.buildAndSave((1L to 30L).map(Tuple1(_)).toDF("xid"), "xid", 0.01, path)
    checkContract(path, "bloom_exclusion", BloomIndex.loadWithMeta(spark, _),
      Seq("data_gen", "fpp", "n_bytes", "n_ids", "id_col", "id_type",
        "fingerprint", "n_items_built", "n_inserted", "n_hash_functions"))
  }

  test("IVF manifest v2: version bounds and mandatory fields") {
    val path = tmpDir() + "/ivf"
    IvfIndex.save(spark, path, Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      nCells = 2, kmeansIters = 0)
    checkContract(path, "ivf_coarse_quantizer", IvfIndex.load(spark, _),
      Seq("data_gen", "n_cells", "n_centroids", "dim", "kmeans_iters"))
  }

  test("minhash manifest v2: version bounds, mandatory fields, exactly one shard layout") {
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma delta eps"))
      .toDF("doc_id", "text")
    val path = tmpDir() + "/mh"
    MinHashIndex.buildAndSave(corpus, "doc_id", "text", numHashes = 8, path = path)
    checkContract(path, "minhash_signatures", MinHashIndex.load(spark, _),
      Seq("data_gen", "num_hashes", "shingle_size", "id_col", "id_type",
        "n_docs", "fingerprint"),
      Map("shard_span" -> "corrupt: bad shard layout"))
    // both layouts at once is as corrupt as neither
    val good = manifestOf(path)
    try {
      writeManifest(path, good.clone() += ("n_shards" -> 4L))
      val e = intercept[IllegalArgumentException](MinHashIndex.load(spark, path))
      assert(e.getMessage.contains("corrupt: bad shard layout"), e.getMessage)
    } finally writeManifest(path, good)
    // string ids record the hash layout instead
    val hashed = tmpDir() + "/mh_hash"
    MinHashIndex.buildAndSave(corpus.selectExpr("CAST(doc_id AS STRING) AS doc_id", "text"),
      "doc_id", "text", numHashes = 8, path = hashed, hashShards = 4)
    checkContract(hashed, "minhash_signatures", MinHashIndex.load(spark, _),
      Seq("data_gen", "num_hashes", "shingle_size", "id_col", "id_type",
        "n_docs", "fingerprint"),
      Map("n_shards" -> "corrupt: bad shard layout"))
  }

  test("decontamination manifest v2: version bounds and mandatory fields") {
    val eval = Seq((1L, "one two three four five"), (2L, "six seven eight nine"))
      .toDF("doc_id", "text")
    val path = tmpDir() + "/dc"
    DecontIndex.buildAndSave(eval, "text", path, n = 3)
    checkContract(path, "decont_ngram", DecontIndex.load(spark, _),
      Seq("data_gen", "n", "fpp", "n_grams", "n_bytes", "fingerprint"))
  }

  test("vocabulary manifest v2: version bounds; exact and capacity fields are mandatory") {
    val corpus = Seq((1L, "alpha beta alpha"), (2L, "beta gamma")).toDF("doc_id", "text")
    val exact = tmpDir() + "/v_exact"
    VocabIndex.buildAndSave(corpus, "text", k = 3, path = exact)
    val common = Seq("data_gen", "k", "text_col", "n_docs", "n_tokens", "fingerprint")
    checkContract(exact, "vocabulary", VocabIndex.load(spark, _), common)
    // a capacity build records its mergeable state whole; without
    // `capacity` the manifest describes an exact build, whose relation
    // this artifact does not store
    val sketched = tmpDir() + "/v_cap"
    VocabIndex.buildAndSave(corpus, "text", k = 3, path = sketched, capacity = Some(64))
    checkContract(sketched, "vocabulary", VocabIndex.load(spark, _),
      common ++ Seq("theta", "summary_rows", "slabs"),
      Map("capacity" -> "corrupt: unreadable relation"))
    // slab registry entries validate field by field too
    val good = manifestOf(sketched)
    try {
      val entry = good("slabs").asInstanceOf[List[mutable.LinkedHashMap[String, Any]]].head
      writeManifest(sketched, good.clone() += ("slabs" -> List(entry.clone() -= "theta")))
      val e = intercept[IllegalArgumentException](VocabIndex.load(spark, sketched))
      assert(e.getMessage.contains("slabs entry") &&
        e.getMessage.contains("corrupt: bad theta"), e.getMessage)
    } finally writeManifest(sketched, good)
  }

  test("read: missing, malformed and non-object manifests fail with one exception type") {
    val path = tmpDir() + "/raw"
    val e1 = intercept[IllegalArgumentException] {
      ArtifactStore.read(spark, path, "vocabulary", 2, "vocabulary") }
    assert(e1.getMessage.contains("missing manifest.json"))
    writeManifest(path, "[1, 2]")
    val e2 = intercept[IllegalArgumentException] {
      ArtifactStore.read(spark, path, "vocabulary", 2, "vocabulary") }
    assert(e2.getMessage.contains("not a JSON object"))
    writeManifest(path, "{broken")
    val e3 = intercept[IllegalArgumentException] {
      ArtifactStore.read(spark, path, "vocabulary", 2, "vocabulary") }
    assert(e3.getMessage.contains("malformed vocabulary manifest"))
    writeManifest(path, """{"version":"2","kind":"vocabulary"}""")
    val e4 = intercept[IllegalArgumentException] {
      ArtifactStore.read(spark, path, "vocabulary", 2, "vocabulary") }
    assert(e4.getMessage.contains("corrupt: bad version 2"))
  }

  test("a rebuild over an older-format artifact writes the next generation") {
    val path = tmpDir() + "/rebuild"
    val ids = (1L to 30L).map(Tuple1(_)).toDF("xid")
    BloomIndex.buildAndSave(ids, "xid", 0.01, path)
    BloomIndex.buildAndSave(ids, "xid", 0.01, path)
    val v1 = manifestOf(path) += ("version" -> 1L)
    writeManifest(path, v1)
    intercept[IllegalArgumentException](BloomIndex.loadWithMeta(spark, path))
    // the rebuild never truncates the generation a reader may hold open
    BloomIndex.buildAndSave(ids, "xid", 0.01, path)
    assert(manifestOf(path)("data_gen") == v1("data_gen").asInstanceOf[Long] + 1L)
    assert(BloomIndex.loadWithMeta(spark, path).nIds == 30L)
  }

  test("manifest publishes leave no checksum sidecar and replace a Hadoop-written manifest") {
    val path = tmpDir() + "/sidecar"
    val dir = java.nio.file.Paths.get(path)
    def sidecars: Seq[String] = {
      val s = java.nio.file.Files.list(dir)
      try s.toArray.map(_.toString).filter(_.endsWith(".crc")).toSeq.map(
        n => java.nio.file.Paths.get(n).getFileName.toString) finally s.close()
    }
    val ids = (1L to 30L).map(Tuple1(_)).toDF("xid")
    for (_ <- 1 to 3) BloomIndex.buildAndSave(ids, "xid", 0.01, path)
    assert(sidecars.isEmpty, sidecars)
    // the same manifest rewritten through Hadoop's checksummed local
    // filesystem, which writes a `.manifest.json.crc` beside it
    val text = graft.engine.QueryJson.write(manifestOf(path))
    val p = new org.apache.hadoop.fs.Path(path, "manifest.json")
    val out = p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    assert(sidecars.contains(".manifest.json.crc"))
    BloomIndex.buildAndSave(ids, "xid", 0.01, path)
    assert(sidecars.isEmpty, sidecars)
    assert(BloomIndex.loadWithMeta(spark, path).nIds == 30L)
  }
}
