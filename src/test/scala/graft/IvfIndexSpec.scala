package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{IvfIndex, IvfIndexCache, Similarity}

/** Persisted coarse-quantizer artifact: a saved index survives a process
  * restart (modeled by clearing the session cache) and reproduces the
  * pre-restart assignments and rankings BIT-FOR-BIT. */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = {
    val r = new scala.util.Random(7)
    (0L until 200L).map(i => (i, Seq.fill(8)(r.nextDouble() - 0.5)))
      .toDF("vec_id", "embedding")
  }

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("ivf_index_spec")
    d.toFile.deleteOnExit()
    d.toString
  }

  test("buildAndSave -> cache clear (restart) -> load is bit-identical") {
    val df = corpus.cache()
    df.count()
    val path = tmpDir() + "/idx"
    val built = IvfIndex.buildAndSave(df, "vec_id", "embedding",
      nCells = 8, kmeansIters = 2, path = path)

    val preAssign = Similarity.clusterAssignWith(df, "embedding", built)
      .select("vec_id", "cluster", "cohesion").orderBy("vec_id").collect().toSeq
    val queries = df.filter(col("vec_id") < 5)
    val preRank = Similarity.ivfTopKWith(df, queries, "vec_id", "embedding",
      k = 3, built, nProbe = 4).orderBy("query_id", "rank").collect().toSeq

    // "restart": the in-process cache is gone, only the artifact remains
    IvfIndexCache.clear()
    val loaded = IvfIndex.load(spark, path)
    assert(loaded == built) // exact doubles — the raw file round-trips IEEE754

    val postAssign = Similarity.clusterAssignWith(df, "embedding", loaded)
      .select("vec_id", "cluster", "cohesion").orderBy("vec_id").collect().toSeq
    val postRank = Similarity.ivfTopKWith(df, queries, "vec_id", "embedding",
      k = 3, loaded, nProbe = 4).orderBy("query_id", "rank").collect().toSeq
    assert(postAssign == preAssign)
    assert(postRank == preRank)
    df.unpersist()
  }

  /** Exact spherical-k-means objective: Σ over vectors of the max dot
    * with an L2-normalized centroid (the quantity each Lloyd's round
    * is guaranteed not to decrease). Driver-side exact arithmetic —
    * no rounding, no Spark. */
  private def objective(vecs: Seq[Seq[Double]],
                        cents: Seq[Seq[Double]]): Double = {
    val normed = cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    vecs.map { v =>
      normed.map(c => c.zip(v).map { case (a, b) => a * b }.sum).max
    }.sum
  }

  private def readManifest(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path, "manifest.json")
    val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("refine(0) is a pure no-op; refine from a sample-only artifact " +
       "bit-equals the seeded from-scratch build") {
    // one partition: a single partial per (cell, pos) mean group, so
    // the two independent kmeansRefine executions compared below sum
    // floats in one associativity order and match bit-for-bit
    val df = corpus.repartition(1).cache(); df.count()
    val path = tmpDir() + "/r"
    val built = IvfIndex.buildAndSave(df, "vec_id", "embedding",
      nCells = 8, kmeansIters = 0, path = path)
    IvfIndexCache.clear()
    // identity: nothing moves, nothing is rewritten
    assert(IvfIndex.refine(spark, path, df, "embedding", 0) == built)
    assert(readManifest(path).contains("\"kmeans_iters\":0"))
    // warm-start equivalence: seeding Lloyd's from the round-tripped
    // sample reproduces the from-scratch build with the same iters
    val refined = IvfIndex.refine(spark, path, df, "embedding", 2)
    IvfIndexCache.clear()
    val scratch = Similarity.buildQuantizer(df, "vec_id", "embedding", 8, 2)
    assert(refined == scratch,
      "refine from an iters=0 artifact must bit-equal the seeded build")
    // the artifact was rewritten in place and the history advanced
    assert(IvfIndex.load(spark, path) == refined)
    assert(readManifest(path).contains("\"kmeans_iters\":2"))
    intercept[IllegalArgumentException] {
      IvfIndex.refine(spark, path, df, "embedding", -1) }
    df.unpersist()
  }

  test("refine after corpus drift never worsens the spherical objective") {
    val r = new scala.util.Random(11)
    val drifted = corpus.unionByName(
      // a new tight cluster the original sample never saw
      (1000L until 1080L).map(i =>
        (i, Seq.tabulate(8)(d => (if (d == 0) 3.0 else 0.0) +
          0.05 * (r.nextDouble() - 0.5)))).toDF("vec_id", "embedding"))
      .cache()
    drifted.count()
    val path = tmpDir() + "/drift"
    val stale = IvfIndex.buildAndSave(corpus, "vec_id", "embedding",
      nCells = 8, kmeansIters = 1, path = path)
    val vecs = drifted.orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val before = objective(vecs, stale)
    val after = objective(vecs,
      IvfIndex.refine(spark, path, drifted, "embedding", 3))
    assert(after >= before - 1e-9,
      s"objective must be monotone: $before -> $after")
    drifted.unpersist()
  }

  test("load fails fast on missing, foreign, and corrupt artifacts") {
    val root = tmpDir()
    // write through the Hadoop FS (as save does) so the local-FS CRC
    // sidecar stays consistent with the tampered content
    def writeManifest(dir: String, text: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, "manifest.json")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }

    val e1 = intercept[IllegalArgumentException] {
      IvfIndex.load(spark, s"$root/nope")
    }
    assert(e1.getMessage.contains("missing manifest"))

    // foreign manifest kind
    val foreign = s"$root/foreign"
    writeManifest(foreign, """{"version":2,"kind":"something_else"}""")
    val e2 = intercept[IllegalArgumentException] { IvfIndex.load(spark, foreign) }
    assert(e2.getMessage.contains("expected ivf_coarse_quantizer"))

    // manifest/centroid-file disagreement
    val path = s"$root/idx"
    IvfIndex.save(spark, path, Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      nCells = 2, kmeansIters = 0)
    writeManifest(path,
      """{"version":2,"kind":"ivf_coarse_quantizer","data_gen":0,"n_cells":2,
         |"n_centroids":3,"dim":2,"kmeans_iters":0}""".stripMargin)
    val e3 = intercept[IllegalArgumentException] { IvfIndex.load(spark, path) }
    assert(e3.getMessage.contains("corrupt"))

    // unsupported version
    writeManifest(path,
      """{"version":99,"kind":"ivf_coarse_quantizer","data_gen":0,"n_cells":2,
         |"n_centroids":2,"dim":2,"kmeans_iters":0}""".stripMargin)
    val e4 = intercept[IllegalArgumentException] { IvfIndex.load(spark, path) }
    assert(e4.getMessage.contains("version"))
  }

  test("save is an overwrite: re-saving a different quantizer replaces it") {
    val path = tmpDir() + "/idx"
    IvfIndex.save(spark, path, Seq(Seq(1.0, 0.0)), nCells = 1, kmeansIters = 0)
    IvfIndex.save(spark, path, Seq(Seq(0.5, 0.5), Seq(-0.5, 0.5)),
      nCells = 2, kmeansIters = 0)
    assert(IvfIndex.load(spark, path) == Seq(Seq(0.5, 0.5), Seq(-0.5, 0.5)))
  }

  // ---------------------------------------------------- bloom exclusion

  test("BloomIndex: buildAndSave -> load round-trips the sketch bytes; probes match the inline build") {
    import graft.ops.{BloomIndex, Dedup}
    val corpusDf = (1L to 500L).map(i => (i, s"doc $i")).toDF("id", "text")
    val exclude = (1L to 500L by 7).map(Tuple1(_)).toDF("xid")
    val path = tmpDir() + "/bloom"
    val built = BloomIndex.buildAndSave(exclude, "xid", fpp = 0.01, path)
    val loaded = BloomIndex.load(spark, path)
    assert(java.util.Arrays.equals(built, loaded)) // byte-identical artifact
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val inline = ids(Dedup.excludeByBloom(corpusDf, "id", exclude, "xid"))
    val fromArtifact = ids(Dedup.excludeByBloomWith(
      corpusDf, "id", loaded, exclude, "xid"))
    assert(fromArtifact == inline)
    assert(inline == (1L to 500L).filterNot(i => (i - 1) % 7 == 0).toSeq)
  }

  test("BloomIndex.load fails fast on missing, foreign, and corrupt artifacts") {
    import graft.ops.BloomIndex
    val root = tmpDir()
    def writeManifest(dir: String, text: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir, "manifest.json")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    val e1 = intercept[IllegalArgumentException] {
      BloomIndex.load(spark, s"$root/nope")
    }
    assert(e1.getMessage.contains("missing manifest"))
    // an IVF artifact is a FOREIGN kind to the bloom loader (and vice
    // versa): the two index families can share one root safely
    val ivf = s"$root/ivf"
    IvfIndex.save(spark, ivf, Seq(Seq(1.0, 0.0)), nCells = 1, kmeansIters = 0)
    val e2 = intercept[IllegalArgumentException] { BloomIndex.load(spark, ivf) }
    assert(e2.getMessage.contains("expected bloom_exclusion"))
    // byte-length disagreement
    val path = s"$root/bloom"
    val bytes = BloomIndex.buildAndSave((1L to 10L).map(Tuple1(_)).toDF("xid"),
      "xid", fpp = 0.01, path)
    def manifest(version: Int, nBytes: Long): String =
      s"""{"version":$version,"kind":"bloom_exclusion","data_gen":0,
         |"fpp":0.01,"n_bytes":$nBytes,"n_ids":10,"id_col":"xid",
         |"id_type":"bigint","fingerprint":"0","n_items_built":10,
         |"n_inserted":10,"n_hash_functions":7}""".stripMargin
    writeManifest(path, manifest(2, 999))
    val e3 = intercept[IllegalArgumentException] { BloomIndex.load(spark, path) }
    assert(e3.getMessage.contains("corrupt"))
    // unsupported version
    writeManifest(path, manifest(99, bytes.length))
    val e4 = intercept[IllegalArgumentException] { BloomIndex.load(spark, path) }
    assert(e4.getMessage.contains("version"))
    // unparsable manifest and a deleted sketch file are ALSO
    // IllegalArgumentException (the fail-fast contract wraps the raw
    // parse/read exceptions)
    writeManifest(path, "{truncated garbage")
    val e5 = intercept[IllegalArgumentException] { BloomIndex.load(spark, path) }
    assert(e5.getMessage.contains("malformed bloom index manifest"))
    writeManifest(path, manifest(2, bytes.length))
    assert(java.util.Arrays.equals(BloomIndex.load(spark, path), bytes))
    val bloomDir = new org.apache.hadoop.fs.Path(path, "bloom")
    bloomDir.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(bloomDir, true)
    val e6 = intercept[IllegalArgumentException] { BloomIndex.load(spark, path) }
    assert(e6.getMessage.contains("unreadable sketch"))
  }

  test("BloomIndex records the build-time list size; loadWithMeta surfaces it") {
    import graft.ops.BloomIndex
    val exclude = (1L to 37L).map(Tuple1(_)).toDF("xid")
    val path = tmpDir() + "/bloom_meta"
    BloomIndex.buildAndSave(exclude, "xid", fpp = 0.01, path)
    val art = BloomIndex.loadWithMeta(spark, path)
    assert(art.nIds == 37L)
    // the id column's name and type travel too (the consumer's free
    // identity tripwires)
    assert(art.idCol == "xid")
    assert(art.idType == "bigint")
  }

  test("BloomIndex content fingerprint detects a same-count different-content swap") {
    import graft.ops.BloomIndex
    val exclude = (1L to 40L).map(Tuple1(_)).toDF("xid")
    val path = tmpDir() + "/bloom_fp"
    BloomIndex.buildAndSave(exclude, "xid", fpp = 0.01, path)
    // identical content (even reordered / differently partitioned)
    // verifies clean — the fingerprint is order-independent
    val reordered = (1L to 40L).reverse.map(Tuple1(_)).toDF("xid").repartition(7)
    BloomIndex.verifyContent(spark, path, reordered, "xid")
    // SAME row count, one id swapped: the count tripwire is blind to
    // this, the fingerprint is not
    val swapped = ((1L to 39L) :+ 99L).map(Tuple1(_)).toDF("xid")
    assert(swapped.count() == exclude.count())
    val e = intercept[IllegalArgumentException] {
      BloomIndex.verifyContent(spark, path, swapped, "xid")
    }
    assert(e.getMessage.contains("stale"))
    // null ids never enter the sketch (bloomFilter skips nulls), so they
    // are fingerprint-neutral too: appending null rows leaves the
    // fingerprint unchanged (xxhash64(null) alone would contribute the
    // seed, 42, per null row)
    val withNulls = ((1L to 40L).map(Option(_)) ++ Seq(None, None))
      .map(Tuple1(_)).toDF("xid")
    assert(BloomIndex.fingerprint(withNulls, "xid") ==
      BloomIndex.fingerprint(exclude, "xid"))
    // ... so the artifact verifies clean against its list plus nulls
    BloomIndex.verifyContent(spark, path, withNulls, "xid")
  }

  test("Bloom exclusion rejects non-integral id columns on both sides") {
    import graft.ops.{BloomIndex, Dedup}
    val strIds = Seq("a", "b").map(Tuple1(_)).toDF("xid")
    val longIds = Seq(1L, 2L).map(Tuple1(_)).toDF("xid")
    val e1 = intercept[IllegalArgumentException] {
      Dedup.excludeByBloom(longIds.withColumnRenamed("xid", "id"),
        "id", strIds, "xid")
    }
    assert(e1.getMessage.contains("integer type"))
    val e2 = intercept[IllegalArgumentException] {
      BloomIndex.buildAndSave(strIds, "xid", fpp = 0.01, tmpDir() + "/x")
    }
    assert(e2.getMessage.contains("integer type"))
    val bytes = Dedup.excludeByBloom(
      longIds.withColumnRenamed("xid", "id"), "id", longIds, "xid") // warm path ok
    assert(bytes.count() == 0L)
    val built = BloomIndex.buildAndSave(longIds, "xid", fpp = 0.01, tmpDir() + "/y")
    val e3 = intercept[IllegalArgumentException] {
      Dedup.excludeByBloomWith(strIds.withColumnRenamed("xid", "id"),
        "id", built, longIds, "xid")
    }
    assert(e3.getMessage.contains("integer type"))
  }

  test("Bloom exclusion against an empty or all-null list keeps every row; empty sketches persist and merge as no-ops") {
    import graft.ops.{BloomIndex, Dedup}
    import org.apache.spark.util.sketch.BloomFilter
    val corpusDf = (1L to 20L).map(i => (i, s"doc $i")).toDF("id", "text")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val empty = Seq.empty[Long].toDF("xid")
    val allNull = Seq(Option.empty[Long], None).map(Tuple1(_)).toDF("xid")
    for ((ledger, tag) <- Seq(empty -> "empty", allNull -> "nulls")) {
      assert(ids(Dedup.excludeByBloom(corpusDf, "id", ledger, "xid")) == (1L to 20L),
        s"$tag list must exclude nothing")
      // the artifact over such a ledger loads and excludes nothing too
      val path = tmpDir() + s"/bloom_$tag"
      BloomIndex.buildAndSave(ledger, "xid", fpp = 0.01, path)
      val art = BloomIndex.loadWithMeta(spark, path)
      assert(art.nInserted == 0L && art.nIds == ledger.count())
      assert(ids(Dedup.excludeByBloomWith(corpusDf, "id", art.bytes, ledger, "xid"))
        == (1L to 20L))
      // and it accepts a first real delta
      val upd = BloomIndex.update(spark, path, Seq(3L, 5L).toDF("xid"), "xid")
      assert(upd.nInserted == 2L)
      assert(ids(Dedup.excludeByBloomWith(corpusDf, "id", upd.bytes,
        ledger.unionByName(Seq(3L, 5L).toDF("xid")), "xid"))
        == (1L to 20L).filterNot(Set(3L, 5L)))
    }
    // the empty sketch has the shape of a non-empty one at the same
    // sizing: merging it in changes no byte
    val full = Dedup.buildBloomSized((1L to 50L).map(Tuple1(_)).toDF("xid"),
      "xid", 100L, 0.01)
    val merged = BloomFilter.readFrom(new java.io.ByteArrayInputStream(full))
    merged.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(
      Dedup.buildBloomSized(empty, "xid", 100L, 0.01))))
    val bos = new java.io.ByteArrayOutputStream()
    merged.writeTo(bos)
    assert(java.util.Arrays.equals(bos.toByteArray, full))
  }

  test("BloomIndex.update: delta merge is bit-identical to hashing the union at the base sizing") {
    import graft.ops.{BloomIndex, Dedup}
    val v1 = (1L to 400L).map(Tuple1(_)).toDF("xid")
    val added = (1001L to 1040L).map(Tuple1(_)).toDF("xid")
    val removed = (1L to 400L by 50).map(Tuple1(_)).toDF("xid")
    val path = tmpDir() + "/bloom_upd"
    BloomIndex.buildAndSave(v1, "xid", fpp = 0.01, path)
    val base = BloomIndex.loadWithMeta(spark, path)
    val nBuilt = base.nItemsBuilt
    val art = BloomIndex.update(spark, path, added, "xid",
      removed = Some((removed, "xid")))
    assert(base.nItemsBuilt == art.nItemsBuilt)
    // the sketch is the union's bits at the BASE's exact sizing —
    // removals stay set (a bloom cannot forget), additions are in
    val unionBits = Dedup.buildBloomSized(v1.unionByName(added), "xid",
      nBuilt, 0.01)
    assert(java.util.Arrays.equals(art.bytes, unionBits))
    // the manifest tracks the CURRENT ledger, not the sketch's history:
    // count and fingerprint delta-updated exactly, so verifyContent
    // passes against the refreshed list and fails against the old one
    val removedSet = (1L to 400L by 50).toSet
    val current = ((1L to 400L).filterNot(removedSet) ++ (1001L to 1040L))
      .map(Tuple1(_)).toDF("xid")
    assert(art.nIds == current.count())
    assert(art.contentFingerprint == BloomIndex.fingerprint(current, "xid"))
    BloomIndex.verifyContent(spark, path, current, "xid")
    intercept[IllegalArgumentException] {
      BloomIndex.verifyContent(spark, path, v1, "xid")
    }
    // n_inserted is monotone: removals never decrement it
    assert(art.nInserted == 440L)
    // exclusion through the updated sketch equals the inline build over
    // the refreshed ledger: an added id is excluded, a removed id's
    // stale bits are rescued by the exact anti-join (kept)
    val corpusDf = ((1L to 400L) ++ (1001L to 1040L))
      .map(i => (i, s"doc $i")).toDF("id", "text")
    def kept(d: org.apache.spark.sql.DataFrame) =
      d.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept(Dedup.excludeByBloomWith(corpusDf, "id", art.bytes,
        current, "xid")) ==
      kept(Dedup.excludeByBloom(corpusDf, "id", current, "xid")))
    assert(kept(Dedup.excludeByBloomWith(corpusDf, "id", art.bytes,
        current, "xid")).contains(1L)) // removed id 1 is kept again
    // empty delta: no write, artifact returned as loaded
    val same = BloomIndex.update(spark, path,
      spark.emptyDataFrame.select(lit(0L).as("xid")).limit(0), "xid")
    assert(same.contentFingerprint == art.contentFingerprint &&
      same.nIds == art.nIds)
  }

  test("BloomIndex.update guards: fpp growth bound, identity tripwires, legacy artifacts") {
    import graft.ops.BloomIndex
    val tiny = (1L to 20L).map(Tuple1(_)).toDF("xid")
    val path = tmpDir() + "/bloom_guard"
    BloomIndex.buildAndSave(tiny, "xid", fpp = 0.01, path)
    // growing a 20-id sketch by 2000 ids blows the estimated fpp past
    // any sane factor of the built 0.01 — the explicit rebuild trigger
    val flood = (100L to 2100L).map(Tuple1(_)).toDF("xid")
    val eG = intercept[IllegalArgumentException] {
      BloomIndex.update(spark, path, flood, "xid")
    }
    assert(eG.getMessage.contains("outgrown"))
    // the guard throws the DEDICATED type updateOrRebuild dispatches on
    // (never a message-text match), and it stays an IAE for the 400 path
    assert(eG.isInstanceOf[BloomIndex.SketchOutgrownException])
    // a permissive factor admits the same flood (caller's choice)
    BloomIndex.update(spark, path, (21L to 24L).map(Tuple1(_)).toDF("xid"),
      "xid", maxFppFactor = 1e6)
    // wrong column name / non-integral type fail before any job
    val eCol = intercept[IllegalArgumentException] {
      BloomIndex.update(spark, path, tiny.withColumnRenamed("xid", "other"),
        "other")
    }
    assert(eCol.getMessage.contains("column"))
    // an older-format artifact cannot be updated — the load refuses it
    // with the rebuild instruction, before any job
    val legacy = tmpDir() + "/bloom_guard_v1"
    BloomIndex.buildAndSave(tiny, "xid", fpp = 0.01, legacy)
    val mp = new org.apache.hadoop.fs.Path(legacy, "manifest.json")
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(mp)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val out = fs.create(mp, true)
    try out.write(text.replace("\"version\":2", "\"version\":1").getBytes("UTF-8"))
    finally out.close()
    val eOld = intercept[IllegalArgumentException] {
      BloomIndex.update(spark, legacy, tiny, "xid")
    }
    assert(eOld.getMessage.contains("older format (version 1)") &&
      eOld.getMessage.contains("rebuild"))
  }

  test("BloomIndex records the exact hash-function count; formula pins the library's field") {
    import graft.ops.BloomIndex
    // the manifest's n_hash_functions must be the library's ACTUAL k —
    // read the private field by reflection and pin our pre-rounding
    // formula against it across sizes and fpps (bitSize()-based
    // reconstruction is off by one near .5 rounding boundaries)
    def reflectK(bf: org.apache.spark.util.sketch.BloomFilter): Int = {
      var c: Class[_] = bf.getClass
      var f: java.lang.reflect.Field = null
      while (f == null && c != null) {
        f = try c.getDeclaredField("numHashFunctions")
        catch { case _: NoSuchFieldException => null }
        if (f == null) c = c.getSuperclass
      }
      f.setAccessible(true)
      f.getInt(bf)
    }
    for (n <- Seq(10L, 100L, 1000L, 123456L);
         fpp <- Seq(0.5, 0.1, 0.03, 0.01, 0.001)) {
      val lib = org.apache.spark.util.sketch.BloomFilter.create(n, fpp)
      assert(BloomIndex.numHashFunctions(n, fpp) == reflectK(lib),
        s"formula diverges from the library at n=$n fpp=$fpp")
    }
    val ids = (1L to 300L).map(Tuple1(_)).toDF("xid")
    val path = tmpDir() + "/bloom_k"
    BloomIndex.buildAndSave(ids, "xid", fpp = 0.03, path)
    val art = BloomIndex.loadWithMeta(spark, path)
    assert(art.nHashFunctions ==
      BloomIndex.numHashFunctions(art.nItemsBuilt, 0.03).toLong)
    // an update carries the recorded k through unchanged
    val upd = BloomIndex.update(spark, path,
      (301L to 310L).map(Tuple1(_)).toDF("xid"), "xid")
    assert(upd.nHashFunctions == art.nHashFunctions)
  }

  test("BloomIndex.updateOrRebuild: growth refusal falls back to a fresh correctly-sized build") {
    import graft.ops.BloomIndex
    val v1 = (1L to 20L).map(Tuple1(_)).toDF("xid")
    val path = tmpDir() + "/bloom_auto"
    BloomIndex.buildAndSave(v1, "xid", fpp = 0.01, path)
    val baseSizing = BloomIndex.loadWithMeta(spark, path).nItemsBuilt
    // a small delta stays on the update path: sizing unchanged
    val small = (21L to 23L).map(Tuple1(_)).toDF("xid")
    val smallLedger = (1L to 23L).map(Tuple1(_)).toDF("xid")
    val (a1, rebuilt1) = BloomIndex.updateOrRebuild(spark, path,
      small, "xid", smallLedger, "xid")
    assert(!rebuilt1 && a1.nItemsBuilt == baseSizing)
    assert(a1.nIds == 23L)
    // a flood crosses the certified 4x fpp bound -> rebuild from the
    // ledger at the new scale, byte-identical to a fresh buildAndSave
    val flood = (100L to 2100L).map(Tuple1(_)).toDF("xid")
    val ledger = smallLedger.unionByName(flood).distinct()
    val (a2, rebuilt2) = BloomIndex.updateOrRebuild(spark, path,
      flood, "xid", ledger, "xid")
    assert(rebuilt2)
    val fresh = tmpDir() + "/bloom_auto_fresh"
    val freshBytes = BloomIndex.buildAndSave(ledger, "xid", 0.01, fresh)
    assert(java.util.Arrays.equals(a2.bytes, freshBytes))
    assert(a2.nIds == ledger.count())
    BloomIndex.verifyContent(spark, path, ledger, "xid")
  }
}
