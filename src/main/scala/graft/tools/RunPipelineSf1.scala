package graft.tools

import org.apache.spark.sql.functions._

/** End-to-end curation-pipeline timing at a given sf dir — the
  * full-corpus composition the per-operator bench can't show: exact
  * dedup → MinHash near-dup drop → semantic dedup (fixed centroids) →
  * decontaminate vs a held-out slice → quality/entropy gate → PII scrub
  * → token count → sequence packing → sharded export with manifest. One
  * lazy plan per stage boundary; the only actions are the stage-count
  * prints and the final shard write. Evidence that the operators
  * COMPOSE at corpus scale, not just pass their per-operator gates.
  *
  * Usage: RunPipelineSf1 [sfDir]
  */
object RunPipelineSf1 {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata-sf1")
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.ops._
    graft.sources.TableRegistry.warmup(spark, dir, Seq("documents", "embeddings"))
    val docs = graft.sources.TableRegistry.table(spark, dir, "documents")
    val emb = graft.sources.TableRegistry.table(spark, dir, "embeddings")
    val t0 = System.nanoTime()
    def lap(label: String, n: Long): Unit =
      println(f"${(System.nanoTime() - t0) / 1e9}%7.2f s  $label: $n rows")

    // 1-2. exact + near-dup text dedup
    val exact = Dedup.exactByText(docs, "text", "doc_id")
    lap("exact dedup", exact.count())
    val deduped = Dedup.dropNearDuplicates(exact,
      Dedup.minhashPairs(exact, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.6, shingleSize = 3),
      "doc_id")
    lap("minhash drop", deduped.count())

    // 3. semantic dedup of the embedding table (fixed centroids from its
    // own first rows — the x61 recipe). The fixture's vec_id and doc_id
    // spaces are distinct, so this is measured as the embedding-side
    // BRANCH of the pipeline (its own stage cost), not joined into the
    // text chain below.
    val cents: Seq[Seq[Double]] = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val semKeep = Similarity.semanticDedup(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")),
      "vec_id", "embedding", cents, threshold = 0.97)
    lap("semantic dedup (embeddings)", semKeep.count())

    // 4. decontaminate against a held-out slice (src7 as the eval set)
    val clean = Decontaminate.decontaminate(
      deduped.filter(col("source") =!= "src7"),
      deduped.filter(col("source") === "src7"), "doc_id", "text", n = 8)
    lap("decontaminate", clean.count())

    // 5. quality + entropy gate, PII scrub
    val kept = TextOps.qualityFeatures(clean, "text")
      .withColumn("entropy", TextOps.charEntropy(col("text")))
      .filter(col("entropy") > 2.5)
    val scrubbed = TextOps.redactPii(kept, "text")
    lap("quality gate + PII scrub", scrubbed.count())

    // 6-7. token counts → packing → sharded export
    val counted = scrubbed.withColumn("n_tok", TextOps.tokenCount(col("redacted")))
    val packed = Packing.packSequences(counted, "doc_id", "n_tok", budget = 2048)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sf1_pipeline").toString
    val manifest = graft.sources.ShardWriter.writeShards(
      counted.join(packed.select(col("doc_id"), col("bin")), Seq("doc_id")),
      "bin", "n_tok", tmp)
    val m = manifest.agg(sum("n_rows"), sum("n_tokens")).head()
    lap(s"packed + sharded to $tmp (tokens=${m.get(1)})", m.getLong(0))
    println(f"TOTAL ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
