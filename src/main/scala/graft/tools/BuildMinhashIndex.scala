package graft.tools

/** Offline MinHash signature-index builder — the entry that produces the
  * persistable signature artifact (graft.ops.MinHashIndex) a server then
  * serves via `--index-root` + the `index` arg on the `minhash_against`
  * xop. Build once per corpus version (two map-side passes over the
  * corpus: signatures + the count/fingerprint aggregation), then every
  * incremental batch admission probes ~numHashes·8 bytes per corpus doc
  * instead of re-reading and re-shingling the corpus text.
  *
  * Usage:
  *   sbt "runMain graft.tools.BuildMinhashIndex <corpus.parquet> <idCol> \
  *     <textCol> <numHashes> <shingleSize> <outDir>"
  */
object BuildMinhashIndex {
  def main(args: Array[String]): Unit = {
    if (args.length != 6) {
      System.err.println(
        "usage: BuildMinhashIndex <corpus.parquet> <idCol> <textCol> " +
          "<numHashes> <shingleSize> <outDir>")
      sys.exit(2)
    }
    val Array(src, idCol, textCol, nhS, shS, out) = args
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val corpus = spark.read.parquet(src)
    val art = graft.ops.MinHashIndex.buildAndSave(corpus, idCol, textCol,
      numHashes = nhS.toInt, shingleSize = shS.toInt, path = out)
    println(s"built minhash index (${art.nDocs} docs, " +
      s"num_hashes=${art.numHashes}, shingle_size=${art.shingleSize}) -> $out")
    spark.stop()
  }
}
