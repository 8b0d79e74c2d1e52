package graft.tools

/** Offline Bloom-exclusion builder — the entry that produces the
  * persistable sketch artifact (graft.ops.BloomIndex) a server then
  * serves via `--index-root` + the `index` arg on the `exclude_ids`
  * xop. Build once per exclusion-list refresh (one aggregation job over
  * the list), probe many times across server restarts without re-paying
  * it.
  *
  * Usage:
  *   sbt "runMain graft.tools.BuildBloomIndex <exclude.parquet> <idCol> \
  *     <fpp> <outDir>"
  */
object BuildBloomIndex {
  def main(args: Array[String]): Unit = {
    if (args.length != 4) {
      System.err.println(
        "usage: BuildBloomIndex <exclude.parquet> <idCol> <fpp> <outDir>")
      sys.exit(2)
    }
    val Array(src, idCol, fppS, out) = args
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val exclude = spark.read.parquet(src)
    val bytes = graft.ops.BloomIndex.buildAndSave(exclude, idCol, fppS.toDouble, out)
    println(s"built ${bytes.length}-byte bloom sketch -> $out")
    spark.stop()
  }
}
