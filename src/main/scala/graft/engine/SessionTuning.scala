package graft.engine

import org.apache.spark.sql.SparkSession

/** Library-level session configuration shared by every entry point that
  * drives graft queries (Bench, Verify, the HTTP server). These confs
  * belong to the LIBRARY, not to any one harness: an artifact writer's
  * commit cost or codegen-cache pressure is the same regardless of who
  * built the session, so setting them only where the timing happens
  * (the round-20 state for the committer) measured the bench instead of
  * the library. */
object SessionTuning {

  /** Performance confs applied by all graft mains.
    *
    *  - FileOutputCommitter v2: one rename per committed file instead of
    *    v1's write-to-task-attempt + serial job-commit rename pass. The
    *    artifact-maintenance operators (VocabIndex/DecontIndex/
    *    MinHashIndex/BloomIndex) commit dozens of tiny parquet writes
    *    per mutation, and the v1 job-commit pass is a serial driver-side
    *    loop that grows with file count. Safe for every graft writer:
    *    artifacts are single-writer under ArtifactLock's write lock, and
    *    every reader is gated on the atomically-published manifest (or
    *    _SUCCESS for the epoch sinks), never on directory listing of an
    *    in-flight write.
    *  - Codegen cache sized to the workload: the default 100-entry cache
    *    cannot hold one pass over the full query surface (~300+ codegen
    *    units), so steady-state traffic silently re-janino-compiles —
    *    seconds-level noise on whichever query races the compiler.
    */
  val perfConfs: Seq[(String, String)] = Seq(
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2",
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** Fold [[perfConfs]] into a session builder and install
    * [[graft.plans.GraftExtensions]]: the SQL-surface kernels, the
    * physical rule that keeps filter and alias constants out of generated
    * code, so a repeat query with a new constant reuses compiled classes,
    * and the optimizer rule that drops row-order sorts a one-partition
    * cache already satisfies, so a limited read stops after its rows. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    perfConfs.foldLeft(b.withExtensions(new graft.plans.GraftExtensions())) {
      case (bb, (k, v)) => bb.config(k, v)
    }
}
