package graft.engine

import org.apache.spark.sql.SparkSession

/** Library-level session configuration shared by every entry point that
  * drives graft queries: the HTTP server, Bench, Verify, the tools and
  * the tests all build their session with [[local]]. These confs
  * belong to the LIBRARY, not to any one harness: an artifact writer's
  * commit cost or codegen-cache pressure is the same regardless of who
  * built the session, so setting them only where the timing happens
  * (the round-20 state for the committer) measured the bench instead of
  * the library. */
object SessionTuning {

  /** Cores a graft main runs on: `SPARK_GRAFT_CPUS`, else every core the
    * JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session builder of every graft main: `local[cpus]` with one
    * shuffle partition per core, no UI, and [[tuned]].
    *
    *  - UTC everywhere: the NTZ time handling (timeEmbedding's NTZ->LTZ
    *    cast, x47's epoch-micro window bounds, sessionize's NTZ
    *    unification) assumes session-UTC; a DST host zone would make the
    *    NTZ embedding non-monotone and shift window bounds.
    *  - `nanosAsLong`: fixture parquet written with nanosecond timestamps
    *    reads as LONG nanos, which the event readers convert themselves.
    *  - Adaptive execution stays at Spark's defaults, including
    *    parallelism-first partition coalescing. Measured at sf0.1 on 32
    *    cores (calibration-stamped A/B over the full Bench suite):
    *    parallelism-first 35.0 s against size-based coalescing 41.7 s,
    *    with the size-based run on the faster box state. Size-based
    *    coalescing collapsed the CPU-heavy post-shuffle stages (signature
    *    kernels, verify joins) to one task, serializing work the cores
    *    could split. At fleet scale partition sizing comes from
    *    `advisoryPartitionSizeInBytes` (a deployment conf), not from
    *    flipping this policy. */
  def local(cpus: Int = SessionTuning.cpus): SparkSession.Builder =
    tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))

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
