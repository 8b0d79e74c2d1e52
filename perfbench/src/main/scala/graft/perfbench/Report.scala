package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{Query, QueryEngine, UpdateEngine}
import graft.server.Codec
import graft.sources.{Ingest, Serialize}

/** Report lines, then the metrics of the result JSON as name → (value, unit). */
final case class Result(lines: Seq[String], metrics: Seq[(String, (Double, String))])

object Report {
  /** Request classes that per-layer metrics are split by. */
  val Classes = Seq("query", "page", "store", "first_query", "update", "xop")
  val Families = Seq("dedup", "text", "events", "profile")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  /** Used heap once a full GC stops freeing memory (at most six rounds):
    * Spark's cleaner releases what one GC finds unreachable, and the next
    * GC frees that. */
  private def heapAfterGcMb(): Double = {
    def gcUsed(): Double = {
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = gcUsed(); var cur = gcUsed(); var rounds = 2
    while (math.abs(cur - prev) >= 0.5 && rounds < 6) { prev = cur; cur = gcUsed(); rounds += 1 }
    cur
  }

  /** Percentiles the report names, per request class and workload. */
  private val Named = Seq(
    ("query_p50_ms", "query", 0.5), ("query_p99_ms", "query", 0.99),
    ("page_p50_ms", "page", 0.5), ("page_p95_ms", "page", 0.95),
    ("store_p50_ms", "store", 0.5), ("store_p90_ms", "store", 0.9),
    ("first_query_p50_ms", "first_query", 0.5), ("update_p50_ms", "update", 0.5),
    ("xop_p50_ms", "xop", 0.5), ("xop_p90_ms", "xop", 0.9))

  private def latencies(samples: Seq[Sample], cls: String): Seq[Double] =
    samples.filter(s => s.cls == cls && s.ok).map(_.ms)

  /** A timing line with its sample count; a percentile without
    * [[Stats.MinBeyond]] samples beyond it is named but not quoted. */
  private def line(name: String, values: Seq[Double], q: Double): String =
    if (values.isEmpty) s"metric $name - ms n=0"
    else if (!Stats.supported(values.length, q))
      s"metric $name unsupported ms n=${values.length} (needs ${Stats.samplesNeeded(q)})"
    else f"metric $name ${Stats.percentile(values, q)}%.2f ms n=${values.length}"

  /** The end-to-end run: [[HttpBench.SetupReps]] setups, the first one
    * followed by the server's heap reading, then the timed closed-loop
    * window with the workload's client count. */
  def untraced(runner: Runner, seed: Long, seconds: Double): Result = {
    val wl = runner.wl
    val firstSetup = runner.setup()
    val warm = runner.warmup()
    // The server's heap is what its teardown frees (datasets, plan memos,
    // warmer state), read once the initial tables are stored and one
    // request of each shape is answered. Spark's own history and the
    // benchmark's inputs stay. At the end of the window the server's
    // state would depend on how many requests the window held, so a faster
    // server would read as a bigger one.
    val heap = heapAfterGcMb()
    val cacheBytes = runner.statistics().get("cache_size").map(_.toString.toDouble).getOrElse(0.0)
    runner.teardown()
    val heapWithout = heapAfterGcMb()
    val setups = firstSetup +: (2 to HttpBench.SetupReps).map(_ => runner.setup())
    HttpBench.mark("setups done")
    runner.warmup()
    HttpBench.mark("warm-up done")
    val failedBefore = runner.failed.get
    val (samples, t0) = runner.run(wl.clients, seconds, Int.MaxValue, stream = 0)
    val done = samples.count(_.end <= t0 + seconds * 1000)
    // every answered request except the store-on-miss protocol's 404s
    val answered = samples.filter(s => s.ok && s.cls != "miss").map(_.ms)
    val work = latencies(samples, wl.workClass)
    val pages = samples.filter(s => s.cls == "page" && s.ok)
    val lines = Seq(
      s"setup_s reps ${setups.map(s => f"$s%.3f").mkString(" ")}",
      s"warm-up ms ${warm.map(s => f"${s.req.tag}:${s.ms}%.0f").mkString(" ")}",
      "checks " + samples.filter(!_.req.isStore).groupBy(_.req.expect.full).toSeq.sortBy(!_._1)
        .map { case (full, ss) => (if (full) "full: " else "columns+repeat: ") +
          ss.map(s => s"${s.cls}/${s.req.tag}").distinct.sorted.mkString(" ") }.mkString("; "),
      f"heap after gc: $heap%.1f MB after the first setup and warm-up, $heapWithout%.1f MB after " +
        f"the server's teardown; server cache_size ${cacheBytes / 1e6}%.1f MB",
      f"metric req_rps ${done / seconds}%.3f req/s n=$done",
      f"metric fail_ratio ${(runner.failed.get - failedBefore).toDouble / math.max(1, samples.length)}%.4f ratio n=${samples.length}",
      f"metric heap_after_gc_mb ${heap - heapWithout}%.1f MB n=1",
      f"metric mean_ms ${Stats.mean(answered)}%.2f ms n=${answered.length}",
      f"metric work_p50_ms ${Stats.median(work)}%.2f ms n=${work.length} (${wl.workClass})",
      f"metric page_mb_s ${pages.map(_.bytes).sum / 1e6 / seconds}%.3f MB/s n=${pages.length}") ++
      Named.filter { case (_, c, _) => samples.exists(_.cls == c) }
        .map { case (n, c, q) => line(n, latencies(samples, c), q) }
    Result(lines, Seq(
      "setup_s" -> (Stats.median(setups), "s"),
      "req_rps" -> (done / seconds, "req/s"),
      "mean_ms" -> (Stats.mean(answered), "ms"),
      "work_p50_ms" -> (Stats.median(work), "ms"),
      "heap_after_gc_mb" -> (heap - heapWithout, "MB")))
  }

  /** The traced run: 1-client phases of the same steps from the same
    * stream, each on a fresh server after a warm-up: an unmeasured one,
    * then one untraced and one traced (which of the two runs first
    * alternates with the seed); then a replay of sampled requests through
    * the layers' public functions. */
  def traced(spark: SparkSession, runner: Runner, listener: JobListener, seed: Long,
             seconds: Double, dumpDir: String): Result = {
    val wl = runner.wl
    val t = runner.tracer
    val steps = math.max(4, (seconds * TraceStepsPerSecond(wl.name)).toInt)
    def phase(trace: Boolean): (Seq[Sample], Double, Map[String, Any]) = {
      runner.setup()
      runner.warmup()
      runner.statistics() // resets the server's counters
      val gc0 = gcMs()
      runner.traced = trace
      val (samples, _) = runner.run(1, 120, steps, stream = 1)
      runner.traced = false
      (samples, gcMs() - gc0, runner.statistics())
    }
    // an unmeasured pass over the same steps first, so that Spark's code
    // cache and the JIT are as warm for the first measured phase as for
    // the second
    phase(trace = false)
    val tracedFirst = seed % 2 != 0
    val first = phase(trace = tracedFirst)
    val second = phase(trace = !tracedFirst)
    val ((traced, gc, stats), (plain, _, _)) = if (tracedFirst) (first, second) else (second, first)
    val requestSpans = traced.map(s => t.record("request." + s.cls, s.start, s.end,
      Map("cls" -> s.cls, "tag" -> s.req.tag, "key" -> s.req.key, "status" -> s.status)))
    val phases = replay(spark, runner, traced)
    org.apache.spark.BenchShims.drainListeners(spark.sparkContext)
    val jobs = listener.jobs
    val byspan = t.attribute(jobs)
    def jobsOf(s: Span): Seq[JobRec] = byspan.getOrElse(s.id, Nil)
    def jobMs(s: Span): Double = Tracer.covered(s.start, s.end,
      jobsOf(s).map(j => (j.start.toDouble, j.end.toDouble)))
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def named(name: String, attr: (String, Any)*): Seq[Span] =
      t.spans.toSeq.filter(s => s.name == name && attr.forall { case (k, v) => s.attrs.get(k).contains(v) })
    def ratio(xs: Seq[Boolean]): Double = if (xs.isEmpty) 0.0 else xs.count(identity).toDouble / xs.length

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    for (c <- Classes) {
      val rs = requestSpans.filter(_.attrs("cls") == c)
      m(s"spark.jobs.$c") = (mean(rs.map(jobsOf(_).size.toDouble)), "count")
      m(s"spark.stages.$c") = (mean(rs.map(jobsOf(_).map(_.stages).sum.toDouble)), "count")
      m(s"spark.tasks.$c") = (mean(rs.map(jobsOf(_).map(_.tasks).sum.toDouble)), "count")
      m(s"spark.job_ms.$c") = (mean(rs.map(jobMs)), "ms")
      m(s"spark.task_ms.$c") = (mean(rs.map(jobsOf(_).map(_.taskMs).sum.toDouble)), "ms")
      m(s"spark.shuffle_bytes.$c") = (mean(rs.map(jobsOf(_).map(_.shuffleBytes).sum.toDouble)), "bytes")
      m(s"spark.spill_bytes.$c") = (mean(rs.map(jobsOf(_).map(_.spillBytes).sum.toDouble)), "bytes")
      m(s"spark.driver_ms.$c") = (mean(rs.map(s => s.ms - jobMs(s))), "ms")
      val ps = phases.filter(_._1 == c).map(_._2)
      for ((phase, metric) <- Seq("analysis" -> "analysis", "optimization" -> "optimize", "planning" -> "planning"))
        m(s"spark.${metric}_ms.$c") = (mean(ps.map(_.getOrElse(phase, 0.0))), "ms")
    }
    val ser = named("sources.serialize")
    for (f <- Seq("json", "csv"))
      m(s"sources.serialize_ms.$f") = (mean(named("sources.serialize", "fmt" -> f).map(t.selfMs(_, byspan))), "ms")
    m("sources.serialize_mb_s") = (
      if (ser.isEmpty) 0.0 else ser.map(_.attrs("bytes").asInstanceOf[Long]).sum / 1e3 / ser.map(_.ms).sum, "MB/s")
    for (e <- Seq("lz4", "gzip")) {
      val enc = named("server.codec.encode", "enc" -> e)
      m(s"server.codec.encode_ms.$e") = (mean(enc.map(_.ms)), "ms")
      m(s"server.codec.ratio.$e") = (mean(enc.map(s =>
        s.attrs("out").asInstanceOf[Long].toDouble / math.max(1L, s.attrs("in").asInstanceOf[Long]))), "ratio")
    }
    for (f <- Seq("csv", "json", "ndjson"))
      m(s"sources.ingest_ms.$f") = (mean(named("sources.ingest", "fmt" -> f).map(_.ms)), "ms")
    m("sources.ingest_jobs") = (mean(named("sources.ingest").map(jobsOf(_).size.toDouble)), "count")
    for (e <- Seq("lz4", "gzip"))
      m(s"server.codec.decode_ms.$e") = (mean(named("server.codec.decode", "enc" -> e).map(_.ms)), "ms")
    m("server.http.store_rest_ms") = (mean(named("replay.store").map { s =>
      s.attrs("http_ms").asInstanceOf[Double] - t.children(s).map(_.ms).sum
    }), "ms")
    for (c <- Seq("query", "page", "xop"))
      m(s"server.cache.memo_hit_ratio.$c") = (ratio(traced.filter(_.cls == c).flatMap(_.memoHit)), "ratio")
    m("engine.parse_ms") = (mean(named("engine.parse").map(_.ms)), "ms")
    for (c <- Seq("query", "page", "xop"))
      m(s"engine.build_ms.$c") = (mean(named("engine.build", "cls" -> c).map(t.selfMs(_, byspan))), "ms")
    m("engine.update_ms") = (mean(named("engine.update").map(t.selfMs(_, byspan))), "ms")
    val drains = named("server.warmer.drain")
    m("server.warmer.first_hit_ratio") = (ratio(traced.filter(_.cls == "first_query").flatMap(_.memoHit)), "ratio")
    m("server.warmer.jobs") = (mean(drains.map(jobsOf(_).size.toDouble)), "count")
    m("server.warmer.lag_ms") = (mean(drains.map(_.ms)), "ms")
    val lookups = traced.filter(s => Set("query", "page", "xop", "miss")(s.cls))
    m("server.cache.hit_ratio") = (ratio(lookups.map(_.cls != "miss")), "ratio")
    val stores = stats.get("store_count").map(_.toString.toDouble).getOrElse(0.0)
    m("server.cache.evictions") = (
      if (stores == 0) 0.0 else 100 * stats.get("size_evict_count").map(_.toString.toDouble).getOrElse(0.0) / stores,
      "per100stores")
    val cacheBytes = stats("cache_size").toString.toDouble
    m("server.cache.bytes") = (cacheBytes, "bytes")
    // the last phase replays the same stream, so its server holds the same keys
    val bodyBytes = wl.datasets.filter(d => runner.server.cache.contains(d.key)).map(_.decoded.length.toLong).sum
    m("server.cache.bytes_per_body_byte") = (if (bodyBytes == 0) 0.0 else cacheBytes / bodyBytes, "ratio")
    for (f <- Families) {
      val rs = requestSpans.filter(s => s.attrs("cls") == "xop" && s.attrs("tag") == f)
      m(s"ops.jobs.$f") = (mean(rs.map(jobsOf(_).size.toDouble)), "count")
      m(s"ops.job_ms.$f") = (mean(rs.map(jobMs)), "ms")
      m(s"ops.shuffle_bytes.$f") = (mean(rs.map(jobsOf(_).map(_.shuffleBytes).sum.toDouble)), "bytes")
    }
    m("engine.build_jobs.xop") = (mean(named("engine.build", "cls" -> "xop").map(jobsOf(_).size.toDouble)), "count")
    m("jvm.gc_ms") = (gc, "ms")
    // compare class by class, then take the median ratio
    val overheads = for (c <- Classes; p = latencies(plain, c); q = latencies(traced, c)
                         if p.length >= 3 && q.length >= 3) yield Stats.median(q) / Stats.median(p)
    m("trace.overhead") = (Stats.median(overheads), "ratio")

    val counts = Classes.map { c =>
      val rs = requestSpans.filter(_.attrs("cls") == c)
      c -> Seq(rs.size, rs.map(jobsOf(_).size).sum, rs.map(jobsOf(_).map(_.stages).sum).sum)
    }.toMap
    val repeat = Dump.write(dumpDir, wl.name, seed, t, jobs, byspan, counts)
    val lines = Seq(
      s"trace steps $steps plain=${plain.length} traced=${traced.length} requests " +
        s"(${if (tracedFirst) "traced" else "plain"} phase first), ${jobs.length} jobs",
      s"trace counts (requests, jobs, stages) per class: " +
        counts.toSeq.sortBy(_._1).map { case (c, v) => s"$c=${v.mkString("/")}" }.mkString(" "),
      s"trace repeat vs previous dump at this seed: $repeat") ++
      m.toSeq.map { case (k, (v, u)) => f"layer $k $v%.4f $u" }
    Result(lines, m.toSeq)
  }

  /** Traced steps per second of `--seconds`, per workload: sized so a
    * phase holds every request class (in store_evict, enough stores to
    * evict) and both phases fit the run's time limit. */
  private val TraceStepsPerSecond = Map("read_warm" -> 3.0, "store_evict" -> 2.0)

  /** Replays up to six traced requests per class through the
    * public functions the server calls, in the server's order, against the
    * frames in the server's cache. Returns (class, Catalyst phase → ms). */
  private def replay(spark: SparkSession, runner: Runner, traced: Seq[Sample])
      : Seq[(String, Map[String, Double])] = {
    val t = runner.tracer
    def phases(df: DataFrame): Map[String, Double] =
      df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }.toMap
    // per class, the first request of each body format, encoding, Accept
    // and Accept-Encoding seen, so every codec and serializer is replayed
    val picked = Classes.flatMap { c =>
      traced.filter(s => s.cls == c && s.ok)
        .distinctBy(s => (s.req.tag, s.req.contentEncoding, s.req.accept, s.req.acceptEncoding)).take(6)
    }
    picked.flatMap { s =>
      val req = s.req
      if (req.isStore) Some("store" -> t.span("replay.store", Map("http_ms" -> s.ms)) {
        val decoded =
          if (req.contentEncoding.isEmpty) req.body
          else t.span("server.codec.decode", Map("enc" -> req.contentEncoding)) {
            Codec.decodeBody(req.body, Some(req.contentEncoding))
          }
        val text = new String(decoded, UTF_8)
        val hints = req.types.split(';').filter(_.contains('=')).map { kv =>
          val Array(k, v) = kv.split('='); k.trim -> v.trim }.toMap
        val df = t.span("sources.ingest", Map("fmt" -> req.tag)) {
          req.tag match {
            case "csv" => Ingest.fromCsv(spark, text, hints)
            case "ndjson" => Ingest.fromJsonLines(spark, text)
            case _ => Ingest.fromJsonRecords(spark, text)
          }
        }
        phases(df)
      })
      else runner.server.cache.peek(req.key).map { item =>
        s.cls -> t.span(s"replay.${s.cls}") {
          val q = t.span("engine.parse") { Query.parse(req.query) }
          val df = t.span("engine.standins") { Ingest.addStandInColumns(item.df, Nil) }
          if (q.isUpdate) {
            val updated = t.span("engine.update") { UpdateEngine.update(df, q) }
            t.span("spark.materialize") { updated.count() }
            phases(updated)
          } else {
            val result = t.span("engine.build", Map("cls" -> s.cls)) { QueryEngine.run(df, q, _ => None) }
            val csv = req.accept == "text/csv"
            val attrs = mutable.Map[String, Any]("fmt" -> (if (csv) "csv" else "json"))
            val (text, _) = t.span("sources.serialize", attrs) {
              if (csv) Serialize.toCsvCounted(result.df) else Serialize.toJsonCounted(result.df)
            }
            val bytes = text.getBytes(UTF_8)
            attrs("bytes") = bytes.length.toLong
            if (q.offset.nonEmpty || q.limit.nonEmpty) t.span("engine.unsliced") { result.unslicedLength }
            Codec.chooseResponseEncoding(req.acceptEncoding).foreach { e =>
              val enc = mutable.Map[String, Any]("enc" -> e, "in" -> bytes.length.toLong)
              val out = t.span("server.codec.encode", enc) { Codec.encodeBody(bytes, Some(e)) }
              enc("out") = out.length.toLong
            }
            phases(result.df)
          }
        }
      }
    }
  }
}

/** Writes the traced run's spans and jobs as JSON, and compares its
  * per-class job and stage counts with the previous dump of the same
  * workload and seed. */
object Dump {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: collection.Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case other => String.valueOf(other)
  }

  def write(dir: String, workload: String, seed: Long, t: Tracer, jobs: Seq[JobRec],
            byspan: Map[Int, Seq[JobRec]], counts: Map[String, Seq[Int]]): String = {
    val file = new java.io.File(dir, s"trace-$workload-seed$seed.json")
    val previous: Option[String] =
      if (file.exists) Some(mapper.readTree(file).get("counts").toString) else None
    val countsJson = mapper.writeValueAsString(toJava(counts.toSeq.sortBy(_._1).toMap))
    val doc = Map(
      "workload" -> workload, "seed" -> seed,
      "counts" -> counts,
      "spans" -> t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> t.selfMs(s, byspan),
        "jobs" -> byspan.getOrElse(s.id, Nil).map(_.id), "attrs" -> s.attrs.toMap)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes)))
    file.getParentFile.mkdirs()
    mapper.writeValue(file, toJava(doc))
    previous match {
      case None => "none (first dump)"
      case Some(p) => (mapper.readTree(p) == mapper.readTree(countsJson)).toString
    }
  }
}
