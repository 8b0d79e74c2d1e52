package graft.perfbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.server.{GraftServer, ShapeWarmer}

/** One answered request. Times are epoch milliseconds. */
final case class Sample(req: Req, cls: String, start: Double, end: Double, status: Int,
                        ok: Boolean, bytes: Long, memoHit: Option[Boolean]) {
  def ms: Double = end - start
}

/** Drives one in-process [[GraftServer]] with closed-loop HTTP clients and
  * checks every answer. With `drainStores`, each store waits for the shape
  * warmer to go idle, so its background jobs do not overlap the next
  * request. */
final class Runner(spark: SparkSession, val wl: Workload, drainStores: Boolean) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  @volatile var server: GraftServer = _
  @volatile private var base: String = _
  val tracer = new Tracer
  /** When set, read requests note whether their plan was already memoized,
    * and the wait after each store is recorded as a warmer span. */
  @volatile var traced = false
  private val samples = new ConcurrentLinkedQueue[Sample]()
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val failures = new ConcurrentLinkedQueue[String]()
  private val firstBodies = new ConcurrentHashMap[String, String]()

  private def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 20) failures.add(msg)
  }
  def failureMessages: Seq[String] = failures.asScala.toSeq

  /** Stops the server, if one runs, and drops its datasets and the shape
    * warmer's state, so nothing the server held stays reachable. */
  def teardown(): Unit = if (server != null) {
    server.stop()
    wl.datasets.foreach(d => server.cache.delete(d.key))
    server = null
    ShapeWarmer.drain()
    ShapeWarmer.clear()
  }

  /** Tears the previous server down, then starts a fresh server and stores
    * the workload's initial tables. Returns seconds from creating the
    * server until the last store is answered and the shape warmer is idle. */
  def setup(): Double = {
    teardown()
    val t0 = System.nanoTime()
    server = new GraftServer(spark, 0, maxCacheSize = wl.maxCacheSize)
    server.start()
    base = s"http://localhost:${server.boundPort}/qcache"
    wl.setup(send)
    ShapeWarmer.drain()
    (System.nanoTime() - t0) / 1e9
  }

  private def memoized(req: Req): Option[Boolean] =
    if (!traced || req.isStore || req.cls == "update") None
    else Some(server.cache.peek(req.key).exists(
      _.memoizedKeys.contains(ShapeWarmer.memoKey(Nil, req.query))))

  /** Sends `req`, checks the answer, records a sample; returns the status
    * (-1 when no answer came). */
  def send(req: Req): Int = {
    val b = HttpRequest.newBuilder().timeout(Duration.ofSeconds(120))
    if (req.isStore) {
      b.uri(URI.create(s"$base/dataset/${req.key}"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(req.body))
        .header("Content-Type", req.contentType)
      if (req.contentEncoding.nonEmpty) b.header("Content-Encoding", req.contentEncoding)
      if (req.types.nonEmpty) b.header("X-QCache-types", req.types)
    } else {
      b.uri(URI.create(s"$base/dataset/${req.key}?q=${URLEncoder.encode(req.query, UTF_8)}")).GET()
        .header("Accept", req.accept)
      if (req.acceptEncoding.nonEmpty) b.header("Accept-Encoding", req.acceptEncoding)
    }
    val memoHit = memoized(req)
    val start = tracer.now()
    val resp =
      try Some(http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray()))
      catch { case e: java.io.IOException => fail(s"${req.cls} ${req.key}: $e"); None }
    val end = tracer.now()
    attempted.incrementAndGet()
    resp match {
      case None =>
        samples.add(Sample(req, req.cls, start, end, -1, ok = false, 0, memoHit))
        -1
      case Some(r) =>
        val status = r.statusCode()
        val miss = status == 404 && req.cls404.isDefined
        val cls = if (miss) req.cls404.get else req.cls
        val header = (h: String) => r.headers().firstValue(h).orElse("")
        val body =
          try Right(Tables.decode(r.body(), header("Content-Encoding")))
          catch { case NonFatal(e) => Left(s"undecodable body: $e") }
        val error =
          if (miss) None
          else if (status != (if (req.isStore) 201 else 200))
            Some(s"status $status: ${new String(body.getOrElse(r.body()).take(300), UTF_8)}")
          else if (req.isStore) None
          else body.fold(Some(_), b => Checks.verify(req.expect, b, header("Content-Type"),
            header("X-QCache-unsliced-length").toLongOption).orElse(repeatCheck(req, b)))
        error.foreach(e => fail(s"$cls ${req.tag} ${req.key} ${Option(req.query).getOrElse("")}: $e"))
        if (drainStores && req.isStore && status == 201) {
          // background warm-up jobs belong to the warmer, not the next request
          val w0 = tracer.now()
          ShapeWarmer.drain()
          if (traced) tracer.record("server.warmer.drain", w0, tracer.now(), Map("key" -> req.key))
        }
        samples.add(Sample(req, cls, start, end, status, error.isEmpty,
          body.fold(_ => 0L, _.length.toLong), memoHit))
        status
    }
  }

  /** Answers checked only by column set must at least be stable: every
    * answer to one request text is byte-identical to the first. */
  private def repeatCheck(req: Req, body: Array[Byte]): Option[String] = req.expect match {
    case _: Expect.Columns =>
      val digest = java.security.MessageDigest.getInstance("SHA-256").digest(body)
        .map("%02x".format(_)).mkString
      val first = firstBodies.putIfAbsent(s"${req.key}|${req.accept}|${req.query}", digest)
      if (first == null || first == digest) None
      else Some("answer differs from an earlier answer to the same request")
    case _ => None
  }

  /** Sends the workload's warm-up requests from as many threads as it has
    * clients; returns their samples. */
  def warmup(): Seq[Sample] = {
    samples.clear()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(wl.clients)
    try pool.invokeAll(wl.warmup.map(r => (() => send(r)): java.util.concurrent.Callable[Int]).asJava)
      .asScala.foreach { f =>
        try f.get() catch { case e: java.util.concurrent.ExecutionException => fail(s"warm-up: ${e.getCause}") }
      }
    finally pool.shutdown()
    samples.asScala.toSeq
  }

  /** Closed loop from the workload's first step: each client sends its
    * next step when the previous one is answered, until `seconds` have
    * passed or `maxSteps` steps are done. Returns the samples and the
    * window's start. */
  def run(clients: Int, seconds: Double, maxSteps: Int, stream: Long): (Seq[Sample], Double) = {
    samples.clear()
    wl.reset()
    val steps = new AtomicLong
    val t0 = tracer.now()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val rng = new SplittableRandom(stream * 1000003L + c)
        while (System.nanoTime() < deadline && steps.incrementAndGet() <= maxSteps)
          try wl.step(rng, send)
          catch { case NonFatal(e) => fail(s"client $c: $e") }
      }, s"bench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    (samples.asScala.toSeq.sortBy(_.start), t0)
  }

  def statistics(): Map[String, Any] = {
    val r = http.send(HttpRequest.newBuilder(URI.create(s"$base/statistics")).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(r.body(), classOf[java.util.Map[String, Any]]).asScala.toMap
  }
}

/** Host state stamped before and after a run, so a run on a busy or
  * drifting machine identifies itself. */
object HostStamp {
  /** Fixed integer and floating-point work on one thread. */
  def cpuProbeMs(): Double = Stats.median((1 to 4).map { _ =>
    val t0 = System.nanoTime()
    var x = 1L; var acc = 0.0; var i = 0
    while (i < 20000000) { x = x * 6364136223846793005L + 1442695040888963407L; acc += math.sqrt((x >>> 11).toDouble); i += 1 }
    if (acc == 42.0) println("")
    (System.nanoTime() - t0) / 1e6
  }.drop(1))

  /** Fixed tiny Spark action: the per-action floor (after one unmeasured
    * action, so a cold session does not read as a slow host). */
  def sparkProbeMs(spark: SparkSession): Double = Stats.median((1 to 4).map { _ =>
    val t0 = System.nanoTime()
    spark.range(1000).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e6
  }.drop(1))

  /** Other JVMs running on the machine. */
  def otherJvms(): Long = ProcessHandle.allProcesses().iterator().asScala.count { p =>
    p.pid() != ProcessHandle.current().pid() &&
      p.info().command().orElse("").endsWith("/java")
  }.toLong

  def take(spark: SparkSession): Map[String, Double] = Map(
    "cpu_probe_ms" -> cpuProbeMs(), "spark_probe_ms" -> sparkProbeMs(spark),
    "other_jvms" -> otherJvms().toDouble,
    "load1" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)
}

/** The benchmark's command:
  *
  * {{{
  * HttpBench --workload read_warm|store_evict --seed N --seconds S --trace 0|1
  *           [--dump-dir DIR]
  * }}}
  *
  * Prints a human-readable report, then one JSON line:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones,
  * and a span dump is written to DIR. Exits 1 on any failed request or
  * wrong answer.
  */
object HttpBench {
  /** Setups per untraced run; `setup_s` is their median. */
  val SetupReps = 3

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Progress on stderr: seconds since the JVM started. */
  def mark(what: String): Unit =
    System.err.println(f"perfbench: $what at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val dumpDir = opts.getOrElse("dump-dir", "perfbench/out")

    val wl = Workloads(workload, seed)
    mark("inputs generated")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.engine.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)

    mark("spark started")
    val before = HostStamp.take(spark)
    val runner = new Runner(spark, wl, drainStores = trace)
    val result =
      if (trace) Report.traced(spark, runner, listener, seed, seconds, dumpDir)
      else Report.untraced(runner, seed, seconds)
    mark("run done")
    runner.teardown()
    val after = HostStamp.take(spark)

    println(s"workload $workload seed $seed seconds $seconds trace ${if (trace) 1 else 0} " +
      s"clients ${if (trace) 1 else wl.clients} cpus $cpus")
    println("host before " + before.toSeq.sorted.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    println("host after  " + after.toSeq.sorted.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    result.lines.foreach(println)
    runner.failureMessages.foreach(m => println(s"FAILED $m"))
    val attempted = math.max(1L, runner.attempted.get)
    val failed = runner.failed.get
    val metrics = result.metrics.map { case (name, (value, unit)) =>
      s""""$name": {"value": ${Report.num(value)}, "unit": "$unit"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (failed == 0) 0 else 1)
  }
}
