package graft.server

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import scala.util.matching.Regex

import com.sun.net.httpserver.{HttpExchange, HttpServer, HttpsConfigurator, HttpsServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.engine._
import graft.sources.{Ingest, Serialize}

/** HTTP front replicating the reference's API surface
  * (reference: qcache/app.py): key→table store/query/delete with content
  * negotiation, type-hint and stand-in headers, pagination header,
  * LZ4/GZIP codecs, statistics, status. Built on the JDK's HttpServer —
  * zero extra dependencies.
  *
  * Spark notes: each stored body parses into a persisted DataFrame (the
  * cache is the storage layer); queries compile to lazy plans and
  * materialize only at serialization. In local mode this races nothing;
  * across threads the DatasetCache lock serializes metadata while Spark
  * jobs run concurrently.
  */
final class GraftServer(spark: SparkSession, port: Int,
                        maxCacheSize: Long = 1000000000L, maxAge: Long = 0,
                        statisticsBufferSize: Int = 1000,
                        clock: () => Long = () => System.currentTimeMillis(),
                        basicAuth: Option[(String, String)] = None,
                        ssl: Option[javax.net.ssl.SSLContext] = None,
                        needClientAuth: Boolean = false,
                        maxResultRows: Long = 0L,
                        maxResultBytes: Long = 0L,
                        maxBodyBytes: Long = 0L,
                        strictTypeHints: Boolean = false) {

  // Basic auth only makes sense over TLS (reference: app.py:348-350).
  require(basicAuth.isEmpty || ssl.isDefined,
    "TLS must be enabled to use basic auth")

  val stats = new Statistics(statisticsBufferSize, clock)
  val cache = new DatasetCache(maxCacheSize, maxAge, clock)

  // Trailing slash optional before the q suffix, like the reference's
  // tornado route (reference: app.py:308: `([A-Za-z0-9\-_]+)/?(q)?`).
  private val DatasetPath: Regex = "^/qcache/dataset/([A-Za-z0-9\\-_]+)/?(q)?$".r
  // json + csv are reference parity; x-ndjson is the graft extension for
  // JSONL corpora (one record per line) on both store and query paths
  private val AcceptedTypes =
    Set("application/json", "text/csv", "application/x-ndjson")

  // The JDK server writes response headers and body as separate segments;
  // without TCP_NODELAY, Nagle's algorithm holds a small body back until
  // the client's delayed ACK (~40 ms on Linux) releases it. The JDK reads
  // this property once, when the first server of the JVM is created.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  private val server = ssl match {
    case Some(ctx) =>
      val s = HttpsServer.create(new InetSocketAddress(port), 0)
      s.setHttpsConfigurator(new HttpsConfigurator(ctx) {
        override def configure(params: com.sun.net.httpserver.HttpsParameters): Unit = {
          val engineParams = ctx.getDefaultSSLParameters
          if (needClientAuth) engineParams.setNeedClientAuth(true)
          params.setSSLParameters(engineParams)
        }
      })
      s
    case None => HttpServer.create(new InetSocketAddress(port), 0)
  }
  server.setExecutor(Executors.newFixedThreadPool(8))
  server.createContext("/", handle _)

  def start(): Unit = server.start()
  def stop(): Unit = server.stop(0)
  def boundPort: Int = server.getAddress.getPort

  // ------------------------------------------------------------------

  private final class HttpFail(val status: Int, val message: String = "")
    extends RuntimeException(message)

  /** Failure statuses that never earn the courtesy body drain: the
    * whole auth class, so a future 403 path inherits the
    * no-read-bandwidth-for-unauthenticated-clients posture instead of
    * silently regressing it. */
  private val noDrainStatuses = Set(401, 403)

  private def handle(exchange: HttpExchange): Unit = {
    val t0 = clock()
    var operation: Option[String] = None
    try {
      checkAuth(exchange)
      val path = exchange.getRequestURI.getPath
      (exchange.getRequestMethod, path) match {
        case ("GET", "/qcache/status") => respond(exchange, 200, "OK".getBytes(UTF_8))
        case ("GET", "/qcache/statistics") => statistics(exchange)
        case (method, DatasetPath(key, qSuffix)) =>
          val hasQ = qSuffix != null && qSuffix.nonEmpty
          method match {
            case "GET" =>
              operation = Some("query")
              if (hasQ) throw new HttpFail(404)
              query(exchange, key, queryParam(exchange))
            case "POST" if hasQ =>
              operation = Some("query")
              query(exchange, key, new String(decodedBody(exchange), UTF_8))
            case "POST" =>
              operation = Some("store")
              store(exchange, key, t0)
            case "DELETE" =>
              if (hasQ) throw new HttpFail(404)
              cache.delete(key)
              respond(exchange, 200, Array.emptyByteArray)
            case _ => throw new HttpFail(405)
          }
        case _ => throw new HttpFail(404)
      }
    } catch {
      case f: HttpFail =>
        // Drain the unread request remainder (bounded streaming discard,
        // no buffering) before responding, so a client mid-upload of a
        // MODEST body reads the failure status instead of a connection
        // RESET. The drain is a COURTESY and cheap by construction:
        // skipped outright for auth-class failures (an unauthenticated
        // or forbidden client gets no read bandwidth at all) and for
        // requests declaring more than the 256 KB ceiling (reading a
        // GiB per failed request would let one abusive upload pin a
        // handler thread). In the skip cases the status is still
        // WRITTEN; whether the client reads it before noticing the
        // unconsumed-body reset is up to socket buffering — best
        // effort by design, and a well-behaved client retries and
        // reads the error from a HEAD-size probe or its logs. Bodies
        // the handler already consumed — e.g. a parse failure after a
        // full read — hit EOF immediately regardless of declared size,
        // so the response still delivers there.
        val drainCeiling = 256L * 1024
        val skipDrain = noDrainStatuses(f.status) ||
          header(exchange, "Content-Length").flatMap(_.toLongOption)
            .exists(_ > drainCeiling)
        if (!skipDrain) try {
          val in = exchange.getRequestBody
          val buf = new Array[Byte](65536)
          var drained = 0L
          var n = 0
          while (drained < drainCeiling && { n = in.read(buf); n >= 0 })
            drained += n
        } catch { case _: Exception => () }
        respond(exchange, f.status,
          if (f.message.nonEmpty) f.message.getBytes(UTF_8) else Array.emptyByteArray)
      case e: IllegalStateException if e.getMessage == "Impossible to allocate" =>
        respond(exchange, 500, e.getMessage.getBytes(UTF_8))
      case e: Throwable =>
        respond(exchange, 500, String.valueOf(e.getMessage).getBytes(UTF_8))
    } finally {
      operation.foreach(op =>
        stats.append(s"${op}_request_durations", (clock() - t0) / 1000.0))
      exchange.close()
    }
  }

  // --- request plumbing -------------------------------------------------

  /** HTTP basic auth (reference: app.py:45-62): 401 with a challenge when
    * credentials are absent or wrong. */
  private def checkAuth(exchange: HttpExchange): Unit = basicAuth.foreach {
    case (user, password) =>
      val expected = "Basic " + java.util.Base64.getEncoder.encodeToString(
        s"$user:$password".getBytes(UTF_8))
      if (!header(exchange, "Authorization").contains(expected)) {
        exchange.getResponseHeaders.set("WWW-Authenticate", "Basic realm=\"qcache\"")
        throw new HttpFail(401)
      }
  }

  private def header(exchange: HttpExchange, name: String): Option[String] =
    Option(exchange.getRequestHeaders.getFirst(name))

  private def bodyTooLarge: HttpFail =
    new HttpFail(413,
      s"""{"error": "request body exceeds max-body-bytes=$maxBodyBytes"}""")

  /** Request body, decoded. With --max-body-bytes=N set, the read is
    * BOUNDED end to end: an over-declared Content-Length 413s before
    * any read, a lying/chunked client is cut off at N+1 bytes actually
    * read, and — because an LZ4/GZIP body can expand far past the wire
    * size — the codec enforces the same cap BEFORE allocating the
    * decoded buffer (lz4's attacker-controlled size prefix is rejected
    * up front; gzip decodes through a size-limited stream), so a
    * decompression bomb can never materialize on the heap. */
  private def decodedBody(exchange: HttpExchange): Array[Byte] = {
    val raw =
      if (maxBodyBytes <= 0) exchange.getRequestBody.readAllBytes()
      else {
        header(exchange, "Content-Length").flatMap(_.toLongOption)
          .filter(_ > maxBodyBytes).foreach(_ => throw bodyTooLarge)
        // caps at or past the max array size lose the +1 sentinel to the
        // clamp — a body read to exactly the clamp is then indistinguishable
        // from a truncated one, so it is rejected rather than truncated
        val capped = maxBodyBytes >= Int.MaxValue.toLong - 8
        val capPlusOne =
          if (capped) Int.MaxValue - 8 else (maxBodyBytes + 1).toInt
        val buf = exchange.getRequestBody.readNBytes(capPlusOne)
        if (buf.length > maxBodyBytes || (capped && buf.length == capPlusOne))
          throw bodyTooLarge
        buf
      }
    try Codec.decodeBody(raw, header(exchange, "Content-Encoding"),
      maxDecodedBytes = maxBodyBytes)
    catch {
      case _: Codec.DecodedBodyTooLarge => throw bodyTooLarge
      case e: IllegalArgumentException => throw new HttpFail(400, e.getMessage)
    }
  }

  private def queryParam(exchange: HttpExchange): String =
    Option(exchange.getRequestURI.getRawQuery).getOrElse("").split('&')
      .collectFirst { case s if s.startsWith("q=") =>
        URLDecoder.decode(s.substring(2), UTF_8) }
      .getOrElse("")

  /** Accept negotiation: json, csv and ndjson (extension), json default;
    * anything else 406 (reference: app.py:116-122). Deviation from the
    * reference: a `*`/`*` wildcard (what curl and most clients send by
    * default) resolves to json instead of 406. */
  private def acceptType(exchange: HttpExchange): String = {
    val accepted = header(exchange, "Accept").getOrElse("application/json")
      .split(',').map(_.split(';').head.trim)
    accepted.collectFirst {
      case t if AcceptedTypes(t) => t
      case "*/*"                 => "application/json"
    }.getOrElse(throw new HttpFail(406))
  }

  /** Content-Type check: csv default, utf-8 only
    * (reference: app.py:124-137). */
  private def contentType(exchange: HttpExchange): String = {
    val parts = header(exchange, "Content-Type").getOrElse("text/csv").split(';')
    val ct = parts.head.trim
    if (!AcceptedTypes(ct))
      throw new HttpFail(415, s"Content-Type '$ct' not supported")
    parts.drop(1).map(_.trim).foreach { p =>
      if (p.toLowerCase.startsWith("charset=") &&
          p.substring("charset=".length).toLowerCase != "utf-8")
        throw new HttpFail(415,
          s"charset=${p.substring("charset=".length)} not supported, only utf-8")
    }
    ct
  }

  private def keyValuesHeader(exchange: HttpExchange, name: String): Seq[(String, String)] =
    header(exchange, name).filter(_.nonEmpty).map { value =>
      value.split(';').toSeq.map { kv =>
        val parts = kv.split('=').map(_.trim)
        (parts(0), if (parts.length > 1) parts(1) else "")
      }
    }.getOrElse(Nil)

  /** Type hints (reference: app.py:150-168); unknown names → 400.
    * `timestamp` is the graft extension hint (event-time xops over
    * uploaded data); under strictTypeHints it reads the reference's
    * exact unknown-name 400. */
  private def typeHints(exchange: HttpExchange): Map[String, String] =
    keyValuesHeader(exchange, "X-QCache-types").map { case (colName, typeName) =>
      typeName match {
        case "string" | "enum" | "float" => colName -> typeName
        case "timestamp" if !strictTypeHints => colName -> typeName
        case other => throw new HttpFail(400,
          s"""Unrecognized type name "$other" for column "$colName"""")
      }
    }.toMap

  private def standIns(exchange: HttpExchange): Seq[(String, String)] =
    keyValuesHeader(exchange, "X-QCache-stand-in-columns")

  // --- operations -------------------------------------------------------

  /** In-memory byte size of a cached frame: the materialized
    * InMemoryRelation's accumulated stats — the analog of the reference's
    * deep memory_usage (reference: qframe/__init__.py:98-100). Falls back
    * to plan stats if the cache lookup misses. */
  private def inMemorySize(df: DataFrame): Long = {
    val size = org.apache.spark.sql.GraftSqlShims.cachedSizeOf(df).getOrElse {
      val s = df.filter(lit(true)).queryExecution.optimizedPlan.stats.sizeInBytes
      if (s.isValidLong) s.toLong else 0L
    }
    100L + size
  }

  private def store(exchange: HttpExchange, key: String, t0: Long): Unit = {
    // content-type and body-size rejections happen BEFORE the replace
    // bookkeeping: a 413/415 must leave an existing dataset untouched
    val ct = contentType(exchange)
    val body = decodedBody(exchange)
    if (cache.contains(key)) {
      stats.inc("replace_count")
      cache.delete(key)
    }
    val durations = cache.ensureFree(if (ct == "text/csv") body.length else body.length / 2)
    val text = new String(body, UTF_8)
    val parsed =
      try {
        // The reference parses (and so validates) the types header only in
        // the CSV branch — a JSON store with an unknown type name is a 201
        // and the header is ignored (reference: app.py:249-257).
        if (ct == "text/csv")
          Ingest.fromCsv(spark, text, typeHints(exchange), standIns(exchange),
            extendedTypes = !strictTypeHints)
        else if (ct == "application/x-ndjson")
          Ingest.fromJsonLines(spark, text, Map.empty, standIns(exchange))
        else Ingest.fromJsonRecords(spark, text, Map.empty, standIns(exchange))
      } catch {
        case e: MalformedQueryException => throw new HttpFail(400, errorJson(e.getMessage))
      }
    // Cache layout: range-partitioned on the hidden ingest-order column and
    // sorted within partitions. Tables estimated at up to 100k rows are ONE
    // partition. The cached scan reports that layout (range or single
    // partition) and [__row_id__ ASC] ordering, so the physical planner
    // drops the pandas-order sort every unordered query issues, and
    // collect() preserves partition order. Under a limit the planner never
    // sees that ordering (it plans a heap over every row); for one-partition
    // tables graft.plans.RemoveCachedOrderSorts removes the sort before
    // that, so a limited read stops after its rows. Larger tables keep it.
    // The range shuffle is a one-off at store time; partition count is
    // sized from a driver-side newline count, not an extra Spark job. The
    // parse output is persisted FIRST so the range partitioner's
    // bounds-sampling job and the shuffle read the parsed cache instead of
    // each re-running the body parse lineage. The row count that
    // materializes the cache is kept: it is the unsliced length of every
    // query that keeps all rows.
    val estRows =
      (if (ct == "application/json") text.count(_ == '{')
       else text.count(_ == '\n')).toLong max 1L
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (estRows / 50000L).toInt))
    parsed.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val df = parsed
      .repartitionByRange(parts, parsed(graft.engine.ExprCompiler.RowId))
      .sortWithinPartitions(graft.engine.ExprCompiler.RowId)
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val rowCount = df.count()
    parsed.unpersist()
    cache.put(key, df, inMemorySize(df), rowCount)
    stats.inc("size_evict_count", durations.length)
    stats.inc("store_count")
    stats.append("store_row_counts", rowCount.toDouble)
    stats.append("store_durations", (clock() - t0) / 1000.0)
    stats.extend("durations_until_eviction", durations)
    // background-replay known query shapes of this schema against the new
    // dataset (cross-dataset shape memo — see ShapeWarmer): first contact
    // then hits a memoized plan with materialized stages
    cache.peek(key).foreach(ShapeWarmer.warm)
    respond(exchange, 201, Array.emptyByteArray)
  }

  private def errorJson(msg: String): String =
    s"""{"error": ${graft.engine.QueryJson.write(msg)}}"""

  /** TRUE iff a query failure bottoms out in a MISSING INPUT FILE — the
    * signature of an artifact maintenance swap (a MinHash shard
    * delete+rename, an IVF/Bloom/Vocab generation prune) racing a read
    * whose plan captured the pre-swap file listing. Those reads are
    * correct against the post-swap artifact; the server retries them
    * once or twice against a freshly-built plan (see the query attempt
    * loop). Delegates to the shared tightened classifier
    * ([[graft.ops.ArtifactLock.isMissingInputFile]]) — file-read
    * signatures only, so a genuinely-missing dataset path is NOT
    * misclassified as retryable churn. */
  private def isMissingInputFile(e: Throwable): Boolean =
    graft.ops.ArtifactLock.isMissingInputFile(e)

  private def query(exchange: HttpExchange, key: String, qJson: String): Unit = {
    val t0 = clock()
    val accept = acceptType(exchange)
    if (!cache.contains(key)) {
      stats.inc("miss_count")
      throw new HttpFail(404)
    }
    if (cache.evictIfTooOld(key)) {
      stats.inc("miss_count")
      stats.inc("age_evict_count")
      throw new HttpFail(404)
    }
    val item = cache.get(key).getOrElse(throw new HttpFail(404))
    try {
      val q = Query.parse(qJson)
      val requestStandIns = standIns(exchange)
      lazy val withStandIns = Ingest.addStandInColumns(item.df, requestStandIns)
      if (q.isUpdate) {
        // The only mutation: build the updated frame and swap it into the
        // cache atomically (reference mutates in place: update.py:106-114).
        // Deliberate deviation: the reference persists QUERY-time stand-in
        // columns into the cached frame (qframe/__init__.py:75 mutates
        // self.df); here stand-ins are per-request on BOTH the read and
        // update paths, so columns added only by this request's header are
        // stripped before the swap — consistent, and no hidden cache
        // growth. EXCEPT columns the update statement itself assigns to:
        // an acknowledged write must never vanish, so those persist (as
        // they would in the reference).
        val written = UpdateEngine.targetColumns(q.update.getOrElse(Nil)).toSet
        val requestOnly = standIns(exchange).map(_._1)
          .filterNot(item.df.columns.contains)
          .filterNot(written.contains)
        cache.replaceFrame(key,
          UpdateEngine.update(withStandIns, q).drop(requestOnly: _*))
        respond(exchange, 200, Array.emptyByteArray)
      } else {
        // xop clauses may name OTHER stored datasets; resolve them from
        // this cache (a read access — bumps their LRU clock like any hit).
        val resolver: String => Option[DataFrame] =
          dsName => cache.get(dsName).map(_.df)
        // Identical (stand-ins, query) requests reuse the same lazy plan —
        // see CacheItem.memoizedPlan. The key is the raw query text plus
        // the stand-in header canonicalized in declaration order. Queries
        // naming a SECOND dataset are never memoized: the memo dies with
        // THIS item and cannot see the other dataset's mutations.
        val memoKey = ShapeWarmer.memoKey(requestStandIns, qJson)
        val crossDataset = XopEngine.referencesDatasets(q)
        // `force: true` on a maintenance xop opts the request out of the
        // memo entirely (no read, no write): a byte-identical repeated
        // maintenance request re-executes instead of replaying its
        // memoized report. Read queries keep the memo — force is
        // rejected on them at clause level.
        val forced = XopEngine.forcesExecution(q)
        // One attempt = plan + bounded collect + serialize. Factored so a
        // MISSING-INPUT-FILE failure — an artifact maintenance swap
        // (e.g. a MinHash shard rewrite) racing this read's captured
        // file listing — can retry against a FRESHLY-BUILT plan: the
        // stale memo entry is invalidated first, so the retry re-plans
        // with new file listings AND memoizes the healed plan (the next
        // identical request goes straight through). Bounded at two
        // retries with a short backoff: swap windows are per-shard
        // renames, milliseconds in practice. Every other failure
        // propagates unchanged on the first attempt.
        def attempt(): (String, Long) = {
          def plan = QueryEngine.run(withStandIns, q, resolver, Some(item.rowCount))
          val result = if (crossDataset || forced) plan else item.memoizedPlan(memoKey)(plan)
          // Response-size guard (OFF by default — full dumps are the
          // reference's contract and the api suite asserts them): the dump
          // path collects the whole result to the driver, which is fine at
          // cache scale but lets one bare `{}` against a huge table OOM the
          // server. With --max-result-rows=N set, the collect is bounded at
          // N+1 rows (the limit caps driver memory, not just the response)
          // and an overflowing result is a 413, naming the knob. The limit
          // wraps the memoized plan, so enabling the guard trades the
          // memo's materialized-stage reuse for the bound — a posture
          // switch for big-table deployments, not the default.
          val bounded =
            if (maxResultRows > 0) result.df.limit(
              math.min(maxResultRows + 1, Int.MaxValue.toLong).toInt)
            else result.df
          // The byte guard aborts INSIDE the serializer (per appended row),
          // so a 1M-row × wide-strings result that would pass a row guard
          // never finishes building its response string on the driver.
          val (text, rowCount) =
            try {
              if (accept == "text/csv") Serialize.toCsvCounted(bounded, maxResultBytes)
              else if (accept == "application/x-ndjson")
                Serialize.toJsonLinesCounted(bounded, maxResultBytes)
              else Serialize.toJsonCounted(bounded, maxResultBytes)
            } catch {
              case _: Serialize.ByteBudgetExceeded =>
                throw new HttpFail(413, errorJson(
                  s"result exceeds max-result-bytes=$maxResultBytes; " +
                    "add offset/limit to page the result"))
            }
          if (maxResultRows > 0 && rowCount > maxResultRows)
            throw new HttpFail(413, errorJson(
              s"result exceeds max-result-rows=$maxResultRows; " +
                "add offset/limit to page the result"))
          // the served rows or the stored row count usually give the
          // unsliced length; the separate count job runs only when neither
          // can
          (text, result.unslicedLength(rowCount))
        }
        // READ-ONLY retries: a maintenance clause that failed mid-write
        // must surface, never silently re-apply (a second vocab_update
        // would double its delta)
        val retryable = !forced && !XopEngine.hasMaintenance(q)
        val (text, unsliced) =
          try attempt()
          catch { case e: Throwable if retryable && isMissingInputFile(e) =>
            item.invalidateMemo(memoKey) // the rebuilt plan re-memoizes
            try attempt()
            catch { case e2: Throwable if isMissingInputFile(e2) =>
              Thread.sleep(50)
              item.invalidateMemo(memoKey)
              attempt()
            }
          }
        val bytes = text.getBytes(UTF_8)
        // multibyte tail case: the serializer aborts on CHAR count (a
        // lower bound on UTF-8 bytes); the encoded length is the real
        // budget check
        if (maxResultBytes > 0 && bytes.length > maxResultBytes)
          throw new HttpFail(413, errorJson(
            s"result exceeds max-result-bytes=$maxResultBytes; " +
              "add offset/limit to page the result"))
        val headers = Map(
          "Content-Type" -> s"$accept; charset=utf-8",
          "X-QCache-unsliced-length" -> unsliced.toString)
        stats.inc("hit_count")
        stats.append("query_durations", (clock() - t0) / 1000.0)
        // register the served shape for cross-dataset warmup — only
        // single-dataset reads (a cross-dataset plan's memo can't outlive
        // the OTHER dataset's mutations, so those are never memoized),
        // and never a maintenance clause: warming one would re-run its
        // artifact write against a freshly-stored dataset the user never
        // asked to maintain (a background side effect, failures swallowed)
        if (!crossDataset && !forced && !XopEngine.hasMaintenance(q))
          ShapeWarmer.record(item.df.schema, requestStandIns, qJson)
        respond(exchange, 200, bytes, headers)
      }
    } catch {
      case e: MalformedQueryException =>
        respond(exchange, 400, errorJson(e.getMessage).getBytes(UTF_8))
    }
  }

  /** Janino compiles counted by Spark (JVM-wide) at the last snapshot. */
  private val compilesSeen = new java.util.concurrent.atomic.AtomicLong(compileCount)
  private def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def statistics(exchange: HttpExchange): Unit = {
    val compiles = compileCount
    val snapshot = stats.snapshot() ++ Map(
      "dataset_count" -> cache.count.toLong,
      "cache_size" -> cache.size,
      // since the last snapshot, like the counters; JVM-wide, so it also
      // counts background compiles (shape warmer, other sessions)
      "codegen_compile_count" -> (compiles - compilesSeen.getAndSet(compiles)))
    respond(exchange, 200, QueryJson.write(snapshot).getBytes(UTF_8),
      Map("Content-Type" -> "application/json; charset=utf-8"))
  }

  /** Response write with optional compression: lz4 preferred, gzip second,
    * 200-responses only (reference: compression.py:42-67). */
  private def respond(exchange: HttpExchange, status: Int, body: Array[Byte],
                      headers: Map[String, String] = Map.empty): Unit = {
    headers.foreach { case (k, v) => exchange.getResponseHeaders.set(k, v) }
    val encoding =
      if (status == 200)
        Codec.chooseResponseEncoding(header(exchange, "Accept-Encoding").getOrElse(""))
      else None
    val payload = Codec.encodeBody(body, encoding)
    encoding.foreach(e => exchange.getResponseHeaders.set("Content-Encoding", e))
    exchange.sendResponseHeaders(status, if (payload.isEmpty) -1 else payload.length)
    if (payload.nonEmpty) exchange.getResponseBody.write(payload)
  }
}

/** Standalone entry point mirroring the reference CLI
  * (reference: qcache/__init__.py:5-20):
  *
  * {{{
  * sbt "runMain graft.server.Main [port] [--port=N] [--size=BYTES]
  *   [--age=SECONDS] [--statistics-buffer-size=N]
  *   [--cert-file=server.pem] [--ca-file=ca.pem]
  *   [--basic-auth=user:password] [--max-result-rows=N]
  *   [--max-result-bytes=N] [--max-body-bytes=N] [--index-root=DIR]
  *   [-d|--debug]"
  * }}}
  *
  * `--max-result-rows` / `--max-result-bytes` (graft extensions, default
  * off) bound the driver-side result materialization and turn an
  * overflowing dump into a 413 — the scale posture for big-table
  * deployments; the byte variant aborts mid-serialization, so a
  * few-rows-but-wide-strings result cannot OOM the driver either.
  * `--max-body-bytes` is the REQUEST-side mirror: an oversized upload
  * (declared, streamed, or post-decompression) 413s before any parsing
  * and leaves an existing dataset under the same key untouched —
  * completing the 413 posture symmetrically on both directions. See
  * README.
  *
  * `--index-root` (graft extension, default off) names the directory
  * under which `ann_ivf`/`emb_cluster` xop queries may reference
  * persisted quantizer artifacts via their `index` argument (relative
  * paths only — without the flag the argument is rejected).
  *
  * A bare leading number is accepted as the port (back-compat). TLS comes
  * from a PEM bundle (key + cert); `--ca-file` additionally requires and
  * verifies client certificates; `--basic-auth` requires TLS, as in the
  * reference.
  */
object Main {
  private def flag(args: Array[String], name: String): Option[String] = {
    val eq = s"--$name="
    args.zipWithIndex.collectFirst {
      case (a, _) if a.startsWith(eq) => a.substring(eq.length)
      case (a, i) if a == s"--$name" && i + 1 < args.length => args(i + 1)
    }
  }

  def main(args: Array[String]): Unit = {
    val port = flag(args, "port").orElse(args.headOption.filter(_.forall(_.isDigit)))
      .map(_.toInt).getOrElse(8888)
    val maxSize = flag(args, "size")
      .getOrElse(sys.env.getOrElse("QCACHE_MAX_SIZE", "1000000000")).toLong
    val maxAge = flag(args, "age")
      .getOrElse(sys.env.getOrElse("QCACHE_MAX_AGE", "0")).toLong
    val statsBuf = flag(args, "statistics-buffer-size").map(_.toInt).getOrElse(1000)
    val maxResultRows = flag(args, "max-result-rows").map(_.toLong).getOrElse(0L)
    val maxResultBytes = flag(args, "max-result-bytes").map(_.toLong).getOrElse(0L)
    val maxBodyBytes = flag(args, "max-body-bytes").map(_.toLong).getOrElse(0L)
    val certFile = flag(args, "cert-file")
    val caFile = flag(args, "ca-file")
    val basicAuth = flag(args, "basic-auth").map { v =>
      v.split(":", 2) match {
        case Array(u, p) => (u, p)
        case _ => sys.error("--basic-auth must be <user>:<password>")
      }
    }
    if (basicAuth.isDefined && certFile.isEmpty) {
      // reference: app.py:338-340 refuses to start
      System.err.println("TLS must be enabled to use basic auth!")
      sys.exit(1)
    }
    val ssl = certFile.map { cf =>
      println("Enabling TLS")
      if (caFile.isDefined) println("Enabling client certificate verification")
      Tls.contextFromPem(cf, caFile)
    }
    // reference: __init__.py:18 / app.py:338-349 — Tornado debug mode. The
    // JVM analog is verbose engine logging (Spark INFO instead of WARN);
    // there is no auto-reload to mirror.
    val debug = args.contains("--debug") || args.contains("-d")

    // shared library tuning (committer v2, codegen cache sizing): the
    // server's artifact writers must run the same write path the bench
    // measures — see graft.engine.SessionTuning
    val spark = graft.engine.SessionTuning.tuned(SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel(if (debug) "INFO" else "WARN")
    // session conf, not builder conf: the xop layer reads it per query,
    // and tests toggle it on a shared session the same way
    flag(args, "index-root").foreach(r =>
      spark.conf.set("spark.graft.index.root", r))
    println(s"Starting qcache, maxCacheSize=$maxSize, maxAge=$maxAge, " +
      s"statisticsBufferSize=$statsBuf, debug=$debug")
    val server = new GraftServer(spark, port,
      maxCacheSize = maxSize, maxAge = maxAge,
      statisticsBufferSize = statsBuf,
      basicAuth = basicAuth, ssl = ssl,
      needClientAuth = caFile.isDefined,
      maxResultRows = maxResultRows,
      maxResultBytes = maxResultBytes,
      maxBodyBytes = maxBodyBytes,
      // --strict-types: reference-exact type-hint surface (string|float|
      // enum only; the graft `timestamp` extension hint reads the
      // reference's "Unrecognized type" 400)
      strictTypeHints = args.contains("--strict-types"))
    server.start()
    println(s"graft qcache server listening on port ${server.boundPort}")
    Thread.currentThread().join()
  }
}
