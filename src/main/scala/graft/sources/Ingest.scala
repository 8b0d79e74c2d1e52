package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.{JacksonException, JsonFactory, JsonToken}
import com.univocity.parsers.csv.CsvParser
import org.apache.spark.SparkEnv
import org.apache.spark.io.LZ4CompressionCodec
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVInferSchema, CSVOptions}
import org.apache.spark.sql.catalyst.json.{DriverJsonInference, JSONOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{Errors, ExprCompiler, QueryJson}

/** CSV / JSON ingest into DataFrames, replicating the reference's parsing
  * rules (reference: qcache/qframe/__init__.py:51-69, app.py:150-171):
  *   - CSV: header row; ONLY the empty string is null ("NA", "null", "NaN"
  *     etc. stay strings; reference: __init__.py:53, test_qframe.py:658-683)
  *   - JSON: a single array of records
  *   - per-column type hints: string | enum (dictionary-ish, equality-only)
  *     | float (reference: app.py:150-168)
  *   - stand-in columns: absent column synthesized from a constant or
  *     another column (reference: __init__.py:26-38)
  *
  * Like qcache, which infers types in the same pandas parse that reads
  * the body, ingest runs no Spark job. The schema is inferred on the
  * driver with Spark's own inference code (`CSVInferSchema`,
  * `JsonInferSchema`), from the same records and options the reader
  * then parses, and the reader gets that schema. The returned frame is
  * lazy: its first action is its only job.
  *
  * Every ingested frame carries a hidden `__row_id__` ingest-order column:
  * pandas row order is part of the reference's observable semantics
  * (pagination, distinct-keeps-first, serialization order) while Spark has
  * no implicit order — see SURVEY.md §7.4. The body is split on the driver
  * into [[layoutPartitions]] contiguous chunks, chunk p parsed by
  * partition p, so `monotonically_increasing_id` is already in ingest
  * order and the frame's partitions are the server's cache layout.
  */
object Ingest {
  import ExprCompiler.RowId

  /** Rows per partition of a multi-partition layout. */
  private val RowsPerPartition = 50000L

  /** The layout's partition count for a body of about `estRows` rows:
    * one below ~100k rows, else one per 50k rows, capped at the cores.
    * One partition keeps a cached table row-ordered end to end, which
    * `graft.plans.RemoveCachedOrderSorts` relies on. */
  def layoutPartitions(spark: SparkSession, estRows: Long): Int =
    math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      estRows / RowsPerPartition)).toInt

  private def withRowId(df: DataFrame): DataFrame =
    df.withColumn(RowId, monotonically_increasing_id())

  /** Hint name → cast target (reference: app.py:155-166). Unknown hint names
    * are a client error. `timestamp` is a GRAFT EXTENSION (the reference
    * surface is string|float|enum only): without it an uploaded events
    * table can never carry a timestamp ts column, making the event-time
    * xops (retention, sessionize, rate_anomaly, interval_join)
    * unreachable over HTTP. With `extendedTypes = false` (the server's
    * strict-parity mode) the extension name reads the reference's exact
    * "Unrecognized type" 400. */
  private def applyTypeHints(df: DataFrame, types: Map[String, String],
                             extendedTypes: Boolean): DataFrame =
    types.foldLeft(df) { case (acc, (colName, hint)) =>
      if (!acc.columns.contains(colName)) acc
      else hint match {
        case "string" => acc.withColumn(colName, acc(colName).cast(StringType))
        case "float"  => acc.withColumn(colName, acc(colName).cast(DoubleType))
        case "enum" =>
          val meta = new MetadataBuilder().putBoolean("qcache_enum", true).build()
          acc.withColumn(colName, acc(colName).cast(StringType).as(colName, meta))
        case "timestamp" if extendedTypes =>
          acc.withColumn(colName, acc(colName).cast(TimestampType))
        case other => Errors.malformed(s"Unrecognized type: $other", colName)
      }
    }

  /** Stand-in constant dtype inference: int64 → float64 → string
    * (reference: __init__.py:14-23). */
  private def standInValue(df: DataFrame, value: String) =
    if (df.columns.contains(value)) col(value)
    else value.toLongOption.map(lit)
      .orElse(value.toDoubleOption.map(lit))
      .getOrElse(lit(ExprCompiler.unquote(value)))

  /** Applied at store AND query time (reference: test_api.py:530-560);
    * chained references work because application is sequential. */
  def addStandInColumns(df: DataFrame, standIns: Seq[(String, String)]): DataFrame =
    standIns.foldLeft(df) { case (acc, (name, value)) =>
      if (acc.columns.contains(name)) acc
      else acc.withColumn(name, standInValue(acc, value))
    }

  /** Split `body` from offset `from` into at most `parts` CONTIGUOUS
    * chunks on '\n' boundaries, at least one. The driver makes P
    * substring copies instead of one object per line, and chunk p holds
    * lines [a_p, b_p) of the body, so chunk order is line order. */
  private def lineChunks(body: String, from: Int, parts: Int): Array[String] = {
    val n = body.length
    val out = Array.newBuilder[String]
    var start = from
    var p = 1
    while (p <= parts && start < n) {
      var end = if (p == parts) n
        else math.max(start, from + ((n - from).toLong * p / parts).toInt)
      if (end < n) {
        val nl = body.indexOf('\n', end)
        end = if (nl < 0) n else nl + 1
      }
      if (end > start) out += body.substring(start, end)
      start = end
      p += 1
    }
    val chunks = out.result()
    if (chunks.isEmpty) Array("") else chunks
  }

  /** The records of `chunks` as a Dataset, chunk p in partition p, in body
    * order. The chunks reach the tasks through a broadcast, and a root
    * partition holds only its index: every task over a cached frame
    * serializes its partition, so chunk text inside `parallelize`
    * partitions would be shipped again by every query over the cache.
    * The frame's lineage holds the broadcast, and Spark's ContextCleaner
    * frees it with the frame. The broadcast keeps its value and its
    * serialized pieces; with the chunks LZ4-compressed the two copies
    * take about twice the compressed size, near the size of the text. */
  private def chunkRecords(spark: SparkSession, chunks: Array[String],
                           records: String => Iterator[String]): Dataset[String] = {
    val sc = spark.sparkContext
    val codec = new LZ4CompressionCodec(sc.getConf)
    val held = sc.broadcast(chunks.map { chunk =>
      val bytes = new java.io.ByteArrayOutputStream
      val out = codec.compressedOutputStream(bytes)
      try out.write(chunk.getBytes(UTF_8)) finally out.close()
      bytes.toByteArray
    })
    spark.createDataset(sc.parallelize(chunks.indices, chunks.length).mapPartitions { ps =>
      val codec = new LZ4CompressionCodec(SparkEnv.get.conf)
      ps.flatMap { p =>
        val in = codec.compressedInputStream(new java.io.ByteArrayInputStream(held.value(p)))
        records(try new String(in.readAllBytes(), UTF_8) finally in.close())
      }
    })(Encoders.STRING)
  }

  private val csvLines: String => Iterator[String] = _.linesIterator
  private val ndjsonLines: String => Iterator[String] =
    _.linesIterator.map(_.trim).filter(_.nonEmpty)

  /** Separates JSON records inside a chunk. A raw NUL cannot occur in
    * strictly valid JSON text, inside strings or out. */
  private val RecordSep = '\u0000'
  private val jsonRecords: String => Iterator[String] = chunk =>
    Iterator.unfold(0) { from =>
      if (from >= chunk.length) None
      else {
        val sep = chunk.indexOf(RecordSep, from)
        val end = if (sep < 0) chunk.length else sep
        Some((chunk.substring(from, end), end + 1))
      }
    }

  /** Reader options, shared by the driver's inference and the parse. The
    * reference trims nothing, but its test fixtures carry leading spaces
    * pandas' numeric parser tolerates, so we ignore them around values
    * too. */
  private[graft] val CsvOptions = Map(
    "nullValue" -> "",
    "emptyValue" -> "",
    // pandas keep_default_na=False: these spellings must NOT become null/NaN
    "nanValue" -> "\u0000never\u0000",
    "positiveInf" -> "\u0000never\u0000",
    "negativeInf" -> "\u0000never\u0000",
    "ignoreLeadingWhiteSpace" -> "true",
    "ignoreTrailingWhiteSpace" -> "true",
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss[.SSS][XXX]")

  /** The first non-blank line of `body` and the offset just past its line
    * terminator (\n, \r\n or \r, as `linesIterator` splits). */
  private def headerLine(body: String): Option[(String, Int)] = {
    val n = body.length
    var i = 0
    while (i < n) {
      var j = i
      while (j < n && body.charAt(j) != '\n' && body.charAt(j) != '\r') j += 1
      val next = if (j + 1 < n && body.charAt(j) == '\r' && body.charAt(j + 1) == '\n') j + 2
        else j + 1
      val line = body.substring(i, j)
      if (line.trim.nonEmpty) return Some((line, math.min(next, n)))
      i = next
    }
    None
  }

  def fromCsv(spark: SparkSession, body: String,
              types: Map[String, String] = Map.empty,
              standIns: Seq[(String, String)] = Nil,
              extendedTypes: Boolean = true): DataFrame = {
    // Spark's own CSV inference, from the reader's options. The header is
    // read here, with Spark's safe-name rules for empty and duplicate
    // names, so the reader gets header=false and skips the header job.
    val conf = spark.sessionState.conf
    val options = new CSVOptions(CsvOptions + ("header" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val header = headerLine(body)
    val chunks = lineChunks(body, header.fold(body.length)(_._2),
      layoutPartitions(spark, body.count(_ == '\n').toLong))
    val schema = header.flatMap { case (line, _) =>
      val parser = new CsvParser(options.asParserSettings)
      Option(parser.parseLine(line)).map { first =>
        val names = CSVUtils.makeSafeHeader(first, conf.caseSensitiveAnalysis, options)
        val infer = new CSVInferSchema(options)
        var rowType: Array[DataType] = Array.fill(names.length)(NullType)
        // the reader drops blank lines the same way (no comment char set)
        chunks.iterator.flatMap(csvLines).filter(_.trim.nonEmpty).foreach { l =>
          val tokens = parser.parseLine(l)
          if (tokens != null) rowType = infer.inferRowType(rowType, tokens)
        }
        StructType(infer.toStructFields(rowType, names))
      }
    }.getOrElse(StructType(Nil))
    val raw = spark.read.options(CsvOptions + ("header" -> "false")).schema(schema)
      .csv(chunkRecords(spark, chunks, csvLines))
    withRowId(addStandInColumns(applyTypeHints(raw, types, extendedTypes),
      standIns))
  }

  private def jsonOptions(spark: SparkSession): JSONOptions = {
    val conf = spark.sessionState.conf
    new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
  }

  /** Default Jackson features: the strictness of [[QueryJson.parse]], which
    * validates query bodies the same way. */
  private val StrictJson = new JsonFactory()

  /** Top-level keys of a JSON object in written order (Spark infers an
    * alphabetical schema; serialization parity with pandas from_records
    * needs insertion order), or None when `json` is not an object. */
  private def objectKeys(json: String): Option[Seq[String]] = QueryJson.parse(json) match {
    case m: scala.collection.Map[_, _] => Some(m.keys.map(String.valueOf).toSeq)
    case _ => None
  }

  /** `raw`'s columns with `keys` first, in that order. */
  private def keysFirst(raw: DataFrame, keys: Seq[String]): DataFrame = {
    val present = keys.filter(raw.columns.contains)
    raw.select((present ++ raw.columns.filterNot(present.contains)).map(col): _*)
  }

  def fromJsonRecords(spark: SparkSession, body: String,
                      types: Map[String, String] = Map.empty,
                      standIns: Seq[(String, String)] = Nil): DataFrame = {
    // One strict streaming pass validates the body, infers each object
    // element as its own document and records where it lies.
    val options = jsonOptions(spark)
    val inference = new DriverJsonInference(options)
    val bounds = Array.newBuilder[Int]
    var flat = true // an array whose elements are all objects
    var firstIsObject = false
    val p = StrictJson.createParser(body)
    try {
      p.nextToken() match {
        case null => Errors.malformed("Invalid query JSON: No content to map due to end-of-input")
        case JsonToken.START_ARRAY =>
          var t = p.nextToken()
          firstIsObject = t == JsonToken.START_OBJECT
          while (t != null && t != JsonToken.END_ARRAY) {
            if (t == JsonToken.START_OBJECT) {
              bounds += p.currentTokenLocation().getCharOffset.toInt
              inference.add(p)
              bounds += p.currentLocation().getCharOffset.toInt
            } else { flat = false; p.skipChildren() }
            t = p.nextToken()
          }
        case _ => flat = false; p.skipChildren()
      }
    } catch { case e: JacksonException =>
      Errors.malformed(s"Invalid query JSON: ${e.getOriginalMessage}")
    } finally p.close()
    val at = bounds.result()
    val (chunks, schema) =
      if (flat) {
        // each chunk holds its records, in order, NUL-separated
        val n = at.length / 2
        val parts = layoutPartitions(spark, n.toLong)
        (Array.tabulate(parts) { c =>
          val sb = new java.lang.StringBuilder
          for (r <- (n.toLong * c / parts).toInt until (n.toLong * (c + 1) / parts).toInt) {
            if (sb.length > 0) sb.append(RecordSep)
            sb.append(body, at(2 * r), at(2 * r + 1))
          }
          sb.toString
        }, inference.schema)
      } else {
        // Anything but an array of objects reads as one document, as
        // Spark reads a whole body: a mixed array is one corrupt-record
        // row (the reference's pandas from_records errors on such bodies
        // entirely), a lone object one row.
        val whole = new DriverJsonInference(options)
        val q = options.buildJsonFactory().createParser(body)
        try { q.nextToken(); whole.add(q) } finally q.close()
        (Array(body), whole.schema)
      }
    val raw = spark.read.schema(schema).json(chunkRecords(spark, chunks, jsonRecords))
    val ordered =
      if (firstIsObject) keysFirst(raw, objectKeys(body.substring(at(0), at(1))).get)
      else raw
    withRowId(addStandInColumns(applyTypeHints(ordered, types, extendedTypes = true), standIns))
  }

  /** Newline-delimited JSON (NDJSON / JSONL) — the de-facto LLM corpus
    * interchange format; an extension beyond the reference's CSV +
    * JSON-array surface. One JSON object per non-blank line (CRLF
    * tolerated); each line is one document for inference and parse.
    * Column order pins to the FIRST line's key order like
    * fromJsonRecords; a line that is not an object, or does not parse,
    * is a 400, not silent nulls. */
  def fromJsonLines(spark: SparkSession, body: String,
                    types: Map[String, String] = Map.empty,
                    standIns: Seq[(String, String)] = Nil): DataFrame = {
    val options = jsonOptions(spark)
    val json = options.buildJsonFactory()
    val inference = new DriverJsonInference(options)
    val chunks = lineChunks(body, 0, layoutPartitions(spark, body.count(_ == '\n').toLong))
    def notAnObject(line: String): Nothing =
      Errors.malformed("NDJSON lines must be JSON objects", line.take(80))
    var firstKeys: Option[Seq[String]] = None
    var unparseable = false
    chunks.iterator.flatMap(ndjsonLines).foreach { line =>
      if (firstKeys.isEmpty)
        firstKeys = Some(
          try objectKeys(line).getOrElse(notAnObject(line))
          catch { case _: graft.engine.MalformedQueryException => notAnObject(line) })
      // a line holding an array is valid JSON that the reader would
      // EXPLODE into several rows, breaking one record per line
      if (!line.startsWith("{")) notAnObject(line)
      // a line Spark cannot parse would become a corrupt record: the
      // whole body is refused, after every line passed the object check
      if (!unparseable) {
        val p = json.createParser(line)
        try { p.nextToken(); inference.add(p) }
        catch { case _: JacksonException => unparseable = true }
        finally p.close()
      }
    }
    if (unparseable) Errors.malformed("NDJSON body contains unparseable lines")
    val raw = spark.read.schema(inference.schema)
      .json(chunkRecords(spark, chunks, ndjsonLines))
    withRowId(addStandInColumns(applyTypeHints(
      keysFirst(raw, firstKeys.getOrElse(Nil)), types, extendedTypes = true), standIns))
  }
}
