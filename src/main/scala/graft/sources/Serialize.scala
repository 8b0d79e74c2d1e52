package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Result serialization to CSV / JSON record formats matching pandas
  * `to_csv(index=False)` / `to_json(orient='records')`
  * (reference: qcache/qframe/__init__.py:82-89).
  *
  * Serialization is the one place the pipeline materializes on the driver —
  * identical to the reference, whose HTTP responses are single strings.
  * One writer serves every format: it collects the executed plan's
  * internal rows (one job; `toLocalIterator` would launch one sequential
  * job PER PARTITION, a measured ~10× latency hit on small cached tables)
  * and writes them as UTF-8 straight into one byte buffer per call.
  * Integers, booleans, floats and strings go from the internal row to the
  * buffer without a `Row`, a boxed value or an intermediate `String`
  * (strings copy their UTF-8 bytes, escaping as they go); every other type
  * is converted with Spark's `CatalystTypeConverters`, the objects
  * `collect()` returns, and formatted as before, so the bytes are the same
  * as rendering `collect()`'s rows. The byte budget counts the UTF-8
  * bytes it writes, so it is exact.
  */
object Serialize {

  /** Thrown when a `maxBytes` budget is exceeded MID-SERIALIZATION: the
    * abort fires per written row, so the driver never finishes building a
    * response far past the budget (the collected rows are the row guard's
    * concern; the response bytes — typically the larger allocation — are
    * this one's). The budget is on UTF-8 bytes, exactly: a response of
    * `maxBytes` bytes passes, one byte more fails. */
  final class ByteBudgetExceeded(val budget: Long)
    extends RuntimeException(s"serialized result exceeds $budget bytes")

  /** Response formats. */
  sealed abstract class Format
  object Format {
    /** pandas `to_json(orient='records')`: `[{...},{...}]`. */
    case object Json extends Format
    /** pandas `to_csv(index=False)`. */
    case object Csv extends Format
    /** NDJSON: one record object per line, no trailing newline. */
    case object JsonLines extends Format
  }

  /** Only the engine's OWN hidden columns are stripped — a user column or
    * alias that happens to start with "__" serializes like any other
    * (the reference has no hidden columns at all, so everything it stores
    * it also returns). */
  private def isHidden(name: String): Boolean =
    name == graft.engine.ExprCompiler.RowId ||
      name.startsWith("__in_") || name == "__upd_mask__"

  /** `df`'s rows in `format` as UTF-8 bytes, and the number of rows. When
    * a query has no offset/limit the count IS the unsliced length, saving
    * the separate count job. */
  def render(df: DataFrame, format: Format, maxBytes: Long = 0L): (Array[Byte], Long) = {
    val fields = df.schema.fields.zipWithIndex.filterNot { case (f, _) => isHidden(f.name) }
    val rows = org.apache.spark.sql.GraftSqlShims.collectInternal(df)
    val w = new Writer(fields, format, maxBytes, rows.length)
    w.begin()
    rows.foreach(w.row)
    w.end()
    (w.result, rows.length.toLong)
  }

  /** pandas to_csv: header, no index, empty string for null, minimal
    * quoting. Floats keep a trailing .0 (pandas float repr). */
  def toCsv(df: DataFrame): String = toCsvCounted(df)._1

  /** CSV plus the serialized row count. */
  def toCsvCounted(df: DataFrame, maxBytes: Long = 0L): (String, Long) =
    text(render(df, Format.Csv, maxBytes))

  /** pandas to_json(orient='records'): `[{...},{...}]`, NaN/Inf → null
    * (reference: test_api.py:109-116 — division-by-zero inf serializes as
    * JSON null). */
  def toJson(df: DataFrame): String = toJsonCounted(df)._1

  def toJsonCounted(df: DataFrame, maxBytes: Long = 0L): (String, Long) =
    text(render(df, Format.Json, maxBytes))

  /** NDJSON output: one record object per line, no trailing newline
    * (pandas `to_json(orient="records", lines=True)` shape); same value
    * formatting as [[toJson]] (NaN/inf → null, utf-8). */
  def toJsonLines(df: DataFrame): String = toJsonLinesCounted(df)._1

  def toJsonLinesCounted(df: DataFrame, maxBytes: Long = 0L): (String, Long) =
    text(render(df, Format.JsonLines, maxBytes))

  private def text(r: (Array[Byte], Long)): (String, Long) = (new String(r._1, UTF_8), r._2)

  /** pandas repr: whole floats render with a trailing .0, not scientific
    * for typical magnitudes. */
  private def isWhole(d: Double): Boolean = d == math.rint(d) && math.abs(d) < 1e16

  /** Today's JSON string escaping, over chars: the path for column names
    * and for values that are not plain UTF-8 strings. */
  private def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def csvEscape(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private val Hex = "0123456789abcdef".getBytes(UTF_8)
  private val MinLong = Long.MinValue.toString.getBytes(UTF_8)
  private val True = "true".getBytes(UTF_8)
  private val False = "false".getBytes(UTF_8)
  private val Null = "null".getBytes(UTF_8)

  /** One call's output: a growable UTF-8 buffer and the per-column
    * writers, chosen once from the schema. */
  private final class Writer(fields: Array[(StructField, Int)], format: Format,
                             maxBytes: Long, rowCount: Int) {
    // sized for the whole response once the first row shows its width
    private var buf = new Array[Byte](1 << 12)
    private var len = 0
    private val json = format != Format.Csv
    private var rowsWritten = 0

    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        val need = len.toLong + n
        if (need > Int.MaxValue - 8) throw new OutOfMemoryError("response exceeds 2 GB")
        buf = java.util.Arrays.copyOf(buf,
          math.min(Int.MaxValue - 8L, math.max(need, buf.length * 2L)).toInt)
      }

    private def put(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
    private def put(c: Char): Unit = put(c.toInt)

    private def put(bytes: Array[Byte]): Unit = {
      ensure(bytes.length)
      System.arraycopy(bytes, 0, buf, len, bytes.length)
      len += bytes.length
    }

    /** A string whose chars are all ASCII (number renderings). */
    private def ascii(s: String): Unit = {
      val n = s.length
      ensure(n)
      var i = 0
      while (i < n) { buf(len + i) = s.charAt(i).toByte; i += 1 }
      len += n
    }

    private def long(v: Long): Unit =
      if (v == Long.MinValue) put(MinLong)
      else {
        var x = math.abs(v)
        var digits = 1
        var p = 10L
        while (digits < 19 && x >= p) { digits += 1; p *= 10 }
        val n = digits + (if (v < 0) 1 else 0)
        ensure(n)
        if (v < 0) buf(len) = '-'.toByte
        var i = len + n - 1
        while (i >= len + n - digits) { buf(i) = ('0' + x % 10).toByte; x /= 10; i -= 1 }
        len += n
      }

    /** UTF-8 bytes of `s`, escaped for a JSON string or a CSV field as
      * today's char-based escaping would, then encoded. Bytes that are not
      * valid UTF-8 decode to replacement chars in a `String`, so such a
      * value takes the char path instead. */
    private def string(s: UTF8String): Unit = {
      val mark = len
      val base = s.getBaseObject
      val off = s.getBaseOffset
      val n = s.numBytes
      var nonAscii = false
      var i = 0
      if (json) {
        // room for the rest of the bytes and the closing quote, kept as
        // each escape widens the output
        ensure(n + 2)
        buf(len) = '"'.toByte
        len += 1
        while (i < n) {
          val b = Platform.getByte(base, off + i)
          if (b < 0) nonAscii = true
          if (b < 0 || (b >= ' ' && b != '"' && b != '\\')) {
            buf(len) = b
            len += 1
          } else {
            ensure(6 + n - i)
            buf(len) = '\\'.toByte
            val e = if (b == '"') '"' else if (b == '\\') '\\' else if (b == '\n') 'n'
              else if (b == '\r') 'r' else if (b == '\t') 't' else 'u'
            buf(len + 1) = e.toByte
            if (e != 'u') len += 2
            else {
              buf(len + 2) = '0'.toByte; buf(len + 3) = '0'.toByte
              buf(len + 4) = Hex(b >> 4); buf(len + 5) = Hex(b & 0xF)
              len += 6
            }
          }
          i += 1
        }
        buf(len) = '"'.toByte
        len += 1
      } else {
        var quote = false
        while (i < n) {
          val b = Platform.getByte(base, off + i)
          if (b < 0) nonAscii = true
          else if (b == ',' || b == '"' || b == '\n' || b == '\r') quote = true
          i += 1
        }
        if (!quote) {
          ensure(n)
          s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
          len += n
        } else {
          put('"')
          i = 0
          while (i < n) {
            val b = Platform.getByte(base, off + i)
            if (b == '"') put('"')
            put(b)
            i += 1
          }
          put('"')
        }
      }
      if (nonAscii && !s.isValid) {
        len = mark
        put((if (json) jsonString(s.toString) else csvEscape(s.toString)).getBytes(UTF_8))
      }
    }

    /** Writes column `i` of a row, which is not null. */
    private type Col = (InternalRow, Int) => Unit

    /** `String.valueOf` of the value `collect()` would return, quoted as a
      * JSON string when `quoted`. */
    private def converted(dt: DataType, quoted: Boolean): Col = {
      val toScala = CatalystTypeConverters.createToScalaConverter(dt)
      (r, i) => {
        val s = String.valueOf(toScala(r.get(i, dt)))
        put((if (quoted) jsonString(s) else s).getBytes(UTF_8))
      }
    }

    private def column(dt: DataType): Col = dt match {
      case StringType => (r, i) => string(r.getUTF8String(i))
      case LongType => (r, i) => long(r.getLong(i))
      case IntegerType => (r, i) => long(r.getInt(i))
      case ShortType => (r, i) => long(r.getShort(i))
      case ByteType => (r, i) => long(r.getByte(i))
      case BooleanType => (r, i) => put(if (r.getBoolean(i)) True else False)
      case DoubleType if json => (r, i) => {
        val d = r.getDouble(i)
        if (d.isNaN || d.isInfinite) put(Null) else ascii(String.valueOf(d))
      }
      case FloatType if json => (r, i) => {
        val f = r.getFloat(i)
        if (f.isNaN || f.isInfinite) put(Null) else ascii(String.valueOf(f))
      }
      case DoubleType => (r, i) => csvDouble(r.getDouble(i))
      case FloatType => (r, i) => csvDouble(r.getFloat(i).toDouble)
      // other numbers (decimals) are bare in JSON; everything else is
      // quoted in JSON and bare in CSV
      case _: NumericType => converted(dt, quoted = false)
      case _ => converted(dt, quoted = json)
    }

    private def csvDouble(d: Double): Unit =
      if (d.isNaN || d.isInfinite) ()
      else if (isWhole(d)) { long(d.toLong); put('.'); put('0') }
      else ascii(String.valueOf(d))

    private val cols: Array[Col] = fields.map { case (f, _) => column(f.dataType) }
    private val ordinals: Array[Int] = fields.map(_._2)
    /** Per column, what precedes its value: `{"name":` or `,"name":` in
      * JSON, a comma in CSV. */
    private val prefixes: Array[Array[Byte]] = fields.zipWithIndex.map { case ((f, _), k) =>
      val sep = if (k == 0) (if (json) "{" else "") else ","
      (if (json) sep + jsonString(f.name) + ":" else sep).getBytes(UTF_8)
    }
    private val nullValue: Array[Byte] = if (json) Null else Array.emptyByteArray

    private def checkBudget(): Unit =
      if (maxBytes > 0 && len > maxBytes) throw new ByteBudgetExceeded(maxBytes)

    def begin(): Unit = format match {
      case Format.Json => put('[')
      case Format.Csv =>
        put(fields.map { case (f, _) => csvEscape(f.name) }.mkString(",").getBytes(UTF_8))
        put('\n')
      case Format.JsonLines => ()
    }

    def row(r: InternalRow): Unit = {
      val rowStart = len
      if (rowsWritten > 0) format match {
        case Format.Json => put(',')
        case Format.JsonLines => put('\n')
        case Format.Csv => ()
      }
      rowsWritten += 1
      var k = 0
      while (k < cols.length) {
        put(prefixes(k))
        val i = ordinals(k)
        if (r.isNullAt(i)) put(nullValue) else cols(k)(r, i)
        k += 1
      }
      format match {
        case Format.Csv => put('\n')
        case _ => if (cols.isEmpty) put('{'); put('}')
      }
      checkBudget()
      if (rowsWritten == 1) {
        val rowBytes = len - rowStart
        val estimate = len + rowBytes.toLong * (rowCount - 1) * 9 / 8 + 16
        ensure(math.min(estimate, if (maxBytes > 0) maxBytes + 16 else Int.MaxValue - 8L)
          .toInt - len)
      }
    }

    def end(): Unit = {
      if (format == Format.Json) put(']')
      checkBudget()
    }

    def result: Array[Byte] = if (len == buf.length) buf else java.util.Arrays.copyOf(buf, len)
  }
}
