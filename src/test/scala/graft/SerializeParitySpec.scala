package graft

import java.math.BigDecimal
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{ExprCompiler, QueryEngine}
import graft.sources.{Ingest, Serialize}

/** The response writer must produce the bytes the `Row`-based serializer
  * it replaced produced. That serializer is kept below, unchanged, as the
  * oracle: it renders `collect()`'s rows into a `String`, which the server
  * then encoded as UTF-8. */
class SerializeParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The `Row`-based serializer, as it was. */
  private object Oracle {
    private def isHidden(name: String): Boolean =
      name == ExprCompiler.RowId || name.startsWith("__in_") || name == "__upd_mask__"

    private def visibleFields(df: DataFrame): Array[(StructField, Int)] =
      df.schema.fields.zipWithIndex.filterNot { case (f, _) => isHidden(f.name) }

    def toCsv(df: DataFrame): String = {
      val fields = visibleFields(df)
      val sb = new StringBuilder
      sb.append(fields.map { case (f, _) => csvEscape(f.name) }.mkString(",")).append('\n')
      df.collect().foreach { row =>
        var first = true
        fields.foreach { case (f, i) =>
          if (!first) sb.append(',')
          first = false
          sb.append(csvValue(row, i, f.dataType))
        }
        sb.append('\n')
      }
      sb.toString
    }

    private def csvValue(row: Row, i: Int, dt: DataType): String =
      if (row.isNullAt(i)) ""
      else dt match {
        case StringType => csvEscape(row.getString(i))
        case DoubleType => renderDouble(row.getDouble(i))
        case FloatType  => renderDouble(row.getFloat(i).toDouble)
        case _          => String.valueOf(row.get(i))
      }

    private def csvEscape(s: String): String =
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s

    private def renderDouble(d: Double): String =
      if (d.isNaN || d.isInfinite) ""
      else if (d == math.rint(d) && math.abs(d) < 1e16) s"${d.toLong}.0"
      else String.valueOf(d)

    def toJson(df: DataFrame): String = {
      val fields = visibleFields(df)
      val sb = new StringBuilder
      sb.append('[')
      var firstRow = true
      df.collect().foreach { row =>
        if (!firstRow) sb.append(',')
        firstRow = false
        record(sb, row, fields)
      }
      sb.append(']').toString
    }

    def toJsonLines(df: DataFrame): String = {
      val fields = visibleFields(df)
      val sb = new StringBuilder
      var rows = 0L
      df.collect().foreach { row =>
        if (rows > 0) sb.append('\n')
        rows += 1
        record(sb, row, fields)
      }
      sb.toString
    }

    private def record(sb: StringBuilder, row: Row, fields: Array[(StructField, Int)]): Unit = {
      sb.append('{')
      var first = true
      fields.foreach { case (f, i) =>
        if (!first) sb.append(',')
        first = false
        sb.append(jsonString(f.name)).append(':')
        sb.append(jsonValue(row, i, f.dataType))
      }
      sb.append('}')
    }

    private def jsonValue(row: Row, i: Int, dt: DataType): String =
      if (row.isNullAt(i)) "null"
      else dt match {
        case StringType => jsonString(row.getString(i))
        case DoubleType =>
          val d = row.getDouble(i)
          if (d.isNaN || d.isInfinite) "null" else String.valueOf(d)
        case FloatType =>
          val f = row.getFloat(i)
          if (f.isNaN || f.isInfinite) "null" else String.valueOf(f)
        case BooleanType => String.valueOf(row.getBoolean(i))
        case _: NumericType => String.valueOf(row.get(i))
        case TimestampType | DateType => jsonString(String.valueOf(row.get(i)))
        case _ => jsonString(String.valueOf(row.get(i)))
      }

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
  }

  private def assertParity(df: DataFrame): Unit = {
    val n = df.count()
    for ((format, oracle) <- Seq[(Serialize.Format, DataFrame => String)](
           Serialize.Format.Json -> Oracle.toJson, Serialize.Format.Csv -> Oracle.toCsv,
           Serialize.Format.JsonLines -> Oracle.toJsonLines)) {
      val expected = oracle(df).getBytes(UTF_8)
      val (bytes, rows) = Serialize.render(df, format)
      assert(rows == n)
      assert(new String(bytes, UTF_8) == new String(expected, UTF_8), format)
      assert(java.util.Arrays.equals(bytes, expected), format)
    }
    // the String wrappers are the same bytes, decoded
    assert(Serialize.toJsonCounted(df) == ((Oracle.toJson(df), n)))
    assert(Serialize.toCsvCounted(df) == ((Oracle.toCsv(df), n)))
    assert(Serialize.toJsonLinesCounted(df) == ((Oracle.toJsonLines(df), n)))
  }

  private val strings = Seq(
    "plain", "", "with \"quotes\"", "a,b", "line\nbreak", "cr\rlf\r\n", "tab\there",
    "back\\slash", "ctl\u0001\u0008\u000b\u000c\u001f\u007f", "héllo wörld", "日本語",
    "emoji 😀 pair", "mixed \"é\",\n", " lead and trail ", " nbsp")

  test("primitive, string, temporal and decimal columns, with nulls everywhere") {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("l", LongType), StructField("i", IntegerType),
      StructField("sh", ShortType), StructField("by", ByteType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("b", BooleanType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
      StructField("dec", DecimalType(10, 3)), StructField("big", DecimalType(38, 18)),
      StructField("we\"ird, ñame", StringType), StructField("__user", LongType),
      StructField(ExprCompiler.RowId, LongType), StructField("__in_x", BooleanType),
      StructField("__upd_mask__", BooleanType)))
    val longs = Seq(0L, -1L, 7L, Long.MinValue, Long.MaxValue, 1000000000000L, -999L)
    val ints = Seq(0, Int.MinValue, Int.MaxValue, 42, -42)
    val floats = Seq(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity, -0.0f, 0.0f,
      1.5f, 3.0f, 1e10f, 3.4e38f, 1e-7f, 0.1f)
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0,
      2.0, -3.0, 1e16, -1e16, 1.5e16, 9999999999999998.0, 1e15 + 0.5, 123.456, 1e-7, 0.1,
      Double.MaxValue, Double.MinPositiveValue, 1e300)
    val rows = (0 until 40).map { k =>
      def pick[A](xs: Seq[A]): A = xs(k % xs.length)
      // every column is null on some row, never all on the same one
      def orNull[A](col: Int, v: A): Any = if ((k + col) % 9 == 0) null else v
      Row(orNull(0, pick(strings)), orNull(1, pick(longs)), orNull(2, pick(ints)),
        orNull(3, (k * 1111 - 20000).toShort), orNull(4, (k * 7 - 128).toByte),
        orNull(5, pick(floats)), orNull(6, pick(doubles)), orNull(7, k % 2 == 0),
        orNull(8, Date.valueOf(s"20${10 + k % 15}-0${1 + k % 9}-1${k % 10}")),
        orNull(0, Timestamp.valueOf(s"2024-02-29 12:30:0${k % 10}.${k * 1000 + 1}")),
        orNull(1, LocalDateTime.of(2023, 1 + k % 12, 1 + k % 28, k % 24, k % 60, k % 60, k * 1000)),
        orNull(2, new BigDecimal(s"${k * 37 - 500}.${k % 10}25")),
        orNull(3, new BigDecimal(s"${k}e-${k % 20}")),
        orNull(4, pick(strings.reverse)), orNull(5, k.toLong),
        k.toLong, orNull(6, true), orNull(7, false))
    }
    assertParity(spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
  }

  test("doubles and floats at the rendering edges, one per row") {
    val df = spark.range(0, 1).selectExpr(
      "explode(array(double('NaN'), double('Infinity'), double('-Infinity'), -0.0D, 0.0D, " +
        "1.0D, -1.0D, 1e16D, 1e16D - 2, 1.0000000000000002e16D, 1e17D, 12345.678D, " +
        "5e-324D, 1.7976931348623157e308D, -2.5e-3D, 100.0D / 3)) as d")
      .selectExpr("d", "cast(d as float) as f")
    assertParity(df)
  }

  test("array, struct and map columns, nested nulls, and xop array outputs") {
    val df = spark.range(0, 6).selectExpr(
      "if(id = 3, null, sequence(0L, id)) as longs",
      "array('a,b', cast(null as string), 'q\"\\n', 'é') as strs",
      "array(1.5D, double('NaN'), -0.0D) as dbls",
      "named_struct('x', id, 'y', concat('v', id), 'z', named_struct('w', id * 0.5D)) as st",
      "if(id = 2, null, map('k', cast(id as int), 'j', cast(null as int))) as m",
      "map_from_arrays(sequence(0L, id + 5), sequence(10L, id + 15)) as wide",
      "array(named_struct('a', date'2024-01-01', 'b', timestamp'2024-01-01 10:00:00')) as dts",
      "array(array(1, 2), array()) as nested")
    assertParity(df)
    // a stored JSON body with nested values, served through the dialect
    val body = (0 until 5).map(i =>
      s"""{"id": $i, "tags": ["t$i", "x,y"], "obj": {"a": $i, "b": "s\\"$i"}, "vec": [0.5, -$i.25, 1.0]}""")
      .mkString("[", ",", "]")
    val stored = Ingest.fromJsonRecords(spark, body)
    assertParity(QueryEngine.run(stored, """{"select": ["id", "tags", "obj", "vec"]}""").df)
    // an xop whose output carries an array column
    val quantized = QueryEngine.run(stored,
      """{"xop": {"name": "emb_quantize", "args": {"id": "id", "column": "vec"}}}""").df
    assert(quantized.schema.exists(_.dataType.isInstanceOf[ArrayType]), quantized.schema)
    assertParity(quantized)
  }

  test("strings that are not valid UTF-8 render as their decoded replacement chars") {
    val df = spark.range(0, 1).selectExpr(
      "cast(unhex('C328') as string) as two_bytes_cut",
      "cast(unhex('EDA080') as string) as surrogate",
      "cast(unhex('C080') as string) as overlong",
      "cast(unhex('F4908080') as string) as past_max",
      "cast(unhex('E282AC2C22') as string) as euro_comma_quote",
      "cast(unhex('61FF62') as string) as stray_byte")
    assertParity(df)
  }

  test("empty results, no visible columns, and hidden columns only") {
    val empty = spark.range(0, 0).selectExpr("id as a", "cast(id as string) as b")
    assertParity(empty)
    val hiddenOnly = spark.range(0, 3).selectExpr(s"id as ${ExprCompiler.RowId}")
    assertParity(hiddenOnly)
  }
}
