package graft

import java.sql.{Date, Timestamp}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FilterExec, ProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._

import graft.engine.{ExprCompiler, QueryEngine}
import graft.plans.ParamLiteral

/** Differential check of the constant-free codegen rule
  * (graft.plans.ParameterizeLiterals): the same dialect queries run in the
  * shared test session, which carries GraftExtensions, and in a sibling
  * session over the same context built without them. Rows must be
  * identical, including the edge constants where a literal's Java
  * rendering is special (NaN, signed zero, the long extremes). */
class ParamLiteralSpec extends AnyFunSuite with BeforeAndAfterAll {

  private object AqeHelper extends AdaptiveSparkPlanHelper

  private var withRule: SparkSession = _
  private var plain: SparkSession = _

  override def beforeAll(): Unit = {
    // same sibling-session recipe as ExtensionsSpec: clear the shared
    // session's registration so the builder makes a fresh session over the
    // shared context, this time with no extensions at all
    withRule = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    plain = SparkSession.builder().getOrCreate()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.setDefaultSession(withRule)
    SparkSession.setActiveSession(withRule)
  }
  override def afterAll(): Unit = tables.values.foreach(_.unpersist())

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("i", LongType),
    StructField("d", DoubleType),
    StructField("b", BooleanType),
    StructField("dt", DateType),
    StructField("ts", TimestampType),
    StructField(ExprCompiler.RowId, LongType, nullable = false)))

  private val data: Seq[Row] = Seq(
    Row("a", 0L, 0.0, true, Date.valueOf("2024-01-01"), Timestamp.valueOf("2024-01-01 00:00:00"), 0L),
    Row("b", Long.MinValue, -0.0, false, Date.valueOf("2024-02-29"), Timestamp.valueOf("2024-02-29 12:30:00"), 1L),
    Row("a", Long.MaxValue, Double.NaN, null, null, null, 2L),
    Row("c", 7L, 1.5, true, Date.valueOf("2023-12-31"), Timestamp.valueOf("2023-12-31 23:59:59.5"), 3L),
    Row("b", -5L, Double.NegativeInfinity, false, Date.valueOf("2024-03-01"), Timestamp.valueOf("2024-03-01 00:00:00"), 4L),
    Row("c", null, null, true, Date.valueOf("2024-01-15"), Timestamp.valueOf("2024-01-15 08:00:00"), 5L),
    Row("a", 12L, -2.25, false, Date.valueOf("2024-01-01"), Timestamp.valueOf("2024-01-01 00:00:00.000001"), 6L),
    Row("c", 3L, Double.PositiveInfinity, true, Date.valueOf("2024-06-30"), Timestamp.valueOf("2024-06-30 18:00:00"), 7L))

  /** The server's cache layout: range-partitioned and sorted on the row id,
    * persisted. */
  private def table(s: SparkSession): DataFrame = {
    val df = s.createDataFrame(s.sparkContext.parallelize(data, 2), schema)
      .repartitionByRange(2, org.apache.spark.sql.functions.col(ExprCompiler.RowId))
      .sortWithinPartitions(ExprCompiler.RowId)
      .persist()
    df.count()
    df
  }

  private lazy val tables = Map(withRule -> table(withRule), plain -> table(plain))

  /** Rows rendered as strings, so -0.0 vs 0.0 and NaN compare exactly. */
  private def rows(s: SparkSession, json: String): Either[String, Seq[String]] =
    try Right(QueryEngine.run(tables(s), json).df.collect().toSeq.map(_.toString))
    catch { case e: Exception => Left(e.getClass.getName) }

  private def assertSame(json: String): Unit = {
    val (a, b) = (rows(withRule, json), rows(plain, json))
    assert(a == b, s"$json: with rule $a, without $b")
  }

  private val queries = Seq(
    // signed zero and NaN rows against zero constants
    """{"where": ["==", "d", 0.0]}""",
    """{"where": ["==", "d", -0.0]}""",
    """{"where": ["<", "d", -0.0]}""",
    """{"where": ["!=", "d", 0.0]}""",
    """{"where": [">", "d", -1e308]}""",
    // long extremes
    """{"where": ["==", "i", -9223372036854775808]}""",
    """{"where": [">=", "i", 9223372036854775807]}""",
    """{"where": ["<", "i", -9223372036854775807]}""",
    // arithmetic with constants in aliases, including signed zero and NaN
    // producing ones
    """{"select": ["k", ["=", "x", ["*", "d", -0.0]]]}""",
    """{"select": ["k", ["=", "x", ["/", "d", 0.0]]]}""",
    """{"select": ["k", ["=", "x", ["-", "i", 3]], ["=", "y", ["%", "i", 4]]]}""",
    """{"select": ["k", ["=", "x", ["+", "d", 1.5]], ["=", "z", ["<", "i", 5]]]}""",
    // integer overflow: an ANSI error in both sessions
    """{"select": [["=", "x", ["+", "i", 9223372036854775807]]]}""",
    """{"select": [["=", "x", ["-", "i", 1]]]}""",
    // dates and timestamps compare against folded string constants
    """{"where": [">", "dt", "'2024-01-01'"]}""",
    """{"where": ["==", "dt", "'2024-02-29'"]}""",
    """{"where": ["<=", "ts", "'2024-01-01 00:00:00.000001'"]}""",
    """{"where": [">", "ts", "'2024-02-29 12:30:00'"]}""",
    // booleans
    """{"where": ["==", "b", true]}""",
    """{"where": ["!=", "b", false]}""",
    // bit masks
    """{"where": ["any_bits", "i", 6]}""",
    """{"where": ["all_bits", "i", 3]}""",
    """{"where": ["any_bits", "i", -9223372036854775808]}""",
    // in lists, with and without null (null literals are never rewritten)
    """{"where": ["in", "i", [7, -5, 9223372036854775807]]}""",
    """{"where": ["in", "d", [0.0, -2.25]]}""",
    """{"where": ["in", "i", [null, 3]]}""",
    """{"where": ["in", "d", [null]]}""",
    """{"where": ["==", "i", null]}""",
    // constants under group_by, distinct and slices
    """{"where": [">", "i", -6], "select": ["k", ["sum", "d"]], "group_by": ["k"]}""",
    """{"where": ["<", "d", 2.0], "distinct": ["k"], "limit": 2}""",
    """{"where": ["!=", "i", 0], "offset": 1, "limit": 3}""")

  test("dialect queries return the same rows with and without the rule") {
    queries.foreach(assertSame)
  }

  test("integer overflow in aliases wraps the same way with ANSI off") {
    Seq(withRule, plain).foreach(_.conf.set("spark.sql.ansi.enabled", "false"))
    try {
      assertSame("""{"select": [["=", "x", ["+", "i", 9223372036854775807]]]}""")
      assertSame("""{"select": [["=", "x", ["*", "i", 3]], ["=", "y", ["-", "i", 1]]]}""")
    } finally Seq(withRule, plain).foreach(_.conf.unset("spark.sql.ansi.enabled"))
  }

  test("NaN and signed-zero constants through the column API") {
    import org.apache.spark.sql.functions._
    def run(s: SparkSession, c: org.apache.spark.sql.Column) =
      tables(s).filter(c).select("k", ExprCompiler.RowId).collect().toSeq.map(_.toString)
    Seq(col("d") === lit(Double.NaN), col("d") < lit(Double.NaN),
        col("d") === lit(-0.0), (col("d") * lit(Double.NaN)).isNaN,
        col("d").isin(lit(Double.NaN), lit(1.5)), col("i") =!= lit(Long.MinValue),
        col("b") === lit(false), col("dt") === lit(Date.valueOf("2024-01-01")),
        col("ts") < lit(Timestamp.valueOf("2024-02-29 12:30:00"))).foreach { c =>
      assert(run(withRule, c) == run(plain, c), c.toString)
    }
  }

  /** Whole-stage generated sources of an executed query, in stage order. */
  private def generated(s: SparkSession, json: String): Seq[String] = {
    val df = QueryEngine.run(tables(s), json).df
    df.collect()
    org.apache.spark.sql.execution.debug.codegenStringSeq(df.queryExecution.executedPlan)
      .map(_._2)
  }

  Seq(
    "filter+limit" -> ((v: Int) => s"""{"where": [">", "i", $v], "limit": 3}"""),
    "group_by" -> ((v: Int) =>
      s"""{"where": ["<", "i", $v], "select": ["k", ["sum", "d"]], "group_by": ["k"]}""")
  ).foreach { case (shape, q) =>
    test(s"$shape: queries differing in a constant share generated code") {
      val (a, b) = (generated(withRule, q(1)), generated(withRule, q(2)))
      assert(a.nonEmpty)
      assert(a == b)
      // the check has teeth: without the rule the constant is in the source
      assert(generated(plain, q(1)) != generated(plain, q(2)))
    }
  }

  test("only operands of comparisons, arithmetic and in lists are rewritten") {
    import org.apache.spark.sql.functions._
    val df = tables(withRule)
      .filter(col("i") > 2 && col("k").isin("a", "c") && rand(42) < 0.9)
      .select(round(col("d") + 1.0, 2).as("r"), (col("d") * 3.0).as("x"))
    df.collect()
    val exprs = AqeHelper.collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: FilterExec => Seq(f.condition)
      case p: ProjectExec => p.projectList
    }.flatten
    val params = exprs.flatMap(_.collect { case p: ParamLiteral => p.value })
    assert(params.toSet == Set[Any](2L, 0.9, 1.0, 3.0))
    // the rand seed and the rounding scale stay literals, and the string
    // constants were already reference objects in generated code
    val literals = exprs.flatMap(_.collect { case Literal(v, _) => v })
    assert(literals.contains(42L) && literals.contains(2))
  }

  test("ParamLiteral prints like the Literal it replaces, and equals by bits") {
    Seq[(Any, DataType)](
      (Double.NaN, DoubleType), (-0.0, DoubleType), (0.0, DoubleType), (1.5f, FloatType),
      (Long.MinValue, LongType), (Int.MaxValue, IntegerType), (true, BooleanType),
      (7.toByte, ByteType), ((-3).toShort, ShortType), (19782, DateType),
      (1709209800000000L, TimestampType), (1709209800000000L, TimestampNTZType)
    ).foreach { case (v, dt) =>
      val (p, l) = (ParamLiteral(v, dt), Literal(v, dt))
      assert(p.toString == l.toString && p.sql == l.sql, s"$v: $dt")
      assert(p == ParamLiteral(v, dt) && p.hashCode == ParamLiteral(v, dt).hashCode)
    }
    assert(ParamLiteral(-0.0, DoubleType) != ParamLiteral(0.0, DoubleType))
    assert(ParamLiteral(1L, LongType) != ParamLiteral(2L, LongType))
    assert(ParamLiteral(1, IntegerType) != ParamLiteral(1, DateType))
  }
}
