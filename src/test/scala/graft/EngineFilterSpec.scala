package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.engine._
import graft.sources.Ingest

/** Per-operator filter semantics ported 1:1 from the reference's unit tests
  * (reference: test/test_qframe.py:35-276) — those tests are the de-facto
  * spec of the query dialect. */
class EngineFilterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def csvFrame(data: String): DataFrame = Ingest.fromCsv(spark, data)

  lazy val basicFrame = csvFrame(
    """foo,bar,baz,qux
      |bbb,1.25,5,qqq
      |aaa,3.25,7,qqq
      |ccc,,9,www""".stripMargin)

  def runQ(df: DataFrame, json: String): DataFrame =
    QueryEngine.run(df, json).df

  def rows(df: DataFrame, column: String = "foo"): Seq[Any] =
    df.select(column).collect().map(_.get(0)).toSeq

  def assertRows(df: DataFrame, expected: Seq[Any], column: String = "foo"): Unit =
    assert(rows(df, column) == expected)

  def assertMalformed(body: => Any): Unit =
    assertThrows[MalformedQueryException](body match {
      case df: DataFrame => df.collect() // force lazy plans
      case other => other
    })

  // --- comparison operators (test_qframe.py:35-48) ---
  val comparisons = Seq(
    ("<", "bar", "2", "bbb"),
    (">", "bar", "2", "aaa"),
    (">", "foo", "\"'bbb'\"", "ccc"),
    ("<=", "baz", "6", "bbb"),
    ("<=", "baz", "5", "bbb"),
    (">=", "foo", "\"'bbc'\"", "ccc"),
    (">=", "foo", "\"'ccc'\"", "ccc"),
    ("==", "foo", "\"'ccc'\"", "ccc"),
    ("!=", "qux", "\"'qqq'\"", "ccc"))
  comparisons.foreach { case (op, col, value, expected) =>
    test(s"filter $op $col $value") {
      assertRows(runQ(basicFrame, s"""{"where": ["$op", "$col", $value]}"""), Seq(expected))
    }
  }

  test("negation") {
    assertRows(runQ(basicFrame, """{"where": ["!", ["==", "qux", "'qqq'"]]}"""), Seq("ccc"))
  }

  test("and") {
    assertRows(runQ(basicFrame,
      """{"where": ["&", ["==", "qux", "'qqq'"], [">", "baz", 6]]}"""), Seq("aaa"))
  }

  test("and with only one clause") {
    assertRows(runQ(basicFrame, """{"where": ["&", ["==", "foo", "'aaa'"]]}"""), Seq("aaa"))
    assertRows(runQ(basicFrame, """{"where": ["&", ["==", "foo", "'abc'"]]}"""), Nil)
  }

  test("or") {
    assertRows(runQ(basicFrame,
      """{"where": ["|", ["==", "baz", 5], ["==", "baz", 7]]}"""), Seq("bbb", "aaa"))
  }

  test("or with only one clause") {
    assertRows(runQ(basicFrame, """{"where": ["|", ["==", "foo", "'aaa'"]]}"""), Seq("aaa"))
    assertRows(runQ(basicFrame, """{"where": ["|", ["==", "foo", "'abc'"]]}"""), Nil)
  }

  test("col in list") {
    assertRows(runQ(basicFrame, """{"where": ["in", "baz", [5, 8, -2]]}"""), Seq("bbb"))
  }

  test("isnull") {
    assertRows(runQ(basicFrame, """{"where": ["isnull", "bar"]}"""), Seq("ccc"))
  }

  test("column-vs-column comparison: bare string is a column ref") {
    // ["==", "foo", "bar"] compares columns, not a literal
    val f = csvFrame("a,b\n1,1\n1,2")
    assertRows(runQ(f, """{"where": ["==", "a", "b"]}"""), Seq(1), "a")
  }

  test("unknown column name errors") {
    assertMalformed(runQ(basicFrame, """{"where": ["==", "unknown", 3]}"""))
  }

  test("empty filter returns same frame") {
    assert(runQ(basicFrame, """{"where": []}""").count() == 3)
  }

  test("empty filter clause not allowed") {
    assertMalformed(runQ(basicFrame, """{"where": ["|", []]}"""))
  }

  test("single-argument operators require a single argument") {
    Seq("!", "isnull").foreach { op =>
      assertMalformed(runQ(basicFrame, s"""{"where": ["$op", "foo", "bar"]}"""))
    }
  }

  test("double-argument operators require exactly two arguments") {
    Seq("<", ">", "<=", ">=", "==", "!=", "in").foreach { op =>
      assertMalformed(runQ(basicFrame, s"""{"where": ["$op", "foo"]}"""))
      assertMalformed(runQ(basicFrame, s"""{"where": ["$op", "foo", "bar", "baz"]}"""))
    }
  }

  test("and/or require at least one argument") {
    Seq("&", "|").foreach { op =>
      assertMalformed(runQ(basicFrame, s"""{"where": ["$op"]}"""))
    }
  }

  test("unknown operator errors") {
    assertMalformed(runQ(basicFrame, """{"where": ["contains", "foo", "'bb'"]}"""))
  }

  // --- bitwise (test_qframe.py:138-195) ---
  lazy val bitwiseFrame = csvFrame(
    "foo,bar,baz\n1,1.5,abc\n2,1.5,def\n3,1.5,ghi\n4,1.5,ijk\n5,1.5,lmn")

  Seq((1, Seq(1, 3, 5)), (2, Seq(2, 3)), (3, Seq(3)), (4, Seq(4, 5)),
      (5, Seq(5)), (6, Nil)).foreach { case (m, expected) =>
    test(s"all_bits $m") {
      assertRows(runQ(bitwiseFrame, s"""{"where": ["all_bits", "foo", $m]}"""), expected)
    }
  }

  Seq((1, Seq(1, 3, 5)), (2, Seq(2, 3)), (3, Seq(1, 2, 3, 5)), (4, Seq(4, 5)),
      (5, Seq(1, 3, 4, 5)), (6, Seq(2, 3, 4, 5)), (8, Nil)).foreach { case (m, expected) =>
    test(s"any_bits $m") {
      assertRows(runQ(bitwiseFrame, s"""{"where": ["any_bits", "foo", $m]}"""), expected)
    }
  }

  test("bitwise errors") {
    assertMalformed(runQ(bitwiseFrame, """{"where": ["any_bits", "foo", 1.3]}"""))
    assertMalformed(runQ(bitwiseFrame, """{"where": ["any_bits", "baz", 1]}"""))
    assertMalformed(runQ(bitwiseFrame, """{"where": ["any_bits", "dont_exist", 1]}"""))
    assertMalformed(runQ(bitwiseFrame, """{"where": ["any_bits", "foo", 1, 2]}"""))
  }

  // --- like / ilike (test_qframe.py:197-244) ---
  lazy val stringFrame = csvFrame("foo,bar\n1,abcd\n2,defg\n3,ghij\n4,gxyj")

  val likeCases = Seq(
    ("like", "'a%'", Seq(1)),
    ("like", "'%g'", Seq(2)),
    ("like", "'%d%'", Seq(1, 2)),
    ("like", "'%cc%'", Nil),
    ("like", "''", Nil),
    ("like", "'%'", Seq(1, 2, 3, 4)),
    ("like", "'%%'", Seq(1, 2, 3, 4)),
    ("like", "'%D%'", Nil),
    ("ilike", "'%D%'", Seq(1, 2)),
    ("like", "'%g[a-z]{2}j%'", Seq(3, 4)),
    ("like", "'%g[a-z]{3}j%'", Nil),
    ("like", "'g[a-z]{2}j'", Seq(3, 4)),
    ("like", "'g[a-z]{2}'", Nil),
    ("like", "'g[a-z]{2}%'", Seq(3, 4)),
    ("like", "'g[a-z]{3}'", Seq(3, 4)))
  likeCases.zipWithIndex.foreach { case ((op, pattern, expected), i) =>
    test(s"like case $i: $op $pattern") {
      assertRows(runQ(stringFrame,
        s"""{"where": ["$op", "bar", "$pattern"]}"""), expected)
    }
  }

  test("like errors") {
    assertMalformed(runQ(stringFrame, """{"where": ["like", "bar", "%abc%"]}"""))
    assertMalformed(runQ(stringFrame, """{"where": ["like", "bar", 12]}"""))
    assertMalformed(runQ(stringFrame, """{"where": ["like", "foo", "'%a%'"]}"""))
  }

  test("like ignores null values") {
    val f = csvFrame("foo,bar\naaa,xyz\nbbb,")
    assert(runQ(f, """{"where": ["ilike", "bar", "\"ccc\""]}""").count() == 0)
  }

  // --- in sub-query (test_qframe.py:248-276) ---
  Seq(
    "foo,bar\n1,1\n2,1\n3,2",     // numbers
    "foo,bar\n1,aa\n2,aa\n3,bb",  // strings
    "foo,bar\n1,\n2,\n3,bb"       // nulls
  ).zipWithIndex.foreach { case (data, i) =>
    test(s"in sub-query variant $i") {
      val f = csvFrame(data)
      assertRows(runQ(f,
        """{"where": ["in", "bar", {"where": ["==", "foo", 2]}]}"""), Seq(1, 2))
    }
  }

  test("in sub-query errors when column missing from sub-select") {
    val f = csvFrame("foo,bar\n1,aa")
    assertMalformed(runQ(f,
      """{"where": ["in", "bar", {"select": ["foo"], "where": ["==", "foo", 2]}]}"""))
  }

  test("in sub-query composes under negation") {
    val f = csvFrame("foo,bar\n1,1\n2,1\n3,2")
    assertRows(runQ(f,
      """{"where": ["!", ["in", "bar", {"where": ["==", "foo", 2]}]]}"""), Seq(3))
  }

  // --- unicode (test_qframe.py:396-414) ---
  test("unicode content from csv") {
    val f = csvFrame("foo,bar\naaa,Iñtërnâtiônàližætiøn\nbbb,räksmörgås\nccc,")
    assertRows(runQ(f, """{"where": ["==", "bar", "'räksmörgås'"]}"""), Seq("bbb"))
  }

  test("unicode content from json records") {
    val f = Ingest.fromJsonRecords(spark,
      """[{"foo": "aaa", "bar": "Iñtërnâtiônàližætiøn"}, {"foo": "bbb", "bar": "räksmörgås"}]""")
    assertRows(runQ(f, """{"where": ["==", "bar", "'räksmörgås'"]}"""), Seq("bbb"))
  }

  test("json records with nesting, braces in strings and escapes are one row each") {
    val f = Ingest.fromJsonRecords(spark,
      """[{"a": "x}{\"y", "n": {"m": [1, 2]}}, {"a": "]", "n": {"m": []}}]""")
    val got = runQ(f, "{}").collect().map(r => (r.getString(0), r.getStruct(1).getSeq[Long](0)))
    assert(got.toSeq == Seq(("x}{\"y", Seq(1L, 2L)), ("]", Seq.empty[Long])))
  }

  test("json array with non-object elements falls back to whole-body semantics") {
    // The record lexer captures only object elements; on a mixed array it
    // must NOT run (it would silently store 2 rows). The fallback is the
    // single-string reader, whose behavior for a non-uniform array is one
    // corrupt-record row — same as before the parallel path existed (the
    // reference's pandas from_records errors on such bodies entirely).
    val f = Ingest.fromJsonRecords(spark, """[{"a": 1}, 5, {"a": 2}]""")
    val whole = spark.read.json(
      spark.createDataset(Seq("""[{"a": 1}, 5, {"a": 2}]"""))(
        org.apache.spark.sql.Encoders.STRING))
    assert(QueryEngine.run(f, "{}").df.count() == whole.count())
  }

  test("json ingest preserves record order through the parallel parse") {
    val body = (0 until 5000).map(i => s"""{"i": $i, "s": "v$i"}""")
      .mkString("[", ",", "]")
    val f = Ingest.fromJsonRecords(spark, body)
    val got = runQ(f, """{"select": ["i"]}""").collect().map(_.getLong(0)).toSeq
    assert(got == (0L until 5000L))
  }

  test("ndjson ingest preserves line order, key order, blank-line tolerance") {
    val body = (0 until 3000).map(i => s"""{"i": $i, "s": "v$i"}""")
      .mkString("", "\n", "\n") + "\n\r\n"
    val f = Ingest.fromJsonLines(spark, body)
    assert(QueryEngine.run(f, "{}").df.columns.take(2).toSeq == Seq("i", "s"))
    val got = runQ(f, """{"select": ["i"]}""").collect().map(_.getLong(0)).toSeq
    assert(got == (0L until 3000L))
    intercept[graft.engine.MalformedQueryException] {
      Ingest.fromJsonLines(spark, "{\"a\": 1}\n[1, 2]\n")
    }
    intercept[graft.engine.MalformedQueryException] {
      // a later array-of-objects line is valid JSON that spark.read.json
      // would silently EXPLODE into rows — must 400, like line 1 would
      Ingest.fromJsonLines(spark, "{\"a\": 1}\n[{\"a\": 2}, {\"a\": 3}]\n")
    }
    intercept[graft.engine.MalformedQueryException] {
      Ingest.fromJsonLines(spark, "nope")
    }
  }

  // --- NaN rules (test_qframe.py:649-683) ---
  test("only the empty string is null") {
    val f = csvFrame(
      "foo,bar\naaa,N/A\naaa,n/a\naaa,NA\naaa,na\naaa,nan\naaa,NaN\naaa,-NaN\naaa,null\naaa,NULL\nbbb,")
    val got = rows(runQ(f, """{"select": ["bar"]}"""), "bar")
    assert(got == Seq("N/A", "n/a", "NA", "na", "nan", "NaN", "-NaN", "null", "NULL", null))
  }

  // --- unknown clause (test_qframe.py:752-758) ---
  test("unknown clause in query") {
    val e = intercept[MalformedQueryException](runQ(basicFrame, """{"foo": []}"""))
    assert(e.getMessage.contains("foo"))
  }
}
