package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.engine._
import graft.sources.Ingest

/** Projection, aggregation, ordering, slicing, sub-query, enum and update
  * semantics ported from the reference's unit tests
  * (reference: test/test_qframe.py:281-758). */
class EngineProjectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def csvFrame(data: String, types: Map[String, String] = Map.empty): DataFrame =
    Ingest.fromCsv(spark, data, types)

  lazy val basicFrame = csvFrame(
    """foo,bar,baz,qux
      |bbb,1.25,5,qqq
      |aaa,3.25,7,qqq
      |ccc,,9,www""".stripMargin)

  lazy val calculationFrame = csvFrame("foo,bar\n1,10\n1,11\n2,20\n3,30\n3,33")

  def runQ(df: DataFrame, json: String): QueryResult = QueryEngine.run(df, json)

  def rows(df: DataFrame, column: String = "foo"): Seq[Any] =
    df.select(column).collect().map(_.get(0)).toSeq

  def dicts(df: DataFrame): Seq[Map[String, Any]] = {
    val cols = df.columns.filterNot(_.startsWith("__"))
    df.collect().map(r => cols.map(c => c -> r.getAs[Any](c)).toMap).toSeq
  }

  def assertMalformed(body: => Any): Unit =
    assertThrows[MalformedQueryException](body match {
      case df: DataFrame => df.collect()
      case qr: QueryResult => qr.df.collect()
      case other => other
    })

  // --- projections (test_qframe.py:281-300) ---
  test("select subset") {
    val f = runQ(basicFrame, """{"select": ["foo", "baz"]}""").df
    assert(f.columns.filterNot(_.startsWith("__")).toSeq == Seq("foo", "baz"))
  }

  test("select invalid column") {
    assertMalformed(runQ(basicFrame, """{"select": ["foof", "baz"]}"""))
  }

  test("distinct without columns") {
    assert(rows(runQ(basicFrame, """{"distinct": []}""").df) == Seq("bbb", "aaa", "ccc"))
  }

  test("distinct [] preserves -0.0 inside nested array columns") {
    // the fast aggregate path must NOT fire when a float hides inside an
    // array/struct: grouping-key normalization would rewrite -0.0 → 0.0
    val f = Ingest.fromJsonRecords(spark, """[{"v": [-0.0]}, {"v": [-0.0]}]""")
    val out = QueryEngine.run(f, """{"distinct": []}""").df.collect()
    assert(out.length == 1)
    val v = out.head.getSeq[Double](out.head.fieldIndex("v"))
    assert(1.0 / v.head == Double.NegativeInfinity) // sign survived
  }

  test("distinct with columns keeps first row") {
    assert(rows(runQ(basicFrame, """{"distinct": ["qux"]}""").df) == Seq("bbb", "ccc"))
  }

  test("distinct subset survives dotted payload column names") {
    // the min_by payload references EVERY column; dotted CSV headers must
    // resolve as exact names, not struct paths
    val f = Ingest.fromCsv(spark,
      "a,meta.url\n1,u1\n1,u2\n2,u3\n")
    val out = QueryEngine.run(f, """{"distinct": ["a"]}""").df.collect()
    assert(out.map(r => (r.getAs[Number]("a").longValue,
      r.getAs[String]("meta.url"))).toSeq == Seq((1L, "u1"), (2L, "u3")))
  }

  test("distinct [] survives dotted column names (all-columns fast path)") {
    // the aggregate fast path (no float keys, RowId present) must quote
    // its grouping keys exactly, same as the min_by branch
    val f = Ingest.fromCsv(spark,
      "a,meta.url\n1,u1\n1,u1\n2,u3\n")
    val out = QueryEngine.run(f, """{"distinct": []}""").df.collect()
    assert(out.map(r => (r.getAs[Number]("a").longValue,
      r.getAs[String]("meta.url"))).toSeq.sortBy(_._1) ==
      Seq((1L, "u1"), (2L, "u3")))
  }

  // --- aggregation (test_qframe.py:307-363) ---
  test("basic sum aggregation") {
    val f = runQ(basicFrame,
      """{"select": ["qux", ["sum", "baz"]], "group_by": ["qux"], "order_by": ["baz"]}""").df
    assert(f.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("www", 9L), ("qqq", 12L)))
  }

  test("basic count aggregation") {
    val f = runQ(basicFrame,
      """{"select": ["qux", ["count", "baz"]], "group_by": ["qux"]}""").df
    assert(f.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("qqq", 2L), ("www", 1L))) // pandas groupby sorts keys
  }

  test("unknown aggregation function") {
    assertMalformed(runQ(basicFrame,
      """{"select": ["qux", ["foo_bar", "baz"]], "group_by": ["qux"]}"""))
  }

  test("group_by without aggregate errors") {
    assertMalformed(runQ(basicFrame, """{"select": ["qux"], "group_by": ["qux"]}"""))
  }

  test("count(*) special case") {
    val f = runQ(basicFrame, """{"select": [["count"]]}""").df
    assert(f.columns.toSeq == Seq("count"))
    assert(f.collect().head.getLong(0) == 3L)
  }

  test("aggregate without group_by keeps source column name") {
    val f = runQ(basicFrame, """{"select": [["max", "baz"]]}""").df
    assert(f.columns.toSeq == Seq("baz"))
    assert(f.collect().head.get(0) == 9)
  }

  test("multiple aggregation functions without group_by") {
    val d = dicts(runQ(calculationFrame, """{"select": [["max", "bar"], ["min", "foo"]]}""").df)
    assert(d == Seq(Map("bar" -> 33, "foo" -> 1)))
  }

  test("cannot mix aggregates and columns without group_by") {
    assertMalformed(runQ(calculationFrame, """{"select": [["max", "bar"], "foo"]}"""))
  }

  test("first/last aggregates: insertion order, nulls skipped (pandas GroupBy)") {
    val f = csvFrame("k,v\na,1\na,\na,3\nb,\nb,5")
    def vals(json: String): Seq[(String, Int)] =
      runQ(f, json).df.collect().toSeq
        .map(r => (r.getString(0), r.getAs[Number](1).intValue))
    assert(vals("""{"select": ["k", ["first", "v"]], "group_by": ["k"]}""") ==
      Seq(("a", 1), ("b", 5)))
    assert(vals("""{"select": ["k", ["last", "v"]], "group_by": ["k"]}""") ==
      Seq(("a", 3), ("b", 5)))
  }

  test("extended aggregate functions: mean/median/std/var/prod/nunique") {
    val f = csvFrame("k,v\na,1\na,2\na,3\nb,4\nb,6")
    val d = runQ(f,
      """{"select": ["k", ["mean", "v"]], "group_by": ["k"]}""").df.collect()
    assert(d.map(r => (r.getString(0), r.getDouble(1))).toSeq == Seq(("a", 2.0), ("b", 5.0)))
    val med = runQ(f, """{"select": [["median", "v"]]}""").df.collect().head.getDouble(0)
    assert(med == 3.0)
    val nu = runQ(f, """{"select": [["nunique", "k"]]}""").df.collect().head.getLong(0)
    assert(nu == 2L)
    val prod = runQ(f, """{"select": [["prod", "v"]]}""").df.collect().head.getDouble(0)
    assert(prod == 144.0)
    val std = runQ(f, """{"select": [["std", "v"]]}""").df.collect().head.getDouble(0)
    assert(math.abs(std - 1.9235384061671346) < 1e-9)
  }

  // --- ordering (test_qframe.py:369-381) ---
  test("ascending ordering") {
    assert(rows(runQ(basicFrame, """{"order_by": ["foo"]}""").df) == Seq("aaa", "bbb", "ccc"))
  }

  test("descending ordering") {
    assert(rows(runQ(basicFrame, """{"order_by": ["-foo"]}""").df) == Seq("ccc", "bbb", "aaa"))
  }

  test("sort on unknown column") {
    assertMalformed(runQ(basicFrame, """{"order_by": ["foof"]}"""))
  }

  // --- slicing (test_qframe.py:387-390) ---
  test("offset and limit with unsliced length") {
    val r = runQ(basicFrame, """{"offset": 1, "limit": 1}""")
    assert(rows(r.df) == Seq("aaa"))
    assert(r.unslicedLength == 3L)
  }

  test("served rows give the unsliced length when they prove it") {
    // the pre-slice frame has 3 rows; a result of 3 means the count ran
    def len(offset: Long, limit: Long, served: Long): Long =
      QueryResult(basicFrame, basicFrame, offset, limit).unslicedLength(served)
    assert(len(0, 0, 9) == 9)  // no slice: every row was served
    assert(len(4, 0, 2) == 6)  // rows served past an offset
    assert(len(4, 5, 2) == 6)  // short page
    assert(len(0, 5, 0) == 0)  // empty result with no offset
    assert(len(1, 2, 2) == 3)  // full page: more rows may follow
    assert(len(9, 0, 0) == 3)  // nothing served past an offset
    assert(len(-2, 0, 2) == 3) // negative slices count from the end
    assert(len(0, -1, 2) == 3)
  }

  test("negative offset and limit follow Python slice semantics") {
    // reference slices df[offset:][:limit]
    assert(rows(runQ(basicFrame, """{"offset": -2}""").df) == Seq("aaa", "ccc"))
    assert(rows(runQ(basicFrame, """{"limit": -1}""").df) == Seq("bbb", "aaa"))
    assert(rows(runQ(basicFrame, """{"offset": -2, "limit": -1}""").df) == Seq("aaa"))
    assert(rows(runQ(basicFrame, """{"limit": -5}""").df) == Nil)
  }

  test("a known table row count is the unsliced length of row-keeping queries, with no job") {
    def length(q: String, tableRows: Option[Long]): (Long, Int) = {
      val r = QueryEngine.run(basicFrame, Query.parse(q), XopEngine.NoResolver, tableRows)
      TestSpark.jobsDuring(r.unslicedLength)
    }
    for (q <- Seq("""{"limit": 1}""", """{"select": ["foo"], "offset": 1, "limit": 1}""",
        """{"select": ["foo", ["=", "x", "baz"]], "order_by": ["-x"], "limit": 1}""",
        """{"from": {"select": ["foo", "baz"]}, "limit": 1}""", """{"where": [], "limit": 1}"""))
      assert(length(q, Some(3L)) == ((3L, 0)), q)
    // clauses that may drop or merge rows, and a from that does, count
    for ((q, n) <- Seq(
        """{"where": [">", "baz", 5], "limit": 1}""" -> 2L,
        """{"distinct": ["qux"], "limit": 1}""" -> 2L,
        """{"select": [["count"]], "limit": 1}""" -> 1L,
        """{"select": ["qux", ["sum", "baz"]], "group_by": ["qux"], "limit": 1}""" -> 2L,
        """{"from": {"limit": 2}, "limit": 1}""" -> 2L,
        """{"from": {"where": [">", "baz", 5]}, "limit": 1}""" -> 2L)) {
      val (len, jobs) = length(q, Some(3L))
      assert(len == n && jobs > 0, q)
    }
    val (len, jobs) = length("""{"limit": 1}""", None)
    assert(len == 3L && jobs > 0)
  }

  test("a negative slice's plan-build count is reused as the unsliced length") {
    for (q <- Seq("""{"where": [">", "baz", 5], "offset": -1}""",
                  """{"where": [">", "baz", 5], "limit": -1}""")) {
      val (r, buildJobs) = TestSpark.jobsDuring(runQ(basicFrame, q))
      assert(buildJobs > 0, q)
      assert(TestSpark.jobsDuring(r.unslicedLength(1)) == ((2L, 0)), q)
      assert(rows(r.df).length == 1, q)
    }
  }

  // --- calculations / aliasing (test_qframe.py:417-555) ---
  test("column aliasing") {
    assert(rows(runQ(calculationFrame, """{"select": [["=", "baz", "foo"]]}""").df, "baz") ==
      Seq(1, 1, 2, 3, 3))
  }

  test("constant int aliasing") {
    assert(rows(runQ(calculationFrame,
      """{"select": [["=", "baz", 55]], "limit": 2}""").df, "baz") == Seq(55L, 55L))
  }

  test("constant string aliasing") {
    assert(rows(runQ(calculationFrame,
      """{"select": [["=", "baz", "'qux'"]], "limit": 2}""").df, "baz") == Seq("qux", "qux"))
  }

  test("alias as sum of two columns") {
    assert(rows(runQ(calculationFrame,
      """{"select": [["=", "baz", ["+", "bar", "foo"]]], "limit": 2}""").df, "baz") ==
      Seq(11, 12))
  }

  test("alias as nested expression") {
    assert(rows(runQ(calculationFrame,
      """{"select": [["=", "baz", ["+", ["*", "bar", 2], "foo"]]], "limit": 2}""").df, "baz") ==
      Seq(21, 23))
  }

  test("alias with unary function") {
    assert(rows(runQ(calculationFrame,
      """{"select": [["=", "baz", ["sqrt", ["+", 3, "foo"]]]], "limit": 1}""").df, "baz") ==
      Seq(2.0))
  }

  test("alias referencing earlier alias") {
    assert(rows(runQ(calculationFrame,
      """{"select": [["=", "a", ["+", "foo", 1]], ["=", "b", ["*", "a", 2]]], "limit": 1}""").df,
      "b") == Seq(4))
  }

  test("division by zero yields null in output (pandas inf serializes to null)") {
    val f = csvFrame("foo,bar\n1,0\n1,11")
    val got = rows(runQ(f, """{"select": [["=", "baz", ["/", "foo", "bar"]]], "limit": 1}""").df, "baz")
    assert(got == Seq(null))
  }

  test("invalid alias destinations") {
    assertMalformed(runQ(calculationFrame, """{"select": [["=", "ba/r", 1]]}"""))
    assertMalformed(runQ(calculationFrame, """{"select": [["=", 23, 1]]}"""))
  }

  test("cannot mix aliasing and aggregation") {
    assertMalformed(runQ(calculationFrame,
      """{"select": [["=", "bar", 1], ["max", "foo"]], "group_by": ["bar"]}"""))
  }

  test("alias arity and unknown function errors") {
    assertMalformed(runQ(calculationFrame,
      """{"select": [["=", "baz", ["+", "bar", "foo", "foo"]]]}"""))
    assertMalformed(runQ(calculationFrame,
      """{"select": [["=", "baz", ["?", "bar", "foo"]]]}"""))
    assertMalformed(runQ(calculationFrame,
      """{"select": [["=", "baz", ["zin", "bar"]]]}"""))
  }

  // --- from sub-query (test_qframe.py:561-582) ---
  test("alias aggregation from sub-select") {
    val f = csvFrame("foo,bar\n1,10\n1,15\n5,50")
    val got = rows(runQ(f,
      """{"select": [["=", "foo_pct", ["*", 100, ["/", "foo", "bar"]]]],
         "from": {"select": ["foo", ["sum", "bar"]], "group_by": ["foo"]}}""").df, "foo_pct")
    assert(got == Seq(4.0, 10.0))
  }

  // --- enums (test_qframe.py:585-643) ---
  lazy val enumFrame = csvFrame(
    "foo,bar\nccc,10\nccc,11\nccc,12\nccc,13\nccc,14\nccc,15\nccc,16\nbbb,20\naaa,25",
    Map("foo" -> "enum"))

  test("enum basic sorting") {
    assert(rows(runQ(enumFrame, """{"order_by": ["foo", "bar"]}""").df).take(2) ==
      Seq("aaa", "bbb"))
  }

  test("enum filter by equality") {
    assert(rows(runQ(enumFrame, """{"where": ["==", "foo", "\"bbb\""]}""").df, "bar") ==
      Seq(20))
  }

  test("enum order comparison not possible") {
    assertMalformed(runQ(enumFrame, """{"where": ["<", "foo", "\"bbb\""]}"""))
  }

  // --- update (test_qframe.py:693-749) ---
  def applyUpdate(df: DataFrame, json: String): DataFrame = {
    val q = Query.parse(json)
    UpdateEngine.update(df, q)
  }

  def column(df: DataFrame, name: String): Seq[Any] = rows(df, name)

  test("basic update") {
    val f = applyUpdate(basicFrame,
      """{"update": [["bar", 2.0], ["baz", 0]], "where": ["==", "foo", "\"bbb\""]}""")
    val d = dicts(f.orderBy("__row_id__"))
    assert(d.head("bar") == 2.0 && d.head("baz") == 0)
  }

  test("self-referring update") {
    val f = applyUpdate(basicFrame,
      """{"update": [["+", "bar", 2.0]], "where": ["==", "foo", "\"bbb\""]}""")
    assert(column(f.orderBy("__row_id__"), "bar").head == 3.25)
  }

  test("unknown update function") {
    assertMalformed(applyUpdate(basicFrame,
      """{"update": [["_", "bar", 2.0]], "where": ["==", "foo", "\"bbb\""]}"""))
  }

  test("update where isnull") {
    val f = applyUpdate(basicFrame,
      """{"update": [["baz", 19]], "where": ["isnull", "bar"]}""")
    assert(column(f.orderBy("__row_id__"), "baz") == Seq(5, 7, 19))
  }

  test("update isnull invalid argument") {
    assertMalformed(applyUpdate(basicFrame,
      """{"update": [["baz", 19]], "where": ["isnull", 9]}"""))
  }

  test("update in") {
    val f = applyUpdate(basicFrame,
      """{"update": [["baz", 19]], "where": ["in", "foo", ["'aaa'", "'bbb'"]]}""")
    assert(column(f.orderBy("__row_id__"), "baz") == Seq(19, 19, 9))
  }

  test("update in errors") {
    assertMalformed(applyUpdate(basicFrame,
      """{"update": [["baz", 19]], "where": ["in", "foo", "bar", ["'aaa'"]]}"""))
    assertMalformed(applyUpdate(basicFrame,
      """{"update": [["baz", 19]], "where": ["in", "unknown", ["'aaa'"]]}"""))
    assertMalformed(applyUpdate(basicFrame,
      """{"update": [["baz", 19]], "where": ["in", "foo", "boo"]}"""))
  }

  test("update with shift and bitwise ops") {
    val f = csvFrame("a,b\n1,4\n2,8")
    val f2 = applyUpdate(f, """{"update": [["<<", "b", 1]], "where": [">", "a", 1]}""")
    assert(column(f2.orderBy("__row_id__"), "b") == Seq(4, 16))
    val f3 = applyUpdate(f, """{"update": [["|", "b", 1]], "where": ["==", "a", 1]}""")
    assert(column(f3.orderBy("__row_id__"), "b") == Seq(5, 8))
  }

  // --- query shape errors ---
  test("query must be a dictionary") {
    assertThrows[MalformedQueryException](Query.parse("[1, 2]"))
  }
}
