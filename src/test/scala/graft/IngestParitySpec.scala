package graft

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ExprCompiler.RowId
import graft.sources.Ingest

/** Ingest infers schemas on the driver and hands the reader that schema.
  * Each body here is also read by Spark's own inferring reader, with the
  * same options, as the reference: schema, rows in order and row count
  * must match, and ingest itself must run no Spark job. */
class IngestParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def lines(body: String): org.apache.spark.sql.Dataset[String] =
    spark.createDataset(body.linesIterator.toSeq)(Encoders.STRING)

  private def csvReference(body: String): DataFrame =
    spark.read.options(Ingest.CsvOptions)
      .option("header", "true").option("inferSchema", "true").csv(lines(body))

  private def jsonReference(docs: Seq[String]): DataFrame =
    spark.read.json(spark.createDataset(docs)(Encoders.STRING))

  /** `ingest` runs no job, and matches `reference` in schema (in
    * `reference`'s column order unless `order` is given), rows in ingest
    * order and row count. Returns the ingested frame. */
  private def assertParity(ingest: => DataFrame, reference: DataFrame,
                           order: Option[Seq[String]] = None): DataFrame = {
    val (got, jobs) = TestSpark.jobsDuring(ingest)
    assert(jobs == 0, "ingest must not run a Spark job")
    val data = got.drop(RowId)
    order.foreach(o => assert(got.columns.toSeq == o))
    val aligned = data.select(reference.columns.map(c => col(s"`$c`")): _*)
    assert(aligned.schema == reference.schema)
    val rows = got.orderBy(RowId).select(reference.columns.map(c => col(s"`$c`")): _*)
      .collect().toSeq
    assert(rows == reference.collect().toSeq)
    assert(got.count() == reference.count())
    got
  }

  private def csvParity(body: String): DataFrame =
    assertParity(Ingest.fromCsv(spark, body), csvReference(body))

  test("csv: the empty string is the only null; NA, NaN and null stay strings") {
    csvParity("foo,bar,n\naaa,N/A,1\naaa,NA,\naaa,NaN,3\naaa,-NaN,\naaa,null,5\nbbb,,6\n")
  }

  test("csv: mixed int/float, booleans, big integers and timestamps") {
    csvParity(
      "i,f,m,b,big,ts,mixedts\n" +
        "1,1.5,1,true,99999999999999999999,2024-01-01T00:00:00,2024-01-01T00:00:00\n" +
        "2,2,2.25,false,1,2024-02-29T12:30:00.123,x\n" +
        ",3e2,,,2,2024-03-01T00:00:00Z,\n" +
        " 4 , -0.5 ,7,TRUE,3,,2024-01-01\n")
  }

  test("csv: empty and duplicate header names follow Spark's safe-header rules") {
    val f = csvParity("a,,a,B,b,c\n1,2,3,4,5,6\n7,8,9,10,11,12\n")
    assert(f.columns.toSeq == Seq("a0", "_c1", "a2", "B3", "b4", "c", RowId))
  }

  test("csv: CRLF, lone CR and blank lines; header-only and empty bodies") {
    csvParity("a,b\r\n1,x\r\n\r\n   \r\n2,y\r\n\n3,z")
    csvParity("\n\n  \na,b\r1,x\r2,y\r")
    csvParity("a,b\n")
    csvParity("")
    csvParity("\n \n")
  }

  test("csv: a data line equal to the header stays a row, as pandas reads it") {
    // Spark's Dataset reader drops every line equal to the header; only the
    // first line is the header in qcache's pandas parse
    val f = Ingest.fromCsv(spark, "a,b\n1,x\na,b\n3,z\n")
    assert(f.orderBy(RowId).drop(RowId).collect().map(_.toSeq).toSeq ==
      Seq(Seq("1", "x"), Seq("a", "b"), Seq("3", "z")))
  }

  test("csv: type hints and stand-ins apply over the inferred schema") {
    val body = "a,b,c,d\n1,2,x,3\n4,5,y,6\n"
    val ref = Ingest.addStandInColumns(csvReference(body)
      .withColumn("a", col("a").cast("string"))
      .withColumn("b", col("b").cast("double")),
      Seq("e" -> "c", "f" -> "1.5", "g" -> "'k'"))
    val f = assertParity(Ingest.fromCsv(spark, body, Map("a" -> "string", "b" -> "float"),
      Seq("e" -> "c", "f" -> "1.5", "g" -> "'k'")), ref)
    assert(f.schema("b").dataType == org.apache.spark.sql.types.DoubleType)
  }

  test("csv: a body above 100k rows parses in contiguous multi-partition chunks") {
    val n = 120000
    val body = (1 to n).map(i => s"$i,${if (i % 3 == 0) "" else (i * 0.5).toString},v${i % 11}")
      .mkString("id,x,s\n", "\n", "\n")
    val f = csvParity(body)
    assert(f.queryExecution.toRdd.getNumPartitions == Ingest.layoutPartitions(spark, n))
    assert(Ingest.layoutPartitions(spark, n) > 1)
  }

  test("json records: nulls, mixed types, nesting, timestamps-as-strings, big integers") {
    val body =
      """[{"s": "x", "n": 1, "f": 1, "o": {"k": [1, 2]}, "t": "2024-01-01T00:00:00"},
        | {"n": null, "f": 2.5, "s": "NA", "big": 99999999999999999999, "b": true},
        | {"s": "", "o": {"k": [], "j": "y"}, "e": null}]""".stripMargin
    assertParity(Ingest.fromJsonRecords(spark, body), jsonReference(Seq(body)),
      order = Some(Seq("s", "n", "f", "o", "t", "b", "big", "e", RowId)))
  }

  test("json records: empty array, lone object, mixed array, pretty-printed") {
    for (body <- Seq("[]", """{"b": 1, "a": 2}""", """[{"a": 1}, 5, {"a": 2}]""",
                     "[\n  {\n    \"a\" : 1\n  },\n  {\"a\": [\"]\"]}\n]\n"))
      assertParity(Ingest.fromJsonRecords(spark, body), jsonReference(Seq(body)))
  }

  test("json records: invalid bodies are 400s") {
    for (body <- Seq("", "[{\"a\": 1},", "[{'a': 1}]", "[{\"a\": NaN}]"))
      intercept[graft.engine.MalformedQueryException](Ingest.fromJsonRecords(spark, body))
  }

  test("ndjson: line order, first-line key order, CRLF and blank lines, mixed types") {
    val body = "{\"z\": 1, \"a\": \"x\"}\r\n\r\n  {\"a\": null, \"m\": 2.5}\n\n{\"z\": 3.5, \"n\": {\"k\": 1}}\n"
    assertParity(Ingest.fromJsonLines(spark, body),
      jsonReference(body.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq),
      order = Some(Seq("z", "a", "m", "n", RowId)))
  }
}
