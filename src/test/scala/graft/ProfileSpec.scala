package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** `tools/Profile` prints a job table per query, and a query it cannot run
  * fails the run instead of timing as a fast pass. The queries are built in
  * memory, so the suite needs no fixture directory. */
class ProfileSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  private val dir = java.nio.file.Files.createTempDirectory("graft-profile").toString
  /** A grouped count over four partitions: at least one shuffle. */
  private val grouped: Profile.QueryFn =
    (s, _) => s.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count()

  private def profiled(queries: Seq[(String, Profile.QueryFn)]): (Boolean, String) = {
    val bytes = new ByteArrayOutputStream
    val out = new PrintStream(bytes, true, UTF_8)
    val ok = Profile.profile(spark, dir, queries, out)
    (ok, bytes.toString(UTF_8))
  }

  test("a query prints its passes, phases, job table and final plan") {
    val (ok, text) = profiled(Seq("grouped" -> grouped))
    assert(ok, text)
    val header = """== grouped: 7 rows, min \d+ ms \(passes \d+, \d+, \d+\), (\d+) jobs ==""".r
    val jobs = header.findFirstMatchIn(text).getOrElse(fail(text)).group(1).toInt
    assert(jobs > 0, text)
    assert(text.contains("optimization") && text.contains("planning"), text)
    val jobRow = """(?m)^\s+\d+\s+\d+\s+\d+\s+\d+\s+(\d+)  collect at """.r
    val shuffleBytes = jobRow.findAllMatchIn(text).map(_.group(1).toLong).toSeq
    assert(shuffleBytes.size == jobs && shuffleBytes.sum > 0, text)
    assert(text.contains("HashAggregate"), text)
  }

  test("an unknown query name is an error") {
    val e = intercept[IllegalArgumentException](Profile.resolve(Seq("q1_agg", "no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("a failing query fails the run and names its error") {
    val broken: Profile.QueryFn = (s, d) => s.read.parquet(s"$d/no_such_table.parquet")
    val (ok, text) = profiled(Seq("broken" -> broken, "grouped" -> grouped))
    assert(!ok)
    assert(text.contains("== broken: FAILED:"), text)
    assert(text.contains("== grouped: 7 rows"), text)
  }
}
