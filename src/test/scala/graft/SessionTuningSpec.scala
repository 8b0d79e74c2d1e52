package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.SessionTuning

/** The session every graft main builds, [[SessionTuning.local]], held to
  * its settings through the shared test session, which it builds with four
  * cores. */
class SessionTuningSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("the shared builder installs graft's optimizer rule and planner strategies") {
    val state = spark.sessionState
    assert(state.optimizer.batches.flatMap(_.rules).contains(graft.plans.RemoveCachedOrderSorts))
    val strategies = state.planner.strategies
    assert(strategies.contains(graft.plans.OrderedLayoutStrategy))
    assert(strategies.contains(graft.plans.CachedOffsetStrategy))
  }

  test("the shared builder sets the committer, codegen cache, time zone, nanos and cores") {
    assert(spark.sparkContext.hadoopConfiguration
      .get("mapreduce.fileoutputcommitter.algorithm.version") == "2")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("cores come from SPARK_GRAFT_CPUS, else every core the JVM sees") {
    assert(SessionTuning.cpus == sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors))
  }
}
