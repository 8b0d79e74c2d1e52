package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for all suites (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    // tests run under the same shared library tuning the mains apply
    // (committer v2 etc.): the artifact-race and restart suites must
    // exercise the write path the library actually ships with
    val s = graft.engine.SessionTuning.tuned(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `body`'s result and the number of Spark jobs that started while it
    * ran. Events already queued are delivered first, so jobs of earlier
    * actions do not count; background work (the shape warmer) must be
    * drained by the caller. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestShims.drainListeners(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      org.apache.spark.GraftTestShims.drainListeners(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
