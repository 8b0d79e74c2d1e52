package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    // tests run in the session every graft main builds (committer v2,
    // extensions): the artifact-race and restart suites must exercise the
    // write path the library actually ships with
    val s = graft.engine.SessionTuning.local(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
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
    org.apache.spark.sql.GraftSqlShims.drainListeners(sc)
    val jobs = new graft.tools.Profile.JobListener
    sc.addSparkListener(jobs)
    try {
      val result = body
      org.apache.spark.sql.GraftSqlShims.drainListeners(sc)
      (result, jobs.take().size)
    } finally sc.removeSparkListener(jobs)
  }
}
