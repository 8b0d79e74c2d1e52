package graft.tools

import java.io.PrintStream

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Where named [[graft.SparkEntry]] queries spend their time, measured with
  * [[graft.Bench]]'s method in the session every graft main runs: two
  * untimed passes (the first pays codegen, the second lets the JIT's
  * queue drain), then three timed passes of `fn(spark, sfDir)` and a count
  * of its rows. For each query it prints the row count, the minimum and
  * every pass, the plan-build time and Catalyst's phase times, one line
  * per Spark job of the fastest pass (wall ms, stages, tasks, shuffle
  * bytes written, callsite) and the final adaptive plan of that pass.
  * Exits 1 when a query fails, 2 on an unknown query name.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Profile x91_vocab_compact x96_decontam_index"
  * }}}
  */
object Profile {
  type QueryFn = (SparkSession, String) => DataFrame

  final class Job(val id: Int, val callSite: String, val startMs: Long,
                  val stages: Int, val tasks: Int) {
    @volatile var endMs: Long = startMs
    @volatile var shuffleBytes: Long = 0L
  }

  /** Records every job and the shuffle bytes its stages write; [[take]]
    * hands over the jobs recorded since the last call. */
  final class JobListener extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Job]
    private val executions = mutable.Map.empty[Long, String]
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { executions(s.executionId) = s.description }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // an adaptive stage's job is submitted from a pool thread, so it is
      // named by the action of its SQL execution
      val callSite = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executions.get(id.toLong))
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("?")
      val job = new Job(e.jobId, callSite, e.time, e.stageInfos.size,
        e.stageInfos.map(_.numTasks).sum)
      jobs(e.jobId) = job
      e.stageIds.foreach(stageJob(_) = job)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      for (job <- stageJob.remove(e.stageInfo.stageId); m <- Option(e.stageInfo.taskMetrics))
        job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    def take(): Seq[Job] = synchronized {
      val out = jobs.values.toList
      jobs.clear(); stageJob.clear(); executions.clear()
      out
    }
  }

  private final case class Pass(rows: Long, ms: Double, buildMs: Double, qe: QueryExecution)

  /** `names` as SparkEntry queries; an unknown name is an error. */
  def resolve(names: Seq[String]): Seq[(String, QueryFn)] = {
    val all = graft.SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query: ${unknown.mkString(", ")}")
    names.map(n => n -> all(n))
  }

  /** Profiles each query in turn and prints to `out`; false when any
    * query failed (its error is printed in place of its profile). */
  def profile(spark: SparkSession, sfDir: String, queries: Seq[(String, QueryFn)],
              out: PrintStream): Boolean = {
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    def drained(): Seq[Job] = {
      org.apache.spark.sql.GraftSqlShims.drainListeners(sc)
      listener.take()
    }
    def pass(fn: QueryFn): Pass = {
      val t0 = System.nanoTime()
      val counted = fn(spark, sfDir).groupBy().count()
      val t1 = System.nanoTime()
      val rows = counted.collect().head.getLong(0)
      Pass(rows, (System.nanoTime() - t0) / 1e6, (t1 - t0) / 1e6, counted.queryExecution)
    }
    try queries.map { case (name, fn) =>
      try {
        pass(fn); pass(fn)
        System.gc()
        val timed = (1 to 3).map { _ => drained(); val p = pass(fn); (p, drained()) }
        val (best, jobs) = timed.minBy(_._1.ms)
        out.println(f"== $name: ${best.rows}%d rows, min ${best.ms}%.0f ms " +
          s"(passes ${timed.map(t => f"${t._1.ms}%.0f").mkString(", ")}), ${jobs.size} jobs ==")
        val phases = best.qe.tracker.phases
        out.println(f"  build ${best.buildMs}%.0f ms; " + Seq("analysis", "optimization", "planning")
          .flatMap(p => phases.get(p).map(s => s"$p ${s.durationMs} ms")).mkString(", "))
        out.println(f"  ${"job"}%6s ${"ms"}%7s ${"stages"}%6s ${"tasks"}%6s ${"shuffle B"}%12s  callsite")
        jobs.foreach { j =>
          out.println(f"  ${j.id}%6d ${j.endMs - j.startMs}%7d ${j.stages}%6d ${j.tasks}%6d " +
            f"${j.shuffleBytes}%12d  ${j.callSite}")
        }
        out.println(f"  [sum of job walls ${jobs.map(j => j.endMs - j.startMs).sum}%d ms]")
        val plan = best.qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        out.println(plan.treeString.linesIterator.map("  " + _).mkString("\n"))
        true
      } catch {
        case NonFatal(e) =>
          out.println(s"== $name: FAILED: $e")
          false
      }
    }.forall(identity)
    finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    def usage(problem: String): Nothing = {
      System.err.println(s"$problem\nusage: SPARK_GRAFT_SF_DIR=<sf dir> graft.tools.Profile <query>...")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", usage("SPARK_GRAFT_SF_DIR is not set"))
    if (args.isEmpty) usage("no query named")
    val queries = try resolve(args.toSeq) catch {
      case e: IllegalArgumentException => usage(e.getMessage)
    }
    val spark = graft.engine.SessionTuning.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = try {
      graft.sources.TableRegistry.warmup(spark, sfDir, graft.Bench.Tables)
      profile(spark, sfDir, queries, System.out)
    } finally spark.stop()
    if (!ok) sys.exit(1)
  }
}
