package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** A finished Spark job with the totals of the stages that ran for it
  * (skipped stages never complete, so they are not counted). Times are
  * epoch milliseconds, as the scheduler stamps them. */
final case class JobRec(id: Int, start: Long, end: Long, stages: Int, tasks: Long,
                        taskMs: Long, shuffleBytes: Long, spillBytes: Long)

/** Records every job, and the stages it ran, for later attribution to
  * spans by start time. Registered by the benchmark; the program under
  * test is unaware of it. */
final class JobListener extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, Long]()
  private val ends = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageStats = new ConcurrentHashMap[(Int, Int), (Int, Long, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    starts.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ends.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stageStats.put((si.stageId, si.attemptNumber()), (si.numTasks,
      m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def jobs: Seq[JobRec] = {
    val perJob = mutable.Map.empty[Int, (Int, Long, Long, Long, Long)]
    stageStats.asScala.foreach { case ((stage, _), (tasks, ms, shuffle, spill)) =>
      Option(stageJob.get(stage)).foreach { j =>
        val (s, t, m, sh, sp) = perJob.getOrElse(j, (0, 0L, 0L, 0L, 0L))
        perJob(j) = (s + 1, t + tasks, m + ms, sh + shuffle, sp + spill)
      }
    }
    starts.asScala.toSeq.flatMap { case (id, start) =>
      Option(ends.get(id)).map { end =>
        val (s, t, m, sh, sp) = perJob.getOrElse(id, (0, 0L, 0L, 0L, 0L))
        JobRec(id, start, end, s, t, m, sh, sp)
      }
    }.sortBy(_.id)
  }
}

/** A timed region. Times are epoch milliseconds with sub-millisecond
  * precision; `parent` is -1 for a root. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
                      attrs: collection.Map[String, Any]) {
  def ms: Double = end - start
}

/** In-memory span recorder. Spans nest through a stack, so `span` is for
  * one thread at a time; `record` adds a root span measured elsewhere. */
final class Tracer {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]

  def record(name: String, start: Double, end: Double, attrs: collection.Map[String, Any]): Span = synchronized {
    val s = Span(spans.length, -1, name, start, end, attrs)
    spans += s
    s
  }

  def span[A](name: String, attrs: collection.Map[String, Any] = Map.empty)(f: => A): A = {
    val id = synchronized {
      spans += Span(spans.length, stack.headOption.getOrElse(-1), name, now(), Double.NaN, attrs)
      stack.push(spans.length - 1)
      spans.length - 1
    }
    try f
    finally synchronized {
      stack.pop()
      spans(id) = spans(id).copy(end = now())
    }
  }

  /** Each job goes to the innermost span whose interval holds its start;
    * the scheduler stamps whole milliseconds, hence the 1 ms slack. */
  def attribute(jobs: Seq[JobRec]): Map[Int, Seq[JobRec]] = {
    val byDepth = spans.toSeq.sortBy(s => -depth(s))
    jobs.flatMap { j =>
      byDepth.find(s => j.start >= s.start - 1 && j.start <= s.end + 1).map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  private def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  def children(s: Span): Seq[Span] = spans.toSeq.filter(_.parent == s.id)

  /** A span's duration minus the part of it its child spans and jobs cover. */
  def selfMs(s: Span, jobs: Map[Int, Seq[JobRec]]): Double =
    s.ms - Tracer.covered(s.start, s.end,
      children(s).map(c => (c.start, c.end)) ++
        jobs.getOrElse(s.id, Nil).map(j => (j.start.toDouble, j.end.toDouble)))
}

object Tracer {
  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, intervals: Seq[(Double, Double)]): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}
