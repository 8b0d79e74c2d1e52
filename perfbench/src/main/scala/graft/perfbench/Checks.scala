package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

/** A parsed response body: column names and rows (an empty JSON array has
  * no column names). JSON numbers arrive as
  * Long or Double, CSV cells as String; [[Answer.num]] and [[Answer.key]]
  * read both alike. */
final case class Answer(columns: Vector[String], rows: Vector[Vector[Any]]) {
  private val index = columns.zipWithIndex.toMap
  def has(c: String): Boolean = index.contains(c)
  def cell(r: Int, c: String): Any = rows(r)(index(c))
  /** NaN for a null cell, so it compares unequal to every expected value. */
  def num(r: Int, c: String): Double = cell(r, c) match {
    case null => Double.NaN
    case n: Number => n.doubleValue
    case s => s.toString.toDouble
  }
  def key(r: Int, c: String): String = Answer.norm(cell(r, c))
}

object Answer {
  private val mapper = new ObjectMapper()

  /** Integral numbers print without a fraction whichever format they
    * came in, so key tuples from JSON and CSV compare equal. */
  def norm(v: Any): String = v match {
    case null => ""
    case d: java.lang.Double if d == math.rint(d) && !d.isInfinite => d.longValue.toString
    case n: Number => n.toString
    case s => s.toString
  }

  def parse(body: Array[Byte], contentType: String): Answer =
    if (contentType.startsWith("text/csv")) parseCsv(new String(body, UTF_8))
    else fromRecords(mapper.readValue(body, classOf[java.util.List[java.util.LinkedHashMap[String, Any]]])
      .asScala.toVector)

  private def fromRecords(records: Vector[java.util.LinkedHashMap[String, Any]]): Answer = {
    val cols = records.headOption.map(_.keySet.asScala.toVector).getOrElse(Vector.empty)
    Answer(cols, records.map(m => cols.map(c => m.get(c): Any)))
  }

  /** The benchmark's tables never put a comma or quote inside a value, so
    * a plain split reads every CSV answer it can receive. */
  private def parseCsv(text: String): Answer = {
    val lines = text.split('\n').toVector.filter(_.nonEmpty)
    if (lines.isEmpty) Answer(Vector.empty, Vector.empty)
    else Answer(lines.head.split(",", -1).toVector,
      lines.tail.map(_.split(",", -1).toVector))
  }
}

/** What a correct answer looks like, computed from the benchmark's own rows.
  * `full` marks checks that pin the answer completely (as opposed to the
  * xop checks, which pin the column set and rely on repeat identity). */
sealed trait Expect { def full: Boolean = true }

object Expect {
  /** Ordered key tuples of every returned row, plus the unsliced length. */
  final case class Rows(unsliced: Long, keyCols: Seq[String], keys: Vector[Seq[String]]) extends Expect
  /** One row per group, sorted by the group key columns; values within a
    * relative tolerance. */
  final case class Groups(keyCols: Seq[String], valCol: String, groups: Vector[(Seq[String], Double)]) extends Expect
  /** A one-row `[["count"]]` answer. */
  final case class Count(count: Long) extends Expect
  /** Top-k values of `valCol`, in the returned (descending) order. */
  final case class TopK(unsliced: Long, valCol: String, values: Vector[Double]) extends Expect
  /** At least these columns, and a body identical to every earlier answer
    * to the same request text. */
  final case class Columns(cols: Seq[String]) extends Expect { override def full = false }
  /** The request changes state; only the status is checked. */
  case object Status extends Expect
}

object Checks {
  val RelTol = 1e-9

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= RelTol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** None when `answer` (with the X-QCache-unsliced-length header value)
    * matches `expect`; otherwise what differs. */
  def check(expect: Expect, answer: => Answer, unsliced: Option[Long]): Option[String] =
    expect match {
      case Expect.Status => None
      case Expect.Rows(n, keyCols, keys) =>
        val a = answer
        val missing = keyCols.filterNot(a.has)
        if (!unsliced.contains(n)) Some(s"unsliced length ${unsliced.getOrElse("absent")} != $n")
        else if (a.rows.length != keys.length) Some(s"${a.rows.length} rows != ${keys.length}")
        else if (a.rows.nonEmpty && missing.nonEmpty) Some(s"missing columns ${missing.mkString(",")}")
        else keys.indices.collectFirst {
          case i if keyCols.map(a.key(i, _)) != keys(i) =>
            s"row $i is ${keyCols.map(a.key(i, _)).mkString("/")}, expected ${keys(i).mkString("/")}"
        }
      case Expect.Groups(keyCols, valCol, groups) =>
        val a = answer
        if (a.rows.length != groups.length) Some(s"${a.rows.length} groups != ${groups.length}")
        else if (a.rows.nonEmpty && !(keyCols :+ valCol).forall(a.has)) Some(s"columns ${a.columns.mkString(",")}")
        else groups.indices.collectFirst {
          case i if keyCols.map(a.key(i, _)) != groups(i)._1 || !close(a.num(i, valCol), groups(i)._2) =>
            s"group $i is ${keyCols.map(a.key(i, _)).mkString("/")}=${a.num(i, valCol)}, " +
              s"expected ${groups(i)._1.mkString("/")}=${groups(i)._2}"
        }
      case Expect.Count(n) =>
        val a = answer
        if (a.rows.length != 1 || !a.has("count")) Some(s"not a count answer: ${a.columns}")
        else if (a.num(0, "count") != n.toDouble) Some(s"count ${a.num(0, "count")} != $n")
        else None
      case Expect.TopK(n, valCol, values) =>
        val a = answer
        if (!unsliced.contains(n)) Some(s"unsliced length ${unsliced.getOrElse("absent")} != $n")
        else if (a.rows.length != values.length) Some(s"${a.rows.length} rows != ${values.length}")
        else if (a.rows.nonEmpty && !a.has(valCol)) Some(s"missing column $valCol")
        else values.indices.collectFirst {
          case i if !close(a.num(i, valCol), values(i)) => s"rank $i is ${a.num(i, valCol)}, expected ${values(i)}"
        }
      case Expect.Columns(cols) =>
        val a = answer
        val missing = cols.filterNot(a.has)
        if (missing.nonEmpty) Some(s"missing columns ${missing.mkString(",")} in ${a.columns.mkString(",")}")
        else None
    }

  /** [[check]] on a decoded response body. A body that cannot be parsed,
    * or that a check cannot read (a short CSV row, a missing cell), is a
    * wrong answer too. */
  def verify(expect: Expect, body: Array[Byte], contentType: String,
             unsliced: Option[Long]): Option[String] =
    try check(expect, Answer.parse(body, contentType), unsliced)
    catch { case NonFatal(e) => Some(s"unreadable answer: $e") }

  // --- expected answers over the benchmark's own rows -------------------

  type Pred = Array[Any] => Boolean

  def dbl(t: Table, c: String): Array[Any] => Double = { val i = t.idx(c); r => r(i).asInstanceOf[Double] }
  def str(t: Table, c: String): Array[Any] => String = { val i = t.idx(c); r => r(i).toString }

  def keyOf(t: Table, cols: Seq[String]): Array[Any] => Seq[String] = {
    val is = cols.map(t.idx)
    r => is.map(i => Answer.norm(r(i)))
  }

  /** Rows matching `pred` in ingest order, sliced at [offset, offset + limit). */
  def filterSlice(t: Table, pred: Pred, keyCols: Seq[String], offset: Int, limit: Int): Expect.Rows = {
    val matching = t.rows.filter(pred)
    Expect.Rows(matching.length, keyCols,
      matching.slice(offset, offset + limit).map(keyOf(t, keyCols)))
  }

  /** First occurrence of each value of `distinctCol` among matching rows. */
  def distinctFirst(t: Table, pred: Pred, distinctCol: String, keyCols: Seq[String],
                    limit: Int): Expect.Rows = {
    val seen = scala.collection.mutable.HashSet.empty[Any]
    val i = t.idx(distinctCol)
    val firsts = t.rows.filter(r => pred(r) && seen.add(r(i)))
    Expect.Rows(firsts.length, keyCols, firsts.take(limit).map(keyOf(t, keyCols)))
  }

  def groupAgg(t: Table, pred: Pred, keyCol: String, valCol: String,
               agg: Seq[Double] => Double): Expect.Groups = {
    val k = str(t, keyCol); val v = dbl(t, valCol)
    val groups = t.rows.filter(pred).groupBy(k).toVector
      .map { case (key, rs) => Seq(key) -> agg(rs.map(v)) }.sortBy(_._1.head)
    Expect.Groups(Seq(keyCol), valCol, groups)
  }

  /** The `funnel` xop's depth histogram: per `keyCol` entity that has a
    * `steps.head` event, the greedy-earliest match (each step the earliest
    * event of its type strictly after the previous match); the count of
    * entities per `steps_completed`, in the `keyCol` column. */
  def funnelDepths(t: Table, keyCol: String, steps: Seq[String]): Expect.Groups = {
    val (ki, ti, ei) = (t.idx(keyCol), t.idx("ts"), t.idx("event_type"))
    val depths = t.rows.groupBy(r => r(ki)).values.toVector.flatMap { rs =>
      val byType = rs.groupBy(r => r(ei).toString).map { case (e, es) => e -> es.map(_(ti).toString).sorted }
      // ISO timestamps of one length order as strings
      byType.get(steps.head).map { first =>
        val matched = steps.tail.scanLeft(Option(first.head)) {
          case (Some(prev), step) => byType.getOrElse(step, Vector.empty).find(_ > prev)
          case (None, _) => None
        }
        matched.count(_.isDefined)
      }
    }
    Expect.Groups(Seq("steps_completed"), keyCol,
      depths.groupBy(identity).toVector.map { case (d, ds) => Seq(d.toString) -> ds.length.toDouble }
        .sortBy(_._1.head.toInt))
  }

  /** The `quantiles` xop: per group, the exact percentile of `valCol`
    * (linear interpolation at position q·(n − 1)), rounded half up to four
    * decimals, in (group, quantile) order. */
  def groupQuantiles(t: Table, groupCol: String, valCol: String, qs: Seq[Double]): Expect.Groups = {
    val k = str(t, groupCol); val v = dbl(t, valCol)
    val groups = t.rows.groupBy(k).toVector.sortBy(_._1).flatMap { case (g, rs) =>
      val s = rs.map(v).sorted
      qs.map { q =>
        val pos = (s.length - 1) * q
        val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
        val exact = if (lo == hi || s(lo) == s(hi)) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
        Seq(g, Answer.norm(q)) -> math.floor(exact * 1e4 + 0.5) / 1e4
      }
    }
    Expect.Groups(Seq(groupCol, "quantile"), "value", groups)
  }

  def topK(t: Table, pred: Pred, valCol: String, k: Int): Expect.TopK = {
    val matching = t.rows.filter(pred).map(dbl(t, valCol))
    Expect.TopK(matching.length, valCol, matching.sorted(Ordering.Double.TotalOrdering.reverse).take(k))
  }

  def count(t: Table, pred: Pred): Expect.Count = Expect.Count(t.rows.count(pred).toLong)
}
