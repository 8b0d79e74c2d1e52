package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile interpolates linearly between ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 4.0)
    assert(Stats.percentile(xs, 0.5) == 2.5)
    assert(math.abs(Stats.percentile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.percentile(Seq(7.0), 0.99) == 7.0)
    assert(Stats.percentile(Nil, 0.5).isNaN)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 1.5))
  }

  test("samples beyond a percentile and the ten-sample rule") {
    // the median of 20 sits between ranks 9 and 10: ranks 10..19 lie beyond it
    assert(Stats.samplesBeyond(20, 0.5) == 10)
    assert(Stats.supported(20, 0.5) && !Stats.supported(19, 0.5))
    assert(Stats.samplesNeeded(0.5) == 20)
    assert(Stats.samplesNeeded(0.9) == 92)
    assert(Stats.samplesNeeded(0.99) == 902)
    assert(Stats.samplesBeyond(0, 0.5) == 0)
  }
}

class ChecksSpec extends AnyFunSuite {
  private val t = Table("lineitem_t", Vector("l_orderkey", "l_suppkey", "l_returnflag", "l_extendedprice"),
    Vector(Array[Any](1L, 10L, "A", 5.5), Array[Any](2L, 11L, "N", 1.25), Array[Any](3L, 10L, "A", 2.0),
      Array[Any](4L, 12L, "R", 9.75), Array[Any](5L, 11L, "N", 3.0)))

  private def json(s: String) = Answer.parse(s.getBytes(UTF_8), "application/json; charset=utf-8")
  private def csv(s: String) = Answer.parse(s.getBytes(UTF_8), "text/csv; charset=utf-8")

  test("filter + limit: keys in ingest order and the unsliced length") {
    val e = Checks.filterSlice(t, r => r(2) != "R", Seq("l_orderkey"), 0, 2)
    assert(e == Expect.Rows(4, Seq("l_orderkey"), Vector(Seq("1"), Seq("2"))))
    val good = """[{"l_orderkey": 1, "l_suppkey": 10}, {"l_orderkey": 2, "l_suppkey": 11}]"""
    assert(Checks.check(e, json(good), Some(4)).isEmpty)
    assert(Checks.check(e, csv("l_orderkey,l_suppkey\n1,10\n2,11\n"), Some(4)).isEmpty)
    assert(Checks.check(e, json(good), Some(5)).exists(_.contains("unsliced")))
    assert(Checks.check(e, json(good), None).nonEmpty)
    val swapped = """[{"l_orderkey": 2}, {"l_orderkey": 1}]"""
    assert(Checks.check(e, json(swapped), Some(4)).exists(_.contains("row 0")))
  }

  test("an empty JSON answer has no column names and still matches an empty expectation") {
    val none = Checks.filterSlice(t, _ => false, Seq("l_orderkey"), 0, 10)
    assert(Checks.check(none, json("[]"), Some(0)).isEmpty)
    assert(Checks.check(none, json("""[{"l_orderkey": 1}]"""), Some(0)).nonEmpty)
    val some = Checks.filterSlice(t, _ => true, Seq("l_orderkey"), 0, 10)
    assert(Checks.check(some, json("[]"), Some(5)).nonEmpty)
    assert(Checks.check(Checks.groupAgg(t, _ => false, "l_returnflag", "l_extendedprice", _.sum),
      json("[]"), None).isEmpty)
  }

  test("distinct keeps the first occurrence") {
    val e = Checks.distinctFirst(t, _ => true, "l_suppkey", Seq("l_orderkey"), 10)
    assert(e.unsliced == 3 && e.keys == Vector(Seq("1"), Seq("2"), Seq("4")))
  }

  test("group sums: sorted keys, values within tolerance") {
    val e = Checks.groupAgg(t, _ => true, "l_returnflag", "l_extendedprice", _.sum)
    assert(e.groups == Vector(Seq("A") -> 7.5, Seq("N") -> 4.25, Seq("R") -> 9.75))
    val close = """[{"l_returnflag": "A", "l_extendedprice": 7.500000000001}, {"l_returnflag": "N", "l_extendedprice": 4.25}, {"l_returnflag": "R", "l_extendedprice": 9.75}]"""
    assert(Checks.check(e, json(close), None).isEmpty)
    val off = close.replace("4.25", "4.26")
    assert(Checks.check(e, json(off), None).exists(_.contains("group 1")))
    val unsorted = """[{"l_returnflag": "N", "l_extendedprice": 4.25}, {"l_returnflag": "A", "l_extendedprice": 7.5}, {"l_returnflag": "R", "l_extendedprice": 9.75}]"""
    assert(Checks.check(e, json(unsorted), None).nonEmpty)
  }

  test("top-k checks the descending order") {
    val e = Checks.topK(t, _ => true, "l_extendedprice", 2)
    assert(e == Expect.TopK(5, "l_extendedprice", Vector(9.75, 5.5)))
    assert(Checks.check(e, csv("l_orderkey,l_extendedprice\n4,9.75\n1,5.5\n"), Some(5)).isEmpty)
    assert(Checks.check(e, csv("l_orderkey,l_extendedprice\n1,5.5\n4,9.75\n"), Some(5)).nonEmpty)
  }

  test("count and column-set answers") {
    assert(Checks.check(Checks.count(t, r => r(2) == "N"), json("""[{"count": 2}]"""), None).isEmpty)
    assert(Checks.check(Expect.Count(3), json("""[{"count": 2}]"""), None).nonEmpty)
    assert(Checks.check(Expect.Columns(Seq("n_tokens")), json("""[{"n_tokens": 9}]"""), None).isEmpty)
    assert(Checks.check(Expect.Columns(Seq("n_bpe")), json("""[{"n_tokens": 9}]"""), None).nonEmpty)
    assert(!Expect.Columns(Seq("count")).full && Expect.Count(1).full)
  }

  test("answers a check cannot read are wrong answers, not exceptions") {
    def verify(e: Expect, body: String, ct: String = "application/json") =
      Checks.verify(e, body.getBytes(UTF_8), ct, Some(4))
    assert(verify(Expect.Count(2), """[{"count": null}]""").exists(_.contains("count")))
    val sums = Checks.groupAgg(t, _ => true, "l_returnflag", "l_extendedprice", _.sum)
    assert(verify(sums, """[{"l_returnflag": "A", "l_extendedprice": null}, {"l_returnflag": "N", "l_extendedprice": 4.25}, {"l_returnflag": "R", "l_extendedprice": 9.75}]""")
      .exists(_.contains("group 0")))
    assert(verify(Expect.Count(2), """[{"count": 2""").exists(_.contains("unreadable")))
    assert(verify(Expect.Count(2), """{"count": 2}""").exists(_.contains("unreadable")))
    assert(verify(Expect.Count(2), "[1, 2]").exists(_.contains("unreadable")))
    val rows = Checks.filterSlice(t, r => r(2) != "R", Seq("l_orderkey", "l_suppkey"), 0, 2)
    assert(verify(rows, "l_orderkey,l_suppkey\n1\n2,11\n", "text/csv").exists(_.contains("unreadable")))
    assert(verify(rows, "l_orderkey,l_suppkey\n1,10\n2,11\n", "text/csv").isEmpty)
  }

  test("funnel depths follow the greedy-earliest match") {
    val ev = Table("events_t", Vector("ts", "user_id", "event_type"), Vector(
      Array[Any]("2024-01-01T00:00:05", 1L, "view"), Array[Any]("2024-01-01T00:00:01", 1L, "click"),
      Array[Any]("2024-01-01T00:00:09", 1L, "click"), Array[Any]("2024-01-01T00:00:09", 1L, "purchase"),
      Array[Any]("2024-01-01T00:00:03", 2L, "view"), Array[Any]("2024-01-01T00:00:03", 2L, "click"),
      Array[Any]("2024-01-01T00:00:02", 3L, "click")))
    // user 1: view@5, click@9, purchase@9 is not after click@9 → 2 steps;
    // user 2: click at the same second as view → 1 step; user 3 never viewed
    val e = Checks.funnelDepths(ev, "user_id", Seq("view", "click", "purchase"))
    assert(e == Expect.Groups(Seq("steps_completed"), "user_id", Vector(Seq("1") -> 1.0, Seq("2") -> 1.0)))
    val answer = """[{"steps_completed": 1, "user_id": 1}, {"steps_completed": 2, "user_id": 1}]"""
    assert(Checks.verify(e, answer.getBytes(UTF_8), "application/json", None).isEmpty)
  }

  test("group quantiles interpolate at q(n - 1) and round half up to four decimals") {
    val e = Checks.groupQuantiles(t, "l_returnflag", "l_extendedprice", Seq(0.5, 0.9))
    assert(e.keyCols == Seq("l_returnflag", "quantile"))
    assert(e.groups == Vector(Seq("A", "0.5") -> 3.75, Seq("A", "0.9") -> 5.15,
      Seq("N", "0.5") -> 2.125, Seq("N", "0.9") -> 2.825, Seq("R", "0.5") -> 9.75, Seq("R", "0.9") -> 9.75))
  }

  test("wire encodings round-trip and lz4 carries a little-endian size prefix") {
    val data = Tables.csv(t)
    for (e <- Seq("", "lz4", "gzip")) assert(Tables.decode(Tables.encode(data, e), e).sameElements(data))
    val lz4 = Tables.encode(data, "lz4")
    assert(java.nio.ByteBuffer.wrap(lz4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt == data.length)
  }

  test("span self time subtracts the union of covered intervals") {
    assert(Tracer.covered(0, 10, Seq((1.0, 3.0), (2.0, 4.0), (8.0, 12.0))) == 5.0)
    assert(Tracer.covered(0, 10, Nil) == 0.0)
  }

  test("the same seed gives the same tables") {
    assert(Tables.csv(Tables.events("events_a", 50, 7)).sameElements(Tables.csv(Tables.events("events_a", 50, 7))))
    assert(!Tables.csv(Tables.events("events_a", 50, 7)).sameElements(Tables.csv(Tables.events("events_a", 50, 8))))
  }
}
