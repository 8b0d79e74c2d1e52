package graft.perfbench

import java.util.SplittableRandom

/** One HTTP request of a workload. A request with a `body` is a store
  * (POST); any other is a query (GET with `?q=`). `cls` is the request
  * class the report groups latencies by; `cls404` relabels a 404 answer
  * (the store-on-miss protocol's expected miss). */
final case class Req(
    cls: String, tag: String, key: String,
    query: String = null, body: Array[Byte] = null,
    contentType: String = "text/csv", contentEncoding: String = "", types: String = "",
    accept: String = "application/json", acceptEncoding: String = "",
    expect: Expect = Expect.Status, cls404: Option[String] = None) {
  def isStore: Boolean = body != null
}


/** A dataset the workload stores: its rows (for expected answers) and its
  * wire form. */
final case class Dataset(key: String, table: Table, contentType: String, encoding: String,
                         types: String, decoded: Array[Byte], wire: Array[Byte]) {
  def storeReq(cls: String): Req = Req(cls, Dataset.format(contentType), key, body = wire,
    contentType = contentType, contentEncoding = encoding, types = types)
}

object Dataset {
  /** Short body format name: csv, json or ndjson. */
  def format(contentType: String): String = contentType match {
    case "text/csv" => "csv"
    case "application/x-ndjson" => "ndjson"
    case _ => "json"
  }

  def apply(key: String, table: Table, contentType: String, encoding: String = "",
            types: String = ""): Dataset = {
    val decoded = contentType match {
      case "text/csv" => Tables.csv(table)
      case "application/x-ndjson" => Tables.ndjson(table)
      case _ => Tables.json(table)
    }
    Dataset(key, table, contentType, encoding, types, decoded, Tables.encode(decoded, encoding))
  }
}

/** A seeded traffic mix. `setup` stores the initial tables; `warmup` holds
  * one request of each shape, sent before the timed window so code
  * generation and JIT happen outside it; `step` is one closed-loop client
  * step, which may send several requests (the store-on-miss protocol
  * does). Mix proportions
  * follow a shared cycle rather than a coin per step, so every run sees
  * the same mix; the seed varies the rows and the query literals. */
trait Workload {
  def name: String
  def clients: Int
  /** Request class whose median is `work_p50_ms`. */
  def workClass: String
  def maxCacheSize: Long = 1000000000L
  def datasets: Seq[Dataset]
  def setup(send: Req => Int): Unit = datasets.foreach(d => send(d.storeReq("store")))
  def warmup: Seq[Req]
  def step(rng: SplittableRandom, send: Req => Int): Unit
  protected val cycle = new java.util.concurrent.atomic.AtomicLong
  /** Restarts the traffic from its first step. */
  def reset(): Unit = cycle.set(0)
}

/** Zipf draw over ranks 0 until n: rank r has weight 1 / (r + 1)^s. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }
  def draw(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Query templates. Each maps a literal index (drawn Zipf from a small
  * pool, so identical query texts repeat and the server's plan memo sees
  * a hit ratio between 0 and 1) to a query text and its expected answer,
  * computed from the benchmark's copy of the rows. */
object Templates {
  import Checks._

  val Pool = 16
  private def q(s: String): String = s"'$s'"

  type Template = (Table, Int) => (String, Expect)

  // lineitem
  val liFilter: Template = (t, lit) => {
    val qty = 1 + (lit * 7) % 45; val flag = "ANR".charAt(lit % 3).toString
    val (qi, fi) = (t.idx("l_quantity"), t.idx("l_returnflag"))
    (s"""{"where": ["&", [">", "l_quantity", $qty], ["==", "l_returnflag", "${q(flag)}"]], "limit": 10}""",
      filterSlice(t, r => r(qi).asInstanceOf[Double] > qty && r(fi) == flag,
        Seq("l_orderkey", "l_suppkey", "l_partkey"), 0, 10))
  }
  val liGroup: Template = (t, lit) => {
    val disc = (lit % 10 + 1) / 100.0; val di = t.idx("l_discount")
    (s"""{"select": ["l_returnflag", ["sum", "l_extendedprice"]], "where": ["<", "l_discount", $disc], "group_by": ["l_returnflag"]}""",
      groupAgg(t, r => r(di).asInstanceOf[Double] < disc, "l_returnflag", "l_extendedprice", _.sum))
  }
  val liDistinct: Template = (t, lit) => {
    val part = 500 + lit * 600; val pi = t.idx("l_partkey")
    (s"""{"distinct": ["l_suppkey"], "where": ["<", "l_partkey", $part], "limit": 20}""",
      distinctFirst(t, r => r(pi).asInstanceOf[Long] < part, "l_suppkey",
        Seq("l_orderkey", "l_suppkey", "l_partkey"), 20))
  }
  val liTopK: Template = (t, lit) => {
    val line = 1 + lit % 7; val k = 3 + lit % 4; val li = t.idx("l_linenumber")
    (s"""{"select": ["l_orderkey", "l_extendedprice"], "where": ["==", "l_linenumber", $line], "order_by": ["-l_extendedprice"], "limit": $k}""",
      topK(t, r => r(li).asInstanceOf[Long] == line, "l_extendedprice", k))
  }
  val liIn: Template = (t, lit) => {
    val qty = 46 + lit % 5; val status = "OF".charAt((lit / 5) % 2).toString
    val (qi, si, oi) = (t.idx("l_quantity"), t.idx("l_linestatus"), t.idx("l_orderkey"))
    val orders = t.rows.filter(r => r(qi).asInstanceOf[Double] >= qty).map(r => r(oi)).toSet
    (s"""{"select": [["count"]], "where": ["&", ["==", "l_linestatus", "${q(status)}"], ["in", "l_orderkey", {"where": [">=", "l_quantity", $qty], "select": ["l_orderkey"]}]]}""",
      count(t, r => r(si) == status && orders.contains(r(oi))))
  }
  val liFrom: Template = (t, lit) => {
    val qty = 1 + lit * 2; val qi = t.idx("l_quantity")
    (s"""{"from": {"where": [">", "l_quantity", $qty]}, "select": ["l_linestatus", ["max", "l_extendedprice"]], "group_by": ["l_linestatus"]}""",
      groupAgg(t, r => r(qi).asInstanceOf[Double] > qty, "l_linestatus", "l_extendedprice", _.max))
  }

  // orders
  val oFilter: Template = (t, lit) => {
    val price = 1000 + lit * 15000; val status = "OFP".charAt(lit % 3).toString
    val (pi, si) = (t.idx("o_totalprice"), t.idx("o_orderstatus"))
    (s"""{"where": ["&", [">", "o_totalprice", $price], ["==", "o_orderstatus", "${q(status)}"]], "limit": 10}""",
      filterSlice(t, r => r(pi).asInstanceOf[Double] > price && r(si) == status,
        Seq("o_orderkey", "o_custkey"), 0, 10))
  }
  val oGroup: Template = (t, lit) => {
    val cust = lit * 900; val ci = t.idx("o_custkey")
    (s"""{"select": ["o_orderpriority", ["sum", "o_totalprice"]], "where": [">", "o_custkey", $cust], "group_by": ["o_orderpriority"]}""",
      groupAgg(t, r => r(ci).asInstanceOf[Long] > cust, "o_orderpriority", "o_totalprice", _.sum))
  }
  val oDistinct: Template = (t, lit) => {
    val price = 2000 + lit * 9000; val pi = t.idx("o_totalprice")
    (s"""{"distinct": ["o_custkey"], "where": ["<", "o_totalprice", $price], "limit": 20}""",
      distinctFirst(t, r => r(pi).asInstanceOf[Double] < price, "o_custkey",
        Seq("o_orderkey", "o_custkey"), 20))
  }

  // events
  val eDistinct: Template = (t, lit) => {
    val v = 20 + lit * 25; val vi = t.idx("value")
    (s"""{"distinct": ["user_id"], "where": [">", "value", $v], "limit": 20}""",
      distinctFirst(t, r => r(vi).asInstanceOf[Double] > v, "user_id", Seq("event_id", "user_id"), 20))
  }

  /** Template names and functions per table schema (the table name's
    * prefix before `_`). */
  val small: Map[String, Seq[(String, Template)]] = Map(
    "lineitem" -> Seq("filter_limit" -> liFilter, "group_agg" -> liGroup,
      "distinct_limit" -> liDistinct, "topk" -> liTopK, "in_subquery" -> liIn,
      "nested_from" -> liFrom),
    "orders" -> Seq("filter_limit" -> oFilter, "group_agg" -> oGroup,
      "distinct_limit" -> oDistinct))

  /** qcache's memory_benchmark query shape (distinct + filter + limit), per schema. */
  val probe: Map[String, Template] = Map(
    "lineitem" -> liDistinct, "orders" -> oDistinct, "events" -> eDistinct)

  def schema(t: Table): String = t.name.takeWhile(_ != '_')

  /** Offset/limit page in ingest order; the whole key column is checked. */
  def page(t: Table, offset: Int, limit: Int): (String, Expect) = {
    val keys = if (schema(t) == "orders") Seq("o_orderkey", "o_custkey")
      else Seq("l_orderkey", "l_suppkey", "l_partkey")
    (s"""{"offset": $offset, "limit": $limit}""", filterSlice(t, _ => true, keys, offset, limit))
  }
}

/** Expected answers are pure functions of (table, query text); they are
  * computed once and shared by all clients. */
final class ExpectCache {
  private val memo = new java.util.concurrent.ConcurrentHashMap[(String, String), (String, Expect)]()
  def apply(t: Table, name: String, lit: Int)(make: => (String, Expect)): (String, Expect) =
    memo.computeIfAbsent((t.name + "/" + name, lit.toString), _ => make)
}

/** Steady-state read-only traffic against tables that fit the cache;
  * nothing is stored after setup. Per ten steps: six small-result reads
  * over nine dialect shapes, two offset/limit pages with mixed Accept and
  * Accept-Encoding, and two read-only extension operators (xops) from the
  * dedup, text, events and profile families. */
final class ReadWarm(seed: Long) extends Workload {
  val name = "read_warm"
  val clients = 4
  val workClass = "page"
  private val docs = Tables.documents("documents_j", 3000, seed + 4)
  private val liM = Tables.lineitem("lineitem_m", 20000, seed + 1)
  private val events = Tables.events("events_c", 10000, seed + 5)
  val datasets = Seq(Dataset("li_s", Tables.lineitem("lineitem_s", 10000, seed), "text/csv"),
    Dataset("li_m", liM, "text/csv"),
    Dataset("li_l", Tables.lineitem("lineitem_l", 40000, seed + 2), "text/csv"),
    Dataset("orders", Tables.orders("orders_j", 15000, seed + 3), "application/json"),
    Dataset("docs", docs, "application/json"),
    Dataset("events", events, "text/csv", types = "ts=timestamp"))
  private val byKey = datasets.map(d => d.key -> d.table).toMap
  private val expect = new ExpectCache
  private val zipf = new Zipf(Templates.Pool, 1.0)
  private val argZipf = new Zipf(4, 1.0)
  private val pageSizes = Vector(2000, 5000, 10000)
  private val accepts = Vector("application/json", "text/csv")
  private val encodings = Vector("", "lz4", "gzip")

  private def small(key: String, ti: Int, lit: Int): Req = {
    val t = byKey(key)
    val (tname, tmpl) = Templates.small(Templates.schema(t))(ti)
    val (qs, e) = expect(t, tname, lit)(tmpl(t, lit))
    Req("query", tname, key, query = qs, expect = e)
  }

  private def pageReq(key: String, lit: Int, accept: String, enc: String): Req = {
    val t = byKey(key)
    val size = pageSizes(lit % pageSizes.length)
    val offset = ((lit * 7919) % math.max(1, (t.n - size) / 1000)) * 1000
    val (qs, e) = expect(t, "page" + size, offset)(Templates.page(t, offset, size))
    Req("page", "page", key, query = qs, expect = e, accept = accept, acceptEncoding = enc)
  }

  private def dedupExact(lit: Int): (String, Expect) = {
    val src = s"src${lit * 3}"
    val (ti, si) = (docs.idx("text"), docs.idx("source"))
    val seen = scala.collection.mutable.HashSet.empty[Any]
    (s"""{"xop": {"name": "dedup_exact", "args": {"column": "text"}}, "where": ["==", "source", "'$src'"], "select": [["count"]]}""",
      Checks.count(docs, r => seen.add(r(ti)) && r(si) == src))
  }

  private def cols(q: String, c: String*): (String, Expect) = (q, Expect.Columns(c))

  private val FunnelSteps = Vector(Seq("view", "click"), Seq("view", "cart", "purchase"),
    Seq("click", "purchase"), Seq("view", "click", "cart", "purchase"))

  /** (family, xop name, dataset key, argument index → (query, expected)).
    * dedup_exact, funnel and quantiles are checked in full; the others by
    * column set and by repeat identity. */
  private val xops: Vector[(String, String, String, Int => (String, Expect))] = Vector(
    ("dedup", "dedup_exact", "docs", dedupExact),
    ("text", "text_tokens", "docs", lit => cols(
      s"""{"xop": {"name": "text_tokens", "args": {"column": "text"}}, "where": ["==", "lang", "'${Vector("en", "de", "fr", "zh")(lit)}'"], "select": [["sum", "n_tokens"], ["max", "n_bpe"]]}""",
      "n_tokens", "n_bpe")),
    ("text", "text_quality", "docs", lit => cols(
      s"""{"xop": {"name": "text_quality", "args": {"column": "text"}}, "where": ["==", "source", "'src$lit'"], "limit": 5}""",
      "doc_id", "text")),
    ("events", "sessionize", "events", lit => cols(
      s"""{"xop": {"name": "sessionize", "args": {"gap_seconds": ${Vector(300, 900, 1800, 3600)(lit)}}}, "select": [["count"]]}""", "count")),
    ("events", "funnel", "events", lit => {
      val steps = FunnelSteps(lit)
      val stepsJson = steps.map("\"" + _ + "\"").mkString("[", ", ", "]")
      (s"""{"xop": {"name": "funnel", "args": {"key": "user_id", "steps": $stepsJson}}, "select": ["steps_completed", ["count", "user_id"]], "group_by": ["steps_completed"], "order_by": ["steps_completed"]}""",
        Checks.funnelDepths(events, "user_id", steps))
    }),
    ("events", "retention", "events", lit => cols(
      s"""{"xop": {"name": "retention", "args": {"period_seconds": ${Vector(3600, 21600, 43200, 86400)(lit)}, "max_offset": 7}}, "select": [["count"]]}""", "count")),
    ("profile", "quantiles", "li_m", lit => {
      val column = Vector("l_quantity", "l_extendedprice", "l_discount", "l_tax")(lit)
      (s"""{"xop": {"name": "quantiles", "args": {"group": "l_returnflag", "column": "$column", "qs": [0.5, 0.9]}}, "order_by": ["l_returnflag", "quantile"]}""",
        Checks.groupQuantiles(liM, "l_returnflag", column, Seq(0.5, 0.9)))
    }))

  private def xopReq(i: Int, lit: Int): Req = {
    val (family, name, key, make) = xops(i)
    val (qs, e) = expect(byKey(key), name, lit)(make(lit))
    Req("xop", family, key, query = qs, expect = e)
  }

  /** Every (dataset, template) pair, and every (dataset, Accept,
    * Accept-Encoding) page combination. */
  private val smallCycle = for (d <- datasets if Templates.small.contains(Templates.schema(d.table));
                                ti <- Templates.small(Templates.schema(d.table)).indices)
    yield (d.key, ti)
  private val pageCycle = for (k <- Vector("li_m", "li_l", "orders"); a <- accepts; e <- encodings)
    yield (k, a, e)
  private val smallNext, pageNext, xopNext = new java.util.concurrent.atomic.AtomicLong
  override def reset(): Unit = Seq(cycle, smallNext, pageNext, xopNext).foreach(_.set(0))

  def warmup: Seq[Req] =
    (for (key <- Seq("li_s", "orders"); ti <- Templates.small(Templates.schema(byKey(key))).indices)
      yield small(key, ti, 0)) ++
      accepts.map(a => pageReq("li_m", 0, a, "lz4")) ++ xops.indices.map(xopReq(_, 0))

  def step(rng: SplittableRandom, send: Req => Int): Unit = cycle.getAndIncrement() % 10 match {
    case 2 | 7 =>
      val (key, accept, enc) = pageCycle((pageNext.getAndIncrement() % pageCycle.length).toInt)
      send(pageReq(key, zipf.draw(rng), accept, enc))
    case 4 | 9 =>
      send(xopReq((xopNext.getAndIncrement() % xops.length).toInt, argZipf.draw(rng)))
    case _ =>
      val (key, ti) = smallCycle((smallNext.getAndIncrement() % smallCycle.length).toInt)
      send(small(key, ti, zipf.draw(rng)))
  }
}

/** qcache's store-once/query-many client protocol under a byte budget
  * smaller than the working set: query a Zipf-drawn key; on a 404 store
  * the table and query again (the first query). About one hit in ten is
  * followed by an update and a read of the updated rows. */
final class StoreEvict(seed: Long) extends Workload {
  val name = "store_evict"
  val clients = 2
  val workClass = "store"
  private val tables = 36
  /** Key rank i (rank 0 hottest) gets a log-uniform row count in
    * [1k, 20k) through a golden-ratio sequence, so hot and cold keys both
    * span the size range and the universe is the same shape for every
    * seed; the seed picks the rows. Bodies are CSV, JSON and NDJSON in
    * turn; a third are LZ4- or GZIP-encoded. */
  val datasets: Seq[Dataset] = (0 until tables).map { i =>
    val u = (i * 0.6180339887498949) % 1.0
    val rows = math.round(1000 * math.pow(20, u)).toInt
    val t = i % 4 match {
      case 0 | 1 => Tables.lineitem(s"lineitem_$i", rows, seed * 1000 + i)
      case 2 => Tables.orders(s"orders_$i", rows, seed * 1000 + i)
      case _ => Tables.events(s"events_$i", rows, seed * 1000 + i)
    }
    val ct = Vector("text/csv", "application/json", "application/x-ndjson")((i / 4) % 3)
    val enc = i % 6 match { case 1 => "lz4"; case 4 => "gzip"; case _ => "" }
    Dataset(s"t$i", t, ct, enc)
  }
  /** A tenth of the universe's CSV bytes (about an eighth of its cached
    * footprint, see NOTES.md), so that a window sees enough stores for
    * their median; and at least twice the largest up-front reservation a
    * store makes (the CSV body, or half a JSON body), which the server
    * refuses outright above the budget. */
  override val maxCacheSize: Long = math.max(
    datasets.map(d => Tables.csv(d.table).length.toLong).sum / 10,
    2 * datasets.map(d => if (d.contentType == "text/csv") d.decoded.length else d.decoded.length / 2).max.toLong)
  private val expect = new ExpectCache
  private val keyZipf = new Zipf(tables, 0.8)
  private val litZipf = new Zipf(4, 1.0)
  // a step holds its key: a concurrent re-store of the same key between an
  // update and its read would otherwise make the read's expected count wrong
  private val locks = Array.fill(tables)(new Object)

  private def probe(d: Dataset, lit: Int, cls: String): Req = {
    val t = d.table
    val (qs, e) = expect(t, "probe", lit)(Templates.probe(Templates.schema(t))(t, lit))
    Req(cls, "distinct_limit", d.key, query = qs, expect = e, cls404 = Some("miss"))
  }

  /** (update text, read text, expected read answer) for one of the schema's values. */
  private def update(t: Table, v: Int): (String, String, Expect) = Templates.schema(t) match {
    case "lineitem" =>
      val line = 1 + v % 7; val li = t.idx("l_linenumber")
      (s"""{"update": [["l_tax", 0.5]], "where": ["==", "l_linenumber", $line]}""",
        s"""{"select": [["count"]], "where": ["&", ["==", "l_linenumber", $line], ["==", "l_tax", 0.5]]}""",
        Checks.count(t, r => r(li) == line.toLong))
    case "orders" =>
      val s = "OFP".charAt(v % 3).toString; val si = t.idx("o_orderstatus")
      (s"""{"update": [["o_orderpriority", "'0-NONE'"]], "where": ["==", "o_orderstatus", "'$s'"]}""",
        s"""{"select": [["count"]], "where": ["&", ["==", "o_orderstatus", "'$s'"], ["==", "o_orderpriority", "'0-NONE'"]]}""",
        Checks.count(t, r => r(si) == s))
    case _ =>
      val e = Tables.EventTypes(v % Tables.EventTypes.length); val ei = t.idx("event_type")
      (s"""{"update": [["props", "'u'"]], "where": ["==", "event_type", "'$e'"]}""",
        s"""{"select": [["count"]], "where": ["&", ["==", "event_type", "'$e'"], ["==", "props", "'u'"]]}""",
        Checks.count(t, r => r(ei) == e))
  }

  /** Stores the hottest keys. */
  override def setup(send: Req => Int): Unit = datasets.take(8).foreach(d => send(d.storeReq("store")))

  def warmup: Seq[Req] = datasets.take(8).map(probe(_, 0, "first_query"))

  /** Zipf key draws from a fixed stream: every seed sees the same key
    * sequence, so the hit/miss pattern and the mix of stores and reads
    * hold from seed to seed; the seed picks the rows and the literals. */
  private val keySeq = {
    val r = new SplittableRandom(0x5EED)
    Array.fill(1 << 16)(keyZipf.draw(r))
  }

  def step(rng: SplittableRandom, send: Req => Int): Unit = {
    val i = cycle.getAndIncrement()
    val k = keySeq((i % keySeq.length).toInt)
    val d = datasets(k)
    val lit = litZipf.draw(rng)
    val updateValue = if (i % 10 == 5) Some(rng.nextInt(7)) else None
    locks(k).synchronized {
      val status = send(probe(d, lit, "query"))
      if (status == 404) {
        if (send(d.storeReq("store")) == 201) send(probe(d, lit, "first_query"))
      } else if (status == 200) updateValue.foreach { v =>
        val (uq, rq, re) = update(d.table, v)
        val tag = Templates.schema(d.table)
        if (send(Req("update", tag, d.key, query = uq, cls404 = Some("miss"))) == 200)
          send(Req("update_read", tag, d.key, query = rq, expect = re, cls404 = Some("miss")))
      }
    }
  }
}

object Workloads {
  val names = Seq("read_warm", "store_evict")
  def apply(name: String, seed: Long): Workload = name match {
    case "read_warm" => new ReadWarm(seed)
    case "store_evict" => new StoreEvict(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }
}
