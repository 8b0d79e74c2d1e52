package graft.perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import net.jpountz.lz4.LZ4Factory

/** An input table held by the benchmark. The benchmark computes expected
  * answers from these rows, so the server's answers are checked against
  * data it never saw except through the HTTP body. Values are Long,
  * Double (always two decimals) or String (never holding a comma, quote
  * or backslash, so CSV and JSON need no escaping). */
final case class Table(name: String, columns: Vector[String], rows: Vector[Array[Any]]) {
  private val index = columns.zipWithIndex.toMap
  def n: Int = rows.length
  def idx(c: String): Int = index.getOrElse(c, sys.error(s"$name has no column $c"))
}

/** Seeded synthetic tables shaped like the TPC-H-style fixtures the
  * library is tested on (lineitem, orders, events, documents). The same
  * seed always gives the same rows. */
object Tables {
  private val Vocab = Vector("spark", "query", "table", "cache", "row", "column", "hash",
    "sort", "merge", "scan", "filter", "group", "window", "stream", "batch", "value",
    "key", "part", "line", "order", "data", "fast", "slow", "big", "small", "agg",
    "index", "vector", "token", "shard", "plan", "stage", "task", "job", "node",
    "disk", "memory", "network", "cpu", "page")
  val EventTypes = Vector("view", "click", "cart", "purchase", "error")

  private def day(rng: SplittableRandom, fromYear: Int, years: Int): String = {
    val d = java.time.LocalDate.of(fromYear, 1, 1).plusDays(rng.nextInt(years * 365).toLong)
    d.toString
  }

  private def cents(rng: SplittableRandom, lo: Int, hi: Int): Double =
    (lo + rng.nextInt(hi - lo)).toDouble / 100.0

  def lineitem(name: String, n: Int, seed: Long): Table = {
    val rng = new SplittableRandom(seed * 31 + 1)
    val rows = Vector.tabulate(n) { i =>
      Array[Any](
        (i / 4).toLong, (1 + rng.nextInt(20000)).toLong, (1 + rng.nextInt(1000)).toLong,
        (1 + rng.nextInt(7)).toLong, (1 + rng.nextInt(50)).toDouble,
        cents(rng, 90000, 10500000), rng.nextInt(11).toDouble / 100.0,
        rng.nextInt(9).toDouble / 100.0, "ANR".charAt(rng.nextInt(3)).toString,
        "OF".charAt(rng.nextInt(2)).toString, day(rng, 1992, 7))
    }
    Table(name, Vector("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"), rows)
  }

  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def orders(name: String, n: Int, seed: Long): Table = {
    val rng = new SplittableRandom(seed * 31 + 2)
    val rows = Vector.tabulate(n) { i =>
      Array[Any](i.toLong, (1 + rng.nextInt(15000)).toLong,
        "OFP".charAt(rng.nextInt(3)).toString, cents(rng, 100000, 50000000),
        day(rng, 1992, 7), Priorities(rng.nextInt(5)))
    }
    Table(name, Vector("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"), rows)
  }

  def events(name: String, n: Int, seed: Long): Table = {
    val rng = new SplittableRandom(seed * 31 + 3)
    val base = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    var t = 0L
    val rows = Vector.tabulate(n) { i =>
      t += rng.nextInt(60)
      Array[Any](i.toLong, base.plusSeconds(t).toString match {
        case s if s.length == 16 => s + ":00" // LocalDateTime drops :00 seconds
        case s => s
      }, (1 + rng.nextInt(2000)).toLong, EventTypes(rng.nextInt(EventTypes.length)),
        cents(rng, 0, 50000), s"k${rng.nextInt(100)}")
    }
    Table(name, Vector("event_id", "ts", "user_id", "event_type", "value", "props"), rows)
  }

  /** Documents with planted exact and near duplicates, so the dedup xops
    * have work to find. */
  def documents(name: String, n: Int, seed: Long): Table = {
    val rng = new SplittableRandom(seed * 31 + 4)
    val texts = new Array[String](n)
    val rows = Vector.tabulate(n) { i =>
      val r = rng.nextInt(10)
      texts(i) =
        if (i > 0 && r == 0) texts(rng.nextInt(i))
        else if (i > 0 && r == 1) {
          val words = texts(rng.nextInt(i)).split(' ')
          words(rng.nextInt(words.length)) = Vocab(rng.nextInt(Vocab.length))
          words.mkString(" ")
        } else Vector.fill(8 + rng.nextInt(50))(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
      Array[Any](i.toLong, texts(i), Vector("en", "de", "fr", "zh")(rng.nextInt(4)),
        s"src${rng.nextInt(10)}", texts(i).length.toLong)
    }
    Table(name, Vector("doc_id", "text", "lang", "source", "n_chars"), rows)
  }

  // --- bodies -------------------------------------------------------------

  private def render(v: Any): String = v match {
    case d: Double =>
      val c = math.round(d * 100)
      val frac = c % 100
      s"${c / 100}.${if (frac < 10) "0" else ""}$frac"
    case other => other.toString
  }

  def csv(t: Table): Array[Byte] = {
    val sb = new java.lang.StringBuilder(t.n * 96)
    sb.append(t.columns.mkString(",")).append('\n')
    t.rows.foreach { r =>
      var i = 0
      while (i < r.length) {
        if (i > 0) sb.append(',')
        sb.append(render(r(i))); i += 1
      }
      sb.append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  private def jsonRecord(t: Table, r: Array[Any], sb: java.lang.StringBuilder): Unit = {
    sb.append('{')
    var i = 0
    while (i < r.length) {
      if (i > 0) sb.append(", ")
      sb.append('"').append(t.columns(i)).append("\": ")
      r(i) match {
        case s: String => sb.append('"').append(s).append('"')
        case v => sb.append(render(v))
      }
      i += 1
    }
    sb.append('}')
  }

  def json(t: Table): Array[Byte] = {
    val sb = new java.lang.StringBuilder(t.n * 160)
    sb.append('[')
    t.rows.zipWithIndex.foreach { case (r, i) =>
      if (i > 0) sb.append(",\n")
      jsonRecord(t, r, sb)
    }
    sb.append(']').toString.getBytes(UTF_8)
  }

  /** One JSON object per line (the server's `application/x-ndjson`). */
  def ndjson(t: Table): Array[Byte] = {
    val sb = new java.lang.StringBuilder(t.n * 160)
    t.rows.foreach { r => jsonRecord(t, r, sb); sb.append('\n') }
    sb.toString.getBytes(UTF_8)
  }

  // --- wire encodings, written against the formats rather than the
  // server's codec: lz4 is a 4-byte little-endian size prefix followed by
  // one LZ4 block (python lz4.block framing); gzip is java.util.zip. ----

  private val lz4 = LZ4Factory.fastestInstance()

  def encode(data: Array[Byte], encoding: String): Array[Byte] = encoding match {
    case "lz4" =>
      val c = lz4.fastCompressor()
      val out = new Array[Byte](4 + c.maxCompressedLength(data.length))
      java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(data.length)
      val written = c.compress(data, 0, data.length, out, 4, out.length - 4)
      java.util.Arrays.copyOf(out, 4 + written)
    case "gzip" =>
      val buf = new ByteArrayOutputStream()
      val gz = new GZIPOutputStream(buf)
      gz.write(data); gz.close()
      buf.toByteArray
    case _ => data
  }

  def decode(data: Array[Byte], encoding: String): Array[Byte] = encoding match {
    case "lz4" =>
      val size = java.nio.ByteBuffer.wrap(data).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val out = new Array[Byte](size)
      lz4.safeDecompressor().decompress(data, 4, data.length - 4, out, 0)
      out
    case "gzip" => new GZIPInputStream(new ByteArrayInputStream(data)).readAllBytes()
    case _ => data
  }
}
