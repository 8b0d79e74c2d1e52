package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Query, QueryEngine, QueryResult, SessionTuning, UpdateEngine}
import graft.server.{CacheItem, Codec, DatasetCache, GraftServer, ShapeWarmer}
import graft.sources.{Ingest, Serialize}

/** The library surface the HTTP benchmark (`perfbench/`) compiles against,
  * called with the benchmark's argument shapes and held to its result
  * types. A change that breaks the benchmark's build fails here first. */
class BenchContractSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  test("session tuning, server construction and the shape warmer's hooks") {
    val tuned: SparkSession.Builder => SparkSession.Builder = SessionTuning.tuned
    assert(tuned != null)
    val server: GraftServer = new GraftServer(spark, 0, maxCacheSize = 50000000L)
    server.start()
    try {
      assert(server.boundPort > 0)
      val cache: DatasetCache = server.cache
      assert(!cache.contains("contract"))
      assert(cache.peek("contract").isEmpty)
      cache.delete("contract")
      ShapeWarmer.drain()
      ShapeWarmer.clear()
      val key: String = ShapeWarmer.memoKey(Nil, """{"limit": 1}""")
      val hit: Option[Boolean] = cache.peek("contract").map((_: CacheItem).memoizedKeys.contains(key))
      assert(hit.isEmpty)
    } finally server.stop()
  }

  test("ingest, query, update, serialize and the codecs") {
    val csv: DataFrame = Ingest.fromCsv(spark, "a,b\n1,x\n2,y\n3,z\n", Map("a" -> "float"))
    val ndjson: DataFrame = Ingest.fromJsonLines(spark, """{"a": 1}""" + "\n" + """{"a": 2}""")
    val json: DataFrame = Ingest.fromJsonRecords(spark, """[{"a": 1}, {"a": 2}]""")
    assert(ndjson.count() == 2 && json.count() == 2)
    val df: DataFrame = Ingest.addStandInColumns(csv, Nil)

    val q: Query = Query.parse("""{"select": ["a", "b"], "offset": 1, "limit": 1}""")
    assert(!q.isUpdate && q.offset.nonEmpty && q.limit.nonEmpty)
    val result: QueryResult = QueryEngine.run(df, q, _ => None)
    val unsliced: Long = result.unslicedLength
    assert(unsliced == 3L)
    val (text, rows): (String, Long) = Serialize.toJsonCounted(result.df)
    assert((text, rows) == (("""[{"a":2.0,"b":"y"}]""", 1L)))
    val (csvText, csvRows): (String, Long) = Serialize.toCsvCounted(result.df)
    assert((csvText, csvRows) == (("a,b\n2.0,y\n", 1L)))

    val update: Query = Query.parse("""{"update": [["b", "'w'"]], "where": ["==", "a", 1]}""")
    assert(update.isUpdate)
    val updated: DataFrame = UpdateEngine.update(df, update)
    assert(updated.count() == 3L)

    val bytes: Array[Byte] = text.getBytes(UTF_8)
    for (accept <- Seq("lz4", "gzip", "lz4, gzip")) {
      val enc: Option[String] = Codec.chooseResponseEncoding(accept)
      val encoded: Array[Byte] = Codec.encodeBody(bytes, enc)
      val decoded: Array[Byte] = Codec.decodeBody(encoded, Some(enc.get))
      assert(decoded.sameElements(bytes), accept)
    }
    assert(Codec.chooseResponseEncoding("").isEmpty)
  }
}
