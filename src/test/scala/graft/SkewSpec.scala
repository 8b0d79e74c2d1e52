package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._

/** Skew-safety suite for the occurrence-lineage operators (x1, x30, x40,
  * x44, x48, x49): a fixture where ONE key holds 50% of all rows — the
  * mass-duplicated-boilerplate shape of a real crawl corpus — must (a)
  * produce the exact keep-first/count semantics, and (b) plan WITHOUT a
  * window partitioned by the occurrence key. Window aggregation has no
  * map-side partial combine and AQE cannot split a skewed window
  * partition (its skew handling covers joins only), so any such window
  * is a guaranteed one-task straggler at scale; the groupBy-aggregate +
  * join shape these operators now use partial-combines the hot key to
  * one row per mapper and leaves the residual join AQE-splittable. */
class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 400 docs: ids 1-200 share ONE text (the hot duplicate class, 50% of
  // the corpus); ids 201-400 are each globally unique (every token is
  // id-indexed, so none of their grams/chunks collide).
  private val hotText = "aa bb cc dd ee ff gg hh"
  private lazy val docs = (
    (1 to 200).map(i => (i.toLong, hotText)) ++
      (201 to 400).map(i => (i.toLong,
        s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h"))
  ).toDF("doc_id", "text")

  /** Column names referenced by any Window partition spec in the
    * optimized logical plan. */
  private def windowKeys(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
        w.partitionSpec.flatMap(_.references.map(_.name))
    }.flatten.toSet

  test("exactByText: hot duplicate class collapses via aggregate, not a window") {
    val got = Dedup.exactByText(docs, "text", "doc_id")
    assert(windowKeys(got).isEmpty, "no window may partition on the fingerprint")
    val ids = got.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids.length == 201)           // 1 survivor of the hot class + 200 unique
    assert(ids.head == 1L)              // keep-first = lowest doc_id
    assert(ids.tail.toSeq == (201L to 400L))
  }

  test("exactByText resolves dotted user column names exactly") {
    val df = Seq((1L, "same text", "a"), (2L, "same text", "b"))
      .toDF("doc.id", "text", "tag.x")
    val got = Dedup.exactByText(df, "text", "doc.id")
    assert(got.columns.toSeq == Seq("doc.id", "text", "tag.x"))
    val rows = got.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 1L
      && rows.head.getString(2) == "a")
  }

  test("dedupChunks: repeated chunks keep-first via min-aggregate, no chunk window") {
    val got = Dedup.dedupChunks(docs, "doc_id", "text", chunkTokens = 4)
    assert(windowKeys(got).isEmpty, "no window may partition on the chunk")
    val rows = got.collect().map(r =>
      r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L) == (("aa bb cc dd ee ff gg hh", 2L, 2L))) // first owner keeps all
    (2L to 200L).foreach(i => assert(rows(i) == (("", 0L, 2L)))) // later dups emptied
    (201L to 400L).foreach(i => assert(rows(i)._2 == 2L))        // unique docs intact
  }

  test("dupGramStats: hot-gram counts come from groupBy+join, no gram window") {
    val got = Dedup.dupGramStats(docs, "doc_id", "text", n = 3)
    assert(windowKeys(got).isEmpty, "no window may partition on the gram")
    val frac = got.collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    (1L to 200L).foreach(i => assert(frac(i) == 1.0))   // every gram corpus-shared
    (201L to 400L).foreach(i => assert(frac(i) == 0.0)) // every gram unique
  }

  test("gramNovelty: first-owner min comes from groupBy+join, no gram window") {
    val got = Dedup.gramNovelty(docs, "doc_id", "text", n = 3)
    assert(windowKeys(got).isEmpty, "no window may partition on the gram")
    val nov = got.collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(nov(1L) == 1.0)                             // hot text first seen here
    (2L to 200L).foreach(i => assert(nov(i) == 0.0))   // re-crawls contribute nothing
    (201L to 400L).foreach(i => assert(nov(i) == 1.0)) // unique docs all novel
  }

  test("scrubDuplicatedSpans: duplicated-gram set via groupBy+join, no gram window") {
    val got = Dedup.scrubDuplicatedSpans(docs, "doc_id", "text", n = 3)
    assert(windowKeys(got).isEmpty, "no window may partition on the gram")
    val rows = got.collect().map(r =>
      r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    (1L to 200L).foreach(i => assert(rows(i) == (("", 8L)))) // hot docs fully excised
    (201L to 400L).foreach(i => assert(rows(i)._2 == 0L))    // unique docs untouched
  }

  test("tfidfKeywords: df of a 50%-hot term via groupBy+join; only the doc top-k window remains") {
    val got = Search.tfidfKeywords(docs, "doc_id", "text", k = 3)
    // the per-doc rank window is k-bounded (WindowGroupLimit) and fine;
    // the TERM key — "aa" appears in half the corpus — must not be one
    assert(windowKeys(got).subsetOf(Set("__doc")),
      s"only the per-doc rank window may remain, got ${windowKeys(got)}")
    assert(got.count() == 400L * 3)
    // the boilerplate term scores below unique terms for unique docs
    val doc300 = got.filter(col("doc_id") === 300).select("term").collect()
      .map(_.getString(0)).toSet
    assert(doc300.forall(_.startsWith("u300")))
  }

  test("bm25Batch: df of a corpus-wide query term via groupBy+join; only the per-query rank window remains") {
    // "aa" appears in 50% of the corpus — a common-word query term whose
    // posting list must not funnel into one window task
    val queries = Seq((100L, "aa"), (101L, "u300a u300b")).toDF("qid", "qtext")
    val got = Search.bm25Batch(docs, "doc_id", "text", queries, "qid", "qtext", k = 5)
    assert(windowKeys(got).subsetOf(Set("__qid")),
      s"only the per-query rank window may remain, got ${windowKeys(got)}")
    val byQ = got.collect().groupBy(_.getLong(0))
    assert(byQ(100L).length == 5)            // k-bounded over 200 matching docs
    assert(byQ(101L).map(_.getLong(1)).toSet == Set(300L)) // unique terms hit their doc
  }

  test("dedupLines: hot repeated line collapses via min-aggregate, no line window") {
    // one boilerplate line holds 50% of all non-blank lines in the
    // corpus: every doc carries it, docs 1-200 carry ONLY it
    val hot = "all rights reserved"
    val lined = (
      (1 to 200).map(i => (i.toLong, hot)) ++
        (201 to 400).map(i => (i.toLong, s"unique line $i\n$hot"))
    ).toDF("doc_id", "text")
    val got = Dedup.dedupLines(lined, "doc_id", "text")
    assert(windowKeys(got).isEmpty, "no window may partition on the line")
    val rows = got.collect().map(r =>
      r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rows(1L) == ((hot, 1L)))                    // first owner keeps it
    (2L to 200L).foreach(i => assert(rows(i) == (("", 0L)))) // later dups emptied
    (201L to 400L).foreach(i =>                        // unique lines survive
      assert(rows(i) == ((s"unique line $i", 1L))))
  }

  test("sessionizeBatch: hot user's history is segmented — no per-user window over raw events") {
    // one bot account holds 50% of all events: 300 events at a steady
    // 100s cadence with a >gap break every 50 events, plus 300 ordinary
    // single-event users
    val events = (
      (0 until 300).map(i => (1L,
        new java.sql.Timestamp((i.toLong * 100 + (i / 50) * 10000) * 1000), 1.0)) ++
        (2 to 301).map(i => (i.toLong,
          new java.sql.Timestamp(i.toLong * 1000000), 2.0))
    ).toDF("user_id", "ts", "value")
    // explicit granule drives the segmented branch (the auto path is
    // stats-gated: a fixture this small legitimately keeps one window)
    val got = graft.streaming.EventStreams.sessionizeBatch(events,
      gapSeconds = 200, granule = Some(5000L))

    // plan shape: windows over the raw event relation must partition on
    // (user, granule); a bare-user partition spec is only legal above the
    // bounded one-row-per-user×granule boundary aggregate
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LW}
    val windows = got.queryExecution.optimizedPlan.collect { case w: LW => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      if (keys.size <= 1)
        assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"a window partitioned only on $keys must sit above the bounded " +
            "per-(user,granule) boundary aggregate, not the raw events")
    }

    // semantics: the bot splits into 6 sessions of 50 (each 10000s jump
    // breaks at gap=200), every ordinary user gets one 1-event session
    val rows = got.collect()
    val bot = rows.filter(_.getLong(0) == 1L)
      .sortBy(_.getAs[java.sql.Timestamp]("session_start").getTime)
    assert(bot.length == 6)
    assert(bot.forall(_.getAs[Long]("n_events") == 50L))
    assert(bot.map(_.getAs[Double]("total_value")).forall(_ == 50.0))
    (0 until 6).foreach { s =>
      assert(bot(s).getAs[java.sql.Timestamp]("session_start").getTime ==
        (s * 5000L + s * 10000L) * 1000)
    }
    val others = rows.filter(_.getLong(0) != 1L)
    assert(others.length == 300 &&
      others.forall(r => r.getAs[Long]("n_events") == 1L))
  }

  test("sessionizeBatch: explicit granule splits sessions across bucket boundaries correctly") {
    // granule 100 with a session STRADDLING the boundary (events at 95
    // and 105: gap 10 <= 60 ⇒ one session across granules) and a break
    // inside one granule (305 → 395 is gap 90 > 60)
    val ev = Seq(
      (1L, new java.sql.Timestamp(95000L), 1.0),
      (1L, new java.sql.Timestamp(105000L), 2.0),
      (1L, new java.sql.Timestamp(305000L), 4.0),
      (1L, new java.sql.Timestamp(395000L), 8.0)
    ).toDF("user_id", "ts", "value")
    val out = graft.streaming.EventStreams
      .sessionizeBatch(ev, gapSeconds = 60, granule = Some(100L))
      .orderBy("session_start").collect()
      .map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
    assert(out.toSeq == Seq((2L, 3.0), (1L, 4.0), (1L, 8.0)))
  }

  test("asOfJoin: hot key's history is segmented — no per-key window over raw events") {
    // one key holds 50% of all events (the AAPL problem): 200 left rows
    // and 200 right rows on key 1, plus 200 keys with one row each side
    val left = ((1 to 200).map(i => (1L, i.toLong * 10, s"h$i")) ++
      (2 to 201).map(i => (i.toLong, i.toLong * 10, s"u$i"))).toDF("k", "t", "tag")
    val right = ((1 to 200).map(i => (1L, i.toLong * 10 - 5, i.toDouble)) ++
      (2 to 201).map(i => (i.toLong, i.toLong * 10 - 5, -i.toDouble)))
      .toDF("k", "t", "v")
    // explicit granule drives the segmented branch (the auto path is
    // stats-gated: a fixture this small legitimately keeps one window)
    val got = Joins.asOfJoin(left, right, "k", "t", Seq("v"),
      granule = Some(250L))

    // plan shape: the window over the raw event union must partition on
    // (key, granule); a bare-key partition spec is only legal above an
    // Aggregate (the bounded one-row-per-key×granule boundary relation)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LW}
    val windows = got.queryExecution.optimizedPlan.collect { case w: LW => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      if (keys.size <= 1)
        assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"a window partitioned only on $keys must sit above the bounded " +
            "per-(key,granule) boundary aggregate, not the raw event union")
    }

    // exact semantics vs a brute-force as-of
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1),
      Option(r.get(r.fieldIndex("v"))).map(_.asInstanceOf[Double]))).toSet
    val rightRows = ((1 to 200).map(i => (1L, i.toLong * 10 - 5, i.toDouble)) ++
      (2 to 201).map(i => (i.toLong, i.toLong * 10 - 5, -i.toDouble)))
    val expected = (((1 to 200).map(i => (1L, i.toLong * 10)) ++
      (2 to 201).map(i => (i.toLong, i.toLong * 10))): Seq[(Long, Long)]).map {
      case (k, t) =>
        val m = rightRows.filter(rr => rr._1 == k && rr._2 <= t)
        (k, t, if (m.isEmpty) None else Some(m.maxBy(_._2)._3))
    }.toSet
    assert(rows == expected)
  }

  test("segmented and single-window carries agree; auto path is stats-gated") {
    // below Joins.SegmentedCarryMinRows the auto path keeps the classic
    // one-window plan (segmentation overhead dominates at this size);
    // explicit granule always segments — and both give identical rows
    val left = (1 to 100).map(i => ((i % 5).toLong, i.toLong * 7, s"L$i"))
      .toDF("k", "t", "tag")
    val right = (1 to 80).map(i => ((i % 5).toLong, i.toLong * 9 - 4, i.toDouble))
      .toDF("k", "t", "v")
    val auto = Joins.asOfJoin(left, right, "k", "t", Seq("v"))
    val seg = Joins.asOfJoin(left, right, "k", "t", Seq("v"), granule = Some(37L))
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LW}
    val autoKeys = auto.queryExecution.optimizedPlan.collect {
      case w: LW => w.partitionSpec.flatMap(_.references.map(_.name))
    }.flatten.toSet
    assert(autoKeys.nonEmpty, "sub-gate auto plan keeps the single-window carry")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)))).toSet
    assert(rows(auto) == rows(seg))

    // 120 s spacing continues (gap 150), the block jump every 50 events
    // breaks — sessions both continue ACROSS granule-77 boundaries and
    // break INSIDE granules
    val evs = (1 to 200).map(i => ((i % 3).toLong,
      new java.sql.Timestamp((i.toLong * 40 + (i / 50) * 10000) * 1000), 1.0))
      .toDF("user_id", "ts", "value")
    val sAuto = graft.streaming.EventStreams.sessionizeBatch(evs, gapSeconds = 150)
    val sSeg = graft.streaming.EventStreams.sessionizeBatch(evs, gapSeconds = 150,
      granule = Some(77L))
    def sRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        r.getAs[java.sql.Timestamp]("session_start"),
        r.getAs[java.sql.Timestamp]("session_end"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(sRows(sAuto) == sRows(sSeg))
  }

  test("sessionizeBatch auto: measured-uniform keys take the windowed strategy; a hot key keeps the carry") {
    // range advertises 8 B/row; at the gate's 64-byte divisor 20M rows
    // estimate ~2.5M — past SegmentedCarryMinRows, so the auto path runs
    // the measured-skew tier. The decision job executes (one hash-sampled
    // user count); the sessionize itself is only planned.
    val n = 20L * 1000 * 1000
    // uniform: 100k users, 200 events each at a 1000s cadence per user
    val uniform = spark.range(n).select(
      (col("id") % 100000L).as("user_id"),
      (col("id") * 7L).as("ts"), lit(1.0).as("value"))
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LW}
    val wPlan = graft.streaming.EventStreams.sessionizeBatch(uniform,
      gapSeconds = 500000)
    val wWindows = wPlan.queryExecution.optimizedPlan.collect { case w: LW => w }
    assert(wWindows.nonEmpty)
    // windowed strategy: a bare-user window sits DIRECTLY over the raw
    // relation (no bounded boundary aggregate below it)
    assert(wWindows.exists { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      keys == Set("user_id") &&
        w.child.collectFirst { case a: Aggregate => a }.isEmpty
    }, "uniform keys above the gate must select the windowed strategy")
    // hot: 80% of events on one user — the measure must keep the carry:
    // every bare-user window sits above the boundary aggregate
    val hot = spark.range(n).select(
      when(col("id") % 10 < 8, 0L).otherwise(col("id")).as("user_id"),
      (col("id") * 7L).as("ts"), lit(1.0).as("value"))
    val sPlan = graft.streaming.EventStreams.sessionizeBatch(hot,
      gapSeconds = 500000)
    val sWindows = sPlan.queryExecution.optimizedPlan.collect { case w: LW => w }
    assert(sWindows.nonEmpty)
    sWindows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      if (keys.size <= 1)
        assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"a hot key must keep the segmented carry (bare window on $keys)")
    }
    // the verdict function itself, at test-scale thresholds: uniform
    // passes, 80%-hot fails, a too-thin sample fails conservative
    import spark.implicits._
    val tiny = (1 to 400).map(i => ((i % 100).toLong, i.toLong, 1.0))
      .toDF("user_id", "ts", "value")
    assert(Joins.measuredUniformKeys(tiny, "user_id", "ts",
      estRows = 400, sampleTarget = Long.MaxValue, minSampleOverride = 1))
    assert(!Joins.measuredUniformKeys(tiny, "user_id", "ts",
      estRows = 400, sampleTarget = Long.MaxValue, minSampleOverride = 100000))
    val tinyHot = (1 to 400).map(i =>
      (if (i % 10 < 8) 0L else i.toLong, i.toLong, 1.0))
      .toDF("user_id", "ts", "value")
    assert(!Joins.measuredUniformKeys(tinyHot, "user_id", "ts",
      estRows = 400, sampleTarget = Long.MaxValue, minSampleOverride = 1))
  }

  test("asOfJoin: above the gate the MEASURED skew tier picks the strategy") {
    // spark.range advertises 8 bytes/row, so 40M rows estimate ~2.4M rows
    // at the gate's 64-byte divisor — past SegmentedCarryMinRows. Only
    // the plan is inspected (plus the skew-measure sample job and, on
    // the segmented side, spanGranule's min/max pre-pass); the carry
    // itself never executes.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LW}
    def bareKeyWindows(got: org.apache.spark.sql.DataFrame): Seq[LW] =
      got.queryExecution.optimizedPlan.collect { case w: LW => w }
        .filter(_.partitionSpec.flatMap(_.references.map(_.name)).toSet.size <= 1)
    // uniform keys (all distinct): the measured tier must pick the
    // one-window carry — a bare-key window with NO aggregate below it
    val big = spark.range(40L * 1000 * 1000)
      .select(col("id").as("k"), (col("id") * 7).as("t"), col("id").as("pay"))
    val uniformPlan = Joins.asOfJoin(big.select("k", "t"),
      big.select(col("k"), col("t"), col("pay")), "k", "t", Seq("pay"))
    val uw = bareKeyWindows(uniformPlan)
    assert(uw.nonEmpty)
    uw.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isEmpty,
        "measured-uniform keys above the gate must take the one-window carry")
    }
    // 80%-hot key: the measure must keep the segmented carry — every
    // bare-key window sits above the boundary aggregate
    val hot = spark.range(40L * 1000 * 1000)
      .select(when(col("id") % 10 < 8, 0L).otherwise(col("id")).as("k"),
        (col("id") * 7).as("t"), col("id").as("pay"))
    val hotPlan = Joins.asOfJoin(hot.select("k", "t"),
      hot.select(col("k"), col("t"), col("pay")), "k", "t", Seq("pay"))
    val hw = bareKeyWindows(hotPlan)
    assert(hw.nonEmpty)
    hw.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        "a measured hot key must keep the segmented carry")
    }
    // explicit strategy pins either direction regardless of the measure
    val forcedSeg = Joins.asOfJoin(big.select("k", "t"),
      big.select(col("k"), col("t"), col("pay")), "k", "t", Seq("pay"),
      strategy = "segmented")
    assert(bareKeyWindows(forcedSeg).forall(
      _.child.collectFirst { case a: Aggregate => a }.nonEmpty))
    val forcedWin = Joins.asOfJoin(hot.select("k", "t"),
      hot.select(col("k"), col("t"), col("pay")), "k", "t", Seq("pay"),
      strategy = "window")
    assert(bareKeyWindows(forcedWin).forall(
      _.child.collectFirst { case a: Aggregate => a }.isEmpty))
    // a window strategy with an explicit granule is a contract error
    intercept[IllegalArgumentException] {
      Joins.asOfJoin(big.select("k", "t"),
        big.select(col("k"), col("t"), col("pay")), "k", "t", Seq("pay"),
        granule = Some(100L), strategy = "window")
    }
  }

  /** `body`'s result and the optimized plans of the SQL actions that ran
    * while it built its frame (the eager probes of the carries' auto
    * rule). */
  private def actionsDuring[A](body: => A): (A, Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]) = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = seen.add(qe.optimizedPlan)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = seen.add(qe.optimizedPlan)
    }
    org.apache.spark.sql.GraftSqlShims.drainListeners(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val result = body
      org.apache.spark.sql.GraftSqlShims.drainListeners(spark.sparkContext)
      (result, seen.toArray(Array.empty[LogicalPlan]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** True when `plan` is the key-skew sample (its filter hashes rows). */
  private def isKeySample(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.XxHash64])))

  test("sessionizeBatch auto above the gate, hot key: one key sample, one width pre-pass, segmented plan") {
    // the ~2.5M-estimate range fixture of the measured-tier test, 80% of
    // events on one user: the auto rule samples the keys, finds the hot
    // one, and derives the width with ONE min/max pass — no other action
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LW}
    val hot = spark.range(20L * 1000 * 1000).select(
      when(col("id") % 10 < 8, 0L).otherwise(col("id")).as("user_id"),
      (col("id") * 7L).as("ts"), lit(1.0).as("value"))
    val (plan, actions) = actionsDuring(
      graft.streaming.EventStreams.sessionizeBatch(hot, gapSeconds = 500000))
    assert(actions.size == 2, s"expected a key sample and a width pass: $actions")
    assert(actions.count(isKeySample) == 1)
    val windows = plan.queryExecution.optimizedPlan.collect { case w: LW => w }
    assert(windows.exists(_.partitionSpec.flatMap(_.references.map(_.name))
      .toSet == Set("user_id", "__g")), "the carry segments by (user, granule)")
    windows.filter(_.partitionSpec.size <= 1).foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty)
    }
  }

  test("asOfJoin auto above the gate, hot key: one key sample, one width pre-pass, segmented plan") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LW}
    val hot = spark.range(40L * 1000 * 1000)
      .select(when(col("id") % 10 < 8, 0L).otherwise(col("id")).as("k"),
        (col("id") * 7).as("t"), col("id").as("pay"))
    val (plan, actions) = actionsDuring(Joins.asOfJoin(hot.select("k", "t"),
      hot.select(col("k"), col("t"), col("pay")), "k", "t", Seq("pay")))
    assert(actions.size == 2, s"expected a key sample and a width pass: $actions")
    assert(actions.count(isKeySample) == 1)
    val windows = plan.queryExecution.optimizedPlan.collect { case w: LW => w }
    assert(windows.exists(_.partitionSpec.flatMap(_.references.map(_.name))
      .toSet == Set("__k", "__g")), "the carry segments by (key, granule)")
    windows.filter(_.partitionSpec.size <= 1).foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty)
    }
  }

  test("asOfJoin auto path over parquet frames stays exact vs explicit granule") {
    // the derived width must not change RESULTS, only task granularity:
    // pin auto == explicit on a parquet-backed pair (the gate won't fire
    // at this size, so the auto side is the one-window carry)
    val dir = java.nio.file.Files.createTempDirectory("parquet_asof").toString
    val left = (1L to 400L).map(i => (i % 7, i * 10, i)).toDF("k", "t", "eid")
    val right = (1L to 100L).map(i => (i % 7, i * 37, i * 1000)).toDF("k", "t", "payload")
    left.write.mode("overwrite").parquet(s"$dir/l.parquet")
    right.write.mode("overwrite").parquet(s"$dir/r.parquet")
    val l = spark.read.parquet(s"$dir/l.parquet")
    val r = spark.read.parquet(s"$dir/r.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("eid").collect().map(x => (x.getLong(2), Option(x.get(3)))).toSeq
    val auto = rows(Joins.asOfJoin(l, r, "k", "t", Seq("payload")))
    val explicit = rows(Joins.asOfJoin(l, r, "k", "t", Seq("payload"),
      granule = Some(Joins.spanGranule(l.select("t").union(r.select("t")), col("t")))))
    assert(auto == explicit)
    assert(rows(Joins.asOfJoin(l, r, "k", "t", Seq("payload"), strategy = "segmented")) == auto)
  }

  test("asOfJoin: strategy choice never changes the result (hot fixture)") {
    import spark.implicits._
    // 80%-hot key fixture small enough to execute all three ways
    val lRows = (1 to 300).map(i =>
      (if (i % 10 < 8) 0L else i.toLong, (i * 3 % 97).toLong, i.toLong))
    val rRows = (1 to 200).map(i =>
      (if (i % 10 < 8) 0L else i.toLong, (i * 7 % 97).toLong, i.toDouble))
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val left = lRows.toDF("k", "t", "lid")
    val right = rRows.toDF("k", "t", "v")
    def run(strategy: String, granule: Option[Long] = None) =
      Joins.asOfJoin(left, right, "k", "t", Seq("v"), granule, strategy)
        .collect().map(r => (r.getLong(2), Option(r.get(3)))).toMap
    val win = run("window")
    assert(run("segmented") == win)
    assert(run("auto") == win)
    assert(run("auto", granule = Some(13L)) == win)
  }

  test("single-pass restructures hold: explode counts are pinned in the optimized plans") {
    // executed-plan audits showed AQE never dedupes canonically-unequal
    // branches, so these operators compute their second branch WITHOUT
    // re-exploding the corpus; a third Generate reappearing means a
    // duplicated occurrence subtree snuck back in
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    def generates(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case g: Generate => g }.length
    // unigramNll: toks explode for the join + for the vocab; the corpus
    // total is map-only (was a third full explode chain)
    assert(generates(Search.unigramNll(docs, "doc_id", "text")) == 2)
    // tfidfKeywords: postings explode + the independent distinct-token
    // df pass (was a second full postings subtree)
    assert(generates(Search.tfidfKeywords(docs, "doc_id", "text", k = 3)) == 2)
  }

  test("property: segmented carries equal their reference forms on random fixtures") {
    // 30 randomized rounds per operator: random event sets (clustered
    // keys, colliding timestamps), random gap, random granule width —
    // the segmented result must equal the single-window form (as-of:
    // brute-force argmax; sessionize: the sub-gate classic plan)
    val rnd = new scala.util.Random(20260813L)
    (1 to 30).foreach { round =>
      val nKeys = 1 + rnd.nextInt(4)
      val width = 1L + rnd.nextInt(200)
      // --- as-of ---
      val lRows = (1 to 30 + rnd.nextInt(40)).map(_ =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(500).toLong))
      val rRows = (1 to 20 + rnd.nextInt(40)).map(i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(500).toLong, i.toDouble))
        // contract: unique right (key, time)
        .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
      val left = lRows.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
        .toDF("k", "t", "lid")
      val right = rRows.toDF("k", "t", "v")
      val got = Joins.asOfJoin(left, right, "k", "t", Seq("v"),
          granule = Some(width))
        .collect().map(r => (r.getLong(2), Option(r.get(3)))).toMap
      lRows.zipWithIndex.foreach { case ((k, t), i) =>
        val m = rRows.filter(rr => rr._1 == k && rr._2 <= t)
        val want = if (m.isEmpty) None else Some(m.maxBy(_._2)._3)
        assert(got(i.toLong) == want, s"round $round asof lid=$i k=$k t=$t")
      }
      // --- sessionize ---
      val gap = 1L + rnd.nextInt(100)
      val evs = (1 to 40 + rnd.nextInt(60)).map(_ =>
        (rnd.nextInt(nKeys).toLong,
          new java.sql.Timestamp(rnd.nextInt(2000).toLong * 1000),
          rnd.nextInt(10).toDouble))
        .toDF("user_id", "ts", "value")
      def sess(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
        (r.getLong(0), r.getAs[java.sql.Timestamp](1).getTime,
          r.getAs[java.sql.Timestamp](2).getTime, r.getAs[Long](3),
          r.getAs[Double](4))).toSet
      val seg = sess(graft.streaming.EventStreams.sessionizeBatch(
        evs, gap, granule = Some(width)))
      val ref = sess(graft.streaming.EventStreams.sessionizeBatch(evs, gap))
      assert(seg == ref, s"round $round sessions gap=$gap width=$width")
      // the native session_window strategy must agree with both carries
      // on the same random fixture (gap ties, colliding timestamps,
      // single-event sessions all land in the draw space)
      val nat = sess(graft.streaming.EventStreams.sessionizeNative(evs, gap))
      assert(nat == ref, s"round $round native sessions gap=$gap")
    }
  }

  test("asOfJoin: null-time rights carry into everything on BOTH carry paths") {
    // null times sort first in the window form, so a null-time right's
    // payload reaches every left row until a later right overrides it.
    // The segmented form must agree: null times bucket to the null
    // granule, whose boundary (keyed by the (isnotnull, t) struct — a
    // bare __t ordering key would be null and max_by would drop it)
    // sorts first in the carry-in window. A divergence here would mean
    // the stats gate silently changes RESULTS, not just plans.
    val left = Seq((1L, 10L, "a"), (1L, 300L, "b")).toDF("k", "t", "tag")
    val right = Seq((1L, Option.empty[Long], 99.0), (1L, Some(250L), 1.0))
      .toDF("k", "t", "v")
    def rows(df: DataFrame) = df.orderBy("t").collect()
      .map(r => (r.getString(2), Option(r.get(3)))).toSeq
    val win = rows(Joins.asOfJoin(left, right, "k", "t", Seq("v")))
    assert(win == Seq(("a", Some(99.0)), ("b", Some(1.0))))
    val seg = rows(Joins.asOfJoin(left, right, "k", "t", Seq("v"),
      granule = Some(7L)))
    assert(seg == win, "segmented and one-window paths must agree on null times")
  }

  test("granuleBucket: exact floor at the long extremes (no wraparound)") {
    // double times saturate to Long.MinValue on cast; a long-typed
    // (t - pmod) there wraps past Long.MaxValue and misplaces the carry —
    // the subtraction must happen in decimal
    val ts = Seq(Long.MinValue, Long.MinValue + 1, Long.MinValue + 999,
      -1001L, -1000L, -1L, 0L, 1L, 999L, 1000L, Long.MaxValue - 1, Long.MaxValue)
    val got = ts.toDF("t")
      .select(Joins.granuleBucket(col("t"), 1000L).as("g"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == ts.map(t => Math.floorDiv(t, 1000L)))
  }

  test("asOfJoin: string time columns fall back to the one-window carry") {
    // no integral order embedding exists for strings, so even an explicit
    // granule cannot segment: the plan is the per-key window over the raw
    // union — correct, but each key funnels into one task (README scale
    // posture documents this; feed temporal types at scale)
    val left = Seq((1L, "2024-01-02", "a"), (1L, "2024-03-01", "b"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, "2024-01-01", 1.0), (1L, "2024-02-01", 2.0))
      .toDF("k", "t", "v")
    val out = Joins.asOfJoin(left, right, "k", "t", Seq("v"), granule = Some(7L))
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LW}
    val windows = out.queryExecution.optimizedPlan.collect { case w: LW => w }
    assert(windows.nonEmpty)
    assert(windows.forall(w =>
        w.child.collectFirst { case a: Aggregate => a }.isEmpty),
      "string-time fallback must be the raw one-window carry (no boundary aggregate)")
    val got = out.orderBy("t").collect()
      .map(r => (r.getString(2), r.getDouble(3))).toSeq
    assert(got == Seq(("a", 1.0), ("b", 2.0)))
  }

  test("asOfJoin: an explicit granule buckets ties and boundaries correctly") {
    // granule 7 with times straddling bucket edges, incl. a tie at t=14
    // (right sorts before left: <= matches) and a carry ACROSS granules
    val left = Seq((1L, 6L, "a"), (1L, 14L, "b"), (1L, 30L, "c")).toDF("k", "t", "tag")
    val right = Seq((1L, 14L, 2.0), (1L, 2L, 1.0)).toDF("k", "t", "v")
    val out = Joins.asOfJoin(left, right, "k", "t", Seq("v"), granule = Some(7L))
      .orderBy("t").collect().map(r => (r.getAs[String]("tag"), r.getDouble(3)))
    assert(out.toSeq == Seq(("a", 1.0), ("b", 2.0), ("c", 2.0)))
  }

  /** spread() must size its decision from plan statistics alone — probing
    * df.rdd (the previous form) forces full physical planning once per
    * spread per query on the driver. The LazyTry slots of QueryExecution
    * record whether planning was ever forced. */
  test("spread decides from stats only: no physical planning, no RDD materialization") {
    def planned(df: DataFrame, slot: String): Boolean = {
      val qe = df.queryExecution
      val f = qe.getClass.getDeclaredField(slot)
      f.setAccessible(true)
      val lazyTry = f.get(qe)
      val b = lazyTry.getClass.getDeclaredField("bitmap$0")
      b.setAccessible(true)
      b.getBoolean(lazyTry)
    }
    val df = docs.filter(col("doc_id") > 0) // fresh plan, fresh QueryExecution
    Dedup.spread(df, col("doc_id"))
    assert(!planned(df, "lazySparkPlan"), "spread must not force physical planning")
    assert(!planned(df, "lazyToRdd"), "spread must not materialize the RDD lineage")
  }

  test("topTokensSketch plans ONE corpus pass; the Θ window input is limit-bounded") {
    import org.apache.spark.sql.catalyst.plans.logical
    val got = graft.ops.TextOps.topTokensSketch(docs, "text", 5, 64)
    val plan = got.queryExecution.optimizedPlan
    // a second MapPartitions would mean the Θ attachment re-executed the
    // summarization (the dual-consumer trap the sentinel design avoids)
    val passes = plan.collect { case m: logical.MapPartitions => m }
    assert(passes.length == 1, s"expected one summarization pass, got ${passes.length}")
    // the only Window sits above a Limit — k+1 rows, never corpus-wide
    val windows = plan.collect { case w: logical.Window => w }
    assert(windows.length == 1)
    assert(windows.head.collectFirst {
      case _: logical.GlobalLimit => () }.nonEmpty,
      "the Θ window must consume the limit-bounded relation")
  }

  test("retention: hot-user logs aggregate without Expand or count-distinct shuffles") {
    import org.apache.spark.sql.catalyst.plans.logical
    // half of all events on ONE user, on one day
    val ev = ((1 to 200).map(i => (i.toLong,
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L)) ++
      (201 to 400).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 10:00:00"), i.toLong)))
      .toDF("event_id", "ts", "user_id")
    val got = graft.streaming.EventStreams.retention(ev, 86400L, 30)
    // COUNT(DISTINCT) would plan an Expand; the distinct-first design
    // must not
    assert(got.queryExecution.optimizedPlan.collect {
      case e: logical.Expand => e }.isEmpty, "no Expand: cells are count(*)")
    assert(windowKeys(got).isEmpty, "retention plans no windows at all")
    // the hot user's 200 same-day events still count as ONE activity
    val cells = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cells.forall(_._2 == 0L), "single-day users produce only offset-0 cells")
    assert(cells.map(_._3).sum == 201L) // every distinct user exactly once
    val day0 = 19723L // 2024-01-01
    // hot user 1 + the seven unique users whose day index lands on Jan 1
    assert(cells.contains((day0, 0L, 8L)))
  }

  test("scrubCommonLines: distinct-first frequency, no Expand, anti-join drop") {
    import org.apache.spark.sql.catalyst.plans.logical
    // 80% of docs share one boilerplate line — the skew case the
    // distinct-first partial combine exists for
    val docs = ((1 to 400).map(i => (i.toLong, s"all rights reserved\nbody $i")) ++
      (401 to 500).map(i => (i.toLong, s"body $i"))).toDF("id", "text")
    val got = graft.ops.Dedup.scrubCommonLines(docs, "id", "text", minDocs = 100)
    val plan = got.queryExecution.optimizedPlan
    // COUNT(DISTINCT doc) per line would plan an Expand; the explicit
    // DISTINCT (line, id) aggregate must not
    assert(plan.collect { case e: logical.Expand => e }.isEmpty,
      "no Expand: frequency is distinct-first, then count(*)")
    // the scrub is a LeftAnti join against the frequent head
    assert(plan.collect {
      case j: logical.Join if j.joinType == org.apache.spark.sql
        .catalyst.plans.LeftAnti => j }.nonEmpty,
      "frequent lines drop through an anti-join")
    // and the hot line is actually gone from all 400 carriers
    val out = got.collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert((1 to 400).forall(i => out(i.toLong) == s"body $i"))
    assert((401 to 500).forall(i => out(i.toLong) == s"body $i"))
  }

  test("topTokensByGroup ranks over the AGGREGATED relation, not raw tokens") {
    import org.apache.spark.sql.catalyst.plans.logical
    val got = graft.ops.TextOps.topTokensByGroup(docs
      .withColumn("source", when(col("doc_id") <= 200, "hot").otherwise("cold")),
      "source", "text", 3)
    val windows = got.queryExecution.optimizedPlan.collect {
      case w: logical.Window => w }
    assert(windows.length == 1)
    assert(windows.head.collectFirst { case _: logical.Aggregate => () }.nonEmpty,
      "the rank window must consume the (group, token) aggregate — its " +
        "input is vocabulary-bounded, never one row per token occurrence")
    // the 50%-hot boilerplate class still ranks correctly
    val hot = got.filter(col("source") === "hot").orderBy("rank").collect()
      .map(r => r.getAs[String]("token")).toSeq
    assert(hot == Seq("aa", "bb", "cc"))
  }

  test("spread fans small inputs out, leaves estimated-huge inputs untouched") {
    // ~2.5k-row estimate at 4 test cores → target 2, repartitioned
    val small = (1 to 2500).map(i => (i.toLong, s"t$i")).toDF("id", "text").coalesce(1)
    assert(Dedup.spread(small, col("id")).rdd.getNumPartitions > 1)
    // a MEDIUM single-partition input (row estimate ≥ 1k × cores but well
    // under the byte budget) is exactly the unsplittable-single-row-group
    // case the byte gate exists for: it must still fan out
    val medium = (1 to 50000).map(i => (i.toLong, s"t$i")).toDF("id", "text").coalesce(1)
    assert(Dedup.spread(medium, col("id")).rdd.getNumPartitions > 1)
    // byte estimate past the ~2 GiB budget → returned AS-IS (reference-
    // equal: never reshuffle a corpus-sized input, which arrives pre-split)
    val huge = spark.range(1000000000L).toDF("id") // ~8 GB plan estimate
    assert(Dedup.spread(huge, col("id")) eq huge)
  }
}
