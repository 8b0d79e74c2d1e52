package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.DataFrame

import graft.engine.QueryEngine
import graft.sources.Ingest

/** Algebraic properties of the query dialect (SURVEY.md §5 plan):
  * filter composition, slice algebra, in-list ≡ disjunction, distinct
  * idempotence. Each case runs real Spark jobs, so counts are kept small.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Run a ScalaCheck property with a small case count (each case runs
    * real Spark jobs). */
  private def checkProp(prop: Prop): Unit = {
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withMaxSize(12), prop)
    assert(result.passed, result.status.toString)
  }

  // Frames: 1-12 rows of (a: int, b: double-with-nulls, c: string)
  private val rowGen = for {
    a <- Gen.chooseNum(-5, 5)
    b <- Gen.option(Gen.chooseNum(-3.0, 3.0))
    c <- Gen.oneOf("x", "y", "z", "xy")
  } yield s"$a,${b.map(v => f"$v%.2f").getOrElse("")},$c"

  private val frameGen: Gen[DataFrame] = Gen.nonEmptyListOf(rowGen)
    .map(rows => Ingest.fromCsv(spark, ("a,b,c" :: rows).mkString("\n")))

  private val predGen: Gen[String] = Gen.oneOf(
    Gen.chooseNum(-5, 5).map(v => s"""[">", "a", $v]"""),
    Gen.chooseNum(-3.0, 3.0).map(v => s"""["<=", "b", ${f"$v%.2f"}]"""),
    Gen.oneOf("x", "y", "z").map(v => s"""["==", "c", "'$v'"]"""),
    Gen.const("""["isnull", "b"]"""),
    Gen.oneOf("x", "y").map(v => s"""["!", ["==", "c", "'$v'"]]"""))

  private def rows(df: DataFrame): Seq[String] =
    df.selectExpr("a", "b", "c").collect()
      .map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}").toSeq

  test("filter composition: where p1 then where p2 == where [&, p1, p2]") {
    checkProp(Prop.forAll(frameGen, predGen, predGen) { (df, p1, p2) =>
      val chained = QueryEngine.run(
        QueryEngine.run(df, s"""{"where": $p1}""").df, s"""{"where": $p2}""").df
      val combined = QueryEngine.run(df, s"""{"where": ["&", $p1, $p2]}""").df
      rows(chained).sorted == rows(combined).sorted
    })
  }

  test("negation partitions the frame: rows(p) ⊎ rows(!p) == all rows") {
    // pandas filters null-free boolean masks, so p and ~p are exact
    // complements even on null rows — the invariant Spark's three-valued
    // logic would break (null predicate ⇒ row dropped by BOTH p and !p).
    checkProp(Prop.forAll(frameGen, predGen) { (df, p) =>
      val pos = rows(QueryEngine.run(df, s"""{"where": $p}""").df)
      val neg = rows(QueryEngine.run(df, s"""{"where": ["!", $p]}""").df)
      (pos ++ neg).sorted == rows(df).sorted
    })
  }

  test("!= is the exact complement of ==, including null rows") {
    checkProp(Prop.forAll(frameGen, Gen.chooseNum(-3.0, 3.0)) { (df, v) =>
      val lit = f"$v%.2f"
      val eq = rows(QueryEngine.run(df, s"""{"where": ["==", "b", $lit]}""").df)
      val ne = rows(QueryEngine.run(df, s"""{"where": ["!=", "b", $lit]}""").df)
      (eq ++ ne).sorted == rows(df).sorted
    })
  }

  test("slice algebra: offset o + limit l == rows [o, o+l) of the ordered frame") {
    checkProp(Prop.forAll(frameGen, Gen.chooseNum(0, 6), Gen.chooseNum(1, 6)) { (df, o, l) =>
      val all = rows(QueryEngine.run(df, """{"order_by": ["a", "b", "c"]}""").df)
      val sliced = rows(QueryEngine.run(df,
        s"""{"order_by": ["a", "b", "c"], "offset": $o, "limit": $l}""").df)
      sliced == all.slice(o, o + l)
    })
  }

  test("in-list == disjunction of equalities") {
    checkProp(Prop.forAll(frameGen, Gen.nonEmptyListOf(Gen.chooseNum(-5, 5))) { (df, vals) =>
      val inQ = QueryEngine.run(df,
        s"""{"where": ["in", "a", [${vals.mkString(", ")}]]}""").df
      val orQ = QueryEngine.run(df,
        s"""{"where": ["|", ${vals.map(v => s"""["==", "a", $v]""").mkString(", ")}]}""").df
      rows(inQ).sorted == rows(orQ).sorted
    })
  }

  test("rangeJoin equals the naive nested-loop join for any granule (negative epochs too)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val caseGen = for {
      n <- Gen.chooseNum(1, 12)
      ts <- Gen.listOfN(n, Gen.chooseNum(-500L, 500L))
      m <- Gen.chooseNum(1, 6)
      ivs <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(-500L, 500L), Gen.chooseNum(0L, 300L)))
      g <- Gen.chooseNum(1L, 137L)
    } yield (ts, ivs, g)
    checkProp(Prop.forAll(caseGen) { case (ts, ivs, g) =>
      val left = ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("lid", "t")
      val right = ivs.zipWithIndex.map { case ((s, len), i) =>
        (s"iv$i", s, s + len) }.toDF("nm", "s", "e")
      val got = graft.ops.Joins.rangeJoin(left, right, "t", "s", "e",
          Seq("nm"), granule = g)
        .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
      val want = left.crossJoin(right)
        .filter(col("t") >= col("s") && col("t") <= col("e"))
        .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
      got == want
    })
  }

  test("intervalJoinBatch equals the plain per-key horizon product for any horizon") {
    import spark.implicits._
    val caseGen = for {
      nA <- Gen.chooseNum(1, 8)
      as <- Gen.listOfN(nA, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(-500L, 500L)))
      nM <- Gen.chooseNum(1, 10)
      ms <- Gen.listOfN(nM, Gen.zip(Gen.chooseNum(1L, 3L), Gen.chooseNum(-500L, 500L)))
      h <- Gen.chooseNum(0L, 300L)
    } yield (as, ms, h)
    checkProp(Prop.forAll(caseGen) { case (as, ms, h) =>
      def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
      val anchors = as.zipWithIndex.map { case ((k, s), i) =>
        (i.toLong, t(s), k, 0.0) }.toDF("event_id", "ts", "user_id", "value")
      val matches = ms.zipWithIndex.map { case ((k, s), i) =>
        (1000L + i, t(s), k, i.toDouble) }.toDF("event_id", "ts", "user_id", "value")
      val got = graft.streaming.EventStreams
        .intervalJoinBatch(anchors, matches, "user_id", h)
        .collect().map(r => (r.getLong(0), r.getTimestamp(3).getTime,
          r.getDouble(4))).sorted.toSeq
      // independent reference: the horizon product computed in plain Scala
      val want = (for {
        ((ak, at), ai) <- as.zipWithIndex
        ((mk, mt), mi) <- ms.zipWithIndex
        if mk == ak && mt >= at - h && mt <= at
      } yield (ai.toLong, mt * 1000, mi.toDouble)).sorted
      // left = the same product plus one null row per matchless anchor
      // (duplicate anchor ids occur in the draw space — generated ids
      // are distinct, keys are not, so key-collision coverage is real)
      val gotLeft = graft.streaming.EventStreams
        .intervalJoinBatch(anchors, matches, "user_id", h, how = "left")
        .collect().map(r => (r.getLong(0),
          Option(r.getTimestamp(3)).map(_.getTime),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).sorted.toSeq
      val matchedAnchors = want.map(_._1).toSet
      val wantLeft = (want.map(t => (t._1, Option(t._2), Option(t._3))) ++
        as.indices.filterNot(i => matchedAnchors(i.toLong))
          .map(i => (i.toLong, None, None))).sorted
      got == want && gotLeft == wantLeft
    })
  }

  test("chunked CSV ingest preserves line content and ORDER for any body shape") {
    // the lineChunks invariant the row-id contract rides on: chunk p
    // holds lines [a_p, b_p) and per-chunk linesIterator preserves body
    // order — so ingest order must equal a direct line split for bodies
    // with \r\n, blank lines, missing trailing newlines, and any length
    // "v"-prefixed values stay strings under inference (a numeric-
    // looking value would round-trip through a double and not compare
    // textually); "" and whitespace-only lines probe the drop/null edges
    val lineGen = Gen.oneOf(Gen.alphaNumStr.map(s => "v" + s.take(6)),
      Gen.const(""), Gen.const("  "))
    val caseGen = for {
      n <- Gen.chooseNum(0, 60)
      lines <- Gen.listOfN(n, lineGen)
      sep <- Gen.oneOf("\n", "\r\n")
      trail <- Gen.oneOf(true, false)
    } yield (lines, sep, trail)
    checkProp(Prop.forAll(caseGen) { case (lines, sep, trail) =>
      val body = "h" + sep + lines.mkString(sep) + (if (trail) sep else "")
      val parsed = graft.sources.Ingest.fromCsv(spark, body)
      val got = parsed.orderBy(graft.engine.ExprCompiler.RowId)
        .select("h").collect().map(r => Option(r.get(0)).map(_.toString)).toSeq
      // reference: the body's lines after the header, trimmed, with
      // blank AND whitespace-only lines gone ('' is filtered before the
      // reader; univocity then skips whitespace-only records entirely)
      val want = body.linesIterator.drop(1).map(_.trim).filter(_.nonEmpty)
        .map(Some(_)).toSeq
      got == want
    })
  }

  test("compensated sum error stays at ulp-of-total-magnitude under any partitioning") {
    import spark.implicits._
    val caseGen = for {
      n <- Gen.chooseNum(1, 40)
      vs <- Gen.listOfN(n, Gen.oneOf(
        Gen.chooseNum(-1e16, 1e16), Gen.chooseNum(-1.0, 1.0)))
      parts <- Gen.chooseNum(1, 5)
    } yield (vs, parts)
    checkProp(Prop.forAll(caseGen) { case (vs, parts) =>
      val got = graft.engine.QueryEngine.run(
        vs.toDF("v").repartition(parts), """{"select": [["sum", "v"]]}""")
        .df.head().getDouble(0)
      val exact = vs.map(BigDecimal(_)).sum.toDouble // correctly rounded
      // compensation leaves only second-order residue: error within a
      // few ulps of the total MAGNITUDE (an uncompensated sum's error
      // grows ~n·ε·Σ|x| — orders beyond this bound on mixed magnitudes)
      math.abs(got - exact) <= 4 * math.ulp(vs.map(math.abs).sum)
    })
  }

  test("funnel equals a per-entity sequential greedy scan for any event set") {
    import spark.implicits._
    val caseGen = for {
      n <- Gen.chooseNum(1, 25)
      evs <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(1L, 3L),
        Gen.chooseNum(-50L, 50L), Gen.oneOf("a", "b", "c")))
      k <- Gen.chooseNum(1, 3)
      steps <- Gen.listOfN(k, Gen.oneOf("a", "b", "c"))
    } yield (evs, steps)
    checkProp(Prop.forAll(caseGen) { case (evs, steps) =>
      def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
      val df = evs.zipWithIndex.map { case ((u, s, ty), i) =>
        (i.toLong, t(s), u, ty, 0.0)
      }.toDF("event_id", "ts", "user_id", "event_type", "value")
      val got = graft.streaming.EventStreams.funnel(df, "user_id", steps)
        .collect().map { r =>
          (r.getLong(0),
            steps.indices.map(i => Option(r.getTimestamp(i + 1)).map(_.getTime)),
            r.getInt(steps.size + 1))
        }.sortBy(_._1).toSeq
      // independent reference: per-entity time-ordered greedy scan (for
      // strict-increase matching the scan order among equal timestamps
      // cannot change the outcome — a tie can never extend a match)
      val want = evs.groupBy(_._1).toSeq.flatMap { case (u, es) =>
        val matched = scala.collection.mutable.ArrayBuffer[Long]()
        es.map(e => (e._2 * 1000, e._3)).sortBy(_._1).foreach { case (ms, ty) =>
          val d = matched.length
          if (d < steps.length && ty == steps(d) &&
              (d == 0 || ms > matched.last)) matched += ms
        }
        if (matched.isEmpty) None
        else Some((u, steps.indices.map(matched.lift), matched.length))
      }.sortBy(_._1)
      got == want
    })
  }

  test("repetitionSignals gram folds equal brute-force counting on random texts") {
    import spark.implicits._
    val caseGen = for {
      n <- Gen.chooseNum(0, 30)
      tks <- Gen.listOfN(n, Gen.oneOf("a", "bb", "c"))
    } yield tks
    checkProp(Prop.forAll(caseGen) { tks =>
      val text = tks.mkString(" ")
      val df = Seq((1L, text)).toDF("doc_id", "text")
      val r = graft.ops.TextOps.repetitionSignals(df, "doc_id", "text").head()
      def grams(k: Int) =
        tks.sliding(k).filter(_.size == k).map(_.mkString(" ")).toSeq
      val normLen = text.length // tokens already single-spaced + trimmed
      val g2 = grams(2)
      val top2 = if (g2.isEmpty) 0.0 else {
        val (bg, bc) = g2.groupBy(identity).view.mapValues(_.size).toSeq
          .minBy { case (g, c) => (-c, -g.length, g) }
        math.floor(bc.toLong * bg.length.toDouble / normLen * 1e6 + 0.5) / 1e6
      }
      val g5 = grams(5)
      val dup5 = if (g5.isEmpty) 0.0 else {
        val chars = g5.groupBy(identity)
          .collect { case (g, os) if os.size >= 2 => os.size.toLong * g.length }
          .sum
        math.floor(math.min(1.0, chars.toDouble / normLen) * 1e6 + 0.5) / 1e6
      }
      r.getDouble(4) == top2 && r.getDouble(5) == dup5
    })
  }

  test("dropNearDuplicatesClusteredBy equals brute-force component argmax for any pair graph") {
    import spark.implicits._
    val caseGen = for {
      n <- Gen.chooseNum(2, 10)
      nP <- Gen.chooseNum(0, 12)
      ps <- Gen.listOfN(nP, Gen.zip(Gen.chooseNum(1, n), Gen.chooseNum(1, n)))
      scores <- Gen.listOfN(n, Gen.option(Gen.chooseNum(0, 5)))
    } yield (n, ps.filter(p => p._1 != p._2), scores)
    checkProp(Prop.forAll(caseGen) { case (n, ps, scores) =>
      val docs = (1 to n).map(i =>
        (i.toLong, scores(i - 1).map(_.toDouble).map(Double.box).orNull))
        .toDF("id", "score")
      val pairs = ps.map { case (a, b) => (math.min(a, b).toLong, math.max(a, b).toLong) }
        .toDF("id_a", "id_b")
      val got = graft.ops.Dedup
        .dropNearDuplicatesClusteredBy(docs, pairs, "id",
          org.apache.spark.sql.functions.col("score"))
        .select("id").collect().map(_.getLong(0)).toSet
      // brute-force: connected components via closure, then keep the
      // max-score member (nulls lose; all-null -> min id; ties -> min id)
      val adj = ps.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      def component(seed: Int): Set[Int] = {
        var seen = Set(seed); var frontier = Set(seed)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
          seen ++= next; frontier = next
        }
        seen
      }
      val paired = ps.flatMap(p => Seq(p._1, p._2)).toSet
      val comps = paired.map(component).toSeq.distinct
      val doomed = comps.flatMap { c =>
        val scored = c.toSeq.map(i => (i, scores(i - 1)))
        val keeper = scored.filter(_._2.isDefined) match {
          case Seq() => c.min
          case nonNull =>
            val m = nonNull.map(_._2.get).max
            nonNull.filter(_._2.get == m).map(_._1).min
        }
        c - keeper
      }.toSet
      val want = (1 to n).filterNot(doomed).map(_.toLong).toSet
      got == want
    })
  }

  test("distinct [] is idempotent and a subset of the input") {
    checkProp(Prop.forAll(frameGen) { df =>
      val once = QueryEngine.run(df, """{"distinct": []}""").df
      val twice = QueryEngine.run(once, """{"distinct": []}""").df
      val onceRows = rows(once)
      onceRows.sorted == rows(twice).sorted &&
        onceRows.distinct.length == onceRows.length &&
        onceRows.toSet.subsetOf(rows(df).toSet)
    })
  }

  test("fuzz: arbitrary query trees either run or raise MalformedQueryException") {
    import graft.engine.MalformedQueryException
    val leafGen: Gen[String] = Gen.oneOf(
      Gen.const("\"a\""), Gen.const("\"b\""), Gen.const("\"c\""),
      Gen.const("\"nope\""), Gen.const("\"'x'\""),
      Gen.chooseNum(-9, 9).map(_.toString), Gen.const("1.5"), Gen.const("null"))
    val opGen = Gen.oneOf("==", "!=", "<", ">", "&", "|", "!", "isnull",
      "in", "like", "ilike", "all_bits", "any_bits", "zap", "=", "sum", "+")
    def exprGen(depth: Int): Gen[String] =
      if (depth <= 0) leafGen
      else Gen.frequency(
        2 -> leafGen,
        3 -> (for {
          op <- opGen
          n <- Gen.chooseNum(0, 3)
          args <- Gen.listOfN(n, exprGen(depth - 1))
        } yield (s""""$op"""" :: args).mkString("[", ", ", "]")))
    val clauseGen: Gen[String] = for {
      where <- Gen.option(exprGen(3))
      sel <- Gen.option(Gen.listOf(exprGen(2)).map(_.mkString("[", ", ", "]")))
      grp <- Gen.option(Gen.someOf(Seq("\"a\"", "\"c\"", "\"zz\""))
        .map(_.mkString("[", ", ", "]")))
      ord <- Gen.option(Gen.someOf(Seq("\"a\"", "\"-c\"", "\"q\""))
        .map(_.mkString("[", ", ", "]")))
      off <- Gen.option(Gen.chooseNum(-2, 5))
      lim <- Gen.option(Gen.chooseNum(-2, 5))
    } yield Seq(
      where.map(w => s""""where": $w"""),
      sel.map(s => s""""select": $s"""),
      grp.map(g => s""""group_by": $g"""),
      ord.map(o => s""""order_by": $o"""),
      off.map(o => s""""offset": $o"""),
      lim.map(l => s""""limit": $l""")).flatten.mkString("{", ", ", "}")

    val fixed = Ingest.fromCsv(spark, "a,b,c\n1,1.5,x\n2,,y\n3,0.5,z")
    val prop = Prop.forAll(clauseGen) { q =>
      try { QueryEngine.run(fixed, q).df.collect(); true }
      catch {
        case _: MalformedQueryException => true // the 400 path — fine
        case _: org.apache.spark.sql.AnalysisException => false
        case _: scala.MatchError => false
        case _: ClassCastException => false
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200).withMaxSize(14), prop)
    assert(result.passed, result.status.toString)
  }

  test("fuzz: arbitrary xop specs either run or raise MalformedQueryException") {
    import graft.engine.MalformedQueryException
    val xopNames = Seq("dedup_exact", "chunk_dedup", "dedup_minhash",
      "dedup_simhash", "dedup_jaccard", "dedup_embcos", "dedup_clusters",
      "text_tokens", "text_quality", "text_langid", "text_fingerprint",
      "text_vocab", "text_repetition", "pii_redact", "sample_fraction",
      "sample_stratified", "sample_mixture", "sample_tokens", "sample_topk",
      "seq_pack", "emb_quantize", "emb_outliers", "ann_brute", "ann_lsh",
      "ann_ivf", "sessionize", "props_rollup", "mm_assets", "mm_chunks",
      "mm_meta",
      "profile", "decontaminate", "exclude_ids", "asof", "char_entropy",
      "quantiles", "dedup_against", "split", "search_bm25", "dup_grams",
      "join", "emb_cluster", "minhash_against", "tfidf_keywords",
      "quality_rules", "unigram_nll", "range_join", "span_scrub",
      "gram_novelty", "token_divergence", "pmi_pairs", "quantile_band",
      "bigram_nll", "line_dedup", "line_quality", "sample_weighted",
      "text_chunks", "oov_rate", "semantic_dedup", "interval_join", "funnel",
      "repetition_signals", "retention", "corpus_diff", "index_update",
      "bloom_update", "vocab_update", "ivf_refine", "vocab_growth",
      "token_spectrum", "common_line_scrub", "mixture_weights",
      "dedup_sweep", "zap")
    val argKeys = Seq("id", "column", "order", "chunk_tokens", "k",
      "fraction", "strata", "source", "weights", "default", "approx",
      "num_hashes", "bands", "threshold", "shingle", "action",
      "max_hamming", "max_id", "src", "dst", "label", "budget", "tokens",
      "group", "score", "gap_seconds", "chunk_size", "stride", "eval",
      "eval_column", "n", "exclude", "exclude_id", "fpp", "right", "key",
      "time", "payload", "queries", "query_vectors", "probe", "cells", "qs",
      "corpus", "corpus_column", "splits", "query", "query_id",
      "query_text", "k1", "b", "on", "how", "columns", "broadcast",
      "iters", "ts", "start", "end", "granule", "min_tokens", "max_tokens",
      "min_mean_len", "max_mean_len", "max_dup_word_frac",
      "min_stopword_ratio", "min_alpha_ratio", "lo", "hi",
      "min_pair_docs", "max_doc_tokens", "min_words", "require_punct",
      "banned", "weight", "vocab", "centroids", "index", "strategy",
      "horizon", "steps", "period_seconds", "max_offset", "epochs",
      "capacity", "verify_index", "old", "old_id", "old_column",
      "removed", "removed_id", "max_fpp_factor", "min_docs",
      "targets", "budget_tokens", "max_weight", "thresholds", "family",
      "clusters", "zap")
    val valGen: Gen[String] = Gen.oneOf(
      Gen.oneOf("id", "src", "text", "zz", "ds", "pairs", "drop", "flag")
        .map(s => s""""$s""""),
      Gen.chooseNum(-4, 64).map(_.toString),
      Gen.oneOf("0.7", "1.5", "-0.1", "true", "null",
        "[[1.0, 2.0]]", "[\"text\"]", "[]", """{"web": 0.5}""",
        """[["train", 0.5], ["test", 0.5]]""",
        "\"inner\"", "\"anti\"", "[\"src\"]", """[["id", "id"]]"""))
    val specGen: Gen[String] = for {
      name <- Gen.oneOf(xopNames)
      n <- Gen.chooseNum(0, 5)
      kvs <- Gen.listOfN(n, Gen.zip(Gen.oneOf(argKeys), valGen))
    } yield {
      val args = kvs.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""{"xop": {"name": "$name", "args": {$args}}, "limit": 5}"""
    }
    val fixed = Ingest.fromCsv(spark,
      "id,src,text\n1,web,alpha beta gamma\n2,web,delta beta\n3,book,alpha beta gamma\n")
    val resolver: String => Option[DataFrame] =
      n => if (n == "ds") Some(fixed) else None
    val prop = Prop.forAll(specGen) { q =>
      try { QueryEngine.run(fixed, q, resolver).df.collect(); true }
      catch {
        case _: MalformedQueryException => true // the 400 path — fine
        case _: Throwable => false              // anything else is a 500
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(150).withMaxSize(10), prop)
    assert(result.passed, result.status.toString)
  }

  test("fuzz: arbitrary update statements either run or raise MalformedQueryException") {
    import graft.engine.{MalformedQueryException, Query, UpdateEngine}
    val argGen: Gen[String] = Gen.oneOf(
      Gen.const("\"a\""), Gen.const("\"b\""), Gen.const("\"c\""),
      Gen.const("\"nope\""), Gen.const("\"'x'\""),
      Gen.chooseNum(-9, 9).map(_.toString), Gen.const("1.5"), Gen.const("null"))
    val updOp = Gen.oneOf("+", "-", "*", "/", "<<", ">>", "&", "|", "^",
      "%", "**", "zap", "==")
    val clause = Gen.oneOf(
      for { a <- argGen; b <- argGen } yield s"[$a, $b]",
      for { op <- updOp; a <- argGen; b <- argGen } yield s"""["$op", $a, $b]""")
    val updGen = Gen.listOf(clause).map(_.mkString("[", ", ", "]"))
    val whereOp = Gen.oneOf("==", "!=", "<", ">", "in", "isnull", "&", "like", "zap")
    val whereGen: Gen[String] = for {
      op <- whereOp
      n <- Gen.chooseNum(0, 3)
      args <- Gen.listOfN(n, Gen.oneOf(argGen,
        Gen.listOf(argGen).map(_.mkString("[", ", ", "]"))))
    } yield (s""""$op"""" :: args).mkString("[", ", ", "]")

    val fixed = Ingest.fromCsv(spark, "a,b,c\n1,1.5,x\n2,,y\n3,0.5,z")
    val prop = Prop.forAll(updGen, whereGen) { (u, w) =>
      try {
        UpdateEngine.update(fixed,
          Query.parse(s"""{"update": $u, "where": $w}""")).collect()
        true
      } catch {
        case _: MalformedQueryException => true // the 400 path — fine
        case _: org.apache.spark.sql.AnalysisException => false
        case _: scala.MatchError => false
        case _: ClassCastException => false
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200).withMaxSize(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("unsliced length equals pre-slice row count") {
    checkProp(Prop.forAll(frameGen, Gen.chooseNum(0, 4), Gen.chooseNum(1, 4)) { (df, o, l) =>
      val r = QueryEngine.run(df,
        s"""{"where": [">", "a", 0], "offset": $o, "limit": $l}""")
      val full = QueryEngine.run(df, """{"where": [">", "a", 0]}""").df.count()
      r.unslicedLength == full
    })
  }

  test("word n-gram kernel ≡ HOF formulation on arbitrary texts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // texts with repeated tokens, odd whitespace, empties
    val tokGen = Gen.oneOf("a", "b", "ab", "ba", "x", "")
    val textGen = for {
      toks <- Gen.listOf(tokGen)
      sep <- Gen.oneOf(" ", "  ", "\t")
    } yield toks.mkString(sep)
    checkProp(Prop.forAll(Gen.nonEmptyListOf(textGen), Gen.chooseNum(1, 4)) {
      (texts, n) =>
        val df = texts.toDF("text")
        df.select(
            graft.ops.Decontaminate.wordNgrams(col("text"), n).as("k"),
            graft.ops.Decontaminate.wordNgramsHof(col("text"), n).as("h"),
            graft.ops.Decontaminate.wordNgrams(col("text"), n, distinct = true).as("kd"),
            array_distinct(graft.ops.Decontaminate.wordNgramsHof(col("text"), n)).as("hd"))
          .filter(not(col("k") === col("h")) || not(col("kd") === col("hd")))
          .count() == 0L
    })
  }

  test("term-freqs kernel ≡ HOF formulation on arbitrary texts and terms") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val tokGen = Gen.oneOf("a", "b", "ab", "ba", "x", "")
    val textGen = for {
      toks <- Gen.listOf(tokGen)
      sep <- Gen.oneOf(" ", "  ", "\t")
    } yield toks.mkString(sep)
    val termsGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "ab", "zz"))
      .map(_.distinct)
    checkProp(Prop.forAll(Gen.nonEmptyListOf(textGen), termsGen) {
      (texts, terms) =>
        val df = texts.toDF("text")
        val kernel = org.apache.spark.sql.GraftSqlShims.column(
          graft.functions.TermFreqsExpr(
            org.apache.spark.sql.GraftSqlShims.expression(
              graft.ops.TextOps.tokens(col("text"))), terms))
        df.select(kernel.as("k"),
            graft.ops.Search.termFreqsHof(col("text"), terms).as("h"))
          .filter(not(col("k") === col("h"))).count() == 0L
    })
  }

  test("band-exhaustive minhash == exact shingle jaccard on random corpora") {
    import spark.implicits._
    // random near-dup-rich corpora: draw from a tiny token alphabet so
    // >= 0.5-Jaccard pairs are common, then require the banded anchor to
    // reproduce the quadratic ground truth exactly (the x2b contract,
    // property form)
    val docGen = Gen.listOfN(8, Gen.oneOf("alpha", "beta", "gamma", "delta"))
      .map(_.mkString(" "))
    checkProp(Prop.forAll(Gen.nonEmptyListOf(docGen)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      rows(graft.ops.Dedup.minhashPairsBandExhaustive(df, "doc_id", "text",
        maxId = Long.MaxValue, threshold = 0.5)) ==
        rows(graft.ops.Dedup.shingleJaccardPairsExact(df, "doc_id", "text",
          maxId = Long.MaxValue, threshold = 0.5))
    })
  }

  test("budgetSelect == the sequential single-window scan for any corpus/budget") {
    import spark.implicits._
    // the crossing-point decomposition (fullin bands + boundary shard
    // prefix) must reproduce the naive sequential truth: walk rows in
    // (priority DESC, id) order, keep while the running total <= budget
    val caseGen = for {
      rows <- Gen.nonEmptyListOf(for {
        p <- Gen.chooseNum(0L, 4L)   // few priorities → fat tie groups
        t <- Gen.chooseNum(0L, 5L)   // zero-token rows included
      } yield (p, t))
      budget <- Gen.chooseNum(0L, 40L)
      shard <- Gen.oneOf(1L, 2L, 1000000L)
    } yield (rows.zipWithIndex.map { case ((p, t), i) => (i.toLong, p, t) },
      budget, shard)
    checkProp(Prop.forAll(caseGen) { case (rows, budget, shard) =>
      val df = rows.toDF("id", "prio", "tok").repartition(5)
      val got = graft.ops.Sampling
        .budgetSelect(df, "id", "prio", org.apache.spark.sql.functions.col("tok"),
          budget, shardSize = shard)
        .collect().map(_.getLong(0)).toSeq
      val expected = rows.sortBy { case (id, p, _) => (-p, id) }
        .scanLeft((0L, 0L, false)) { case ((run, _, _), (id, _, t)) =>
          (run + t, id, run + t <= budget) }
        .drop(1).filter(_._3).map(_._2).sorted
      got == expected
    })
  }

  test("budgetSelect: CONTINUOUS (unrounded double) priorities, any corpus/budget") {
    import spark.implicits._
    // the round-14 weak: a raw classifier score makes the distinct-
    // priority relation corpus-sized; the range-shard classification
    // must still reproduce the sequential truth (tiny classifyShards
    // forces a genuinely multi-shard rollup)
    val caseGen = for {
      scored <- Gen.nonEmptyListOf(for {
        p <- Gen.chooseNum(0.0, 1.0) // raw double, never rounded
        t <- Gen.chooseNum(0L, 5L)
      } yield (p, t))
      dup <- Gen.chooseNum(0, 3)     // replay a prefix for double-tie groups
      budget <- Gen.chooseNum(0L, 60L)
      shards <- Gen.oneOf(1, 3, 64)
    } yield ((scored ++ scored.take(dup)).zipWithIndex
      .map { case ((p, t), i) => (i.toLong, p, t) }, budget, shards)
    checkProp(Prop.forAll(caseGen) { case (rows, budget, shards) =>
      val df = rows.toDF("id", "prio", "tok").repartition(5)
      val got = graft.ops.Sampling
        .budgetSelect(df, "id", "prio", org.apache.spark.sql.functions.col("tok"),
          budget, shardSize = 2L, classifyShards = shards)
        .collect().map(_.getLong(0)).toSeq
      val expected = rows.sortBy { case (id, p, _) => (-p, id) }
        .scanLeft((0L, 0L, false)) { case ((run, _, _), (id, _, t)) =>
          (run + t, id, run + t <= budget) }
        .drop(1).filter(_._3).map(_._2).sorted
      got == expected
    })
  }

  test("budgetSelectBySource == budgetSelect applied per source, any budgets") {
    import spark.implicits._
    val caseGen = for {
      rows <- Gen.nonEmptyListOf(for {
        s <- Gen.oneOf("a", "b", "c")
        // mix discrete and CONTINUOUS priorities — the per-source
        // classification must hold for raw classifier doubles too
        p <- Gen.oneOf(Gen.chooseNum(0, 3).map(_.toDouble),
          Gen.chooseNum(0.0, 1.0))
        t <- Gen.chooseNum(0L, 5L)
      } yield (s, p, t))
      ba <- Gen.chooseNum(0L, 25L)
      bb <- Gen.chooseNum(0L, 25L)
      dflt <- Gen.chooseNum(0L, 25L)
    } yield (rows.zipWithIndex.map { case ((s, p, t), i) => (i.toLong, s, p, t) },
      Map("a" -> ba, "b" -> bb), dflt)
    checkProp(Prop.forAll(caseGen) { case (rows, budgets, dflt) =>
      val df = rows.toDF("id", "src", "prio", "tok").repartition(4)
      val got = graft.ops.Sampling.budgetSelectBySource(df, "id", "src",
        "prio", org.apache.spark.sql.functions.col("tok"), budgets, dflt,
        shardSize = 2L, classifyShards = 3).collect().map(_.getLong(0)).toSeq
      val expected = rows.map(_._2).distinct.flatMap { s =>
        graft.ops.Sampling.budgetSelect(
          df.filter(org.apache.spark.sql.functions.col("src") === s),
          "id", "prio", org.apache.spark.sql.functions.col("tok"),
          budgets.getOrElse(s, dflt)).collect().map(_.getLong(0))
      }.sorted
      got == expected
    })
  }

  test("mixDrift PSI contributions are non-negative and zero iff shares match") {
    import spark.implicits._
    val sideGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "d"))
    checkProp(Prop.forAll(sideGen, sideGen) { (base, cur) =>
      val rows = graft.ops.Profile
        .mixDrift(base.toDF("v"), cur.toDF("v"), "v")
        .collect().map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      rows.forall { case (sb, sc, psi) =>
        psi >= 0 && ((sb != sc) || psi == 0.0)
      }
    })
  }

  test("weighted dedup sweep equals the brute-force expanded sweep for any duplicated corpus") {
    // corpora drawn from a small phrase pool, so exact-duplicate classes
    // of random multiplicity AND genuine near-dup relations both arise;
    // the multiplicity-folded curve must equal dedupSweep over the full
    // expansion term for term at every threshold, 1.0 included
    import spark.implicits._
    import graft.ops.Dedup
    val phrases = Seq(
      "the quick brown fox jumps over the lazy dog today ok",
      "the quick brown fox jumps over the lazy cat today ok",
      "pack my box with five dozen liquor jugs right now",
      "pack my box with six dozen liquor jugs right now",
      "completely unrelated content about spark physical plans",
      "short text")
    val corpusGen: Gen[Seq[(Long, String)]] = for {
      n <- Gen.chooseNum(2, 14)
      texts <- Gen.listOfN(n, Gen.oneOf(phrases))
    } yield texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }
    val ts = Seq(0.4, 0.7, 1.0)
    def curve(df: DataFrame) = df.orderBy("threshold").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    checkProp(Prop.forAll(corpusGen) { rows =>
      val df = rows.toDF("doc_id", "text")
      val brute = curve(Dedup.dedupSweep(df,
        Dedup.shingleJaccardPairsExact(df, "doc_id", "text",
          maxId = 1000, threshold = 0.4), "jaccard", ts))
      val folded = curve(Dedup.dedupSweepWeighted(
        Dedup.exactByTextWeighted(df, "text", "doc_id"),
        Dedup.minhashPairsWeightedBandExhaustive(df, "doc_id", "text",
          maxId = 1000, threshold = 0.4), "jaccard", ts))
      Prop(folded == brute) :| s"folded=$folded brute=$brute"
    })
  }
}
