package graft.engine

import scala.collection.Map

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Decontaminate, Embeddings, Joins, Multimodal,
  Packing, Profile, Sampling, Search, Similarity, TextOps}
import graft.streaming.EventStreams

/** Extension-operator clause of the JSON dialect (SURVEY §7.5: extensions
  * are "additional operators in the same JSON dialect").
  *
  *   {"xop": {"name": "dedup_exact", "args": {"column": "text"}},
  *    "where": [...], "select": [...], ...}
  *
  * The xop runs first, producing a derived frame; every other clause of
  * the query then applies to that frame exactly as it would to a stored
  * table, so the pipeline operators compose with the reference dialect
  * (filter a dedup's survivors, order a profile, slice a sample…).
  *
  * Errors follow the reference's 400 taxonomy (MalformedQueryException →
  * HTTP 400): unknown operator name, missing/ill-typed args, absent
  * columns.
  *
  * Operators that consume a SECOND relation (a decontamination eval set,
  * an id-exclusion list, an ANN query set) name it with a dataset arg
  * resolved through the caller's resolver — on the server that is the
  * dataset cache, so `{"xop": {"name": "decontaminate", "args":
  * {"eval": "evalset", ...}}}` joins two stored tables. ANN queries can
  * alternatively be inlined as literal vectors (`"query_vectors"`), the
  * natural HTTP shape for "find neighbors of THIS embedding".
  */
object XopEngine {

  import ExprCompiler.RowId

  /** Resolver used where no named-dataset context exists (Scala API
    * callers that pass none): every dataset reference is a 400. */
  val NoResolver: String => Option[DataFrame] = _ => None

  /** Arg keys whose (string) value names ANOTHER stored dataset. */
  private val DatasetArgKeys = Set("eval", "exclude", "queries", "right", "corpus")

  /** True when any xop clause in the query tree names another stored
    * dataset. The server's plan memo lives on ONE CacheItem and dies with
    * it, which can't see mutations of a second dataset — such queries are
    * correct only un-memoized. */
  def referencesDatasets(q: Query): Boolean = {
    def specRefs(spec: Any): Boolean = spec match {
      case m: Map[_, _] =>
        argMap(m.asInstanceOf[Map[String, Any]], "args")
          .exists { case (k, v) => DatasetArgKeys(k) && v.isInstanceOf[String] }
      case _ => false
    }
    q.xop.exists(specRefs) || q.from.exists(referencesDatasets)
  }

  /** Ops that MUTATE a persisted artifact. Their result rows are
    * execution receipts, not pure views of the dataset, so the server
    * must never replay them from a background warmup (ShapeWarmer would
    * otherwise run the side effect against a freshly-stored dataset the
    * user never asked to maintain). */
  private val MaintenanceOps = Set(
    "index_update", "bloom_update", "vocab_update", "vocab_remove_slab",
    "vocab_compact", "ivf_refine")

  private def specName(spec: Any): Option[String] = spec match {
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].get("name").collect { case s: String => s }
    case _ => None
  }

  /** True when any xop clause in the query tree is an artifact-mutating
    * maintenance op (see [[MaintenanceOps]]). */
  def hasMaintenance(q: Query): Boolean =
    q.xop.exists(s => specName(s).exists(MaintenanceOps)) ||
      q.from.exists(hasMaintenance)

  /** True when any xop clause carries `"force": true` — the explicit
    * opt-out of the server's per-(dataset, query) plan memo. Without it
    * a byte-identical repeated maintenance request replays the memoized
    * report without re-executing (the documented default); with it the
    * request always executes. Evaluated structurally BEFORE the query
    * runs (the memo decision precedes execution); the clause itself
    * validates that `force` is a boolean and only accepted where it
    * means something (the maintenance ops' knownArgs). */
  def forcesExecution(q: Query): Boolean = {
    def forced(spec: Any): Boolean = spec match {
      case m: Map[_, _] =>
        argMap(m.asInstanceOf[Map[String, Any]], "args")
          .get("force").contains(true)
      case _ => false
    }
    q.xop.exists(forced) || q.from.exists(forcesExecution)
  }

  // ---------------------------------------------------------------- args

  private def argMap(spec: Map[String, Any], key: String): Map[String, Any] =
    spec.get(key) match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case Some(other) => Errors.malformed(s"Invalid format for xop $key", other)
      case None => Map.empty[String, Any]
    }

  private def reqStr(args: Map[String, Any], key: String, op: String): String =
    args.get(key) match {
      case Some(s: String) => s
      case Some(other) => Errors.malformed(s"xop '$op': '$key' must be a string", other)
      case None => Errors.malformed(s"xop '$op': missing required argument '$key'")
    }

  private def column(df: DataFrame, args: Map[String, Any], key: String,
                     op: String): String = {
    val name = reqStr(args, key, op)
    if (!ExprCompiler.hasColumn(df, name))
      Errors.malformed(s"xop '$op': unknown column", name)
    name
  }

  /** Column that must be statically numeric — operators that cast the
    * column to long/double would otherwise ANSI-crash per ROW at runtime
    * (a 500) instead of failing the request with a 400. */
  private def numericColumn(df: DataFrame, args: Map[String, Any], key: String,
                            op: String): String = {
    val c = column(df, args, key, op)
    df.schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType => c
      case _ => Errors.malformed(s"xop '$op': '$key' must be a numeric column", c)
    }
  }

  /** Column that must be statically INTEGRAL — the hash samplers embed
    * the id via cast("long"), where a string id hashes to NULL on every
    * row; Sampling's own guard throws IllegalArgumentException (a 500
    * over HTTP), so the xop layer pre-checks and 400s like every other
    * statically-typed argument. */
  private def integralIdColumn(df: DataFrame, args: Map[String, Any],
                               key: String, op: String): String = {
    val c = column(df, args, key, op)
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => c
      case dt => Errors.malformed(
        s"xop '$op': '$key' must be an integral id column " +
          "(id-keyed hashing and sharding embed it as int64)",
        dt.simpleString)
    }
  }

  /** Column that must be a numeric array (an embedding). */
  private def vectorColumn(df: DataFrame, args: Map[String, Any], key: String,
                           op: String): String = {
    val c = column(df, args, key, op)
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        _: org.apache.spark.sql.types.NumericType, _) => c
      case _ =>
        Errors.malformed(s"xop '$op': '$key' must be a numeric array column", c)
    }
  }

  private def intArg(args: Map[String, Any], key: String, default: Long,
                     op: String): Long = args.get(key) match {
    case Some(l: Long) => l
    case Some(d: Double) if d.isWhole => d.toLong
    case Some(other) => Errors.malformed(s"xop '$op': '$key' must be an integer", other)
    case None => default
  }

  private def doubleArg(args: Map[String, Any], key: String, op: String): Double =
    args.get(key) match {
      case Some(d: Double) => d
      case Some(l: Long) => l.toDouble
      case Some(other) => Errors.malformed(s"xop '$op': '$key' must be a number", other)
      case None => Errors.malformed(s"xop '$op': missing required argument '$key'")
    }

  private def boolArg(args: Map[String, Any], key: String, default: Boolean,
                      op: String): Boolean = args.get(key) match {
    case Some(b: Boolean) => b
    case Some(other) => Errors.malformed(s"xop '$op': '$key' must be a boolean", other)
    case None => default
  }

  /** Resolve an `index` arg to an artifact path. The value is a
    * RELATIVE path resolved under the `spark.graft.index.root` session
    * conf (the server sets it from `--index-root`): an HTTP query must
    * never name an arbitrary server filesystem path, and with no root
    * configured the argument is rejected outright. Load failures surface
    * as 400s (the artifact's name/content is part of the query), not
    * 500s — see [[loadArtifact]]. */
  private def indexPath(df: DataFrame, raw: Any, op: String): String = {
    val rel = raw match {
      case s: String if s.nonEmpty => s
      case other => Errors.malformed(s"xop '$op': 'index' must be a non-empty string", other)
    }
    val root = df.sparkSession.conf.getOption("spark.graft.index.root").getOrElse(
      Errors.malformed(
        s"xop '$op': 'index' requires the server to configure an index root " +
          "(--index-root / spark.graft.index.root)"))
    if (rel.startsWith("/") || rel.split('/').contains(".."))
      Errors.malformed(
        s"xop '$op': 'index' must be a relative path without '..'", rel)
    s"${root.stripSuffix("/")}/$rel"
  }

  /** Load the persisted artifact named by an `index` arg through the
    * family's `load`: root resolution as in [[indexPath]], and every
    * load failure (missing, foreign, older/newer format, corrupt) is a
    * 400. */
  private def loadArtifact[A](df: DataFrame, raw: Any, op: String)
                             (load: (SparkSession, String) => A): A =
    try load(df.sparkSession, indexPath(df, raw, op))
    catch {
      case e: IllegalArgumentException =>
        Errors.malformed(s"xop '$op': ${e.getMessage}")
      case e: org.apache.spark.sql.AnalysisException =>
        Errors.malformed(s"xop '$op': unreadable index artifact: ${e.getMessage}")
    }

  /** Parse an explicit `centroids` argument: a non-empty list of
    * equal-length number lists (shared by emb_cluster and
    * semantic_dedup). */
  private def parseCentroids(raw: Any, op: String): Seq[Seq[Double]] = {
    val centroids: Seq[Seq[Double]] = raw match {
      case l: List[Any] @unchecked if l.nonEmpty => l.map {
        case inner: List[Any] @unchecked => inner.map {
          case n: java.lang.Number => n.doubleValue()
          case other => Errors.malformed(
            s"xop '$op': centroid entries must be numbers", other)
        }
        case other => Errors.malformed(
          s"xop '$op': 'centroids' must be a list of number lists", other)
      }
      case other => Errors.malformed(
        s"xop '$op': 'centroids' must be a non-empty list of number lists", other)
    }
    if (centroids.map(_.length).distinct.size != 1)
      Errors.malformed(s"xop '$op': centroids must share one dimensionality")
    centroids
  }

  /** Row-order column for keep-first semantics: explicit `order` arg, else
    * the hidden ingest-order column server tables carry. */
  private def orderCol(df: DataFrame, args: Map[String, Any], op: String): String =
    args.get("order") match {
      case Some(s: String) =>
        if (!ExprCompiler.hasColumn(df, s))
          Errors.malformed(s"xop '$op': unknown column", s)
        s
      case Some(other) => Errors.malformed(s"xop '$op': 'order' must be a string", other)
      case None =>
        if (ExprCompiler.hasColumn(df, RowId)) RowId
        else Errors.malformed(
          s"xop '$op': table has no ingest order — pass an 'order' column")
    }

  /** Optional double with default. */
  private def doubleArgOpt(args: Map[String, Any], key: String,
                           default: Double, op: String): Double =
    if (args.contains(key)) doubleArg(args, key, op) else default

  /** Near-dup family post-step: emit the pair relation itself, drop the
    * keep-latest side of every pair from the input frame, or — with
    * action 'keep_best' and a numeric 'score' column — collapse each
    * near-dup connected component to its best-scoring member
    * (Dedup.dropNearDuplicatesClusteredBy; ties → min id). */
  private def pairsOrDrop(df: DataFrame, pairs: DataFrame, idCol: String,
                          args: Map[String, Any], op: String): DataFrame = {
    val action = args.get("action")
    if (args.contains("score") && !action.contains("keep_best"))
      Errors.malformed(s"xop '$op': 'score' is only valid with action 'keep_best'")
    action match {
      case None | Some("pairs") => pairs
      case Some("drop") => Dedup.dropNearDuplicates(df, pairs, idCol)
      case Some("keep_best") =>
        if (!args.contains("score"))
          Errors.malformed(s"xop '$op': action 'keep_best' requires a 'score' column")
        // statically numeric: a string score would silently rank
        // lexicographically — reject up front like every numeric arg
        Dedup.dropNearDuplicatesClusteredBy(df, pairs, idCol,
          col(numericColumn(df, args, "score", op)))
      case Some(other) =>
        Errors.malformed(
          s"xop '$op': action must be 'pairs', 'drop' or 'keep_best'", other)
    }
  }

  // ----------------------------------------------------------------- run

  def run(df: DataFrame, spec: Any): DataFrame = run(df, spec, NoResolver)

  def run(df: DataFrame, spec: Any,
          resolve: String => Option[DataFrame]): DataFrame = {
    val m = spec match {
      case mm: Map[_, _] => mm.asInstanceOf[Map[String, Any]]
      case other => Errors.malformed("Invalid format for xop", other)
    }
    val unknown = m.keySet.diff(Set("name", "args"))
    if (unknown.nonEmpty)
      Errors.malformed(s"Unknown xop keys: ${unknown.mkString(", ")}")
    val name = m.get("name") match {
      case Some(s: String) => s
      case Some(other) => Errors.malformed("xop name must be a string", other)
      case None => Errors.malformed("xop requires a 'name'")
    }
    val args = argMap(m, "args")

    def knownArgs(allowed: String*): Unit = {
      val extra = args.keySet.diff(allowed.toSet)
      if (extra.nonEmpty)
        Errors.malformed(s"xop '$name': unknown arguments: ${extra.mkString(", ")}")
    }

    // `force` (the plan-memo opt-out — see forcesExecution) is consumed
    // by the SERVER's memo decision, not the clause body; here it is
    // only validated: a boolean, legal solely on the maintenance ops
    // (on a read op "re-execute" is indistinguishable from the memo
    // replay, so accepting it there would be a silent no-op)
    if (args.contains("force")) {
      if (!MaintenanceOps(name))
        Errors.malformed(s"xop '$name': 'force' is only valid on maintenance ops " +
          s"(${MaintenanceOps.toSeq.sorted.mkString(", ")})")
      val _ = boolArg(args, "force", default = false, name)
    }

    /** A second stored dataset named by `key`, through the caller's
      * resolver (the server's dataset cache). */
    def dataset(key: String): DataFrame = {
      val dsName = reqStr(args, key, name)
      resolve(dsName).getOrElse(
        Errors.malformed(s"xop '$name': unknown dataset", dsName))
    }

    /** ANN query relation: `queries` (a stored dataset, id/vector columns
      * matching the corpus) or inline `query_vectors` (ids -1, -2, … so
      * they can never collide with corpus ids). */
    def annQueries(idCol: String, vecCol: String): DataFrame =
      (args.get("queries"), args.get("query_vectors")) match {
        case (Some(_), None) => dataset("queries")
        case (None, Some(vs: List[Any] @unchecked)) =>
          val vecs: List[List[Double]] = vs.map {
            case v: List[Any] @unchecked => v.map {
              case d: Double => d
              case l: Long => l.toDouble
              case other =>
                Errors.malformed(s"xop '$name': query vector values must be numbers", other)
            }
            case other =>
              Errors.malformed(s"xop '$name': query_vectors must be a list of vectors", other)
          }
          if (vecs.isEmpty)
            Errors.malformed(s"xop '$name': query_vectors must not be empty")
          val spark = df.sparkSession
          import spark.implicits._
          vecs.zipWithIndex.map { case (v, i) => (-(i + 1).toLong, v) }
            .toDF(idCol, vecCol)
            .select(col(idCol).cast(df.schema(idCol).dataType),
              col(vecCol).cast(df.schema(vecCol).dataType))
        case (None, None) =>
          Errors.malformed(s"xop '$name': pass 'queries' (a stored dataset) or 'query_vectors'")
        case _ =>
          Errors.malformed(s"xop '$name': 'queries' and 'query_vectors' are mutually exclusive")
      }

    name match {
      // keep the first row (ingest/order position) per normalized-text
      // fingerprint — one hash shuffle (Dedup.exactByText)
      case "dedup_exact" =>
        knownArgs("column", "order")
        Dedup.exactByText(df, column(df, args, "column", name), orderCol(df, args, name))

      // passage-level dedup: corpus-wide keep-first of token chunks,
      // documents rebuilt from surviving chunks (Dedup.dedupChunks)
      case "chunk_dedup" =>
        knownArgs("id", "column", "chunk_tokens")
        Dedup.dedupChunks(df, column(df, args, "id", name),
          column(df, args, "column", name),
          intArg(args, "chunk_tokens", 16, name).toInt)

      // C4-style line dedup: keep each distinct non-blank line's first
      // corpus occurrence, reassemble documents (blank lines survive)
      // dedup threshold sweep: per-threshold drop counts/rates from one
      // pair computation — the curve the threshold decision reads
      case "dedup_sweep" =>
        knownArgs("id", "column", "thresholds", "shingle", "max_id",
          "family", "num_hashes", "bands", "index", "weighted")
        val sweepTs: Seq[Double] = args.get("thresholds") match {
          case Some(l: List[Any] @unchecked) if l.nonEmpty => l.map {
            case d: Double => d
            case n: Long => n.toDouble
            case other =>
              Errors.malformed(s"xop '$name': thresholds must be numbers", other)
          }
          case _ => Errors.malformed(
            s"xop '$name': 'thresholds' must be a non-empty list of numbers")
        }
        if (sweepTs.exists(t => t.isNaN || t.isInfinite || t < 0 || t > 1))
          Errors.malformed(s"xop '$name': thresholds must be in [0, 1]")
        val family = args.get("family")
          .map(_ => reqStr(args, "family", name)).getOrElse("jaccard")
        // weighted: collapse exact classes first, sweep representative
        // pairs, fold multiplicities back into the drop counts — the
        // duplication-proof curve (identical to the unweighted curve by
        // the keep-first argument, without the expanded pair relation).
        // Inline-only: a persisted index stores uncollapsed signatures.
        val weightedSweep = boolArg(args, "weighted", default = false, name)
        // largest hamming whose half-up-rounded similarity still clears
        // the sweep's floor threshold — so the simhash pair pass keeps
        // exactly the pairs any swept threshold can drop
        def simhashMaxH: Int = (0 to 64).reverse.find(h =>
          math.floor((64 - h) / 64.0 * 1e4 + 0.5) / 1e4 >= sweepTs.min)
          .getOrElse(0)
        def rejectFor(fam: String, keys: String*): Unit =
          for (k <- keys if args.contains(k))
            Errors.malformed(
              s"xop '$name': '$k' is not valid with family '$fam'")
        if (weightedSweep) {
          if (args.contains("index"))
            Errors.malformed(s"xop '$name': weighted sweeps are inline-only " +
              "(a persisted index stores uncollapsed signatures)")
          val id = column(df, args, "id", name)
          val (wClasses, wPairs, wScore) = family match {
            case "jaccard" =>
              rejectFor("jaccard", "num_hashes", "bands")
              val textC = column(df, args, "column", name)
              val maxId = intArg(args, "max_id", 0L, name)
              if (maxId <= 0)
                Errors.malformed(s"xop '$name': family 'jaccard' requires a " +
                  "positive 'max_id' (the exact sweep is quadratic — bound the slice)")
              // the exact weighted pair pass (complete at any floor,
              // unlike the band-exhaustive anchor form)
              (Dedup.exactByTextWeighted(
                df.filter(col(id) < maxId), textC, id),
                Dedup.shingleJaccardPairsWeightedExact(df, id, textC, maxId,
                  sweepTs.min, intArg(args, "shingle", 3, name).toInt),
                "jaccard")
            case "minhash" =>
              val textC = column(df, args, "column", name)
              val numHashes = intArg(args, "num_hashes", 64, name).toInt
              val bands = intArg(args, "bands", 16, name).toInt
              if (bands <= 0 || numHashes <= 0 || numHashes % bands != 0)
                Errors.malformed(s"xop '$name': bands must divide num_hashes")
              (Dedup.exactByTextWeighted(df, textC, id),
                Dedup.minhashPairsWeighted(df, id, textC, numHashes, bands,
                  sweepTs.min, intArg(args, "shingle", 3, name).toInt),
                "est_jaccard")
            case "simhash" =>
              rejectFor("simhash", "num_hashes", "bands", "shingle", "max_id")
              val textC = column(df, args, "column", name)
              (Dedup.exactByTextWeighted(df, textC, id),
                Dedup.simhashPairsWeighted(df, id, textC, simhashMaxH)
                  .withColumn("sim", Dedup.simhashSim(col("hamming"))),
                "sim")
            case "embcos" =>
              rejectFor("embcos", "num_hashes", "shingle", "max_id")
              val vecC = vectorColumn(df, args, "column", name)
              (Similarity.exactByVecWeighted(df, vecC, id),
                Similarity.cosineNearDupPairsWeighted(df, id, vecC,
                  sweepTs.min, intArg(args, "bands", 8, name).toInt),
                "cos")
            case other => Errors.malformed(s"xop '$name': unknown family", other)
          }
          Dedup.dedupSweepWeighted(wClasses, wPairs, wScore, sweepTs)
        } else {
        val (sweepCorpus, sweepPairs, scoreC) = family match {
          case "jaccard" =>
            rejectFor("jaccard", "num_hashes", "bands", "index")
            val maxId = intArg(args, "max_id", 0L, name)
            if (maxId <= 0)
              Errors.malformed(s"xop '$name': family 'jaccard' requires a " +
                "positive 'max_id' (the exact sweep is quadratic — bound the slice)")
            val id = column(df, args, "id", name)
            // the slice IS the sweep's corpus: pairs exist only inside
            // it, so n_docs/drop_rate are slice-relative — the same
            // denominator the weighted form reports (Σ mult over the
            // sliced classes), not the full-corpus count the rate would
            // otherwise silently underestimate against
            (df.filter(col(id) < maxId),
              Dedup.shingleJaccardPairsExact(df, id,
                column(df, args, "column", name), maxId, sweepTs.min,
                intArg(args, "shingle", 3, name).toInt), "jaccard")
          case "minhash" =>
            val bands = intArg(args, "bands", 16, name).toInt
            args.get("index") match {
              case Some(raw) =>
                for (k <- Seq("num_hashes", "shingle") if args.contains(k))
                  Errors.malformed(
                    s"xop '$name': the index fixes '$k' — drop the argument")
                val art = loadArtifact(df, raw, name)(graft.ops.MinHashIndex.load)
                if (bands <= 0 || art.numHashes % bands != 0)
                  Errors.malformed(s"xop '$name': bands must divide the " +
                    s"index's num_hashes=${art.numHashes}")
                (df, Dedup.minhashPairsFromIndex(art, bands, sweepTs.min),
                  "est_jaccard")
              case None =>
                val numHashes = intArg(args, "num_hashes", 64, name).toInt
                if (bands <= 0 || numHashes <= 0 || numHashes % bands != 0)
                  Errors.malformed(s"xop '$name': bands must divide num_hashes")
                (df, Dedup.minhashPairs(df, column(df, args, "id", name),
                  column(df, args, "column", name), numHashes, bands,
                  sweepTs.min, intArg(args, "shingle", 3, name).toInt),
                  "est_jaccard")
            }
          case "simhash" =>
            rejectFor("simhash", "num_hashes", "bands", "shingle", "max_id",
              "index")
            (df, Dedup.simhashPairs(df, column(df, args, "id", name),
              column(df, args, "column", name), simhashMaxH)
              .withColumn("sim", Dedup.simhashSim(col("hamming"))), "sim")
          case "embcos" =>
            rejectFor("embcos", "num_hashes", "shingle", "max_id", "index")
            (df, Similarity.cosineNearDupPairs(df,
              column(df, args, "id", name),
              vectorColumn(df, args, "column", name), sweepTs.min,
              intArg(args, "bands", 8, name).toInt), "cos")
          case other => Errors.malformed(s"xop '$name': unknown family", other)
        }
        Dedup.dedupSweep(sweepCorpus, sweepPairs, scoreC, sweepTs)
        }

      // borderline-first human-audit queue over the exact-jaccard pair
      // relation: the k pairs closest to the operating threshold, texts
      // attached (the audit reviews the exact score at the cut, so only
      // the exact family is offered; min_score floors the quadratic
      // id-bounded pair pass)
      case "audit_pairs" =>
        knownArgs("id", "column", "max_id", "shingle", "min_score",
          "threshold", "k", "weighted")
        val apThr = doubleArgOpt(args, "threshold", 0.7, name)
        if (apThr.isNaN || apThr.isInfinite || apThr < 0 || apThr > 1)
          Errors.malformed(s"xop '$name': threshold must be in [0, 1]")
        val apFloor = doubleArgOpt(args, "min_score", 0.0, name)
        if (apFloor.isNaN || apFloor < 0 || apFloor > 1)
          Errors.malformed(s"xop '$name': min_score must be in [0, 1]")
        val apK = intArg(args, "k", 20, name).toInt
        if (apK <= 0) Errors.malformed(s"xop '$name': k must be positive")
        val apMaxId = intArg(args, "max_id", 0L, name)
        if (apMaxId <= 0)
          Errors.malformed(s"xop '$name': requires a positive 'max_id' " +
            "(the exact pair pass is quadratic — bound the slice)")
        val apId = column(df, args, "id", name)
        val apText = column(df, args, "column", name)
        val apShingle = intArg(args, "shingle", 3, name).toInt
        if (boolArg(args, "weighted", default = false, name)) {
          // duplication-proof audit queue: collapse exact classes, audit
          // the REPRESENTATIVE pairs with both class sizes attached —
          // the reviewer sees how many expanded docs each call governs,
          // and a mass-duplicated borderline pair costs one queue row
          Dedup.auditPairsWeighted(
            Dedup.shingleJaccardPairsWeightedExact(df, apId, apText,
              apMaxId, apFloor, apShingle),
            "jaccard",
            Dedup.exactByTextWeighted(df.filter(col(apId) < apMaxId),
              apText, apId),
            apId, apText, apThr, apK)
        } else
          Dedup.auditPairs(
            Dedup.shingleJaccardPairsExact(df, apId, apText, apMaxId, apFloor,
              apShingle),
            "jaccard", df, apId, apText, apThr, apK)

      case "line_dedup" =>
        knownArgs("id", "column")
        Dedup.dedupLines(df, column(df, args, "id", name),
          column(df, args, "column", name))

      // corpus-frequency boilerplate scrub: lines in >= min_docs
      // distinct documents vanish from every document
      case "common_line_scrub" =>
        knownArgs("id", "column", "min_docs")
        val minDocs = intArg(args, "min_docs", 100, name)
        if (minDocs < 2 || minDocs > Int.MaxValue)
          Errors.malformed(s"xop '$name': min_docs must be >= 2", minDocs)
        Dedup.scrubCommonLines(df, column(df, args, "id", name),
          column(df, args, "column", name), minDocs.toInt)

      // overlapping token-window chunking (RAG/eval context prep)
      case "text_chunks" =>
        knownArgs("id", "column", "chunk_tokens", "stride")
        val chunkTokens = intArg(args, "chunk_tokens", 128, name).toInt
        // default stride = half the window, matching the library default's
        // 128/64 overlap ratio (stride == chunk would silently disable
        // the overlap the operator exists for)
        val stride =
          intArg(args, "stride", math.max(1, chunkTokens / 2).toLong, name).toInt
        if (chunkTokens <= 0)
          Errors.malformed(s"xop '$name': chunk_tokens must be positive")
        if (stride <= 0 || stride > chunkTokens)
          Errors.malformed(s"xop '$name': stride must be in [1, chunk_tokens]")
        TextOps.chunkText(df, column(df, args, "id", name),
          column(df, args, "column", name), chunkTokens, stride)

      // per-doc out-of-vocabulary rate vs the corpus's own top-k vocab
      // with 'index', a persisted VocabIndex serves the vocabulary side
      // (the corpus-wide token aggregation is skipped; the only corpus
      // pass left is the membership probe); 'vocab' then slices a
      // smaller size out of the stored top-k, defaulting to all of it
      case "oov_rate" =>
        knownArgs("id", "column", "vocab", "index", "verify_index")
        val idCol = column(df, args, "id", name)
        val textCol = column(df, args, "column", name)
        args.get("index") match {
          case Some(raw) =>
            val art = loadArtifact(df, raw, name)(graft.ops.VocabIndex.load)
            // free identity tripwire: the artifact records which column
            // its vocabulary was built over
            if (art.textCol != textCol)
              Errors.malformed(
                s"xop '$name': vocabulary was built over column '${art.textCol}', " +
                  s"this query reads '$textCol' — fix 'column' or rebuild")
            if (boolArg(args, "verify_index", default = false, name))
              try graft.ops.VocabIndex.verifyContent(art, "vocabulary",
                df, textCol)
              catch { case e: IllegalArgumentException =>
                Errors.malformed(s"xop '$name': ${e.getMessage}") }
            val size = intArg(args, "vocab", art.k, name).toInt
            if (size <= 0) Errors.malformed(s"xop '$name': vocab must be positive")
            val toks =
              try graft.ops.VocabIndex.tokens(art, size, "the vocabulary artifact")
              catch { case e: IllegalArgumentException =>
                Errors.malformed(s"xop '$name': ${e.getMessage}") }
            TextOps.oovRateAgainst(df, idCol, textCol, toks)
          case None =>
            if (args.contains("verify_index"))
              Errors.malformed(
                s"xop '$name': 'verify_index' requires 'index' " +
                  "(the inline vocabulary is fresh by construction)")
            val vocab = intArg(args, "vocab", 10000, name).toInt
            if (vocab <= 0) Errors.malformed(s"xop '$name': vocab must be positive")
            TextOps.oovRate(df, idCol, textCol, vocab)
        }

      // C4-style line-quality filter: keep lines with enough words, a
      // terminal punctuation mark, and no banned phrase (map-only)
      case "line_quality" =>
        knownArgs("column", "min_words", "require_punct", "banned")
        val minWords = intArg(args, "min_words", 3, name).toInt
        if (minWords < 0)
          Errors.malformed(s"xop '$name': min_words must be >= 0")
        val banned = args.get("banned") match {
          case None => Seq("javascript", "lorem ipsum", "cookie")
          case Some(l: List[Any] @unchecked) => l.map {
            case s: String => s
            case other =>
              Errors.malformed(s"xop '$name': banned entries must be strings", other)
          }
          case Some(other) =>
            Errors.malformed(s"xop '$name': 'banned' must be a list", other)
        }
        TextOps.filterLines(df, column(df, args, "column", name), minWords,
          boolArg(args, "require_punct", default = true, name), banned)

      // whitespace + BPE-ish token counts appended per row
      case "text_tokens" =>
        knownArgs("column")
        val c = col(column(df, args, "column", name))
        df.withColumn("n_tokens", TextOps.tokenCount(c))
          .withColumn("n_bpe", TextOps.bpeTokenCount(c))

      // length/punct/stopword quality features + composite score
      case "text_quality" =>
        knownArgs("column")
        TextOps.qualityFeatures(df, column(df, args, "column", name))

      // stopword-argmax language id appended as `lang`
      case "text_langid" =>
        knownArgs("column")
        df.withColumn("lang", TextOps.langId(col(column(df, args, "column", name))))

      // normalized-text md5 fingerprint appended as `fingerprint`
      case "text_fingerprint" =>
        knownArgs("column")
        df.withColumn("fingerprint",
          TextOps.fingerprintMd5(col(column(df, args, "column", name))))

      // corpus vocabulary: top-k tokens by document frequency. With
      // 'capacity', the certified-bounds sketch runs instead (the
      // exchange is bounded at capacity+1 rows per partition; output
      // gains the n_max upper-bound column); with 'group', the per-group
      // form (top-k PER group value, output gains the rank column)
      case "text_vocab" =>
        knownArgs("column", "k", "capacity", "group")
        val k = intArg(args, "k", 100, name).toInt
        if (k <= 0) Errors.malformed(s"xop '$name': k must be positive")
        if (args.contains("capacity") && args.contains("group"))
          Errors.malformed(
            s"xop '$name': 'capacity' and 'group' are mutually exclusive " +
              "(the sketch is a global-vocabulary operator)")
        if (args.contains("group"))
          TextOps.topTokensByGroup(df, column(df, args, "group", name),
            column(df, args, "column", name), k)
        else args.get("capacity") match {
          case Some(_) =>
            val cap = intArg(args, "capacity", 0, name).toInt
            if (cap <= 0)
              Errors.malformed(s"xop '$name': capacity must be positive")
            TextOps.topTokensSketch(df, column(df, args, "column", name), k, cap)
          case None =>
            TextOps.topTokens(df, column(df, args, "column", name), k)
        }

      // vocabulary growth curve: new distinct tokens per id slab in
      // crawl order (each token charged to its FIRST occurrence; one
      // map-side-combined token exchange, cumulative window over
      // bucket rows only)
      case "vocab_growth" =>
        knownArgs("id", "column", "granule")
        val granule = intArg(args, "granule", 1000L, name)
        if (granule <= 0)
          Errors.malformed(s"xop '$name': granule must be positive")
        TextOps.vocabGrowth(df, column(df, args, "id", name),
          column(df, args, "column", name), granule)

      // token-frequency spectrum: count-of-counts + the >=freq Zipf
      // rank boundary, O(sqrt N) rows
      case "token_spectrum" =>
        knownArgs("column")
        TextOps.tokenSpectrum(df, column(df, args, "column", name))

      // deterministic ~fraction sample by id hash — map-only
      case "sample_fraction" =>
        knownArgs("id", "fraction")
        Sampling.fractionByHash(df, integralIdColumn(df, args, "id", name), {
          val f = doubleArg(args, "fraction", name)
          if (f < 0 || f > 1)
            Errors.malformed(s"xop '$name': fraction must be in [0,1]")
          f
        })

      // k hash-smallest rows per stratum (WindowGroupLimit)
      case "sample_stratified" =>
        knownArgs("id", "strata", "k")
        Sampling.stratifiedTopK(df, column(df, args, "strata", name),
          integralIdColumn(df, args, "id", name),
          intArg(args, "k", 100, name).toInt)

      // per-source mixture weights {"source": fraction, ...}
      // mixture planning: solve sample_mixture/epochs' weights from
      // per-source token supply vs a target mix; unreachable targets
      // surface as status rows, never as a silent 500x upsample
      case "mixture_weights" =>
        knownArgs("source", "column", "targets", "budget_tokens", "max_weight")
        val mwTargets = args.get("targets") match {
          case Some(w: Map[_, _]) =>
            w.asInstanceOf[Map[String, Any]].map {
              case (k, v: Double) => k -> v
              case (k, v: Long) => k -> v.toDouble
              case (_, other) =>
                Errors.malformed(s"xop '$name': targets must be numbers", other)
            }.toMap
          case Some(other) =>
            Errors.malformed(s"xop '$name': 'targets' must be an object", other)
          case None =>
            Errors.malformed(s"xop '$name': missing required argument 'targets'")
        }
        if (mwTargets.isEmpty)
          Errors.malformed(s"xop '$name': 'targets' must be non-empty")
        if (mwTargets.values.exists(s => s < 0 || s.isNaN || s.isInfinite))
          Errors.malformed(s"xop '$name': target shares must be finite and >= 0")
        if (!args.contains("budget_tokens"))
          Errors.malformed(s"xop '$name': missing required argument 'budget_tokens'")
        val mwBudget = intArg(args, "budget_tokens", 0L, name)
        if (mwBudget <= 0)
          Errors.malformed(s"xop '$name': budget_tokens must be positive")
        val mwMax = doubleArgOpt(args, "max_weight", 1000.0, name)
        if (mwMax <= 0 || mwMax > 1000)
          Errors.malformed(s"xop '$name': max_weight must be in (0, 1000]")
        Sampling.mixtureWeights(df, column(df, args, "source", name),
          column(df, args, "column", name), mwTargets, mwBudget, mwMax)

      case "sample_mixture" =>
        knownArgs("id", "source", "weights", "default", "epochs")
        val weights = args.get("weights") match {
          case Some(w: Map[_, _]) =>
            w.asInstanceOf[Map[String, Any]].map {
              case (k, v: Double) => k -> v
              case (k, v: Long) => k -> v.toDouble
              case (_, other) =>
                Errors.malformed(s"xop '$name': weights must be numbers", other)
            }.toMap
          case Some(other) =>
            Errors.malformed(s"xop '$name': 'weights' must be an object", other)
          case None => Errors.malformed(s"xop '$name': missing required argument 'weights'")
        }
        // epochs mode: weights above 1 replicate (epoch column appears);
        // the plain mode keeps the historical [0,1] sampling contract.
        // The implicit default stays 0.0 in BOTH modes — flipping it on
        // the same clause name would silently admit every unlisted
        // source the moment a user adds "epochs": true (the Scala API's
        // mixtureEpochsByHash defaults to pass-through 1.0, but there
        // the function NAME changes with the semantics)
        if (boolArg(args, "epochs", default = false, name)) {
          val defaultW =
            args.get("default").map(_ => doubleArg(args, "default", name)).getOrElse(0.0)
          if ((weights.values ++ Seq(defaultW)).exists(w => w < 0 || w > 1000))
            Errors.malformed(s"xop '$name': weights must be in [0,1000]")
          Sampling.mixtureEpochsByHash(df, integralIdColumn(df, args, "id", name),
            column(df, args, "source", name), weights, defaultW)
        } else {
          val defaultW =
            args.get("default").map(_ => doubleArg(args, "default", name)).getOrElse(0.0)
          if ((weights.values ++ Seq(defaultW)).exists(w => w < 0 || w > 1))
            Errors.malformed(s"xop '$name': weights must be in [0,1] " +
              "(pass \"epochs\": true for replicating weights above 1)")
          Sampling.mixtureByHash(df, integralIdColumn(df, args, "id", name),
            column(df, args, "source", name), weights, defaultW)
        }

      // one-pass per-column audit (counts, nulls, distinct, min/max)
      case "profile" =>
        knownArgs("approx")
        Profile.profile(df.drop(RowId), boolArg(args, "approx", default = false, name))

      // ---- near-duplicate family: pair relations, or drop-survivors ----

      // MinHash LSH near-dup (Dedup.minhashPairs): one (band,bucket)
      // shuffle, codegen'd signature + pair kernels
      case "dedup_minhash" =>
        knownArgs("id", "column", "num_hashes", "bands", "threshold",
          "shingle", "action", "score", "weighted")
        val id = column(df, args, "id", name)
        val textC = column(df, args, "column", name)
        val numHashes = intArg(args, "num_hashes", 64, name).toInt
        val bands = intArg(args, "bands", 16, name).toInt
        if (bands <= 0 || numHashes <= 0 || numHashes % bands != 0)
          Errors.malformed(s"xop '$name': bands must divide num_hashes")
        val thr = doubleArgOpt(args, "threshold", 0.7, name)
        val sh = intArg(args, "shingle", 3, name).toInt
        if (boolArg(args, "weighted", default = false, name)) {
          // duplication-proof variant: exact classes collapse to
          // representatives first, so a heavily-duplicated corpus emits
          // one row per near-dup RELATION instead of a quadratic
          // expansion; 'drop' composes the collapse with rep-level
          // keep-first (= keep-first over the full corpus, docs
          // materialized once per surviving class)
          if (args.contains("score"))
            Errors.malformed(
              s"xop '$name': 'score' (keep_best) is not available weighted — " +
                "representatives are fixed to the lowest class member")
          val wPairs = Dedup.minhashPairsWeighted(df, id, textC,
            numHashes, bands, thr, sh)
          args.get("action") match {
            case None | Some("pairs") => wPairs
            case Some("drop") =>
              Dedup.dropNearDuplicates(
                Dedup.exactByTextWeighted(df, textC, id).drop("mult"),
                wPairs, id)
            case Some(other) =>
              Errors.malformed(s"xop '$name': unknown weighted action", other)
          }
        } else
          pairsOrDrop(df, Dedup.minhashPairs(df, id, textC,
            numHashes, bands, thr, sh), id, args, name)

      // SimHash near-dup: 4×16-bit band join + bit_count verify.
      // weighted: the duplication-proof variant (exact classes collapse
      // to representatives with multiplicity first — x90's pattern)
      case "dedup_simhash" =>
        knownArgs("id", "column", "max_hamming", "action", "score", "weighted")
        val id = column(df, args, "id", name)
        val textC = column(df, args, "column", name)
        val maxHamming = intArg(args, "max_hamming", 3, name).toInt
        if (boolArg(args, "weighted", default = false, name)) {
          if (args.contains("score"))
            Errors.malformed(
              s"xop '$name': 'score' (keep_best) is not available weighted — " +
                "representatives are fixed to the lowest class member")
          val wPairs = Dedup.simhashPairsWeighted(df, id, textC, maxHamming)
          args.get("action") match {
            case None | Some("pairs") => wPairs
            case Some("drop") =>
              Dedup.dropNearDuplicates(
                Dedup.exactByTextWeighted(df, textC, id).drop("mult"),
                wPairs, id)
            case Some(other) =>
              Errors.malformed(s"xop '$name': unknown weighted action", other)
          }
        } else
          pairsOrDrop(df, Dedup.simhashPairs(df, id, textC, maxHamming),
            id, args, name)

      // exact shingle-Jaccard pairs over an id-bounded slice (the
      // oracle-checkable quadratic variant; LSH is the full-corpus path)
      case "dedup_jaccard" =>
        knownArgs("id", "column", "max_id", "threshold", "shingle")
        Dedup.shingleJaccardPairsExact(df, column(df, args, "id", name),
          column(df, args, "column", name),
          intArg(args, "max_id", Long.MaxValue, name),
          doubleArg(args, "threshold", name),
          intArg(args, "shingle", 3, name).toInt)

      // embedding-cosine near-dup (hyperplane LSH buckets + exact verify).
      // weighted: exact-duplicate VECTOR classes collapse first (x90's
      // pattern with the vector fingerprint as the class key)
      case "dedup_embcos" =>
        knownArgs("id", "column", "threshold", "bands", "action", "score",
          "weighted")
        val id = column(df, args, "id", name)
        val vecC = vectorColumn(df, args, "column", name)
        val ecThr = doubleArg(args, "threshold", name)
        val ecBands = intArg(args, "bands", 8, name).toInt
        if (boolArg(args, "weighted", default = false, name)) {
          if (args.contains("score"))
            Errors.malformed(
              s"xop '$name': 'score' (keep_best) is not available weighted — " +
                "representatives are fixed to the lowest class member")
          val wPairs = Similarity.cosineNearDupPairsWeighted(df, id, vecC,
            ecThr, ecBands)
          args.get("action") match {
            case None | Some("pairs") => wPairs
            case Some("drop") =>
              Dedup.dropNearDuplicates(
                Similarity.exactByVecWeighted(df, vecC, id).drop("mult"),
                wPairs, id)
            case Some(other) =>
              Errors.malformed(s"xop '$name': unknown weighted action", other)
          }
        } else
          pairsOrDrop(df, Similarity.cosineNearDupPairs(df, id, vecC,
            ecThr, ecBands), id, args, name)

      // SemDeDup: cluster-then-dedup — near-dup candidates only WITHIN a
      // centroid cluster (explicit 'centroids', a persisted 'index', or a
      // k/iters quantizer build over this frame). action as in the other
      // near-dup ops; 'drop' keeps the assigned cluster column.
      case "semantic_dedup" =>
        knownArgs("id", "column", "k", "iters", "threshold", "bands",
          "centroids", "index", "action", "score")
        if (args.contains("centroids") && args.contains("index"))
          Errors.malformed(
            s"xop '$name': 'centroids' and 'index' are mutually exclusive")
        val id = column(df, args, "id", name)
        val vec = vectorColumn(df, args, "column", name)
        val threshold = doubleArg(args, "threshold", name)
        val bands = intArg(args, "bands", 8, name).toInt
        val cents: Seq[Seq[Double]] =
          if (args.contains("index")) {
            if (args.contains("k") || args.contains("iters"))
              Errors.malformed(
                s"xop '$name': 'index' excludes 'k'/'iters' (no build runs)")
            loadArtifact(df, args("index"), name)(graft.ops.IvfIndex.load)
          } else args.get("centroids") match {
            case Some(raw) =>
              if (args.contains("k") || args.contains("iters"))
                Errors.malformed(
                  s"xop '$name': 'centroids' excludes 'k'/'iters' (no build runs)")
              parseCentroids(raw, name)
            case None =>
              val k = intArg(args, "k", 16, name).toInt
              if (k <= 0) Errors.malformed(s"xop '$name': k must be positive")
              val iters = intArg(args, "iters", 3, name).toInt
              if (iters < 0) Errors.malformed(s"xop '$name': iters must be >= 0")
              Similarity.buildQuantizer(df, id, vec, k, iters)
          }
        args.get("action") match {
          case Some("drop") =>
            // pairsOrDrop's score validation doesn't run on this branch
            // (drop here keeps the cluster column via semanticDedup, not
            // the shared anti-join) — enforce the same strictness
            if (args.contains("score"))
              Errors.malformed(
                s"xop '$name': 'score' is only valid with action 'keep_best'")
            Similarity.semanticDedup(df, id, vec, cents, threshold, bands)
          case _ =>
            pairsOrDrop(df,
              Similarity.semanticDedupPairs(df, id, vec, cents, threshold, bands),
              id, args, name)
        }

      // connected components over a pair relation (label propagation);
      // runs on a pairs-shaped frame (id_a, id_b by default)
      case "dedup_clusters" =>
        knownArgs("src", "dst")
        val src = args.get("src").map(_ => column(df, args, "src", name)).getOrElse {
          if (!ExprCompiler.hasColumn(df, "id_a"))
            Errors.malformed(s"xop '$name': frame has no id_a — pass 'src'")
          "id_a"
        }
        val dst = args.get("dst").map(_ => column(df, args, "dst", name)).getOrElse {
          if (!ExprCompiler.hasColumn(df, "id_b"))
            Errors.malformed(s"xop '$name': frame has no id_b — pass 'dst'")
          "id_b"
        }
        Dedup.duplicateClusters(
          df.select(col(src).as("id_a"), col(dst).as("id_b")))

      // duplicate-family size spectrum over a labeled cluster relation
      // (dedup_clusters' output shape): how big the families are, and
      // how many docs each family size holds
      case "cluster_spectrum" =>
        knownArgs("cluster")
        val clCol = args.get("cluster")
          .map(_ => column(df, args, "cluster", name)).getOrElse {
            if (!ExprCompiler.hasColumn(df, "cluster"))
              Errors.malformed(
                s"xop '$name': frame has no cluster — pass 'cluster'")
            "cluster"
          }
        Dedup.clusterSpectrum(df.select(col(clCol).as("cluster")))

      // ---- text / embedding features ----

      // word-repetition features (dup-word fraction, top-bigram share)
      case "text_repetition" =>
        knownArgs("id", "column")
        TextOps.repetitionFeatures(df, column(df, args, "id", name),
          column(df, args, "column", name))

      // int8 embedding quantization with per-row scale
      case "emb_quantize" =>
        knownArgs("id", "column")
        Embeddings.quantizeInt8(df, column(df, args, "id", name),
          vectorColumn(df, args, "column", name))

      // class-conditional outliers: k farthest-from-centroid per label
      case "emb_outliers" =>
        knownArgs("id", "column", "label", "k")
        Embeddings.labelOutliers(df, column(df, args, "id", name),
          vectorColumn(df, args, "column", name), column(df, args, "label", name),
          intArg(args, "k", 10, name).toInt)

      // ---- sampling / packing ----

      // hash-ordered per-source token budget (two-level prefix sum)
      case "sample_tokens" =>
        knownArgs("id", "source", "tokens", "budget")
        val budget = intArg(args, "budget", -1, name)
        if (budget <= 0)
          Errors.malformed(s"xop '$name': missing required argument 'budget'")
        Sampling.tokenBudgetByHash(df, integralIdColumn(df, args, "id", name),
          column(df, args, "source", name),
          col(numericColumn(df, args, "tokens", name)), budget)

      // quality-ranked token budget: best rows first (priority DESC,
      // id) until the running token total passes the budget —
      // boundary-band decomposition, never a global window. With
      // 'source' + 'budgets' the selection runs per source (each corpus
      // takes its own best docs under its own budget)
      case "budget_select" =>
        knownArgs("id", "priority", "tokens", "budget", "source", "budgets",
          "default_budget")
        // integral like every other id-keyed sampler: budgetSelect
        // id-div-shards the tie group, and its own guard throws
        // IllegalArgumentException (a 500) — pre-check here so a bad id
        // 400s like split/sample_fraction/token_budget do
        val bsId = integralIdColumn(df, args, "id", name)
        val bsPrio = numericColumn(df, args, "priority", name)
        val bsTok = col(numericColumn(df, args, "tokens", name))
        if (args.contains("source") || args.contains("budgets") ||
            args.contains("default_budget")) {
          if (args.contains("budget"))
            Errors.malformed(
              s"xop '$name': 'budget' is the global form — per-source " +
                "budgets go in 'budgets'")
          val bsBudgets = args.get("budgets") match {
            case Some(w: Map[_, _]) =>
              w.asInstanceOf[Map[String, Any]].map {
                case (k, v: Long) if v >= 0 => k -> v
                case (k, v) => Errors.malformed(
                  s"xop '$name': budgets must be non-negative integers",
                  s"$k: $v")
              }.toMap
            case Some(other) =>
              Errors.malformed(s"xop '$name': 'budgets' must be an object", other)
            case None => Errors.malformed(
              s"xop '$name': per-source form requires 'budgets'")
          }
          val bsDefault = intArg(args, "default_budget", 0L, name)
          if (bsDefault < 0)
            Errors.malformed(s"xop '$name': default_budget must be >= 0")
          Sampling.budgetSelectBySource(df, bsId,
            column(df, args, "source", name), bsPrio, bsTok, bsBudgets,
            bsDefault)
        } else {
          val bsBudget = intArg(args, "budget", -1, name)
          if (bsBudget < 0)
            Errors.malformed(s"xop '$name': missing required argument 'budget'")
          Sampling.budgetSelect(df, bsId, bsPrio, bsTok, bsBudget)
        }

      // greedy sequence packing into fixed token bins (prefix sum)
      case "seq_pack" =>
        knownArgs("order", "tokens", "budget")
        val budget = intArg(args, "budget", -1, name)
        if (budget <= 0)
          Errors.malformed(s"xop '$name': missing required argument 'budget'")
        Packing.packSequences(df, numericColumn(df, args, "order", name),
          numericColumn(df, args, "tokens", name), budget)

      // ---- ANN: corpus = this frame, queries named or inline ----

      case "ann_brute" | "ann_lsh" | "ann_ivf" =>
        knownArgs("id", "column", "k", "queries", "query_vectors",
          "bands", "cells", "probe", "index")
        val id = column(df, args, "id", name)
        val vec = vectorColumn(df, args, "column", name)
        val k = intArg(args, "k", 10, name).toInt
        val queries = annQueries(id, vec)
        name match {
          case "ann_brute" => Similarity.bruteForceTopK(df, queries, id, vec, k)
          case "ann_lsh" => Similarity.lshTopK(df, queries, id, vec, k,
            bands = intArg(args, "bands", 8, name).toInt)
          case _ => args.get("index") match {
            case Some(raw) =>
              // persisted-quantizer path: 'cells' describes the build
              // (baked into the artifact) and is meaningless here;
              // 'probe' still applies to the loaded centroids
              if (args.contains("cells"))
                Errors.malformed(
                  s"xop '$name': 'index' excludes 'cells' (the artifact fixes the quantizer)")
              Similarity.ivfTopKWith(df, queries, id, vec, k,
                loadArtifact(df, raw, name)(graft.ops.IvfIndex.load),
                nProbe = intArg(args, "probe", 4, name).toInt)
            case None => Similarity.ivfTopK(df, queries, id, vec, k,
              nCells = intArg(args, "cells", 64, name).toInt,
              nProbe = intArg(args, "probe", 4, name).toInt)
          }
        }

      // ---- events ----

      // cohort retention triangle over the event frame: daily (or any
      // period) cohorts by first activity, cells of re-active users
      case "retention" =>
        knownArgs("period_seconds", "max_offset")
        for (c <- Seq("user_id", "ts") if !ExprCompiler.hasColumn(df, c))
          Errors.malformed(s"xop '$name': frame has no '$c' column")
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.TimestampType => ()
          case org.apache.spark.sql.types.TimestampNTZType => ()
          case other =>
            Errors.malformed(s"xop '$name': 'ts' must be a timestamp", other)
        }
        val rPeriod = intArg(args, "period_seconds", 86400, name)
        if (rPeriod <= 0)
          Errors.malformed(s"xop '$name': period_seconds must be positive")
        val rOffset = intArg(args, "max_offset", 30, name).toInt
        if (rOffset < 0)
          Errors.malformed(s"xop '$name': max_offset must be >= 0")
        graft.streaming.EventStreams.retention(df, rPeriod, rOffset)

      // event-rate anomaly monitoring: per-(window, type) z vs the
      // trailing windows, empty windows spine-filled
      case "rate_anomaly" =>
        knownArgs("window", "trailing", "z")
        for (c <- Seq("event_type", "ts") if !ExprCompiler.hasColumn(df, c))
          Errors.malformed(s"xop '$name': frame has no '$c' column")
        df.schema("ts").dataType match {
          case org.apache.spark.sql.types.TimestampType => ()
          case org.apache.spark.sql.types.TimestampNTZType => ()
          case other =>
            Errors.malformed(s"xop '$name': 'ts' must be a timestamp", other)
        }
        val raWin = args.get("window")
          .map(_ => reqStr(args, "window", name)).getOrElse("1 minute")
        if (!raWin.matches("\\d+ (second|minute|hour|day)s?"))
          Errors.malformed(s"xop '$name': window must look like '5 minutes'", raWin)
        val raTrail = intArg(args, "trailing", 5, name).toInt
        if (raTrail < 2)
          Errors.malformed(s"xop '$name': trailing must be >= 2")
        val raZ = doubleArgOpt(args, "z", 3.0, name)
        if (raZ.isNaN || raZ.isInfinite || raZ <= 0)
          Errors.malformed(s"xop '$name': z must be a positive finite number")
        graft.streaming.EventStreams.rateAnomaly(df, raWin, raTrail, raZ)

      // gap-based sessionization, batch form (user_id/ts/value shape)
      case "sessionize" =>
        knownArgs("gap_seconds", "granule", "strategy")
        for (c <- Seq("user_id", "ts", "value") if !ExprCompiler.hasColumn(df, c))
          Errors.malformed(s"xop '$name': frame has no '$c' column")
        // the gap math casts ts to long — a string ts would ANSI-crash
        // per row at runtime (500) instead of 400ing here (NTZ timestamps
        // are fine: sessionizeBatch unifies them on the session zone)
        df.schema("ts").dataType match {
          case _: org.apache.spark.sql.types.NumericType => ()
          case org.apache.spark.sql.types.TimestampType => ()
          case org.apache.spark.sql.types.TimestampNTZType => ()
          case other =>
            Errors.malformed(s"xop '$name': 'ts' must be numeric or timestamp", other)
        }
        // optional segment width in seconds (see sessionizeBatch: any
        // value is correct, absent = derived from the span, gap-floored)
        val sessGranule = args.get("granule").map { _ =>
          val w = intArg(args, "granule", 0, name)
          if (w <= 0)
            Errors.malformed(s"xop '$name': 'granule' must be a positive integer")
          w
        }
        val sessGap = intArg(args, "gap_seconds", 1800, name)
        args.get("strategy") match {
          // absent = AUTO (Joins.carryGranule, shared with asof):
          // segmented with a granule, or above the row gate unless a key
          // sample proves the user ids uniform; otherwise the one-window
          // carry. 'segmented' segments at every size
          case None =>
            EventStreams.sessionizeBatch(df, sessGap, sessGranule)
          case Some("segmented") =>
            EventStreams.sessionizeBatch(df, sessGap, sessGranule, "segmented")
          case Some("native") =>
            // the native session_window strategy has no granule knob
            // (its map-side merge is layout-driven, not time-bucketed)
            if (sessGranule.isDefined)
              Errors.malformed(
                s"xop '$name': 'granule' is invalid with strategy 'native'")
            if (sessGap <= 0)
              Errors.malformed(
                s"xop '$name': 'gap_seconds' must be positive for strategy 'native'")
            if (sessGap > EventStreams.MaxIntervalSeconds)
              Errors.malformed(
                s"xop '$name': 'gap_seconds' exceeds the representable range " +
                  s"(${EventStreams.MaxIntervalSeconds} seconds)")
            // native session_window needs a real timestamp column
            df.schema("ts").dataType match {
              case org.apache.spark.sql.types.TimestampType
                 | org.apache.spark.sql.types.TimestampNTZType => ()
              case other => Errors.malformed(
                s"xop '$name': strategy 'native' needs a timestamp 'ts'", other)
            }
            EventStreams.sessionizeNative(df, sessGap)
          case Some("window") =>
            // the classic one-window-per-user form: one exchange, no
            // carry machinery — the cheaper plan for UNIFORM session
            // keys; a hot key funnels its whole history through one
            // partition (see sessionizeWindowed)
            if (sessGranule.isDefined)
              Errors.malformed(
                s"xop '$name': 'granule' is invalid with strategy 'window'")
            EventStreams.sessionizeWindowed(df, sessGap)
          case Some(other) =>
            Errors.malformed(
              s"xop '$name': strategy must be 'segmented', 'native', or 'window'",
              other)
        }

      // ordered funnel: earliest strictly-increasing completion of the
      // step sequence per key (EventStreams.funnel — greedy-earliest,
      // maximal depth for an unbounded funnel; time-box by filtering
      // the frame first)
      case "funnel" =>
        knownArgs("key", "steps")
        val key = column(df, args, "key", name)
        for (c <- Seq("event_type", "ts") if !ExprCompiler.hasColumn(df, c))
          Errors.malformed(s"xop '$name': frame has no '$c' column")
        val steps: Seq[String] = args.get("steps") match {
          case Some(l: List[Any] @unchecked) if l.nonEmpty => l.map {
            case s: String => s
            case other =>
              Errors.malformed(s"xop '$name': steps must be strings", other)
          }
          case Some(other) => Errors.malformed(
            s"xop '$name': 'steps' must be a non-empty list of event types", other)
          case None => Errors.malformed(
            s"xop '$name': missing required argument 'steps'")
        }
        if (steps.size > 16)
          Errors.malformed(s"xop '$name': at most 16 steps")
        EventStreams.funnel(df.drop(RowId), key, steps)

      // semi-structured props parse + per-type rollup
      case "props_rollup" =>
        knownArgs()
        for (c <- Seq("event_type", "value", "props") if !ExprCompiler.hasColumn(df, c))
          Errors.malformed(s"xop '$name': frame has no '$c' column")
        EventStreams.propsRollup(df)

      // ---- multimodal ----

      // wrap a text table as binary assets (id, media_type, payload, meta)
      case "mm_assets" =>
        knownArgs("id", "column")
        Multimodal.assetsFromText(df, column(df, args, "id", name),
          column(df, args, "column", name))

      // real header decode over asset payloads: PNG/GIF/JPEG format +
      // pixel dimensions from the published header layouts
      case "mm_meta" =>
        knownArgs()
        for (c <- Seq("asset_id", "media_type", "payload")
             if !ExprCompiler.hasColumn(df, c))
          Errors.malformed(s"xop '$name': frame has no '$c' column")
        Multimodal.decodeMeta(df)

      // strided chunk sampling over asset payloads (frame-sampling shape)
      case "mm_chunks" =>
        knownArgs("chunk_size", "stride")
        for (c <- Seq("asset_id", "payload") if !ExprCompiler.hasColumn(df, c))
          Errors.malformed(s"xop '$name': frame has no '$c' column")
        Multimodal.sampleChunks(df,
          intArg(args, "chunk_size", 64, name).toInt,
          intArg(args, "stride", 4, name).toInt)

      // ---- two-dataset operators (resolver-named second relation) ----

      // benchmark decontamination vs a stored eval set: flag overlapping
      // docs ('flag') or emit the clean training set ('drop', default).
      // With 'index', a persisted DecontIndex serves the eval side (the
      // per-run gram derivation over the eval corpus is skipped; sketch
      // pre-filter + exact rescue join keep the result exact) — 'eval'
      // is then not consulted and must be omitted; 'verify_index'
      // recomputes the gram fingerprint against 'eval' for the strong
      // staleness guarantee (one eval-corpus pass, so opt-in)
      case "decontaminate" =>
        knownArgs("id", "column", "eval", "eval_column", "n", "action",
          "index", "verify_index")
        val id = column(df, args, "id", name)
        val textCol = column(df, args, "column", name)
        args.get("index") match {
          case Some(raw) =>
            if (args.contains("n"))
              Errors.malformed(
                s"xop '$name': the index fixes 'n' — drop the argument")
            val art = loadArtifact(df, raw, name)(graft.ops.DecontIndex.load)
            if (boolArg(args, "verify_index", default = false, name)) {
              val evalDf0 = dataset("eval")
              val evalCol = args.get("eval_column")
                .map(_ => reqStr(args, "eval_column", name)).getOrElse(textCol)
              if (!ExprCompiler.hasColumn(evalDf0, evalCol))
                Errors.malformed(
                  s"xop '$name': eval dataset has no column", evalCol)
              try graft.ops.DecontIndex.verifyContent(art,
                "decontamination index",
                evalDf0.withColumnRenamed(evalCol, textCol), textCol)
              catch { case e: IllegalArgumentException =>
                Errors.malformed(s"xop '$name': ${e.getMessage}") }
            } else if (args.contains("eval"))
              Errors.malformed(
                s"xop '$name': 'eval' with 'index' is ambiguous — the " +
                  "index IS the eval side; drop 'eval', or add " +
                  "'verify_index' to check the index against it")
            args.get("action") match {
              case Some("flag") =>
                Decontaminate.contaminatedWith(df, id, textCol, art)
              case None | Some("drop") =>
                Decontaminate.decontaminateWith(df, id, textCol, art)
              case Some("scrub") => Errors.malformed(
                s"xop '$name': action 'scrub' is not index-served — the " +
                  "positional rewrite needs the eval relation; drop 'index'")
              case Some(other) =>
                Errors.malformed(
                  s"xop '$name': action must be 'flag', 'drop' or 'scrub'",
                  other)
            }
          case None =>
            if (args.contains("verify_index"))
              Errors.malformed(
                s"xop '$name': 'verify_index' requires 'index' " +
                  "(the inline eval side is fresh by construction)")
            val evalDf0 = dataset("eval")
            val evalCol = args.get("eval_column")
              .map(_ => reqStr(args, "eval_column", name)).getOrElse(textCol)
            if (!ExprCompiler.hasColumn(evalDf0, evalCol))
              Errors.malformed(s"xop '$name': eval dataset has no column", evalCol)
            val evalDf = evalDf0.withColumnRenamed(evalCol, textCol)
            val n = intArg(args, "n", 8, name).toInt
            args.get("action") match {
              case Some("flag") => Decontaminate.contaminated(df, evalDf, id, textCol, n)
              case Some("scrub") =>
                Decontaminate.scrubContaminated(df, evalDf, id, textCol, n)
              case None | Some("drop") => Decontaminate.decontaminate(df, evalDf, id, textCol, n)
              case Some(other) =>
                Errors.malformed(
                  s"xop '$name': action must be 'flag', 'drop' or 'scrub'", other)
            }
        }

      // char-entropy quality signal appended as `entropy` (codegen kernel)
      case "char_entropy" =>
        knownArgs("column")
        val c = column(df, args, "column", name)
        if (df.schema(c).dataType != org.apache.spark.sql.types.StringType)
          Errors.malformed(s"xop '$name': 'column' must be a string column", c)
        df.withColumn("entropy", TextOps.charEntropy(col(c)))

      // per-group quantiles of a numeric column, long-form output
      // (approx=true → approx_percentile sketch, bounded group memory)
      case "quantiles" =>
        knownArgs("group", "column", "qs", "approx")
        val qs = args.get("qs") match {
          case None => Seq(0.25, 0.5, 0.75, 0.9, 0.99)
          case Some(l: List[Any] @unchecked) => l.map {
            case d: Double => d
            case n: Long => n.toDouble
            case other =>
              Errors.malformed(s"xop '$name': quantiles must be numbers", other)
          }
          case Some(other) =>
            Errors.malformed(s"xop '$name': 'qs' must be a list", other)
        }
        if (qs.isEmpty || qs.exists(q => q < 0 || q > 1))
          Errors.malformed(s"xop '$name': quantiles must be in [0,1]")
        Profile.groupQuantiles(df, column(df, args, "group", name),
          numericColumn(df, args, "column", name), qs,
          boolArg(args, "approx", default = false, name))

      // PII scrub: redact emails/phones/IPv4 and count each kind
      case "pii_redact" =>
        knownArgs("column")
        TextOps.redactPii(df, column(df, args, "column", name))

      // deterministic weighted sample without replacement
      // (Efraimidis-Spirakis keys from the id hash)
      case "sample_weighted" =>
        knownArgs("id", "weight", "k")
        val k = intArg(args, "k", 100, name).toInt
        if (k <= 0) Errors.malformed(s"xop '$name': k must be positive")
        Sampling.weightedByHash(df, integralIdColumn(df, args, "id", name),
          numericColumn(df, args, "weight", name), k)

      // keep the k best rows per group by a score column
      case "sample_topk" =>
        knownArgs("group", "id", "score", "k")
        Sampling.topKByScore(df, column(df, args, "group", name),
          column(df, args, "id", name), numericColumn(df, args, "score", name),
          intArg(args, "k", 10, name).toInt)

      // as-of join: latest right row at or before each left row's time,
      // per key; the right side is another stored dataset
      case "asof" =>
        knownArgs("right", "key", "time", "payload", "granule", "strategy")
        val rightDf = dataset("right")
        val key = column(df, args, "key", name)
        val time = column(df, args, "time", name)
        for (c <- Seq(key, time) if !ExprCompiler.hasColumn(rightDf, c))
          Errors.malformed(s"xop '$name': right dataset has no column", c)
        val payload = args.get("payload") match {
          case Some(l: List[Any] @unchecked) => l.map {
            case s: String => s
            case other =>
              Errors.malformed(s"xop '$name': payload entries must be column names", other)
          }
          case Some(s: String) => List(s)
          case Some(other) =>
            Errors.malformed(s"xop '$name': payload must be a column list", other)
          case None => Errors.malformed(s"xop '$name': missing required argument 'payload'")
        }
        for (c <- payload if !ExprCompiler.hasColumn(rightDf, c))
          Errors.malformed(s"xop '$name': right dataset has no column", c)
        // optional: a segment width in the time column's EMBEDDED units
        // (integers: their own units; timestamps: epoch MICROS — see
        // Joins.timeEmbedding); when absent the operator auto-derives one
        // (~4096 segments over the observed span) with a min/max pre-pass
        val asofGranule = args.get("granule").map { _ =>
          val w = intArg(args, "granule", 0, name)
          if (w <= 0)
            Errors.malformed(s"xop '$name': 'granule' must be a positive integer")
          w
        }
        // the strategy rule shared with sessionize (Joins.carryGranule):
        // "segmented" always segments, "window" pins the one-window carry
        // (rejected with a granule — the two contradict), default "auto"
        // segments with a granule, or above the row gate unless a key
        // sample proves the keys uniform
        val asofStrategy = args.get("strategy") match {
          case None => "auto"
          case Some(s: String) if Set("auto", "window", "segmented")(s) =>
            if (s == "window" && asofGranule.nonEmpty)
              Errors.malformed(
                s"xop '$name': 'granule' contradicts strategy=window")
            s
          case Some(other) => Errors.malformed(
            s"xop '$name': 'strategy' must be auto, window or segmented", other)
        }
        graft.ops.Joins.asOfJoin(df.drop(RowId), rightDf.drop(RowId), key, time,
          payload, asofGranule, asofStrategy)

      // incremental exact dedup: drop rows whose content fingerprint
      // already exists in a stored corpus dataset
      case "dedup_against" =>
        knownArgs("column", "corpus", "corpus_column")
        val textCol = column(df, args, "column", name)
        val corpus = dataset("corpus")
        val cc = args.get("corpus_column")
          .map(_ => reqStr(args, "corpus_column", name)).getOrElse(textCol)
        if (!ExprCompiler.hasColumn(corpus, cc))
          Errors.malformed(s"xop '$name': corpus dataset has no column", cc)
        Dedup.dedupAgainst(df, textCol, corpus, cc)

      // corpus version diff vs a stored OLD version: per-id
      // added/removed/changed/unchanged off 16-byte fingerprints and one
      // full-outer id join — the report that says when dedup/exclusion
      // artifacts need rebuilding
      case "corpus_diff" =>
        knownArgs("id", "column", "old", "old_id", "old_column")
        val dId = column(df, args, "id", name)
        val dText = column(df, args, "column", name)
        val old = dataset("old")
        val oid = args.get("old_id")
          .map(_ => reqStr(args, "old_id", name)).getOrElse(dId)
        val ocol = args.get("old_column")
          .map(_ => reqStr(args, "old_column", name)).getOrElse(dText)
        for (cn <- Seq(oid, ocol) if !ExprCompiler.hasColumn(old, cn))
          Errors.malformed(s"xop '$name': old dataset has no column", cn)
        Dedup.corpusDiff(old, oid, ocol, df, dId, dText)

      // source-mix drift (PSI) vs a stored base version: per-value
      // shares + psi contribution, full-outer over the two tiny
      // per-value aggregates
      case "mix_drift" =>
        knownArgs("column", "base", "base_column")
        val mdCol = column(df, args, "column", name)
        val mdBase = dataset("base")
        val mdBaseCol = args.get("base_column")
          .map(_ => reqStr(args, "base_column", name)).getOrElse(mdCol)
        if (!ExprCompiler.hasColumn(mdBase, mdBaseCol))
          Errors.malformed(s"xop '$name': base dataset has no column", mdBaseCol)
        Profile.mixDrift(mdBase.select(col(mdBaseCol).as(mdCol)), df, mdCol)

      // incremental NEAR-dup vs a stored corpus: MinHash banding over the
      // union of both sides, cross-side pairs only. With 'index', a
      // persisted MinHashIndex serves the corpus's signatures (corpus
      // text is never read); 'corpus' is then only admitted alongside
      // 'verify_index' for the strong content check.
      case "minhash_against" =>
        knownArgs("id", "column", "corpus", "corpus_id", "corpus_column",
          "num_hashes", "bands", "threshold", "shingle", "action",
          "index", "verify_index")
        val id = column(df, args, "id", name)
        val textCol = column(df, args, "column", name)
        val nb = intArg(args, "bands", 16, name).toInt
        if (nb <= 0) Errors.malformed(s"xop '$name': bands must be positive")
        val thr = doubleArgOpt(args, "threshold", 0.7, name)
        val action = args.get("action") match {
          case None | Some("pairs") => "pairs"
          case Some("drop") => "drop"
          case Some(other) =>
            Errors.malformed(s"xop '$name': action must be 'pairs' or 'drop'", other)
        }
        args.get("index") match {
          case Some(raw) =>
            // the artifact fixes the signature parameters — a mismatched
            // batch side would produce silently incomparable signatures,
            // so explicit values are rejected rather than ignored
            for (fixed <- Seq("num_hashes", "shingle") if args.contains(fixed))
              Errors.malformed(
                s"xop '$name': 'index' excludes '$fixed' (the artifact fixes " +
                  "the signature parameters)")
            val art = loadArtifact(df, raw, name)(graft.ops.MinHashIndex.load)
            if (art.numHashes % nb != 0)
              Errors.malformed(
                s"xop '$name': bands must divide the index's num_hashes=${art.numHashes}")
            if (boolArg(args, "verify_index", default = false, name)) {
              // STRONG opt-in staleness check — needs the current corpus
              // to recompute the content fingerprint against
              val corpus = dataset("corpus")
              val cid = args.get("corpus_id")
                .map(_ => reqStr(args, "corpus_id", name)).getOrElse(id)
              val ccol = args.get("corpus_column")
                .map(_ => reqStr(args, "corpus_column", name)).getOrElse(textCol)
              for (c <- Seq(cid, ccol) if !ExprCompiler.hasColumn(corpus, c))
                Errors.malformed(s"xop '$name': corpus dataset has no column", c)
              // FREE identity tripwires first (schema-only)
              if (art.idCol != cid)
                Errors.malformed(
                  s"xop '$name': minhash index was built over column '${art.idCol}', " +
                    s"this query verifies against '$cid' — fix 'corpus_id' or rebuild")
              val now = corpus.schema(cid).dataType.catalogString
              if (art.idType != now)
                Errors.malformed(
                  s"xop '$name': minhash index was built over ${art.idType} ids, " +
                    s"corpus column '$cid' is $now — rebuild the artifact")
              try graft.ops.MinHashIndex.verifyContent(art, "minhash index",
                corpus, cid, ccol)
              catch { case e: IllegalArgumentException =>
                Errors.malformed(s"xop '$name': ${e.getMessage}") }
            } else if (args.contains("corpus") || args.contains("corpus_id") ||
                args.contains("corpus_column"))
              Errors.malformed(
                s"xop '$name': 'corpus' with 'index' requires 'verify_index' " +
                  "(the probe reads signatures, not corpus text)")
            if (action == "pairs")
              Dedup.minhashPairsAgainstIndex(df, id, textCol, art, nb, thr)
            else
              Dedup.dropNearDuplicatesAgainstIndex(df, id, textCol, art, nb, thr)
          case None =>
            if (args.contains("verify_index"))
              Errors.malformed(
                s"xop '$name': 'verify_index' requires 'index' " +
                  "(the inline corpus side is fresh by construction)")
            val corpus = dataset("corpus")
            val cid = args.get("corpus_id")
              .map(_ => reqStr(args, "corpus_id", name)).getOrElse(id)
            val ccol = args.get("corpus_column")
              .map(_ => reqStr(args, "corpus_column", name)).getOrElse(textCol)
            for (c <- Seq(cid, ccol) if !ExprCompiler.hasColumn(corpus, c))
              Errors.malformed(s"xop '$name': corpus dataset has no column", c)
            val nh = intArg(args, "num_hashes", 64, name).toInt
            if (nh <= 0 || nh % nb != 0)
              Errors.malformed(s"xop '$name': bands must divide num_hashes")
            val sh = intArg(args, "shingle", 3, name).toInt
            if (sh <= 0) Errors.malformed(s"xop '$name': shingle must be positive")
            if (action == "pairs")
              Dedup.minhashPairsAgainst(df, id, textCol, corpus, cid, ccol,
                nh, nb, thr, sh)
            else
              Dedup.dropNearDuplicatesAgainst(df, id, textCol, corpus, cid, ccol,
                nh, nb, thr, sh)
        }

      // bring a persisted MinHash signature index up to date with THIS
      // dataset (the current corpus version): re-signatures only the
      // drifted rows, anti-joins departures, delta-updates the manifest
      // count and content fingerprint, and returns a one-row refresh
      // report. The write side-effect makes this an ops clause (like
      // store), flowing through the same result pipeline; a drift-free
      // corpus is a no-op and reports changed=false.
      case "index_update" =>
        knownArgs("id", "column", "index", "force")
        val id = column(df, args, "id", name)
        val textCol = column(df, args, "column", name)
        val raw = args.getOrElse("index",
          Errors.malformed(s"xop '$name': 'index' is required (the artifact to refresh)"))
        val path = indexPath(df, raw, name)
        val before = loadArtifact(df, raw, name)(graft.ops.MinHashIndex.load)
        val art =
          try graft.ops.MinHashIndex.update(df.sparkSession, path, df, id, textCol)
          catch {
            case e: IllegalArgumentException =>
              Errors.malformed(s"xop '$name': ${e.getMessage}")
          }
        import df.sparkSession.implicits._
        Seq((before.nDocs, art.nDocs, art.contentFingerprint,
          art.contentFingerprint != before.contentFingerprint))
          .toDF("n_docs_before", "n_docs", "fingerprint", "changed")

      // incremental bloom-ledger maintenance: the query frame is the
      // ADDED id rows; departures come as a resolver-named dataset
      // (bits stay set — safe over-probing, see BloomIndex.update)
      case "bloom_update" =>
        knownArgs("id", "index", "removed", "removed_id", "max_fpp_factor", "force")
        val id = column(df, args, "id", name)
        val raw = args.getOrElse("index",
          Errors.malformed(s"xop '$name': 'index' is required (the artifact to refresh)"))
        val path = indexPath(df, raw, name)
        val before = loadArtifact(df, raw, name)(graft.ops.BloomIndex.loadWithMeta)
        val removed = args.get("removed").map { _ =>
          val rdf = dataset("removed")
          val rid = args.get("removed_id")
            .map(_ => reqStr(args, "removed_id", name)).getOrElse(id)
          if (!ExprCompiler.hasColumn(rdf, rid))
            Errors.malformed(s"xop '$name': removed dataset has no column", rid)
          (rdf, rid)
        }
        if (args.contains("removed_id") && !args.contains("removed"))
          Errors.malformed(s"xop '$name': 'removed_id' requires 'removed'")
        val factor = doubleArgOpt(args, "max_fpp_factor", 4.0, name)
        if (factor <= 0)
          Errors.malformed(s"xop '$name': max_fpp_factor must be positive")
        val art =
          try graft.ops.BloomIndex.update(df.sparkSession, path, df, id,
            removed, maxFppFactor = factor)
          catch {
            case e: IllegalArgumentException =>
              Errors.malformed(s"xop '$name': ${e.getMessage}")
          }
        import df.sparkSession.implicits._
        Seq((before.nIds, art.nIds, art.nInserted, art.contentFingerprint,
          art.contentFingerprint != before.contentFingerprint))
          .toDF("n_ids_before", "n_ids", "n_inserted", "fingerprint", "changed")

      // incremental vocabulary maintenance: the query frame is the
      // APPENDED document batch, merged into a capacity-built
      // VocabIndex via the mergeable-summaries algebra (O(delta) work;
      // whole-ingest removals go through vocab_remove_slab, arbitrary
      // row removals still need a rebuild — see VocabIndex.update)
      case "vocab_update" =>
        knownArgs("column", "index", "force", "max_slabs")
        val textCol = column(df, args, "column", name)
        val raw = args.getOrElse("index",
          Errors.malformed(s"xop '$name': 'index' is required (the artifact to refresh)"))
        val path = indexPath(df, raw, name)
        // registry bound for auto-compaction (VocabIndex.update's
        // self-maintenance); 0 disables, absent = the documented default
        val vuMaxSlabs =
          intArg(args, "max_slabs", graft.ops.VocabIndex.DefaultMaxSlabs, name)
        if (vuMaxSlabs < 0 || vuMaxSlabs > Int.MaxValue)
          Errors.malformed(s"xop '$name': 'max_slabs' must be >= 0", vuMaxSlabs)
        val before = loadArtifact(df, raw, name)(graft.ops.VocabIndex.load)
        val art =
          try graft.ops.VocabIndex.update(df.sparkSession, path, df, textCol,
            vuMaxSlabs.toInt)
          catch {
            case e: IllegalArgumentException =>
              Errors.malformed(s"xop '$name': ${e.getMessage}")
          }
        import df.sparkSession.implicits._
        Seq((before.nDocs, art.nDocs, art.nTokens, art.theta.getOrElse(-1L),
          art.contentFingerprint,
          art.contentFingerprint != before.contentFingerprint))
          .toDF("n_docs_before", "n_docs", "n_tokens", "theta",
            "fingerprint", "changed")

      // slab-granular vocabulary removal: drop one recorded ingest
      // slab and re-merge the survivors' stored summaries — the
      // refresh-with-deletions path, no corpus rescan (the query frame
      // is not consumed; the artifact's own slab store is the input)
      case "vocab_remove_slab" =>
        knownArgs("index", "slab", "force")
        val raw = args.getOrElse("index",
          Errors.malformed(s"xop '$name': 'index' is required (the artifact to refresh)"))
        val path = indexPath(df, raw, name)
        val slab = intArg(args, "slab", -1L, name)
        if (slab < 0)
          Errors.malformed(s"xop '$name': 'slab' is required (a recorded slab id)")
        val before = loadArtifact(df, raw, name)(graft.ops.VocabIndex.load)
        val art =
          try graft.ops.VocabIndex.removeSlab(df.sparkSession, path, slab)
          catch {
            case e: IllegalArgumentException =>
              Errors.malformed(s"xop '$name': ${e.getMessage}")
          }
        import df.sparkSession.implicits._
        Seq((before.nDocs, art.nDocs, art.nTokens, art.theta.getOrElse(-1L),
          art.slabs.map(_.length.toLong).getOrElse(-1L),
          art.contentFingerprint))
          .toDF("n_docs_before", "n_docs", "n_tokens", "theta",
            "n_slabs", "fingerprint")

      // slab-registry compaction: fold all but the newest keep_last
      // ingest slabs into one epoch slab, bounding removeSlab's
      // re-merge fan-in and the manifest (which otherwise grow one
      // entry per update forever). History reorganization only — the
      // served vocabulary, summary, and manifest totals are untouched;
      // compacted ingests can no longer be removed at slab granularity
      // (rejected by name with the rebuild instruction)
      case "vocab_compact" =>
        knownArgs("index", "keep_last", "force")
        val raw = args.getOrElse("index",
          Errors.malformed(s"xop '$name': 'index' is required (the artifact to compact)"))
        val path = indexPath(df, raw, name)
        val keepLast = intArg(args, "keep_last", 2L, name)
        if (keepLast < 0)
          Errors.malformed(s"xop '$name': keep_last must be >= 0")
        val before = loadArtifact(df, raw, name)(graft.ops.VocabIndex.load)
        val art =
          try graft.ops.VocabIndex.compactSlabs(df.sparkSession, path, keepLast.toInt)
          catch {
            case e: IllegalArgumentException =>
              Errors.malformed(s"xop '$name': ${e.getMessage}")
          }
        import df.sparkSession.implicits._
        Seq((before.slabs.map(_.length.toLong).getOrElse(-1L),
          art.slabs.map(_.length.toLong).getOrElse(-1L),
          art.nDocs, art.theta.getOrElse(-1L), art.contentFingerprint,
          art.slabs.map(_.length) != before.slabs.map(_.length)))
          .toDF("n_slabs_before", "n_slabs", "n_docs", "theta",
            "fingerprint", "changed")

      // warm-start re-centering of a persisted IVF quantizer against
      // THIS dataset (the drifted corpus): `iters` Lloyd's rounds
      // seeded from the stored centroids, never a fresh sample; the
      // spherical objective is monotone, so a refine can only improve
      // or hold the quantization. iters=0 is the documented no-op
      // (nothing rewritten) and reports changed=false
      case "ivf_refine" =>
        knownArgs("column", "index", "iters", "force")
        val vecCol = vectorColumn(df, args, "column", name)
        val raw = args.getOrElse("index",
          Errors.malformed(s"xop '$name': 'index' is required (the artifact to refresh)"))
        val path = indexPath(df, raw, name)
        val iters = intArg(args, "iters", 1, name).toInt
        if (iters < 0) Errors.malformed(s"xop '$name': iters must be >= 0")
        val before = loadArtifact(df, raw, name)(graft.ops.IvfIndex.load)
        val refined =
          try graft.ops.IvfIndex.refine(df.sparkSession, path, df, vecCol, iters)
          catch {
            case e: IllegalArgumentException =>
              Errors.malformed(s"xop '$name': ${e.getMessage}")
          }
        import df.sparkSession.implicits._
        Seq((before.length.toLong, refined.length.toLong, iters.toLong,
          refined != before))
          .toDF("n_centroids_before", "n_centroids", "iters", "changed")

      // deterministic named splits by id hash: ordered [name, weight]
      // pairs. With 'text', the split is LEAKAGE-FREE over exact-dup
      // classes: identical texts share one split (the class hashes on
      // its min-id representative; singletons keep the plain label)
      case "split" =>
        knownArgs("id", "splits", "text", "clusters")
        val splits: Seq[(String, Double)] = args.get("splits") match {
          case Some(l: List[Any] @unchecked) if l.nonEmpty => l.map {
            case p: List[Any] @unchecked if p.length == 2 => (p(0), p(1)) match {
              case (n: String, w: Double) => n -> w
              case (n: String, w: Long) => n -> w.toDouble
              case _ =>
                Errors.malformed(s"xop '$name': splits entries must be [name, weight]", p)
            }
            case other =>
              Errors.malformed(s"xop '$name': splits entries must be [name, weight]", other)
          }
          case _ =>
            Errors.malformed(s"xop '$name': 'splits' must be a non-empty list of [name, weight] pairs")
        }
        if (splits.exists(_._2 < 0) || splits.map(_._2).sum > 1.0 + 1e-9)
          Errors.malformed(s"xop '$name': weights must be >= 0 and sum to <= 1")
        val splitId = integralIdColumn(df, args, "id", name)
        // leakage args compose: 'text' protects exact-duplicate classes
        // (fingerprint collapse), 'clusters' protects an explicit
        // (id, cluster) component relation (a stored dataset —
        // dedup_clusters' output shape, incl. the WEIGHTED families'
        // representative pairs); both together protect the full family
        // (members collapse to their representative, representatives
        // follow their component)
        // the clusters relation's columns must be statically INTEGRAL,
        // same contract as the corpus id (Sampling's own guard is an
        // IllegalArgumentException — a 500 over HTTP — so the xop layer
        // pre-checks and 400s like every other statically-typed arg)
        def integralClusters(): DataFrame = {
          val cl = dataset("clusters")
          for (c <- Seq("id", "cluster")) {
            if (!ExprCompiler.hasColumn(cl, c))
              Errors.malformed(
                s"xop '$name': clusters dataset must have (id, cluster)", c)
            cl.schema(c).dataType match {
              case org.apache.spark.sql.types.ByteType |
                   org.apache.spark.sql.types.ShortType |
                   org.apache.spark.sql.types.IntegerType |
                   org.apache.spark.sql.types.LongType => ()
              case dt => Errors.malformed(
                s"xop '$name': clusters column '$c' must be an integral " +
                  "id column (it equi-joins and hashes as int64)",
                dt.simpleString)
            }
          }
          cl
        }
        (args.get("text"), args.get("clusters")) match {
          case (Some(_), Some(_)) =>
            Sampling.splitByClassExact(df, splitId,
              column(df, args, "text", name), integralClusters(), splits)
          case (Some(_), None) => Sampling.splitLeakFreeExact(df, splitId,
            column(df, args, "text", name), splits)
          case (None, Some(_)) =>
            Sampling.splitByClass(df, splitId, integralClusters(), splits)
          case (None, None) => Sampling.splitByHash(df, splitId, splits)
        }

      // exact id-exclusion against a stored list via a Bloom sketch +
      // rescue anti-join (map-only probe on the corpus side)
      case "exclude_ids" =>
        knownArgs("id", "exclude", "exclude_id", "fpp", "index", "verify_index")
        val id = column(df, args, "id", name)
        val excl = dataset("exclude")
        val exclId = args.get("exclude_id")
          .map(_ => reqStr(args, "exclude_id", name)).getOrElse(id)
        if (!ExprCompiler.hasColumn(excl, exclId))
          Errors.malformed(s"xop '$name': exclude dataset has no column", exclId)
        // both id sides must be integral — the OPERATOR's precondition
        // (Dedup.requireIntegralId, one source of truth for the
        // admissible type set) surfaced as this layer's 400: a string or
        // fractional id silently under-deletes
        try {
          Dedup.requireIntegralId(df, id, "id")
          Dedup.requireIntegralId(excl, exclId, "exclude id")
        } catch { case e: IllegalArgumentException =>
          Errors.malformed(s"xop '$name': ${e.getMessage}") }
        args.get("index") match {
          case Some(raw) =>
            // persisted sketch: no build aggregation runs, so the build
            // parameter is meaningless here (the exclude dataset is
            // still required — the rescue anti-join verifies the
            // sketch's false positives against the exact ids)
            if (args.contains("fpp"))
              Errors.malformed(
                s"xop '$name': 'index' excludes 'fpp' (no sketch build runs)")
            val art = loadArtifact(df, raw, name)(graft.ops.BloomIndex.loadWithMeta)
            // FREE identity tripwires (schema-only): a sketch probed
            // through a different column or type silently under-deletes
            // (probe-negative rows skip the rescue anti-join), and the
            // row-count tripwire below cannot see a same-size
            // column/type mismatch
            if (art.idCol != exclId)
              Errors.malformed(
                s"xop '$name': bloom index was built over column '${art.idCol}', " +
                  s"this query excludes on '$exclId' — rebuild or fix 'exclude_id'")
            val now = excl.schema(exclId).dataType.catalogString
            if (art.idType != now)
              Errors.malformed(
                s"xop '$name': bloom index was built over ${art.idType} ids, " +
                  s"exclude column '$exclId' is $now — rebuild the artifact")
            // STRONG opt-in check: recompute the content fingerprint
            // (one column-pruned aggregation over the list) — catches
            // the same-count swap the free tripwires cannot; reuses the
            // artifact just loaded (no second storage read)
            if (boolArg(args, "verify_index", default = false, name))
              try graft.ops.BloomIndex.verifyContent(art,
                "bloom index", excl, exclId)
              catch { case e: IllegalArgumentException =>
                Errors.malformed(s"xop '$name': ${e.getMessage}") }
            // staleness tripwire, checked only when the current list's
            // exact size is FREE (a LocalRelation's literal length or a
            // cache-MATERIALIZED InMemoryRelation's accumulated count —
            // deliberately NOT plan stats rowCount, which a catalog
            // ANALYZE can back with a stale-but-defined estimate that
            // would 400 a perfectly fresh artifact): a drifted ledger
            // row count means the sketch no longer covers the list and
            // exclusion would silently under-delete. A same-size swap
            // still slips through — rebuilding on refresh is the
            // contract; this catches the common append-only drift.
            for (rows <- org.apache.spark.sql.GraftSqlShims.exactRowCountOf(excl)
                 if rows != art.nIds)
              Errors.malformed(
                s"xop '$name': bloom index is stale (built over ${art.nIds} rows, " +
                  s"exclude dataset now has $rows) — rebuild the artifact")
            Dedup.excludeByBloomWith(df, id, art.bytes, excl, exclId)
          case None =>
            if (args.contains("verify_index"))
              Errors.malformed(
                s"xop '$name': 'verify_index' requires 'index' " +
                  "(the inline build is fresh by construction)")
            Dedup.excludeByBloom(df, id, excl, exclId,
              doubleArgOpt(args, "fpp", 0.01, name))
        }

      // BM25 keyword retrieval: `query` (a literal string) scores top-k
      // docs with map-only tf/stats passes; `queries` (a stored dataset)
      // runs the batch plan — broadcast term-set prefilter, one
      // (term, doc) shuffle, per-query WindowGroupLimit top-k
      case "search_bm25" =>
        knownArgs("id", "column", "query", "queries", "query_id",
          "query_text", "k", "k1", "b")
        val k = intArg(args, "k", 10, name).toInt
        if (k <= 0) Errors.malformed(s"xop '$name': k must be positive")
        val (k1v, bv) = (doubleArgOpt(args, "k1", 1.2, name),
          doubleArgOpt(args, "b", 0.75, name))
        val id = column(df, args, "id", name)
        val text = column(df, args, "column", name)
        (args.get("query"), args.get("queries")) match {
          case (Some(_), None) =>
            val q = reqStr(args, "query", name)
            if (q.trim.isEmpty)
              Errors.malformed(s"xop '$name': query must contain at least one term")
            Search.bm25(df, id, text, q, k, k1v, bv)
          case (None, Some(_)) =>
            val qDf = dataset("queries")
            val qId = args.get("query_id")
              .map(_ => reqStr(args, "query_id", name)).getOrElse("query_id")
            val qText = args.get("query_text")
              .map(_ => reqStr(args, "query_text", name)).getOrElse("query_text")
            for (c <- Seq(qId, qText) if !ExprCompiler.hasColumn(qDf, c))
              Errors.malformed(s"xop '$name': queries dataset has no column", c)
            Search.bm25Batch(df, id, text, qDf, qId, qText, k, k1v, bv)
          case (None, None) =>
            Errors.malformed(s"xop '$name': pass 'query' (a string) or 'queries' (a stored dataset)")
          case _ =>
            Errors.malformed(s"xop '$name': 'query' and 'queries' are mutually exclusive")
        }

      // spherical k-means cluster assignment (map-only once the cached
      // quantizer is built; shares the IVF index cache)
      case "emb_cluster" =>
        knownArgs("id", "column", "k", "iters", "centroids", "index")
        if (args.contains("centroids") && args.contains("index"))
          Errors.malformed(
            s"xop '$name': 'centroids' and 'index' are mutually exclusive")
        if (args.contains("index")) {
          // persisted-quantizer assignment: no build, pure argmax over
          // the loaded centroids; build args are meaningless here
          if (args.contains("k") || args.contains("iters") || args.contains("id"))
            Errors.malformed(
              s"xop '$name': 'index' excludes 'id'/'k'/'iters' (no build runs)")
          Similarity.clusterAssignWith(df,
            vectorColumn(df, args, "column", name),
            loadArtifact(df, args("index"), name)(graft.ops.IvfIndex.load))
        } else args.get("centroids") match {
          case Some(raw) =>
            // explicit-centroid assignment (x42b): no build, pure argmax;
            // id/k/iters describe the build and are meaningless here
            if (args.contains("k") || args.contains("iters") || args.contains("id"))
              Errors.malformed(
                s"xop '$name': 'centroids' excludes 'id'/'k'/'iters' (no build runs)")
            Similarity.clusterAssignWith(df,
              vectorColumn(df, args, "column", name), parseCentroids(raw, name))
          case None =>
            val k = intArg(args, "k", 16, name).toInt
            if (k <= 0) Errors.malformed(s"xop '$name': k must be positive")
            val iters = intArg(args, "iters", 3, name).toInt
            if (iters < 0) Errors.malformed(s"xop '$name': iters must be >= 0")
            Similarity.clusterAssign(df, column(df, args, "id", name),
              vectorColumn(df, args, "column", name), k, iters)
        }

      // per-doc duplicated n-gram span statistics (substring-dedup signal)
      case "dup_grams" =>
        knownArgs("id", "column", "n")
        val n = intArg(args, "n", 8, name).toInt
        if (n <= 0) Errors.malformed(s"xop '$name': n must be positive")
        Dedup.dupGramStats(df, column(df, args, "id", name),
          column(df, args, "column", name), n)

      // Gopher-style within-doc repetition signals (map-only, zero
      // exchanges; see TextOps.repetitionSignals)
      case "repetition_signals" =>
        knownArgs("id", "column")
        TextOps.repetitionSignals(df, column(df, args, "id", name),
          column(df, args, "column", name))

      // enrichment equi-join against a stored dataset
      case "join" =>
        knownArgs("right", "on", "how", "columns", "broadcast")
        val rightDf = dataset("right").drop(RowId)
        val on: Seq[(String, String)] = args.get("on") match {
          case Some(l: List[Any] @unchecked) if l.nonEmpty => l.map {
            case s: String => (s, s)
            case p: List[Any] @unchecked => p match {
              case (a: String) :: (bb: String) :: Nil => (a, bb)
              case _ =>
                Errors.malformed(s"xop '$name': 'on' entries must be a column or [left, right] pair", p)
            }
            case other =>
              Errors.malformed(s"xop '$name': 'on' entries must be a column or [left, right] pair", other)
          }
          case _ =>
            Errors.malformed(s"xop '$name': 'on' must be a non-empty list of keys")
        }
        for ((lc, _) <- on if !ExprCompiler.hasColumn(df, lc))
          Errors.malformed(s"xop '$name': unknown column", lc)
        for ((_, rc) <- on if !ExprCompiler.hasColumn(rightDf, rc))
          Errors.malformed(s"xop '$name': right dataset has no column", rc)
        val how = args.get("how") match {
          case None => "inner"
          case Some(s: String) if Set("inner", "left", "semi", "anti")(s) => s
          case Some(other) =>
            Errors.malformed(s"xop '$name': how must be inner, left, semi or anti", other)
        }
        val payload: Seq[String] = args.get("columns") match {
          case None =>
            if (how == "semi" || how == "anti") Seq.empty
            else rightDf.columns.toSeq
              .filterNot(on.map(_._2).toSet)
              .filterNot(c => ExprCompiler.hasColumn(df, c))
          case Some(l: List[Any] @unchecked) => l.map {
            case s: String => s
            case other =>
              Errors.malformed(s"xop '$name': 'columns' entries must be column names", other)
          }
          case Some(other) =>
            Errors.malformed(s"xop '$name': 'columns' must be a list", other)
        }
        if (how == "semi" || how == "anti") {
          if (payload.nonEmpty)
            Errors.malformed(s"xop '$name': 'columns' is invalid for semi/anti joins")
        } else {
          for (c <- payload if !ExprCompiler.hasColumn(rightDf, c))
            Errors.malformed(s"xop '$name': right dataset has no column", c)
          for (c <- payload if ExprCompiler.hasColumn(df, c))
            Errors.malformed(s"xop '$name': payload column collides with the left table", c)
          if (payload.distinct.length != payload.length)
            Errors.malformed(s"xop '$name': duplicate payload columns")
        }
        graft.ops.Joins.equiJoin(df, rightDf, on, how, payload,
          boolArg(args, "broadcast", default = false, name))

      // per-group adaptive quantile band filter
      // (approx=true → approx_percentile sketch, bounded group memory)
      case "quantile_band" =>
        knownArgs("group", "column", "lo", "hi", "approx")
        val lo = doubleArgOpt(args, "lo", 0.05, name)
        val hi = doubleArgOpt(args, "hi", 0.95, name)
        if (!(lo >= 0 && hi <= 1 && lo <= hi))
          Errors.malformed(s"xop '$name': band must satisfy 0 <= lo <= hi <= 1")
        Sampling.quantileBandFilter(df, column(df, args, "group", name),
          numericColumn(df, args, "column", name), lo, hi,
          boolArg(args, "approx", default = false, name))

      // top-k PMI collocations over document-level co-occurrence
      case "pmi_pairs" =>
        knownArgs("column", "k", "min_pair_docs", "max_doc_tokens")
        val k = intArg(args, "k", 25, name).toInt
        if (k <= 0) Errors.malformed(s"xop '$name': k must be positive")
        val maxDocTokens = intArg(args, "max_doc_tokens", 16384, name).toInt
        if (maxDocTokens < 2 || maxDocTokens > 16384)
          Errors.malformed(s"xop '$name': max_doc_tokens must be in [2, 16384]")
        TextOps.pmiCollocations(df, column(df, args, "column", name), k,
          intArg(args, "min_pair_docs", 2, name), maxDocTokens)

      // per-doc n-gram novelty (first-corpus-occurrence fraction)
      case "gram_novelty" =>
        knownArgs("id", "column", "n")
        val n = intArg(args, "n", 8, name).toInt
        if (n <= 0) Errors.malformed(s"xop '$name': n must be positive")
        Dedup.gramNovelty(df, column(df, args, "id", name),
          column(df, args, "column", name), n)

      // per-group token-distribution KL divergence vs the corpus
      case "token_divergence" =>
        knownArgs("group", "column")
        Profile.tokenDivergence(df, column(df, args, "group", name),
          column(df, args, "column", name))

      // exact duplicated-span scrub (excise corpus-duplicated n-grams)
      case "span_scrub" =>
        knownArgs("id", "column", "n")
        val n = intArg(args, "n", 8, name).toInt
        if (n <= 0) Errors.malformed(s"xop '$name': n must be positive")
        Dedup.scrubDuplicatedSpans(df, column(df, args, "id", name),
          column(df, args, "column", name), n)

      // per-document TF-IDF keywords (smooth idf, top-k per doc)
      case "tfidf_keywords" =>
        knownArgs("id", "column", "k")
        val k = intArg(args, "k", 5, name).toInt
        if (k <= 0) Errors.malformed(s"xop '$name': k must be positive")
        Search.tfidfKeywords(df, column(df, args, "id", name),
          column(df, args, "column", name), k)

      // Gopher-style quality rule audit (appends n_tokens/reasons/pass)
      case "quality_rules" =>
        knownArgs("column", "min_tokens", "max_tokens", "min_mean_len",
          "max_mean_len", "max_dup_word_frac", "min_stopword_ratio",
          "min_alpha_ratio")
        TextOps.qualityRules(df, column(df, args, "column", name),
          minTokens = intArg(args, "min_tokens", 50, name),
          maxTokens = intArg(args, "max_tokens", 100000, name),
          minMeanLen = doubleArgOpt(args, "min_mean_len", 3.0, name),
          maxMeanLen = doubleArgOpt(args, "max_mean_len", 10.0, name),
          maxDupWordFrac = doubleArgOpt(args, "max_dup_word_frac", 0.6, name),
          minStopwordRatio = doubleArgOpt(args, "min_stopword_ratio", 0.02, name),
          minAlphaRatio = doubleArgOpt(args, "min_alpha_ratio", 0.7, name))

      // corpus-self unigram LM mean surprisal (fluency signal)
      case "unigram_nll" =>
        knownArgs("id", "column")
        Search.unigramNll(df, column(df, args, "id", name),
          column(df, args, "column", name))

      // corpus-self bigram LM mean surprisal (order-sensitive fluency)
      case "bigram_nll" =>
        knownArgs("id", "column")
        Search.bigramNll(df, column(df, args, "id", name),
          column(df, args, "column", name))

      // point-in-interval range join against a stored interval dataset
      case "range_join" =>
        knownArgs("right", "ts", "start", "end", "payload", "granule",
          "on", "how")
        val rightDf = dataset("right").drop(RowId)
        // the operator embeds time columns into long (integers: own
        // units; timestamps: exact epoch micros — Joins.timeEmbedding):
        // statically reject types the embedding would mangle (a 400
        // instead of silent corruption). Integral/timestamp ONLY — a
        // fractional time column would pass a NumericType check and then
        // truncate toward zero, silently coarsening fractional-second
        // data (and not even floor-consistently for negatives); callers
        // floor explicitly.
        def timeLike(d: DataFrame, c: String): Unit = {
          import org.apache.spark.sql.types._
          d.schema(c).dataType match {
            case ByteType | ShortType | IntegerType | LongType
               | TimestampType | TimestampNTZType => ()
            // exact integral decimal that always FITS a long (precision
            // past 18 digits could overflow the ANSI cast per-row)
            case dt: DecimalType if dt.scale == 0 && dt.precision <= 18 => ()
            case _ => Errors.malformed(
              s"xop '$name': time column must be an integral or timestamp type " +
                "(floor fractional-second columns explicitly before joining)", c)
          }
        }
        val ts = column(df, args, "ts", name)
        timeLike(df, ts)
        val startC = reqStr(args, "start", name)
        val endC = reqStr(args, "end", name)
        for (c <- Seq(startC, endC)) {
          if (!ExprCompiler.hasColumn(rightDf, c))
            Errors.malformed(s"xop '$name': right dataset has no column", c)
          timeLike(rightDf, c)
        }
        val granule = intArg(args, "granule", 0, name)
        if (granule <= 0)
          Errors.malformed(s"xop '$name': 'granule' must be a positive integer")
        val payload = args.get("payload") match {
          case Some(l: List[Any] @unchecked) if l.nonEmpty => l.map {
            case s: String => s
            case other =>
              Errors.malformed(s"xop '$name': payload entries must be column names", other)
          }
          case Some(s: String) => List(s)
          case _ =>
            Errors.malformed(s"xop '$name': 'payload' must be a non-empty column list")
        }
        for (c <- payload if !ExprCompiler.hasColumn(rightDf, c))
          Errors.malformed(s"xop '$name': right dataset has no column", c)
        for (c <- payload if ExprCompiler.hasColumn(df, c))
          Errors.malformed(s"xop '$name': payload column collides with the left table", c)
        val on: Seq[(String, String)] = args.get("on") match {
          case None => Seq.empty
          case Some(l: List[Any] @unchecked) => l.map {
            case s: String => (s, s)
            case p: List[Any] @unchecked => p match {
              case (a: String) :: (bb: String) :: Nil => (a, bb)
              case _ =>
                Errors.malformed(s"xop '$name': 'on' entries must be a column or [left, right] pair", p)
            }
            case other =>
              Errors.malformed(s"xop '$name': 'on' entries must be a column or [left, right] pair", other)
          }
          case Some(other) =>
            Errors.malformed(s"xop '$name': 'on' must be a list of keys", other)
        }
        for ((lc, _) <- on if !ExprCompiler.hasColumn(df, lc))
          Errors.malformed(s"xop '$name': unknown column", lc)
        for ((_, rc) <- on if !ExprCompiler.hasColumn(rightDf, rc))
          Errors.malformed(s"xop '$name': right dataset has no column", rc)
        val how = args.get("how") match {
          case None => "inner"
          case Some(s: String) if Set("inner", "left")(s) => s
          case Some(other) =>
            Errors.malformed(s"xop '$name': how must be inner or left", other)
        }
        Joins.rangeJoin(df.drop(RowId), rightDf, ts, startC, endC, payload,
          granule, on, how)

      // batch interval attribution over two event-shaped frames: the
      // current frame is the ANCHOR side (event_id, ts, key), 'right'
      // names the match side (ts, value, key); every anchor pairs with
      // the same-key matches inside [ts - horizon, ts], both ends
      // inclusive (EventStreams.intervalJoinBatch — the granule-bucketed
      // range join, also the streaming twin's semantics)
      case "interval_join" =>
        knownArgs("right", "key", "horizon", "how")
        val rightDf = dataset("right").drop(RowId)
        val key = column(df, args, "key", name)
        if (!ExprCompiler.hasColumn(rightDf, key))
          Errors.malformed(s"xop '$name': right dataset has no column", key)
        val horizon = intArg(args, "horizon", -1L, name)
        if (horizon < 0)
          Errors.malformed(
            s"xop '$name': 'horizon' (seconds) must be a non-negative integer")
        if (horizon > EventStreams.MaxIntervalSeconds)
          Errors.malformed(
            s"xop '$name': 'horizon' exceeds the representable range " +
              s"(${EventStreams.MaxIntervalSeconds} seconds)")
        for ((d, side, cols) <- Seq(
            (df, "anchor", Seq("event_id", "ts")),
            (rightDf, "right", Seq("ts", "value")));
            c <- cols if !ExprCompiler.hasColumn(d, c))
          Errors.malformed(s"xop '$name': $side frame has no column", c)
        import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
        for ((d, side) <- Seq((df, "anchor"), (rightDf, "right"))
             if !Seq(TimestampType, TimestampNTZType).contains(d.schema("ts").dataType))
          Errors.malformed(
            s"xop '$name': $side frame's ts must be a timestamp " +
              s"(got ${d.schema("ts").dataType.simpleString})")
        val ijHow = args.get("how") match {
          case None => "inner"
          case Some(s: String) if Set("inner", "left")(s) => s
          case Some(other) =>
            Errors.malformed(s"xop '$name': how must be inner or left", other)
        }
        EventStreams.intervalJoinBatch(df.drop(RowId), rightDf, key, horizon, ijHow)

      case other =>
        Errors.malformed("Unknown xop", other)
    }
  }
}
