package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins Spark has no native operator for, plus the plain
  * enrichment equi-join the JSON dialect exposes. */
object Joins {

  /** Row-estimate gate of the auto strategy both segmented carries share
    * (the as-of join here, batch sessionization in EventStreams): below
    * this, even a maximally-skewed key — every row on ONE key — sorts in
    * a single sub-second task, and segmentation's fixed costs (min/max
    * pre-pass job, granule exchange, broadcast join back) dominate; above
    * it the single-task worst case is a real straggler and the carry
    * segments. */
  private[graft] val SegmentedCarryMinRows: Long = 2L << 20

  /** The one strategy rule of both segmented carries: the granule width
    * the carry segments at, or None for the one-window carry. "window"
    * never segments; "segmented" always does, at any size; "auto" (the
    * default) segments when a granule is given, and otherwise only when
    * `df`'s row estimate reaches [[SegmentedCarryMinRows]] (rowBytes=64
    * deliberately overestimates rows from the byte stats, erring toward
    * segmentation — the safe direction) AND [[measuredUniformKeys]]
    * finds a hot key, a thin sample or no stats on (`keyCol`, `tCol`):
    * on measured-uniform keys the one-window carry's single exchange is
    * the cheaper plan (12.8M sf1 events on 4 cores, median of 5 runs:
    * x15 sessionize 6.2 s vs 14.7 s and x31 as-of 1.3 s vs 7.2 s
    * against the segmented carry, sample included), while a
    * hot key keeps the skew-robust segmented default. A width that is
    * not given comes from `autoWidth`, run only when the carry segments:
    * the callers pass [[spanGranule]], one eager column-pruned min/max
    * job — pass an explicit granule to skip it. Every strategy's output
    * is row-identical, so the rule trades only wall time. */
  private[graft] def carryGranule(df: DataFrame, keyCol: String, tCol: String,
      granule: Option[Long], strategy: String, what: String,
      autoWidth: => Long): Option[Long] = strategy match {
    case "window"    => None
    case "segmented" => Some(granule.getOrElse(autoWidth))
    case _ => granule.orElse {
      val est = Similarity.approxRows(df, rowBytes = 64L, unknownAs = Long.MaxValue)
      if (est < SegmentedCarryMinRows ||
          measuredUniformKeys(df, keyCol, tCol, est, what = what)) None
      else Some(autoWidth)
    }
  }

  private lazy val skewLog = org.slf4j.LoggerFactory.getLogger("graft.skewmeasure")

  /** MEASURED key-skew verdict of [[carryGranule]]'s auto rule. Samples
    * ~`sampleTarget` rows content-deterministically (xxhash64 of
    * (key, time) mod a stats-sized divisor — same rows on any
    * partitioning, replay-stable) and measures the hottest key's row
    * share. Returns true — the one-window carry is safe — only when the
    * sample is large enough to trust (max(65536, 100·shufflePartitions)
    * rows, so a hot key at the decision boundary is sampled ~100+ times)
    * AND the hottest key keeps its single reduce partition within ~2× an
    * average partition's row load (share · shufflePartitions ≤ 2 — the
    * straggler bound a per-key window partition is subject to). Unknown
    * sizes, thin samples and hot keys all give false. Cost: one
    * column-pruned scan and a map-combining (key → count) aggregate over
    * ~`sampleTarget` rows, paid only above the row gate. The verdict is
    * logged (`graft.skewmeasure`) with the measured numbers so the
    * strategy choice is auditable. */
  private[graft] def measuredUniformKeys(df: DataFrame, keyCol: String,
      tsCol: String, estRows: Long, sampleTarget: Long = 1000000L,
      minSampleOverride: Long = -1L, what: String = "asof"): Boolean = {
    if (estRows == Long.MaxValue) return false // no stats — don't gamble
    val spark = df.sparkSession
    val p = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val mod = math.max(1L, estRows / math.max(1L, sampleTarget))
    val minSample =
      if (minSampleOverride > 0) minSampleOverride
      else math.max(65536L, 100L * p)
    val row = df
      .filter(pmod(xxhash64(col(keyCol), col(tsCol)), lit(mod)) === 0)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
      .agg(coalesce(max(col("__c")), lit(0L)).as("mx"),
        coalesce(sum(col("__c")), lit(0L)).as("n")).head()
    val (mx, n) = (row.getLong(0), row.getLong(1))
    val uniform = n >= minSample && mx * p <= 2L * n
    skewLog.info(s"$what auto skew measure: sample=$n hottest=$mx " +
      s"shufflePartitions=$p verdict=${if (uniform) "windowed" else "segmented"}")
    uniform
  }

  /** Granule width targeting ~4096 segments over `t`'s observed span in
    * `df`, at least `minWidth` — one eager column-pruned min/max job
    * (`t` must be long-typed). BigInt keeps the span subtraction exact
    * when double times saturated the long embedding at its extremes. An
    * empty or all-null `t` gives width 1. */
  private[graft] def spanGranule(df: DataFrame, t: Column, minWidth: Long = 1L): Long = {
    val row = df.agg(min(t).as("lo"), max(t).as("hi")).head()
    if (row.isNullAt(0)) 1L
    else ((BigInt(row.getLong(1)) - BigInt(row.getLong(0))) / 4096 + 1)
      .min(BigInt(Long.MaxValue)).toLong.max(minWidth)
  }

  /** floor(t / width) in EXACT arithmetic, shared by every granule
    * bucketing (range join, as-of carry, batch sessionize). Subtracting
    * the non-negative pmod makes the numerator an exact multiple, so the
    * division is an exact integer — a double-typed division of ns-scale
    * longs (2^60) would round the quotient across bucket boundaries
    * (53-bit mantissa). The subtraction happens in decimal(38,0), NOT
    * long: for t within `width` of Long.MinValue (reachable — double
    * times saturate there on cast) the long subtraction would wrap to a
    * huge positive granule and misplace the row's carry. */
  private[graft] def granuleBucket(t: Column, width: Long): Column =
    ((t.cast("decimal(38,0)") - pmod(t, lit(width))) / lit(width)).cast("long")

  /** Exact monotone embedding of a time-typed column into long, shared by
    * the range join (which compares embedded values directly, so the map
    * must preserve ORDER AND DISTINCTNESS on the types it admits there —
    * a seconds-level cast would merge distinct instants and corrupt
    * interval endpoints) and the as-of granule machinery (whose granule
    * argument is in the embedded units; batch sessionize does NOT use
    * this embedding — its timestamp granule is epoch SECONDS via
    * cast("long"), see EventStreams.sessionizeBatch). Integer columns
    * pass through in their own units; timestamps — both LTZ and NTZ —
    * embed as epoch MICROSECONDS, their full physical resolution (an NTZ
    * wall time is interpreted in the session timezone, UTC in every
    * graft entry point; a bare cast-to-long is rejected by Spark for
    * NTZ, which is why this is not simply `cast("long")`); dates as
    * epoch days. Doubles truncate TOWARD ZERO (saturating at
    * Long.Min/Max) — monotone but NOT distinctness-preserving, so
    * rangeJoin rejects fractional types (its endpoint comparisons would
    * merge distinct instants; the xop range_join validator enforces the
    * same); the as-of join accepts them because it only buckets with the
    * embedding while ordering by the real value. Toward-zero truncation
    * means granule boundaries sit one bucket later for negative epochs
    * than a floor would give — harmless for bucketing (still monotone,
    * non-strict), just not mirror-symmetric around zero. None → the
    * caller's unsegmented/unsupported fallback. */
  private[graft] def timeEmbedding(
      dt: org.apache.spark.sql.types.DataType): Option[Column => Column] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(_.cast("long"))
      case TimestampType             => Some(c => unix_micros(c))
      case TimestampNTZType          => Some(c => unix_micros(c.cast(TimestampType)))
      case DateType                  => Some(c => unix_date(c).cast("long"))
      case FloatType | DoubleType    => Some(_.cast("long"))
      // exact integral decimal that always fits a long (matches the xop
      // layer's range_join validator; wider/scaled decimals → None)
      case dt: DecimalType if dt.scale == 0 && dt.precision <= 18 =>
        Some(_.cast("long"))
      case _                         => None
    }
  }

  /** Enrichment equi-join between two tables — the dialect-level join the
    * single-table reference never had. `on` pairs (leftCol, rightCol);
    * `how` is inner | left | semi | anti (left-row-preserving variants
    * only — the output keeps the left table's identity, which is what a
    * pipeline enrichment step means). For inner/left, `rightCols` name
    * the right-side payload to append; they must not collide with a left
    * column. Semi/anti joins carry no payload, so `rightCols` is REJECTED
    * there rather than silently ignored — the dialect's strict-validation
    * posture (the xop layer enforces the same rule with its own error).
    * Keys compare with SQL equality (nulls never match).
    *
    * Scale: a plain declarative join — Catalyst/AQE pick broadcast vs
    * shuffled hash from observed sizes; `broadcastRight` forces the hint
    * when the caller KNOWS the right side is a dimension table (the
    * planner's size estimate can be unavailable for freshly-ingested
    * HTTP datasets). */
  def equiJoin(left: DataFrame, right: DataFrame, on: Seq[(String, String)],
               how: String, rightCols: Seq[String] = Seq.empty,
               broadcastRight: Boolean = false): DataFrame = {
    require(on.nonEmpty, "equiJoin needs at least one key pair")
    val sparkHow = how match {
      case "inner" => "inner"
      case "left"  => "left_outer"
      case "semi"  => "left_semi"
      case "anti"  => "left_anti"
      case other   => throw new IllegalArgumentException(s"unknown join how: $other")
    }
    if ((sparkHow == "left_semi" || sparkHow == "left_anti") && rightCols.nonEmpty)
      throw new IllegalArgumentException(
        s"equiJoin: rightCols is invalid for $how joins (they carry no right payload)")
    val r0 = if (broadcastRight) broadcast(right) else right
    val cond = on.map { case (l, rr) => left(l) === r0(rr) }.reduce(_ && _)
    val joined = left.join(r0, cond, sparkHow)
    if (sparkHow == "left_semi" || sparkHow == "left_anti") joined
    else {
      val payload = rightCols.map(c => r0(c))
      joined.select(left.columns.map(left(_)) ++ payload: _*)
    }
  }

  /** Point-in-interval range join: each left row (at `tsCol`) matches
    * every right interval with `startCol <= ts <= endCol` (inclusive),
    * optionally also equi-matched on `on` key pairs. `how` is inner |
    * left. Time columns embed into long via [[Joins.timeEmbedding]]
    * (integers in their own units; timestamps EXACTLY, as epoch micros;
    * dates as epoch days) — the caller aligns units across the three
    * columns, and `granule` is in those embedded units.
    *
    * Shape at scale: Spark's native plan for a pure range predicate is a
    * broadcast-nested-loop — fine only while one side broadcasts. This
    * operator GRANULATES time instead: each left row computes one bucket
    * id `floor(ts / granule)`, each interval explodes to the granules it
    * overlaps, and the join becomes a plain EQUI-join on
    * (granule, keys…) with the exact range predicate alongside — hash
    * shuffle on both sides, no nested loop, AQE still free to broadcast
    * a small exploded side. Each matching pair meets in exactly one
    * granule (the left row's), so no post-join dedup is needed. Pick
    * `granule` near the typical interval length: the explode factor is
    * ~(interval span / granule) per interval, and a granule far smaller
    * than intervals multiplies the right side, while one far larger
    * makes every bucket a mini nested-loop. Intervals spanning ≥ 100k
    * granules fail fast rather than exploding silently; intervals with
    * end < start match nothing.
    *
    * Returns every left column plus `payloadCols` from the right. */
  def rangeJoin(left: DataFrame, right: DataFrame, tsCol: String,
                startCol: String, endCol: String, payloadCols: Seq[String],
                granule: Long, on: Seq[(String, String)] = Seq.empty,
                how: String = "inner"): DataFrame = {
    require(granule > 0, "granule must be positive")
    require(payloadCols.nonEmpty, "rangeJoin needs at least one payload column")
    val sparkHow = how match {
      case "inner" => "inner"
      case "left"  => "left_outer"
      case other   => throw new IllegalArgumentException(s"unknown join how: $other")
    }
    payloadCols.find(left.columns.contains).foreach { c =>
      throw new IllegalArgumentException(s"payload column collides with left: $c") }
    (left.columns ++ right.columns).find(_.startsWith("__rj_")).foreach { c =>
      throw new IllegalArgumentException(
        s"rangeJoin reserves the __rj_ prefix for internal columns: $c") }

    def bucket(c: Column): Column = Joins.granuleBucket(c, granule)

    // exact long embedding per column TYPE (integer columns keep their
    // own units, timestamps embed as epoch micros — see timeEmbedding);
    // the caller aligns units across the three columns, and `granule` is
    // in those embedded units. Fractional types are REJECTED here (not
    // just at the xop layer): the embedded values feed the <=/>=
    // endpoint comparisons directly, and the truncating double→long cast
    // would merge distinct fractional instants (ts=1.9 matching an
    // interval ending at 1.2). Callers with fractional time floor
    // explicitly to the integer unit they mean.
    def embed(df: DataFrame, c: String): Column = {
      import org.apache.spark.sql.types.{DoubleType, FloatType}
      df.schema(c).dataType match {
        case FloatType | DoubleType =>
          throw new IllegalArgumentException(
            s"rangeJoin: column '$c' is fractional " +
              s"(${df.schema(c).dataType.simpleString}); the integer time " +
              "embedding would truncate distinct instants together — floor " +
              "it to an integer unit explicitly first")
        case dt => Joins.timeEmbedding(dt).map(_(df(c))).getOrElse(
          throw new IllegalArgumentException(
            s"rangeJoin: column '$c' has non-temporal/non-numeric type " +
              s"${dt.simpleString}"))
      }
    }

    val lt = left.withColumn("__rj_ts", embed(left, tsCol))
      .withColumn("__rj_g", bucket(col("__rj_ts")))
    val maxSpan = 100000L
    val rt = right
      .withColumn("__rj_s", embed(right, startCol))
      .withColumn("__rj_e", embed(right, endCol))
      .filter(col("__rj_e") >= col("__rj_s")) // sequence() would count DOWN
      .withColumn("__rj_g", explode(sequence(
        bucket(col("__rj_s")),
        // assert_true yields null when the guard holds: coalesce keeps the
        // bound inside the sequence argument so column pruning can't drop it
        bucket(col("__rj_e")) + coalesce(
          assert_true(bucket(col("__rj_e")) - bucket(col("__rj_s")) < lit(maxSpan),
            lit(s"rangeJoin: an interval spans >= $maxSpan granules; " +
              "raise `granule` toward the typical interval length")).cast("long"),
          lit(0L)))))

    val keyCond = on.map { case (l, r) => lt(l) === rt(r) }
    val cond = (Seq(lt("__rj_g") === rt("__rj_g"),
      lt("__rj_ts") >= rt("__rj_s"), lt("__rj_ts") <= rt("__rj_e")) ++ keyCond)
      .reduce(_ && _)
    lt.join(rt, cond, sparkHow)
      .select(left.columns.toSeq.map(lt(_)) ++ payloadCols.map(rt(_)): _*)
  }

  /** As-of join: for every left row, attach the payload of the single
    * right row with the LARGEST `right.timeCol <= left.timeCol` within
    * the same key — "the latest reading at or before this event" (the
    * qcache reference has nothing like it; DuckDB ships it as ASOF JOIN,
    * which is the correctness oracle). Left rows with no earlier right
    * row keep null payloads (LEFT semantics).
    *
    * Shape at scale — SEGMENTED carry: a naive range join explodes to
    * O(left × right) per key, and a single per-key running window (the
    * previous shape here) funnels a hot key's ENTIRE merged history into
    * one task — window aggregation has no map-side partial combine and
    * AQE cannot split a skewed window partition. Instead the carry is
    * computed in two bounded levels, the same granule trick `rangeJoin`
    * uses applied to carry semantics:
    *
    *   1. both sides UNION into one relation tagged by side, each row
    *      bucketed to a time granule `g = floor(t / granule)`;
    *   2. LOCAL carry: running `last(payload, ignoreNulls)` within
    *      (key, granule) ordered by (time, side) — the hot key's history
    *      now spreads over its granules, each an independent task
    *      (RunningWindowFunction — no full-partition buffering);
    *   3. BOUNDARY: one aggregate row per (key, granule) — the granule's
    *      closing carry, which is simply the LATEST RIGHT payload it
    *      saw. A plain map-side-combining aggregate over the union (the
    *      max_by ordering is null for left rows), deliberately NOT a
    *      consumer of step 2's window: per-branch column pruning makes
    *      shared subtrees canonically unequal, so AQE cannot stage-reuse
    *      the wide exchange — a narrow independent aggregate is cheaper
    *      than re-running it;
    *   4. CROSS-granule carry-in: `last(boundary, ignoreNulls)` over
    *      strictly-preceding granules, per key. This window IS per-key,
    *      but over the granule-level relation — bounded at one row per
    *      key × granule regardless of how many events the key holds;
    *   5. join the carry-in back on (key, granule) and
    *      `coalesce(local, carryIn)` — AQE broadcasts the carry when it
    *      is small.
    *
    * Regime note: the boundary relation is granule-BOUNDED per key, so
    * on SKEWED corpora — the regime this decomposition exists for — it
    * is small; on uniform keys it approaches one row per input row and
    * its aggregate re-exchanges the union, where the one-window carry
    * is the cheaper plan — which is why the auto rule measures key skew
    * above the row gate. A sessionize-style
    * per-row carry does not exist for as-of: session partials collapse
    * (gap-bounded per granule) before the per-key pass, while every
    * as-of left row is an output row — a per-key pass over per-row
    * carries IS the one-window strategy.
    *
    * `granule` is a width in the time column's EMBEDDED units (see
    * [[Joins.timeEmbedding]]: integers in their own units, timestamps as
    * epoch micros, dates as epoch days). Any value is CORRECT; only task
    * granularity varies. The strategy is [[Joins.carryGranule]]'s rule,
    * shared with batch sessionization: "window" pins the one-window
    * carry; "segmented" always segments; "auto" segments when a granule
    * is given, or when the union's row estimate reaches
    * [[Joins.SegmentedCarryMinRows]] and a hash sample of its keys finds
    * a hot key ([[Joins.measuredUniformKeys]]); otherwise it keeps the
    * one-window carry (below the gate even a maximally-skewed key sorts
    * in one sub-second task, and segmentation's min/max pre-pass,
    * granule exchange and join back are the larger cost). A width that is not
    * given targets ~4096 segments over the union's observed span, from
    * one column-pruned min/max job at plan-build time (pass an explicit
    * granule near the typical query horizon to skip it). Time types with
    * no integral order embedding (strings, wide decimals) fall back to
    * the single-window carry, which is correct but funnels each key into
    * one task — as-of semantics are inherently temporal, so this path is
    * for small orderable oddities.
    *
    * Right-side (key, time) pairs should be unique (pre-aggregate if
    * not); among exact duplicates the carried payload is the sort-order
    * last, which no engine defines better. Null keys join each other
    * (they form one timeline, matching the window shape's semantics);
    * null times sort first, so null-time rights carry into everything.
    *
    * Returns every left column plus `payloadCols` from the right.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keyCol: String,
               timeCol: String, payloadCols: Seq[String],
               granule: Option[Long] = None,
               strategy: String = "auto"): DataFrame = {
    require(payloadCols.nonEmpty, "asOfJoin needs at least one payload column")
    granule.foreach(w => require(w > 0, "asOfJoin granule must be positive"))
    require(Set("auto", "window", "segmented")(strategy),
      s"asOfJoin strategy must be auto, window or segmented: $strategy")
    require(strategy != "window" || granule.isEmpty,
      "asOfJoin: an explicit granule contradicts strategy=window")
    val leftRow = struct(left.columns.map(left(_)): _*)
    val payload = struct(payloadCols.map(right(_)): _*)
    val leftRowType = left.select(leftRow).schema.head.dataType
    val payloadType = right.select(payload).schema.head.dataType

    // side 0 = right, 1 = left: sorting (time, side) puts a right row
    // BEFORE left rows at the same time, so ties match (<=, ASOF's rule)
    val l = left.select(left(keyCol).as("__k"), left(timeCol).as("__t"),
      lit(1).as("__side"), leftRow.as("__row"),
      lit(null).cast(payloadType).as("__p"))
    val r = right.select(right(keyCol).as("__k"), right(timeCol).as("__t"),
      lit(0).as("__side"), lit(null).cast(leftRowType).as("__row"),
      payload.as("__p"))
    val u = l.unionByName(r)

    // The shared monotone embedding of the (coerced) time type into long
    // (timestamps → epoch MICROS, integers → own units; `granule` is in
    // these embedded units). Used for bucketing only — within-bucket
    // order still uses the real time, so the double truncation's
    // saturation at Long.Min/Max is fine: monotone is all a bucket
    // boundary needs. No embedding → unsegmented fallback.
    val toLong: Option[Column => Column] =
      Joins.timeEmbedding(u.schema("__t").dataType)

    val leftCols: Seq[Column] = left.columns.toSeq.map(c => col(s"__row.$c").as(c))
    val payloadOut: Seq[Column] = payloadCols.map(c => col(s"__carried.$c").as(c))

    val effectiveGranule: Option[Long] = toLong.flatMap(fn =>
      carryGranule(u, "__k", "__t", granule, strategy, "asof",
        spanGranule(u, fn(col("__t")))))

    (toLong, effectiveGranule) match {
      case (None, _) | (_, None) =>
        val w = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        u.withColumn("__carried", last(col("__p"), ignoreNulls = true).over(w))
          .filter(col("__side") === 1)
          .select(leftCols ++ payloadOut: _*)

      case (Some(fn), Some(width)) =>
        val ub = u.withColumn("__g", Joins.granuleBucket(fn(col("__t")), width))
        val wLocal = Window.partitionBy(col("__k"), col("__g"))
          .orderBy(col("__t"), col("__side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = ub.withColumn("__local",
          last(col("__p"), ignoreNulls = true).over(wLocal))
        // the granule's closing carry is the LATEST RIGHT payload the
        // granule saw — no window needed: a plain (key, granule)
        // aggregate with map-side partial combine, where the max_by
        // ordering is null for left rows so only right rows compete
        // (max_by ignores null ordering keys). Right rows order by a
        // (isnotnull, t) struct, NOT bare __t: null-time rights (which
        // sort FIRST in the window form and so carry into everything)
        // land in the null granule, and a bare-__t ordering key would be
        // null there too — max_by would drop them and the segmented path
        // would silently diverge from the one-window path on null times.
        // The struct keys them as smaller than every real time while
        // still non-null, so a null-time right sets the null granule's
        // boundary and propagates through the carry-in window (the null
        // granule sorts first in __g order) exactly like the window
        // form. Grouping the WHOLE union (not just right rows) keeps a
        // carry row for right-less granules (__bp null), which the left
        // join below relies on for their carry-in. Deliberately NOT
        // derived from the window output: per-branch column pruning
        // makes the two subtrees canonically different, so AQE would
        // re-execute the wide (key, granule) exchange instead of reusing
        // it — this branch instead exchanges only (key, granule, time,
        // side, payload) rows already collapsed per mapper.
        val boundary = ub.groupBy(col("__k"), col("__g"))
          .agg(max_by(col("__p"),
            when(col("__side") === 0,
              struct(col("__t").isNotNull.as("nn"), col("__t").as("t"))))
            .as("__bp"))
        val wCarry = Window.partitionBy(col("__k")).orderBy(col("__g"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val carry = boundary
          .withColumn("__cin", last(col("__bp"), ignoreNulls = true).over(wCarry))
          .select(col("__k").as("__ck"), col("__g").as("__cg"), col("__cin"))
        local.join(carry, col("__k") <=> col("__ck") && col("__g") <=> col("__cg"),
            "left")
          .filter(col("__side") === 1)
          .withColumn("__carried", coalesce(col("__local"), col("__cin")))
          .select(leftCols ++ payloadOut: _*)
    }
  }
}
