package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value). The reference is purely
  * static-table (SURVEY.md §2.8), so this module is part of the pipeline
  * extension surface: the same transformations run identically over
  * `readStream` sources on a cluster — watermarks bound state, and
  * aggregation state partitions by group key across executors.
  */
object EventStreams {

  /** Windows per spine slab in [[rateAnomaly]]'s two-level spine
    * generation — the hard bound on how many sequence elements any
    * single task materializes. 8192 one-minute windows ≈ 5.7 days per
    * slab; small enough that even a skewed hash of (type, slab) pairs
    * stays cheap, large enough that the slab-index relation is ~1e5
    * rows per type at the 1B-window guard. */
  private val SpineSlabWindows = 8192L

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionState(start: Long, lastSeen: Long, n: Long, total: Double)

  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long, total_value: Double)

  /** Tumbling-window per-type aggregation with a watermark bounding state:
    * late events beyond `watermark` are dropped, windows finalize once the
    * watermark passes their end. */
  def windowedTypeCounts(events: DataFrame, windowLength: String = "1 minute",
                         watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), round(col("total_value"), 4).as("total_value"))

  /** Event-rate anomaly detection — the ingestion-monitoring readout
    * over the event stream shape: per (tumbling window, event_type), a
    * z-score of the window's count against the TRAILING `trailing`
    * windows, with the spine of empty windows filled in first — a
    * silent window is the loudest anomaly a pipeline produces (a dead
    * producer, a stuck partition), and a counts-only relation cannot
    * see it. The batch form of the readout; [[windowedTypeCounts]]'
    * streaming aggregation is its upstream feed.
    *
    * Rows with a null ts or null event_type are excluded up front —
    * they carry no window / no series, and leaving them in would
    * produce spine rows that can never match their counts (the counts
    * silently read as 0). Documented-filter, the same convention
    * [[graft.ops.Sampling.budgetSelect]] applies to null keys.
    *
    * Engine-portable variance: the trailing mean/variance derive from
    * integer-domain trailing sums (Σn, Σn², both exact longs — counts
    * square safely inside int64), so both engines evaluate the SAME
    * double expression from the SAME exact integers, instead of each
    * running its own stddev accumulation whose summation order differs
    * (the module's hash-not-RNG policy applied to second moments).
    * The variance NUMERATOR k·Σn² − (Σn)² is computed in decimal(38,0)
    * — exact for any int64 Σn, Σn² (max |value| < 8.6e37) — so the
    * double division happens once, on an exactly-represented integer;
    * the naive Σn² − s²/k double form cancels catastrophically once
    * (Σn)² crosses 2^53 and can report ≤ 0 variance for genuinely
    * varying counts, rerouting scoring into the flat-jump test.
    * z is null until a full trailing history exists and when the
    * trailing variance is 0; the zero-variance case still flags iff
    * the count moved at all (n·k ≠ Σn, an exact integer test — a flat
    * line that jumps is infinitely surprising, not unmeasurable).
    *
    * Shape at scale: raw events collapse map-side to (window, type)
    * counts — the only corpus-sized exchange; the spine (span ×
    * distinct types) and every window after it live on that bounded
    * relation, partitioned by type. The spine generates in two levels —
    * a slab-index explode per type, a (type, slab) hash exchange, then
    * per-slab window sequences bounded at [[SpineSlabWindows]] elements
    * per task — so "1-second windows over a year of events" costs
    * thousands of parallel small explodes, never one 31M-element task;
    * only a span past 1B windows (a mis-parameterized call) is refused
    * in-plan with a clear error. Returns (window_start,
    * event_type, n_events, trail_mean, z, anomaly), ordered. */
  def rateAnomaly(events: DataFrame, windowLength: String = "1 minute",
                  trailing: Int = 5, zThreshold: Double = 3.0): DataFrame = {
    require(trailing >= 2, "trailing must be >= 2 (sample variance)")
    require(zThreshold > 0 && !zThreshold.isNaN && !zThreshold.isInfinite,
      "zThreshold must be a positive finite number")
    // windowLength is interpolated into the spine's sequence() SQL —
    // admit only the simple interval grammar, nothing else
    require(windowLength.matches("\\d+ (second|minute|hour|day)s?"),
      s"windowLength must look like '5 minutes', got '$windowLength'")
    val counts = events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
    scoreWindowCounts(counts, windowLength, trailing, zThreshold)
  }

  /** The spine-fill + trailing-z scoring stage of [[rateAnomaly]],
    * factored over the (window_start, event_type, n_events) counts
    * relation so the streaming twin can run the IDENTICAL arithmetic
    * over its accumulated finalized-window counts — one scorer, two
    * feeds, stream ≡ batch by construction. */
  private def scoreWindowCounts(counts: DataFrame, windowLength: String,
                                trailing: Int, zThreshold: Double): DataFrame = {
    val span = counts.agg(min(col("window_start")).as("__lo"),
      max(col("window_start")).as("__hi"))
    val types = counts.select(col("event_type")).distinct()
    // the spine is generated in SLABS so no single task ever
    // materializes more than SpineSlabWindows elements: level 1
    // explodes the (bounded) slab-index sequence per type, a hash
    // exchange spreads (type, slab) pairs across tasks, and level 2
    // explodes each slab's own window sequence — the same timestamp
    // sequence() as the flat form, so the spine VALUES are identical
    // (both engines agree) while a year of 1-second windows costs
    // ~3850 parallel 8192-element explodes instead of one 31M-element
    // task. A guard still refuses truly absurd spans (> 1B windows:
    // the readable failure for a mis-parameterized call) in-plan.
    val stepSecs = windowLength.split(" ")(0).toLong *
      Map("second" -> 1L, "minute" -> 60L, "hour" -> 3600L,
        "day" -> 86400L)(windowLength.split(" ")(1).stripSuffix("s"))
    val spanSecs = (unix_timestamp(col("__hi")) -
      unix_timestamp(col("__lo"))).cast("double")
    val slabSpanSecs = SpineSlabWindows * stepSecs
    val spine = types.crossJoin(broadcast(span))
      .withColumn("__guard", assert_true(
        spanSecs <= lit(1e9) * lit(stepSecs.toDouble),
        lit(s"rateAnomaly: the event span holds more than 1B '$windowLength'" +
          " windows - widen the window or filter the span")))
      .filter(col("__guard").isNull)
      .select(col("event_type"), col("__lo"), col("__hi"), explode(expr(
        s"sequence(0L, (unix_timestamp(__hi) - unix_timestamp(__lo))" +
          s" div ${stepSecs}L div ${SpineSlabWindows}L)")).as("__slab"))
      .repartition(col("event_type"), col("__slab"))
      .select(col("event_type"), explode(expr(
        s"sequence(__lo + make_dt_interval(0, 0, 0, __slab * ${slabSpanSecs}L), " +
          s"least(__lo + make_dt_interval(0, 0, 0, " +
          s"__slab * ${slabSpanSecs}L + ${(SpineSlabWindows - 1) * stepSecs}L), " +
          s"__hi), interval $windowLength)")).as("window_start"))
    val filled = spine.join(counts, Seq("event_type", "window_start"), "left")
      .select(col("window_start"), col("event_type"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
    val wTrail = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("window_start")).rowsBetween(-trailing, -1)
    val k = lit(trailing.toLong)
    val scored = filled
      .withColumn("__hist", count(lit(1)).over(wTrail))
      .withColumn("__s", sum(col("n_events")).over(wTrail))
      .withColumn("__ss", sum(col("n_events") * col("n_events")).over(wTrail))
    val mean = col("__s").cast("double") / k.cast("double")
    // k·Σn² − (Σn)² stays exact in decimal(38,0) for any int64 inputs;
    // one double rounding at the cast, then the exact-double division
    val varNumer = (col("__ss").cast("decimal(38,0)") * k.cast("decimal(38,0)") -
      col("__s").cast("decimal(38,0)") * col("__s").cast("decimal(38,0)"))
    val variance = varNumer.cast("double") /
      lit((trailing.toLong * (trailing - 1)).toDouble)
    val z = when(col("__hist") === k && variance > 0,
      graft.ops.Rounding.halfUp(
        (col("n_events").cast("double") - mean) / sqrt(variance), 4))
    val flatJump = col("__hist") === k && variance <= 0 &&
      col("n_events") * k =!= col("__s")
    scored
      .withColumn("trail_mean",
        when(col("__hist") === k, graft.ops.Rounding.halfUp(mean, 4)))
      .withColumn("z", z)
      .withColumn("anomaly",
        (z.isNotNull && abs(z) >= lit(zThreshold)) || flatJump)
      .select(col("window_start"), col("event_type"), col("n_events"),
        col("trail_mean"), col("z"), col("anomaly"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** STREAMING twin of [[rateAnomaly]] — the monitoring op a pipeline
    * most wants continuous, packaged like
    * [[graft.ops.Dedup.dropNearDuplicatesAgainstIndexStream]] so the
    * production loop needs no hand-rolled glue: the tumbling per-type
    * counts run as a watermarked streaming aggregation (append mode —
    * a window's count emits exactly once, when the watermark proves it
    * final), and `foreachBatch` accumulates those finalized counts and
    * runs the IDENTICAL [[scoreWindowCounts]] scorer over them, handing
    * `sink` only the newly-scoreable rows (window_start past the
    * previous epoch's horizon) with the epoch id. Because append mode
    * emits a window only once every window at-or-before it is final
    * (finality is global-watermark monotone), scoring the accumulated
    * relation and slicing by the horizon reproduces the batch output
    * row for row — including the empty-window SPINE rows for types
    * silent in a finalized window (asserted on a shared fixture in
    * StreamingSpec). The tail caveat every append-mode op shares: the
    * last windows emit only once the watermark passes them.
    *
    * State posture: BOUNDED (round 19 — previously the accumulated
    * counts relation grew one row per finalized (window, type)
    * forever): a future emission's trailing frame reaches back at most
    * `trailing` windows, so the state prunes to the last trailing+2
    * windows per type — (active types × (trailing+2)) rows, held as a
    * `localCheckpoint`ed DataFrame (materialized, lineage truncated
    * each epoch), with the superseded checkpoint unpersisted. Silent
    * types and the spine's span floor survive the prune via TRUE
    * zero-count boundary anchors (see the prune comment in the body),
    * keeping the pruned scorer's fresh rows identical to the batch
    * twin's. Epoch replays (at-least-once foreachBatch) re-deliver rows
    * the state already holds — the merge dedups on the (window, type)
    * key (replayed counts are identical, so either copy is exact), and
    * the horizon slice keeps the sink's rows monotone.
    *
    * Restart-from-checkpoint: supported WHEN `stateDir` is given — the
    * accumulator (counts + horizon) persists there after every epoch
    * ([[StreamState]]: generationed parquet + atomically-published
    * manifest), and a fresh process attaching to the same checkpoint
    * reloads it on its first batch; the crash window on either side of
    * the persist is absorbed by the same (window, type) dedup that
    * handles intra-run replays. Without `stateDir` a restart FAILS FAST
    * (the watermark aggregation's state store would survive while this
    * accumulator reset, silently diverging from the batch twin). The
    * checkpoint and state dir are a PAIR — recreating one without the
    * other fails fast on the epoch cross-check.
    *
    * Returns the un-started `DataStreamWriter`; the caller picks
    * trigger/checkpoint and calls `.start()`. */
  def rateAnomalyStream(events: DataFrame, windowLength: String = "1 minute",
      trailing: Int = 5, zThreshold: Double = 3.0,
      watermark: String = "2 minutes",
      stateDir: Option[String] = None)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(trailing >= 2, "trailing must be >= 2 (sample variance)")
    require(zThreshold > 0 && !zThreshold.isNaN && !zThreshold.isInfinite,
      "zThreshold must be a positive finite number")
    require(windowLength.matches("\\d+ (second|minute|hour|day)s?"),
      s"windowLength must look like '5 minutes', got '$windowLength'")
    val counts = events
      .filter(col("ts").isNotNull && col("event_type").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
    // driver-held across epochs: the accumulated finalized counts and
    // the scored horizon (max window already handed to the sink's feed).
    // With `stateDir` these persist after every epoch and reload on the
    // first post-restart batch (StreamState — see the docstring's crash
    // analysis); WITHOUT it a restart fails fast below: the watermark
    // aggregation's state store survives a restart (finalized windows
    // are never re-emitted) while these vars reset, so post-restart
    // epochs would score against an empty history and silently diverge
    // from the batch twin. Intra-run epoch REPLAYS (at-least-once
    // foreachBatch) are fully absorbed — see the merge's dedup.
    val stateKind = "rate_anomaly_stream_state"
    val stepSecs = windowLength.split(" ")(0).toLong *
      Map("second" -> 1L, "minute" -> 60L, "hour" -> 3600L,
        "day" -> 86400L)(windowLength.split(" ")(1).stripSuffix("s"))
    var state: Option[DataFrame] = None
    var horizon: Option[java.sql.Timestamp] = None
    var observedFirstEpoch = false
    var snapshotExists = false
    counts.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        if (!observedFirstEpoch) {
          // first batch of a FRESH query is epoch 0 (possibly replayed);
          // a first-observed epoch > 0 means this process attached to an
          // existing checkpoint — legal only with a persisted accumulator
          if (state.isEmpty) stateDir.foreach { d =>
            StreamState.load(b.sparkSession, d, stateKind, Seq("counts"))
              .foreach { snap =>
                StreamState.checkEpoch(snap.epoch, epoch, d)
                state = Some(snap.relations("counts")) // materialized by load
                horizon = snap.meta.get("horizon_ms") match {
                  case Some(l: Long) => Some(new java.sql.Timestamp(l))
                  case _ => None
                }
                snapshotExists = true
              }
          }
          if (epoch > 0 && state.isEmpty) throw new IllegalStateException(
            s"rateAnomalyStream cannot resume from an existing checkpoint " +
              s"(first observed epoch $epoch with empty accumulator): " +
              "finalized windows before the restart are unrecoverable — " +
              "reprocess the source under a fresh checkpoint, or run with " +
              "stateDir to persist the accumulator across restarts")
          observedFirstEpoch = true
        }
        // dropDuplicates on the window key: under foreachBatch's
        // at-least-once contract a replayed epoch re-delivers rows the
        // state already holds, and a duplicated (window, type) count row
        // would join the spine twice and double into every later
        // trailing sum — the counts are identical across replays, so
        // keeping either copy is exact. A no-op on the failure-free path
        // (append mode emits each window once).
        val merged = (state match {
          case None    => b
          case Some(s) => s.union(b)
        }).dropDuplicates("window_start", "event_type").localCheckpoint()
        val (newMin, newMax) = merged.agg(min(col("window_start")),
            max(col("window_start"))).head() match {
          case r if r.isNullAt(1) => (None, None)
          case r => (Some(r.getTimestamp(0)), Some(r.getTimestamp(1)))
        }
        // nothing finalized yet (the first epochs, before the watermark
        // passes any window): the scorer has no span to fill — the sink
        // simply isn't called this epoch
        if (newMax.isDefined && newMax != horizon) {
          val scored = scoreWindowCounts(merged, windowLength, trailing,
            zThreshold)
          val fresh = horizon match {
            case Some(h) => scored.filter(col("window_start") > lit(h))
            case None    => scored
          }
          sink(fresh, epoch)
        }
        // BOUNDED STATE (round 19 — the accumulated relation previously
        // grew one row per finalized (window, type) forever): every
        // future emission's trailing frame reaches back at most
        // `trailing` windows behind the horizon, so counts older than
        // horizon − (trailing+1) windows can never influence a future
        // score — prune them. Two exactness anchors keep the pruned
        // scorer's output identical to the batch twin's tail: (1) every
        // type ever seen keeps at least one row (a TRUE zero-count row
        // at the prune boundary — its window finalized silent for that
        // type, or its real row would still be kept; prune bounds move
        // monotonically forward, so no real row can have been dropped
        // earlier), preserving the silent-type SPINE rows the batch
        // twin emits forever; (2) the boundary row also floors the
        // span's global min at the bound, so fresh rows' frames always
        // see their full `trailing` filled windows exactly as the
        // batch's complete spine provides. Pruning only engages once
        // history actually extends past the bound — a young stream
        // (true history shorter than the frame) keeps its true min, so
        // partial-history null-z rows still match the batch twin.
        val stored = (newMin, newMax) match {
          case (Some(mn), Some(mx))
              if mn.getTime < mx.getTime - (trailing + 1) * stepSecs * 1000 =>
            val bound = new java.sql.Timestamp(
              mx.getTime - (trailing + 1) * stepSecs * 1000)
            val kept = merged.filter(col("window_start") >= lit(bound))
            val anchors = merged.select(col("event_type")).distinct()
              .join(kept.filter(col("window_start") === lit(bound))
                .select(col("event_type")), Seq("event_type"), "left_anti")
              .select(lit(bound).as("window_start"), col("event_type"),
                lit(0L).as("n_events"))
            kept.unionByName(anchors).localCheckpoint()
          case _ => merged
        }
        if (!(stored eq merged)) merged.unpersist()
        state.foreach(_.unpersist())
        state = Some(stored)
        horizon = newMax.orElse(horizon)
        // persist AFTER the sink ran: a crash on either side of this
        // write replays the epoch exactly (see the docstring). The
        // relation is readout-sized (types × (trailing+2) rows), so one
        // file per snapshot keeps the reload a single-read object. An
        // EMPTY batch changes neither counts nor horizon — once a
        // snapshot exists, those epochs bump only the manifest's epoch
        // (a sparse stream with a short trigger would otherwise pay a
        // parquet write + prune per empty tick).
        stateDir.foreach { d =>
          if (!b.isEmpty || !snapshotExists) {
            StreamState.persist(b.sparkSession, d, stateKind, epoch,
              Seq("counts" -> stored.coalesce(1)),
              horizon.toSeq.map(h => "horizon_ms" -> (h.getTime: Any)))
            snapshotExists = true
          } else StreamState.bumpEpoch(b.sparkSession, d, stateKind, epoch)
        }
      }
  }

  /** Gap-based sessionization with explicit state: a user's events belong
    * to one session until `gapSeconds` of event-time silence. State lives
    * in the state store partitioned by user — the scale-out form of
    * per-user sequential logic. Emits a row per CLOSED session (timeout
    * path) plus finalized sessions on gap-jumps within a batch. */
  def sessionize(events: Dataset[Event], gapSeconds: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSeconds * 1000

    events
      .withWatermark("ts", s"$gapSeconds seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start),
              new Timestamp(s.lastSeen), s.n, s.total))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var current = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              current match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  current = Some(SessionState(s.start, t, s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += Session(userId, new Timestamp(s.start),
                    new Timestamp(s.lastSeen), s.n, s.total)
                  current = Some(SessionState(t, t, 1, e.value))
                case None =>
                  current = Some(SessionState(t, t, 1, e.value))
              }
            }
            current.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Batch form of gap sessionization over a static table — identical
    * session semantics to `sessionize` (a session ends after `gapSeconds`
    * of event-time silence). Tie-ordering of equal timestamps is
    * irrelevant to the result (a zero gap never breaks a session).
    *
    * Shape at scale — SEGMENTED carry (the `Joins.asOfJoin` granule
    * trick applied to session ids): a single per-user running window
    * funnels a hot entity's ENTIRE event history into one task — window
    * aggregation has no map-side partial combine and AQE cannot split a
    * skewed window partition, so one pathological bot account stalls the
    * stage. Instead:
    *
    *   1. each event buckets to a time granule `g = floor(sec(ts) /
    *      width)` (`granule` in seconds, or auto-derived targeting
    *      ~4096 segments over the observed span, floored at 4× the gap
    *      so local breaks can actually fire);
    *   2. LOCAL pass within (user, granule): gap-break flags + running
    *      break count (the local session id) — the hot user's history
    *      spreads over its granules, each an independent task — and the
    *      events collapse immediately into PARTIAL SESSIONS (one row
    *      per user × granule × local session: start/end/count/sum) on
    *      the window's own exchange; raw events are never touched again;
    *   3. ONE per-user ordered pass over the partial sessions,
    *      ordered by (granule, local sid): a partial CONTINUES the
    *      running session iff it is its granule's first local session
    *      and starts within gap of the previous row's end (that row is
    *      by construction the previous existing granule's last local
    *      session — a spurious local break). The global session id is
    *      the running count of NON-continuing partials, which
    *      telescopes to the old carry arithmetic
    *      `local_sid + granule_offset - continues` exactly;
    *   4. merge partial sessions by (user, global sid) — and because
    *      the carry pass hash-partitioned the relation by user alone,
    *      `HashPartitioning(user)` already satisfies the merge's
    *      `ClusteredDistribution(user, sid)`: the final aggregate runs
    *      IN PLACE, no exchange.
    *
    * Any granule width is CORRECT; only task granularity varies. The
    * carry window IS per-user, but over partial sessions, not events:
    * sessions are gap-separated, so a granule holds at most
    * ~`width/gap + 1` local sessions — the per-user partition load is
    * bounded by the user's session count + granule count, never by raw
    * event count, regardless of how many events the user holds.
    *
    * The strategy is [[graft.ops.Joins.carryGranule]]'s rule, shared
    * with the as-of join: "window" pins the one-window-per-user carry
    * ([[sessionizeWindowed]]); "segmented" always segments, at any
    * size; "auto" (the default) segments when a granule is given, or
    * when the row estimate reaches `Joins.SegmentedCarryMinRows` and a
    * hash sample of the user ids finds a hot key
    * ([[graft.ops.Joins.measuredUniformKeys]]); otherwise it keeps the
    * one-window carry (a maximally skewed user still sorts in one
    * sub-second task below the gate, and on measured-uniform keys the
    * carry's second exchange is pure cost). A width that is not given
    * comes from one column-pruned min/max pre-pass: ~4096 segments over
    * the observed span, floored at 4× the gap (see the derivation
    * comment). Every strategy's output is row-identical. */
  def sessionizeBatch(events: DataFrame, gapSeconds: Long,
                      granule: Option[Long] = None,
                      strategy: String = "auto"): DataFrame = {
    granule.foreach(w => require(w > 0, "sessionizeBatch granule must be positive"))
    require(Set("auto", "window", "segmented")(strategy),
      s"sessionizeBatch strategy must be auto, window or segmented: $strategy")
    require(strategy != "window" || granule.isEmpty,
      "sessionizeBatch: an explicit granule contradicts strategy=window")
    // An NTZ time column unifies on the session-zone timestamp up front
    // (UTC in every graft entry point, so the wall time IS the instant):
    // Spark rejects a direct NTZ→long cast, and every gap/granule
    // computation below embeds ts with cast("long") — epoch SECONDS for
    // timestamps, own units for integer columns, matching gapSeconds.
    val ev = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        events.withColumn("ts", col("ts").cast("timestamp"))
      case _ => events
    }
    // The derived width is FLOORED at 4× the session gap: a granule
    // narrower than the gap can never fire a local break (two events
    // inside it are closer than the gap by construction), so every
    // (user, granule) would emit exactly one partial session and ALL
    // session construction would fall to the cross-granule machinery —
    // the partials relation balloons toward one row per event and the
    // local windows become pure overhead. At ≥4 gaps per granule the
    // local pass closes most sessions where they happen, while the
    // hot-key spread keeps up to span/(4·gap) independent segments.
    val gapFloor: Long =
      if (gapSeconds > Long.MaxValue / 4) Long.MaxValue
      else math.max(4L * gapSeconds, 1L)
    val width = graft.ops.Joins.carryGranule(ev, "user_id", "ts", granule,
      strategy, "sessionize",
      graft.ops.Joins.spanGranule(ev, col("ts").cast("long"), gapFloor))
    val out = width match {
      case None => windowedSessions(ev, gapSeconds)
      case Some(w) => segmentedSessions(ev, gapSeconds, w)
    }
    restoreSessionTsType(out, events.schema("ts").dataType)
  }

  /** The classic one-window-per-user sessionization, the EXPLICIT
    * strategy "window" (xop `strategy: "window"`): ONE corpus exchange
    * on user_id, the running-break window, and a final aggregate the
    * user hash already satisfies — NO second exchange, no carry
    * machinery. Output ≡ [[sessionizeBatch]]'s other strategies row for
    * row (pinned in OpsSpec and XopSpec).
    *
    * When to choose it: corpora whose session key is reasonably UNIFORM,
    * where it skips the carry's partials exchange and carry window — the
    * auto path picks it there itself once the key sample proves
    * uniformity. It funnels each user's whole history through one
    * partition, so a single hot key (the bot account every real crawl
    * has) turns into a straggler sort no AQE setting can split. */
  def sessionizeWindowed(events: DataFrame, gapSeconds: Long): DataFrame =
    sessionizeBatch(events, gapSeconds, strategy = "window")

  private def windowedSessions(ev: DataFrame, gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tl = col("ts").cast("long")
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val prev = lag(col("ts"), 1).over(byUser)
    val brk = when(prev.isNull
        .or(tl - prev.cast("long") > gapSeconds), 1L)
      .otherwise(0L)
    ev
      .withColumn("__brk", brk)
      .withColumn("__sid", sum(col("__brk")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("total_value"))
      .drop("__sid")
  }

  /** Both sessionization strategies unify an NTZ `ts` onto TimestampType
    * for the gap/granule arithmetic; this restores the INPUT's flavor on
    * the session bounds so strategy choice never changes the output
    * SCHEMA (the "same output row for row" contract includes types —
    * the session-UTC convention makes the round-trip value-exact). */
  private def restoreSessionTsType(
      out: DataFrame, inputTs: org.apache.spark.sql.types.DataType): DataFrame =
    inputTs match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        out.withColumn("session_start", col("session_start").cast(inputTs))
          .withColumn("session_end", col("session_end").cast(inputTs))
      case _ => out
    }

  /** Gap sessionization via Spark's NATIVE session_window aggregate —
    * same output as [[sessionizeBatch]] row for row (asserted in
    * StreamingSpec, and oracle-checked as x15b). An explicit strategy
    * only (xop `strategy: "native"`); the auto path never picks it.
    *
    * The trade against the segmented carry: the native plan partially
    * MERGES sessions map-side before one user_id shuffle, so when event
    * layout is time-clustered per input split (log pipelines that write
    * parquet in time order) each mapper collapses a hot user's slice to
    * a handful of sessions and the reduce side sees almost nothing. But
    * the reduction is LAYOUT-DEPENDENT: on a temporally-scattered layout
    * (hash-partitioned storage, shuffled inputs) map-side merging
    * degenerates and the hot user's near-raw event stream funnels into
    * one reduce task — the exact straggler the (user, granule)
    * segmentation bounds BY CONSTRUCTION regardless of layout. Choose
    * this when the input is known time-clustered. */
  def sessionizeNative(events: DataFrame, gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, "sessionizeNative gap must be positive")
    require(gapSeconds <= MaxIntervalSeconds,
      s"gapSeconds exceeds the representable micro-denominated range ($MaxIntervalSeconds)")
    val ev = events.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        events.withColumn("ts", col("ts").cast("timestamp"))
      case _ => events
    }
    // session_window's gap is a time interval: the strictly-greater gap
    // rule matches sessionizeBatch (an event exactly gapSeconds after
    // the previous CONTINUES the session in both: session_window merges
    // [s, e+gap) windows that OVERLAP OR TOUCH — adjacency counts)
    val out = ev
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("total_value"))
      .drop("session_window")
    restoreSessionTsType(out, events.schema("ts").dataType)
  }

  /** The segmented-carry body of [[sessionizeBatch]] (see its scaladoc
    * for the step-by-step shape). Raw events are touched by exactly ONE
    * pass: the (user, granule) window computes local session ids and
    * the events collapse immediately into PARTIAL SESSIONS — one row
    * per (user, granule, local session) with start/end/count/sum —
    * consuming the window's own exchange (grouping keys are a superset
    * of the partition keys, so no new exchange and full map-side
    * combine).
    *
    * The cross-granule carry is then a SINGLE per-user window over the
    * partials, ordered by (granule, local sid). At a granule's first
    * local session (`__lsid = 1`), the previous row in that order is —
    * by construction — the previous existing granule's LAST local
    * session, so `lag(__s_end)` IS the old granule-level `__last`
    * boundary stat and the continuation test needs no boundary-stats
    * aggregate at all. The global session id is the running count of
    * non-continuing partials: rows before granule g contribute
    * Σ(nbrk(g') − cont(g')) = the old per-granule offset, and rows
    * 1..lsid inside g contribute lsid − cont(g), so the running sum
    * telescopes to the old `__lsid + __off − __cont` exactly (pinned by
    * the cross-strategy equality suites).
    *
    * Plan shape: TWO exchanges total — events by (user, granule) for
    * the local pass, partials by user for the carry — and NOTHING
    * after: sessions stream straight out of the carry window (see the
    * chain-emission comment in the body), so there is no terminal
    * merge aggregate at all. The earlier granule-level carry (boundary
    * aggregate → per-user window → join back → full (user, sid)
    * exchange of the partials) paid two more partials-scale exchanges
    * plus the join; the per-row carry is the same arithmetic with the
    * join eliminated by ordering, and the chain emission replaces the
    * result-sized (user, sid) hash aggregate with streaming prefix
    * arithmetic over the already-sorted partition (1.28B events:
    * 368.6 → 234.4 s end-to-end, output identical). Skew bound: sessions are gap-separated, so a granule
    * holds ≤ ~width/gap + 1 local sessions — the per-user carry
    * partition is bounded by session count + granule count
    * (time-span-shaped), never by the user's raw event count. */
  private def segmentedSessions(events: DataFrame, gapSeconds: Long,
                                width: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tl = col("ts").cast("long")
    val g = graft.ops.Joins.granuleBucket(tl, width)
    val wLocal = Window.partitionBy(col("user_id"), col("__g")).orderBy(col("ts"))
    val prev = lag(col("ts"), 1).over(wLocal)
    val brk = when(prev.isNull
        .or(tl - prev.cast("long") > gapSeconds), 1L)
      .otherwise(0L)
    val partials = events
      .withColumn("__g", g)
      .withColumn("__brk", brk)
      .withColumn("__lsid", sum(col("__brk")).over(
        wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__g"), col("__lsid"))
      .agg(min(col("ts")).as("__s_start"), max(col("ts")).as("__s_end"),
        count(lit(1)).as("__n"), sum(col("value")).as("__v"))
    val wUser = Window.partitionBy(col("user_id"))
      .orderBy(col("__g"), col("__lsid"))
    // continues: this partial is its granule's first local session and
    // starts within gap of the previous partial's end (= the previous
    // existing granule's last session end) — its local first-row break
    // was spurious, so it joins the running session
    val prevEnd = lag(col("__s_end"), 1).over(wUser)
    val continues = when(col("__lsid") === 1L && prevEnd.isNotNull &&
        col("__s_start").cast("long") - prevEnd.cast("long") <= gapSeconds, 1L)
      .otherwise(0L)
    // Sessions STREAM out of the carry window — no terminal aggregate.
    // A session's partials are CONTIGUOUS in the carry order (a chain =
    // one cont=0 row plus its cont=1 followers, each the lsid-1 head of
    // a strictly later granule, so starts and ends are monotone within
    // a chain). Running prefix sums therefore recover every per-session
    // total as a difference against the prefix captured at the chain's
    // start, and the chain's LAST row (the next row does not continue)
    // emits the finished session: start from the chain-start marker,
    // end from itself (monotone), counts/sums as prefix differences.
    // The old groupBy(user, sid) built a hash state of one entry per
    // SESSION — result-sized, 185.7 s of the 368.6 s wall at 1.28B —
    // where the chain emission is pure
    // streaming work over the already-sorted carry partition: same two
    // exchanges, zero aggregate. Exactness: counts are longs; values
    // accumulate in decimal(38,12) so the prefix DIFFERENCE carries no
    // float cancellation at any user-history magnitude (a double prefix
    // over a 100M-event user would lose the low bits the 4dp rounding
    // needs; the x26/x86 exact-decimal precedent), with a non-null
    // running count reproducing sum()'s all-null → null semantics.
    // Cross-strategy equality contract: native/windowed sum raw doubles
    // per session, so pre-rounding totals agree only up to each form's
    // accumulation error — the decimal cast quantizes each per-granule
    // partial at 12dp (≤5e-13/granule, so a session spanning G granules
    // drifts ≤G·5e-13 from the double-sum total: below the 4dp rounding
    // half-ulp of 5e-5 until G ~ 1e8 granules PER SESSION, i.e. a
    // >3-year session at 1 s granules — scale 6 crossed that line at
    // G ~ 100, a real data-dependent crack). Integer headroom is 26
    // digits (1e26), far past any realistic per-user value sum; the
    // row-identical assertion across all three strategies is on the
    // ROUNDED 4dp surface. The chain-start
    // marker is struct-wrapped so a null-ts session's null bounds
    // survive last(ignoreNulls) — struct(null) is non-null (the
    // exactByText precedent).
    val run = wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val vDec = col("__v").cast("decimal(38,12)")
    val staged = partials
      .withColumn("__cont", continues)
      .withColumn("__rn", sum(col("__n")).over(run))
      .withColumn("__rv", sum(coalesce(vDec, lit(0).cast("decimal(38,12)"))).over(run))
      .withColumn("__nv", sum(when(col("__v").isNotNull, 1L).otherwise(0L)).over(run))
      .withColumn("__next_cont", lead(col("__cont"), 1).over(wUser))
      // second window pass, same partitioning and sort (the exchange and
      // sort are already satisfied — no new shuffle): capture the prefix
      // state just BEFORE the current chain began
      .withColumn("__base", last(
        when(col("__cont") === 0L, struct(
          col("__s_start").as("s"),
          (col("__rn") - col("__n")).as("bn"),
          (col("__rv") - coalesce(vDec, lit(0).cast("decimal(38,12)"))).as("bv"),
          (col("__nv") - when(col("__v").isNotNull, 1L).otherwise(0L)).as("bnv"))),
        ignoreNulls = true).over(run))
    staged
      .filter(coalesce(col("__next_cont"), lit(0L)) === 0L)
      .select(col("user_id"),
        col("__base").getField("s").as("session_start"),
        col("__s_end").as("session_end"),
        (col("__rn") - col("__base").getField("bn")).as("n_events"),
        when(col("__nv") - col("__base").getField("bnv") === 0L,
          lit(null).cast("double"))
          .otherwise(round((col("__rv") - col("__base").getField("bv"))
            .cast("double"), 4)).as("total_value"))
  }

  /** Largest representable horizon/gap in whole seconds when scaled to
    * epoch micros (interval literals and the range-join granule are
    * micro-denominated longs): ~292k years. Guarded explicitly so an
    * absurd horizon fails its precondition instead of overflowing into
    * a negative granule downstream. */
  private[graft] val MaxIntervalSeconds: Long = Long.MaxValue / 1000000L - 1

  /** Watermarked STREAM-STREAM interval join over two event streams of
    * the `events` shape: every `anchors` row pairs with the `matches`
    * rows of the same `keyCol` whose time falls in
    * [anchor.ts − horizonSeconds, anchor.ts] (both ends inclusive) — the
    * attribution primitive ("which clicks preceded this error within a
    * minute, per user"). Inner-join semantics: anchors with no match in
    * the horizon emit nothing.
    *
    * Scale/state posture: both sides carry watermarks and the join
    * condition bounds `match_ts` to a closed interval around
    * `anchor_ts`, which is exactly what Structured Streaming needs to
    * EXPIRE buffered state — each side's state store holds only rows
    * within (watermark + horizon), partitioned by key hash across
    * executors; without the time bound the join would buffer both
    * streams forever. Output columns: (anchor_id, keyCol, anchor_ts,
    * match_ts, match_value) — identical to [[intervalJoinBatch]], which
    * is the bounded-replay twin (asserted equal on a shared fixture in
    * StreamingSpec).
    *
    * `how` is inner (default) or left: left keeps matchless anchors with
    * null match fields — in streaming those rows emit only once the
    * watermark passes the anchor's horizon (the engine must prove no
    * match can still arrive), so a left-outer stream join trails the
    * inner rows by the watermark delay. */
  def intervalJoinStream(anchors: DataFrame, matches: DataFrame, keyCol: String,
                         horizonSeconds: Long,
                         watermark: String = "2 minutes",
                         how: String = "inner"): DataFrame = {
    require(horizonSeconds >= 0, "horizonSeconds must be non-negative")
    require(horizonSeconds <= MaxIntervalSeconds,
      s"horizonSeconds exceeds the representable micro-denominated range ($MaxIntervalSeconds)")
    val joinType = how match {
      case "inner" => "inner"
      case "left"  => "left_outer"
      case other => throw new IllegalArgumentException(
        s"intervalJoinStream how must be inner or left: $other")
    }
    val a = anchors.select(col("event_id").as("anchor_id"),
        col(keyCol).as("__ak"), col("ts").as("anchor_ts"))
      .withWatermark("anchor_ts", watermark)
    val m = matches.select(col(keyCol).as("__mk"),
        col("ts").as("match_ts"), col("value").as("match_value"))
      .withWatermark("match_ts", watermark)
    a.join(m, col("__ak") === col("__mk") &&
        col("match_ts") >= col("anchor_ts") - expr(s"interval $horizonSeconds seconds") &&
        col("match_ts") <= col("anchor_ts"), joinType)
      .select(col("anchor_id"), col("__ak").as(keyCol), col("anchor_ts"),
        col("match_ts"), col("match_value"))
  }

  /** Batch twin of [[intervalJoinStream]] — same semantics and output
    * schema over static frames. NOT a raw range-predicate join (Spark
    * would plan a broadcast-nested-loop): the horizon window rides
    * [[graft.ops.Joins.rangeJoin]]'s granule bucketing, so the plan is a
    * plain equi-join on (key, granule) with the exact interval predicate
    * alongside — hash shuffles both sides, no nested loop, and each
    * match's horizon interval spans ≤ 2 granules (granule = the horizon
    * itself). `ts` must be a timestamp (the events shape; granule embeds
    * as epoch micros). */
  def intervalJoinBatch(anchors: DataFrame, matches: DataFrame, keyCol: String,
                        horizonSeconds: Long, how: String = "inner"): DataFrame = {
    require(horizonSeconds >= 0, "horizonSeconds must be non-negative")
    require(horizonSeconds <= MaxIntervalSeconds,
      s"horizonSeconds exceeds the representable micro-denominated range ($MaxIntervalSeconds)")
    require(how == "inner" || how == "left",
      s"intervalJoinBatch how must be inner or left: $how")
    // BOTH join types run one granule-bucketed rangeJoin with ANCHORS as
    // the points side. The interval predicate is symmetric —
    // `match_ts ∈ [anchor_ts − horizon, anchor_ts]` is exactly
    // `anchor_ts ∈ [match_ts, match_ts + horizon]` — so anchors can be
    // the points (which rangeJoin's left_outer already preserves),
    // making the left form ONE join: no anti-join, no second execution
    // of the join subtree. The earlier inner+anti left shape ran the
    // join twice (per-branch column pruning made the subtrees
    // canonically unequal, so AQE couldn't stage-reuse the exchange —
    // a documented ~2× at sf1); this shape measures left ≈ inner
    // (warm: 1.3 s vs 1.4 s at sf1, one shuffled
    // SortMergeJoin each). The ≤2× granule explode moves from the
    // anchor side to the match side — the exchanged row totals are
    // within ~25% of each other on the events fixture and the swap
    // buys the single-execution left. Matchless anchors (including
    // null-key and null-ts ones, and anchors whose event_id collides
    // with a matched one — each anchor is a preserved ROW, so no
    // identity join can conflate them) surface directly with null
    // match fields in the left form.
    //
    // the match-side key is renamed internally: both sides usually trace
    // to ONE events relation (filter error / filter click), and a
    // same-name key pair in the join condition trips Spark's self-join
    // ambiguity heuristics (resolved correctly, but warned on every run)
    val a = anchors.select(col("event_id").as("anchor_id"), col(keyCol),
      col("ts").as("anchor_ts"))
    val mIv = matches.select(col(keyCol).as("__ij_k"),
        col("ts").as("match_ts"), col("value").as("match_value"))
      .withColumn("__w_end",
        col("match_ts") + expr(s"interval $horizonSeconds seconds"))
    graft.ops.Joins.rangeJoin(a, mIv, "anchor_ts", "match_ts", "__w_end",
        payloadCols = Seq("match_ts", "match_value"),
        granule = math.max(horizonSeconds, 1L) * 1000000L,
        on = Seq((keyCol, "__ij_k")),
        how = if (how == "left") "left" else "inner")
      .select(col("anchor_id"), col(keyCol), col("anchor_ts"),
        col("match_ts"), col("match_value"))
  }

  /** Ordered FUNNEL analysis: for every `keyCol` entity, the earliest
    * strictly-increasing completion of the `steps` event-type sequence —
    * "signed up, then clicked, then purchased, in that order". Output:
    * one row per entity that reached step 1, with `ts_1..ts_k` (the
    * matched event times, null from the first uncompleted step on) and
    * `steps_completed`.
    *
    * Semantics: GREEDY-EARLIEST — step 1 matches the entity's earliest
    * step-1 event, each later step the earliest event of its type
    * STRICTLY after the previous match. For an unbounded funnel this is
    * provably maximal (an exchange argument: any completing assignment
    * can be shifted earlier step by step), so `steps_completed` is THE
    * funnel depth, not an artifact of matching order; it is also fully
    * deterministic and SQL-replayable (the x64 oracle). Time-boxed
    * funnels compose by pre-filtering the events frame to the window of
    * interest (where-clause or interval join) before calling this.
    *
    * Shape at scale: step 1 is one type-filtered partial-combining
    * min aggregate; each later step is one type-filtered join on the
    * key (the left side is one row per surviving entity — AQE
    * broadcasts it when small) followed by a partial-combining min
    * aggregate. k-1 joins + k aggregates for a k-step funnel, no
    * windows, no per-entity history materialized anywhere. */
  def funnel(events: DataFrame, keyCol: String,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.size <= 16, "funnel supports at most 16 steps")
    val first = events.filter(col("event_type") === steps.head)
      .groupBy(col(keyCol)).agg(min(col("ts")).as("ts_1"))
    val full = steps.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = s"ts_$i"
        val cur = s"ts_${i + 1}"
        val stepEvents = events.filter(col("event_type") === step)
          .select(col(keyCol).as("__fk"), col("ts").as("__ft"))
        val accCols = acc.columns.map(acc(_))
        acc.join(stepEvents,
            acc(keyCol) === col("__fk") && col("__ft") > acc(prev), "left")
          .groupBy(accCols: _*)
          .agg(min(col("__ft")).as(cur))
    }
    val tsCols = steps.indices.map(i => col(s"ts_${i + 1}"))
    full.withColumn("steps_completed",
      tsCols.map(c => when(c.isNotNull, 1).otherwise(0))
        .reduce(_ + _).cast("int"))
  }

  /** Per-entity funnel state for [[funnelStream]]: the matched step
    * timestamps so far in REVERSE order (head = latest match — prepends
    * keep updates O(1)), the entity's latest event time (the partial-emit
    * timeout anchors on it), and whether the completion row was already
    * emitted (suppresses re-matching until the state expires). */
  final case class FunnelState(matched: List[Long], lastSeen: Long, done: Boolean)

  /** [[FunnelState]] plus the strict mode's not-yet-finalized event
    * buffer: (epoch-ms, event_type) pairs with ts still ahead of the
    * watermark, drained into the greedy fold in exact time order once
    * the watermark passes them. */
  final case class FunnelBufState(buffered: List[(Long, String)],
                                  matched: List[Long], lastSeen: Long,
                                  done: Boolean)

  /** One funnel output row before widening: the matched step times in
    * step order (length = funnel depth). */
  final case class FunnelHit(user_id: Long, matched: Seq[Timestamp])

  /** Streaming twin of [[funnel]]: watermark-bounded incremental
    * greedy-earliest funnel matching via per-entity state. Output schema
    * and row semantics are IDENTICAL to the batch operator (asserted on a
    * shared fixture in StreamingSpec): one row per entity that reached
    * step 1, with `ts_1..ts_k` and `steps_completed`.
    *
    * Emission: a COMPLETING entity (all k steps matched) emits
    * immediately — under greedy-earliest a later event can never improve
    * an already-complete match, so the row is final the moment it exists.
    * A PARTIAL entity emits once the watermark passes `lastSeen +
    * timeoutSeconds` (the engine has then proven no in-order event can
    * still arrive to deepen it within the horizon) — streaming append
    * mode cannot retract, so partial depth needs a horizon to become
    * final; `timeoutSeconds` is that horizon, the analog of
    * [[sessionize]]'s gap. An entity resuming AFTER its partial row
    * flushed starts a fresh funnel attempt (bounded state is the
    * contract — an unbounded wait would buffer every entity forever).
    *
    * State is O(k) longs per in-flight entity, partitioned by key hash
    * across executors; events later than the watermark are dropped by
    * the engine before reaching the state function. Like [[sessionize]],
    * within-batch disorder is absorbed by sorting; cross-batch arrival
    * is assumed event-time-ordered per entity (the watermark bounds how
    * late a straggler can be).
    *
    * `strict = true` removes that ordering assumption entirely: events
    * buffer in state until the watermark passes them and only then
    * drain into the greedy fold in exact time order — stream ≡ batch
    * under ANY disorder the watermark admits (asserted on an
    * out-of-order fixture the eager mode gets wrong). The trades:
    * per-entity state grows to the events inside the watermark horizon
    * (still bounded — the eager mode stays O(k)), and completions emit
    * one watermark advance later instead of immediately. Choose strict
    * when the feed interleaves sources with skewed lags; the eager
    * default matches [[sessionize]]'s posture for in-order logs. */
  def funnelStream(events: Dataset[Event], steps: Seq[String],
                   timeoutSeconds: Long,
                   watermark: String = "10 minutes",
                   strict: Boolean = false): DataFrame = {
    require(steps.nonEmpty, "funnelStream needs at least one step")
    require(steps.size <= 16, "funnelStream supports at most 16 steps")
    require(timeoutSeconds > 0, "funnelStream timeout must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val k = steps.size
    val timeoutMs = timeoutSeconds * 1000

    // the shared greedy-earliest fold: feed `evs` (time-ordered) into
    // (matched, done); emits the completion row the moment depth hits k
    def fold(userId: Long, matched0: List[Long], done0: Boolean,
             evs: Seq[(Long, String)]): (List[Long], Boolean, Option[FunnelHit]) = {
      var matched = matched0; var done = done0
      var hit: Option[FunnelHit] = None
      evs.foreach { case (t, ty) =>
        val depth = matched.length
        if (!done && depth < k && ty == steps(depth) &&
            (depth == 0 || t > matched.head)) {
          matched = t :: matched
          if (depth + 1 == k) {
            hit = Some(FunnelHit(userId, matched.reverse.map(new Timestamp(_))))
            done = true
          }
        }
      }
      (matched, done, hit)
    }
    def partialOf(userId: Long, matched: List[Long],
                  done: Boolean): Iterator[FunnelHit] =
      if (!done && matched.nonEmpty)
        Iterator.single(FunnelHit(userId, matched.reverse.map(new Timestamp(_))))
      else Iterator.empty

    val watermarked = events.withWatermark("ts", watermark).groupByKey(_.user_id)
    val raw: Dataset[FunnelHit] =
      if (strict)
        watermarked.flatMapGroupsWithState[FunnelBufState, FunnelHit](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (userId: Long, batch: Iterator[Event], state: GroupState[FunnelBufState]) =>
            if (state.hasTimedOut) {
              val s = state.get
              state.remove()
              // every buffered ts <= lastSeen <= watermark − timeout, so
              // the whole buffer is final — drain it, then flush
              val (m, done, hit) = fold(userId, s.matched, s.done,
                s.buffered.sorted)
              hit.iterator ++ partialOf(userId, m, done)
            } else {
              val s0 = state.getOption
                .getOrElse(FunnelBufState(Nil, Nil, Long.MinValue, done = false))
              val incoming = batch.map(e => (e.ts.getTime, e.event_type)).toList
              val lastSeen = (s0.lastSeen :: incoming.map(_._1)).max
              val wm = state.getCurrentWatermarkMs()
              // only events at or behind the watermark are FINAL (no
              // earlier event can still arrive); later ones stay buffered
              val (ready, pending) =
                (s0.buffered ++ incoming).sorted.partition(_._1 <= wm)
              val (m, done, hit) = fold(userId, s0.matched, s0.done, ready)
              state.update(FunnelBufState(pending, m, lastSeen, done))
              state.setTimeoutTimestamp(math.max(lastSeen + timeoutMs, wm + 1))
              hit.iterator
            }
        }
      else
        watermarked.flatMapGroupsWithState[FunnelState, FunnelHit](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
          (userId: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
            if (state.hasTimedOut) {
              val s = state.get
              state.remove()
              partialOf(userId, s.matched, s.done)
            } else {
              val s0 = state.getOption
                .getOrElse(FunnelState(Nil, Long.MinValue, done = false))
              val evs = batch.map(e => (e.ts.getTime, e.event_type)).toList.sorted
              val lastSeen = (s0.lastSeen :: evs.map(_._1)).max
              val (m, done, hit) = fold(userId, s0.matched, s0.done, evs)
              state.update(FunnelState(m, lastSeen, done))
              // done states keep a short grace before expiring (suppresses
              // duplicate attempts from stragglers near the watermark); the
              // max() guards Spark's requirement that a timeout never sit
              // at or behind the current watermark
              state.setTimeoutTimestamp(math.max(lastSeen + timeoutMs,
                state.getCurrentWatermarkMs() + 1))
              hit.iterator
            }
        }
    // widen matched → ts_1..ts_k + steps_completed, the batch schema
    // (`get` is the ANSI-safe out-of-bounds-null element access)
    raw.toDF().select(
      col("user_id") +:
        (1 to k).map(i => get(col("matched"), lit(i - 1)).as(s"ts_$i")) :+
        // coalesce onto a literal pins the non-null marker the batch
        // twin's when/otherwise sum carries (matched is never null here)
        coalesce(size(col("matched")), lit(0)).as("steps_completed"): _*)
  }

  /** Streaming exact dedup by id under bounded state: duplicates arriving
    * within `watermarkDelay` of each other collapse to the first; the
    * seen-id state expires as event time passes (the unbounded-state
    * version of dropDuplicates would OOM on an infinite stream). This is
    * the at-least-once → effectively-once repair stage in front of a
    * training-event feed. State partitions by id hash across executors. */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
                  watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol)

  /** Cohort retention triangle — the classic activation metric over an
    * event log: users are cohorted by the period (e.g. day) of their
    * FIRST activity, and cell (cohort, offset) counts how many of that
    * cohort were active again `offset` periods later (offset 0 = the
    * cohort's own size). Periods are floor(epoch / periodSeconds) in
    * exact long arithmetic: epoch − pmod(epoch, p) is an exact multiple
    * of p, and its double division by p is exact below 2^53 — the
    * negative-epoch-safe floor the long-nanos branch lesson demands.
    * Rows with a null user or null ts drop out (no cohort to belong to).
    *
    * Shape at scale — ONE user-keyed aggregation in bounded state: a
    * user's whole retention contribution when `maxOffset` ≤ 62 is
    * (min period, bitmask of offsets 0..maxOffset from it), which
    * [[graft.functions.RetentionMaskExpr]] folds associatively in two
    * fixed-width buffer slots — HashAggregate with full map-side
    * partial combine and whole-stage codegen, so the operator's single
    * exchange carries one 16-byte state row per (mapper, user) and
    * NOTHING downstream is corpus-sized: the mask explodes to at most
    * maxOffset+1 (cohort, offset) rows per user, and the cell counts
    * partial-combine. The previous shape (DISTINCT (user, period) +
    * min-over-distinct + user join) shuffled the full pair relation —
    * 513M pairs at 1.28B events, measured 152-163 s against ~40 s for
    * this form — and
    * scanned the log twice. maxOffset > 62 (beyond one mask word)
    * falls back to that pair shape, window-based: distinct, then
    * cohort = min over a user-partitioned window on the already-small
    * pair relation (bounded per-user partitions: a user holds at most
    * span/periodSeconds distinct periods), then the cell aggregate. */
  def retention(events: DataFrame, periodSeconds: Long, maxOffset: Int,
                userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    require(periodSeconds > 0, "periodSeconds must be positive")
    require(maxOffset >= 0, "maxOffset must be >= 0")
    val epoch = unix_seconds(col(tsCol).cast("timestamp"))
    val adj = epoch - pmod(epoch, lit(periodSeconds))
    val period = (adj / lit(periodSeconds)).cast("long")
    // null user / null ts rows have no cohort to belong to: the pair
    // shape drops them through its null-rejecting equi-join; the mask
    // shape must drop them explicitly (a user-partitioned aggregate
    // would otherwise cohort the null user)
    val base = events
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("user"), period.as("period"))
    if (maxOffset <= 62) {
      base
        .groupBy("user")
        .agg(graft.functions.RetentionMaskExpr
          .column(col("period"), maxOffset).as("__rm"))
        .select(col("__rm.cohort").as("cohort"),
          explode(expr(
            s"filter(sequence(0L, ${maxOffset}L), " +
              "d -> (shiftright(__rm.mask, cast(d AS int)) & 1) = 1)"))
            .as("offset"))
        .groupBy("cohort", "offset")
        .agg(count(lit(1)).as("n_users"))
    } else {
      import org.apache.spark.sql.expressions.Window
      base.distinct()
        .withColumn("cohort",
          min(col("period")).over(Window.partitionBy(col("user"))))
        .withColumn("offset", col("period") - col("cohort"))
        .filter(col("offset") <= maxOffset)
        .groupBy("cohort", "offset")
        .agg(count(lit(1)).as("n_users"))
    }
  }

  /** STREAMING twin of [[retention]] — the cohort triangle as a
    * continuously-refreshed readout (the [[rateAnomalyStream]]
    * packaging): per-(period-window, user) activity runs as a
    * watermarked streaming aggregation (append mode — a (user, period)
    * pair emits exactly once, when the watermark proves its period
    * final), and `foreachBatch` folds the finalized pairs into
    * per-user (cohort, offset-bitmask) state with the SAME
    * [[graft.functions.RetentionMaskExpr]] the batch operator uses,
    * handing `sink` the FULL refreshed triangle each epoch with new
    * finalized activity (complete-output semantics — retention cells
    * are cumulative by definition, so earlier cells grow as later
    * periods finalize; the batch operator over the finalized prefix
    * returns the identical cells, asserted in StreamingSpec).
    *
    * Exactness under the append contract: windows finalize in
    * window-end order, so a user's periods arrive NONDECREASING across
    * epochs — the cohort is settled by the user's first finalized
    * period, and a period dropped as beyond-`maxOffset` can never come
    * back into range (no later arrival can lower the cohort). Epoch
    * replays (at-least-once foreachBatch) are absorbed by construction:
    * re-delivered pairs re-OR already-set mask bits — the fold is
    * idempotent on duplicates, no dedup step needed.
    *
    * State posture: one (user, cohort, mask) row per user ever active —
    * the same 16-byte bounded state as the batch aggregate, held as a
    * `localCheckpoint`ed DataFrame. The per-epoch fold is INCREMENTAL
    * (round 19 — the first form re-folded every user every epoch): the
    * state splits into the batch's AFFECTED users (semi-join) and the
    * untouched rest (anti-join) — AQE picks the join form, so a
    * steady-state small batch BROADCASTS its user set and the state is
    * never shuffled (two map-only filter passes) while a catch-up batch
    * that touches most users degrades to the shuffle join, the regime
    * where the full refold was the right cost anyway. Only the affected
    * slice re-enters the fold (as its exploded (user, period) pairs,
    * exact because the mask IS the per-user retention information);
    * the triangle is maintained as a readout-sized (cohort, offset,
    * n_users) relation updated by the affected users' old-minus/new-plus
    * cell DELTA — the full-state explode and full-state cell
    * re-aggregation are gone, so per-epoch aggregation work scales with
    * the batch, not the user population (the state checkpoint itself
    * still rewrites user-count-shaped bytes per epoch — the
    * DataFrame-held-state floor; Spark disallows chaining
    * flatMapGroupsWithState behind a streaming aggregation, which is
    * what a state-store-backed form would need). `maxOffset` ≤ 62 (one
    * mask word) is required — the batch fallback shape needs the full
    * pair history, which a stream cannot retain bounded.
    *
    * Restart-from-checkpoint: supported WHEN `stateDir` is given — the
    * (user, cohort, mask) state and the running triangle persist there
    * after every folding epoch ([[StreamState]]); empty epochs bump
    * only the manifest's epoch so the resume cross-check still proves
    * no folded epoch is missing. The crash window on either side of
    * the persist is absorbed by the fold's idempotence (re-delivered
    * pairs re-OR already-set bits, so the delta is zero). Without
    * `stateDir` a restart FAILS FAST (same contract and reason as
    * [[rateAnomalyStream]]). The one unpersistable edge: a stream that
    * has only ever seen empty batches has no snapshot to bump — a
    * restart in that window fails fast too (nothing was folded, so
    * reprocessing under a fresh checkpoint loses nothing). */
  def retentionStream(events: DataFrame, periodSeconds: Long, maxOffset: Int,
      watermark: String = "10 minutes",
      stateDir: Option[String] = None)(sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(periodSeconds > 0, "periodSeconds must be positive")
    require(maxOffset >= 0 && maxOffset <= 62,
      "retentionStream supports maxOffset in [0, 62] (one mask word)")
    val pairs = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), s"$periodSeconds seconds"), col("user_id"))
      .agg(count(lit(1)).as("__n"))
      // the tumbling window start is an exact multiple of the period
      // (epoch-aligned), so this division is the batch form's
      // floor(epoch / period) exactly, negative epochs included
      .select(col("user_id").as("user"),
        (unix_timestamp(col("window.start")) / periodSeconds)
          .cast("long").as("period"))
    val maskOffsets = expr(
      s"filter(sequence(0L, ${maxOffset}L), " +
        "d -> (shiftright(mask, cast(d AS int)) & 1) = 1)")
    // restart contract: with `stateDir` the accumulator reloads on the
    // first post-restart batch; without it, fails fast below (same
    // reason as rateAnomalyStream: the streaming agg's state survives a
    // restart but this accumulator resets, so the resumed run would
    // re-derive cohorts from post-restart pairs only).
    val stateKind = "retention_stream_state"
    var state: Option[DataFrame] = None  // (user, cohort, mask)
    var cells: Option[DataFrame] = None  // (cohort, offset, n_users)
    var observedFirstEpoch = false
    pairs.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .foreachBatch { (b: DataFrame, epoch: Long) =>
        if (!observedFirstEpoch) {
          if (state.isEmpty) stateDir.foreach { d =>
            StreamState.load(b.sparkSession, d, stateKind,
                Seq("users", "cells")).foreach { snap =>
              StreamState.checkEpoch(snap.epoch, epoch, d)
              state = Some(snap.relations("users")) // materialized by load
              cells = Some(snap.relations("cells"))
            }
          }
          if (epoch > 0 && state.isEmpty) throw new IllegalStateException(
            s"retentionStream cannot resume from an existing checkpoint " +
              s"(first observed epoch $epoch with empty accumulator): " +
              "pairs finalized before the restart are unrecoverable — " +
              "reprocess the source under a fresh checkpoint, or run with " +
              "stateDir to persist the accumulator across restarts")
          observedFirstEpoch = true
        }
        if (!b.isEmpty) {
          val fresh = b.select(col("user"), col("period"))
          val freshUsers = fresh.select("user").distinct()
          // only the batch's users re-fold: split the state into the
          // affected slice and the untouched rest (AQE broadcasts the
          // epoch's user set in the steady state — two map-only passes,
          // the state itself never shuffles; a catch-up batch touching
          // most users degrades to the shuffle join, the regime where a
          // full refold was the honest cost anyway)
          // the affected slice materializes once (it is batch-sized and
          // feeds BOTH the refold and the delta's minus side — without
          // the checkpoint each use re-scans the full state)
          val (affectedOld, untouched) = state match {
            case None => (None, None)
            case Some(s) =>
              (Some(s.join(freshUsers, Seq("user"), "left_semi")
                .localCheckpoint()),
                Some(s.join(freshUsers, Seq("user"), "left_anti")))
          }
          val refoldIn = affectedOld match {
            case None => fresh
            case Some(a) => a
              .select(col("user"), explode(maskOffsets).as("__d"),
                col("cohort"))
              .select(col("user"), (col("cohort") + col("__d")).as("period"))
              .unionByName(fresh)
          }
          // batch-affected-sized: re-deliveries re-OR already-set bits
          // (idempotent), a brand-new user folds from its fresh pairs
          val refolded = refoldIn.groupBy("user")
            .agg(graft.functions.RetentionMaskExpr
              .column(col("period"), maxOffset).as("__rm"))
            .select(col("user"), col("__rm.cohort").as("cohort"),
              col("__rm.mask").as("mask"))
            .localCheckpoint()
          val newState = untouched match {
            case None => refolded
            case Some(u) => u.unionByName(refolded).localCheckpoint()
          }
          // the triangle updates by the affected users' cell DELTA
          // (old bits out, new bits in — a settled cohort only ever
          // gains bits, but the ± form is order-independent like the
          // fold itself), so the cell aggregation is batch-sized and
          // the running triangle stays readout-sized
          val plus = refolded
            .select(col("cohort"), explode(maskOffsets).as("offset"))
            .groupBy("cohort", "offset")
            .agg(count(lit(1)).as("__d"))
          val delta = (affectedOld match {
            case None => plus
            case Some(a) => a
              .select(col("cohort"), explode(maskOffsets).as("offset"))
              .groupBy("cohort", "offset")
              .agg((count(lit(1)) * lit(-1L)).as("__d"))
              .unionByName(plus)
          }).groupBy("cohort", "offset").agg(sum(col("__d")).as("__d"))
          val newCells = (cells match {
            case None => delta.select(col("cohort"), col("offset"),
              col("__d").as("n_users"))
            case Some(c) => c.join(delta, Seq("cohort", "offset"), "full_outer")
              .select(col("cohort"), col("offset"),
                (coalesce(col("n_users"), lit(0L)) +
                  coalesce(col("__d"), lit(0L))).as("n_users"))
          }).filter(col("n_users") > 0).localCheckpoint()
          sink(newCells.orderBy("cohort", "offset"), epoch)
          state.foreach(_.unpersist())
          state = Some(newState)
          cells.foreach(_.unpersist())
          cells = Some(newCells)
          // per-epoch intermediates: superseded once newState/newCells
          // are materialized (newState holds refolded's ROWS, not its
          // blocks, when the union checkpointed separately)
          affectedOld.foreach(_.unpersist())
          if (untouched.isDefined) { refolded.unpersist(); () }
          // persist AFTER the sink ran (crash replays re-OR to a zero
          // delta — see the docstring). The users relation is
          // state-sized, the same bytes the localCheckpoint above
          // already rewrote this epoch; the triangle is readout-sized.
          stateDir.foreach { d =>
            StreamState.persist(b.sparkSession, d, stateKind, epoch,
              Seq("users" -> newState, "cells" -> newCells.coalesce(1)))
          }
        } else stateDir.foreach { d =>
          // an empty epoch folds nothing: advance only the snapshot's
          // epoch so a later resume's cross-check still holds. Before
          // the FIRST fold there is no snapshot to bump — documented
          // fail-fast edge on resume.
          if (state.isDefined) StreamState.bumpEpoch(
            b.sparkSession, d, stateKind, epoch)
        }
        ()
      }
  }

  /** Semi-structured property extraction + per-type rollup: parse the
    * JSON `props` string into typed fields (the schema is DECLARED, not
    * inferred — inference would scan the corpus twice and produce an
    * unstable contract at 100 TB), then aggregate per event type. The
    * parse is map-only; the aggregate combines partially map-side, so the
    * exchange carries one row per (partition × type). Unparsable or null
    * props surface as null fields (count distinguishes them), matching
    * from_json's PERMISSIVE mode. */
  def propsRollup(events: DataFrame): DataFrame =
    events
      .withColumn("k", from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 6).as("avg_k"),
        // accumulate in exact decimal so the rollup is order-independent
        // and EXACT at any corpus size (a plain double sum drifts ~1e-4
        // by 25M rows/type — the x86 precedent). decimal(38,6) keeps
        // micro-unit precision, so sub-cent values survive intact (the
        // earlier integer-cents form silently quantized them); inputs
        // with more than 6 fractional digits round once at ingest to the
        // aggregate, not per-row into the running error
        round(sum(col("value").cast("decimal(38,6)"))
          .cast("double"), 4).as("total_value"))

  /** The static events parquet re-expressed as a bounded stream-shaped
    * frame: `ts` normalized to a WHOLE-SECOND session-zone timestamp
    * regardless of the fixture's physical layout. The driver has shipped
    * events.parquet both as timestamp_ns (which Spark surfaces as LONG
    * epoch nanos under `nanosAsLong`) and as timestamp_us (surfaced as
    * TIMESTAMP_NTZ), so this read-boundary handles both — the queries and
    * their DuckDB oracles (which truncate with `date_trunc('second', ...)`)
    * see identical values either way. */
  def eventsFrame(spark: SparkSession, dir: String): DataFrame = {
    // read through the registry (store-once-query-many: the cached
    // columnar relation, not a fresh parquet decode per execution —
    // every other query path already does)
    val raw = graft.sources.TableRegistry.table(spark, dir, "events")
    val sec = raw.schema("ts").dataType match {
      // integer nanos → WHOLE seconds with an exact FLOOR divide
      // (Joins.granuleBucket at width 1e9): `/` on longs is double
      // division, which both carries the fractional second through the
      // cast and can round UP across a second boundary for nanos within
      // ~128 ns of it (doubles have 53-bit mantissas; 1.7e18 is
      // representable only to multiples of 256); `div` truncates TOWARD
      // ZERO, which on a pre-1970 (negative-epoch) nano would round to
      // the NEXT second while the timestamp branch's date_trunc floors —
      // granuleBucket's pmod-subtract floors on both signs, keeping the
      // two branches congruent on all inputs
      case org.apache.spark.sql.types.LongType =>
        graft.ops.Joins.granuleBucket(col("ts"), 1000000000L).cast("timestamp")
      // timestamp (either zone flavor): truncate, then a cast unifies on
      // the session-zone type (UTC in every graft entry point, so the
      // NTZ wall time IS the instant)
      case _ => date_trunc("second", col("ts")).cast("timestamp")
    }
    raw.withColumn("ts", sec)
  }
}
