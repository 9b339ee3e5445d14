package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` schema (SURVEY.md §2.2
  * last row, §7 Phase 5). The reference is batch-only (each transfer is one
  * finite workunit, reference ecl/HDFSConnector.ecl:55-56); this is
  * north-star extension surface.
  *
  * Every transform here is INPUT-AGNOSTIC: it takes any DataFrame with the
  * events schema (ts timestamp, user_id long, event_type string, value
  * double, event_id long), whether from `readStream` (kafka/files/memory) or
  * a batch table — so the batch queries in operators.EventOps double as the
  * correctness oracles for these (same logic, DuckDB-checkable), and specs
  * drive them through MemoryStream.
  *
  * Scale notes: all state is keyed by user_id (hash-partitioned state
  * store); watermarks bound state size; session merge is Spark's built-in
  * `session_window` (gap-merged in the state store, no per-user replays).
  */
object EventStreaming {

  /** Tumbling 5-minute counts per event type, late data bounded by a
    * 1-hour watermark.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based sessions (30 min) per user — built-in session_window state
    * merge; the batch equivalent is EventOps q30_sessionize.
    */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Watermarked streaming dedup on event_id (exactly-once per id within the
    * watermark horizon) — the streaming face of the dedup operator family.
    */
  def dedupEvents(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    events.withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  // ---- custom stateful operator: running per-user counters -----------------

  case class EventIn(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, sum_value: Double)

  /** Running per-user totals via mapGroupsWithState — the pattern for state
    * Spark's built-ins can't express (custom accumulators, decaying counters,
    * ML feature state). In production wire GroupStateTimeout +
    * state.setTimeoutDuration to evict abandoned keys; NoTimeout here keeps
    * the state machine minimal.
    */
  def runningUserTotals(events: Dataset[EventIn]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[EventIn], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n_events
          var sv = prev.sum_value
          batch.foreach { e => n += 1; sv += e.value }
          val next = UserRunning(uid, n, sv)
          state.update(next)
          next
      }
  }

  /** Stream-stream join: views enriched with the user's click stream
    * within a ±10-minute event-time band. Both sides are watermarked so
    * the join state is bounded (Spark buffers each side only until the
    * other side's watermark passes the band).
    */
  def viewClickJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "30 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", "30 minutes")
    views.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") - expr("INTERVAL 10 MINUTES") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("view_id"), col("user_id"), col("view_ts"),
        col("click_ts"), col("click_value"))
  }

  case class SessionOut(user_id: Long, sess_start: Timestamp,
      sess_end: Timestamp, n_events: Int)

  /** Session-close emission via flatMapGroupsWithState: buffers per-user
    * events in state, emits a SessionOut row only when the event-time
    * timeout fires past the session gap — the custom-state formulation of
    * sessionAgg for when built-in session_window can't express the logic
    * (e.g. per-session early-exit rules, enrichment at close).
    */
  def sessionsOnClose(events: Dataset[EventIn],
      gapMs: Long = 30L * 60 * 1000): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, Int), SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[EventIn], state: GroupState[(Long, Long, Int)]) =>
          if (state.hasTimedOut) {
            val (start, end, n) = state.get
            state.remove()
            Iterator(SessionOut(uid, new Timestamp(start), new Timestamp(end), n))
          } else {
            val times = batch.map(_.ts.getTime).toSeq.sorted
            val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
            var cur = state.getOption
            times.foreach { t =>
              cur match {
                case Some((s0, e0, n0)) if t > e0 + gapMs =>
                  // beyond the gap after the session: close it, start anew
                  closed += SessionOut(uid, new Timestamp(s0), new Timestamp(e0), n0)
                  cur = Some((t, t, 1))
                case Some((s0, _, _)) if t < s0 - gapMs =>
                  // late event preceding the session by more than the gap:
                  // its own (already-closed) session, not absorbed
                  closed += SessionOut(uid, new Timestamp(t), new Timestamp(t), 1)
                case Some((s0, e0, n0)) =>
                  // within the gap of either end: extend (late events may
                  // extend the start, not just the end)
                  cur = Some((math.min(s0, t), math.max(e0, t), n0 + 1))
                case None => cur = Some((t, t, 1))
              }
            }
            cur.foreach { c =>
              state.update(c)
              state.setTimeoutTimestamp(c._2 + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** Streaming interval (banded range) join — the streaming twin of batch
    * q33 (EventOps): each arriving event lands in the static value band
    * containing it. Stream-static join with the tiny dim broadcast, so the
    * range predicate evaluates map-side inside the micro-batch — stateless,
    * no watermark needed, identical rows to the batch form on the same
    * input (spec-pinned).
    */
  def bandEnrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim),
      col("value") >= col("lo") && col("value") < col("hi"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"), col("band"))

  // ---- streaming as-of join (ordered state, watermark-final) ---------------

  case class AsofOut(event_id: Long, user_id: Long,
      prev_click_value: Option[Double])

  /** Per-user ordered state for the streaming as-of join: views not yet
    * finalized + the click history still able to answer a future view.
    * Tuples are (epoch-micros, event_id, value); ordering is (ts, event_id)
    * — the exact total order the batch form (EventOps q31) windows over.
    */
  case class AsofState(pendingViews: List[(Long, Long)],
      clicks: List[(Long, Long, Double)])

  /** Streaming as-of join: for every 'view' event, the value of the user's
    * most recent strictly-earlier 'click' — the streaming twin of the batch
    * q31 (EventOps.scala), which is its DuckDB-checkable oracle.
    *
    * Correctness under out-of-order arrival hinges on the watermark: a view
    * is emitted only once `watermark ≥ view.ts`, at which point any
    * still-unseen click with `click.ts < view.ts` would be below the
    * watermark and already dropped by Spark — so the answer is final
    * (same event-time-finality argument as Spark's own append-mode
    * aggregations). State is bounded: views leave when finalized, and
    * click history keeps only clicks at or after the newest click that is
    * itself ≤ watermark (older clicks are dominated — every future view has
    * ts > watermark ≥ that click's ts). So per-user state is O(events
    * within the watermark horizon), the same bound as Spark's built-in
    * stream-stream join buffers.
    *
    * Idle expiry: when only click history remains (no pending views), an
    * event-time register at watermark + horizon drops the state after a
    * full horizon of inactivity. A view arriving later than that sees no
    * history — the deliberate bounded-state divergence from the batch
    * twin's unbounded lookback, the same trade Spark's stream-stream
    * join state TTL makes (spec-pinned in StreamingAsofSpec).
    */
  /** Horizon string ("1 hour", "30 minutes", "90 seconds") → milliseconds,
    * for the idle-state expiry register below.
    */
  private[streaming] def horizonMs(horizon: String): Long = {
    val Array(n, unit) = horizon.trim.split("\\s+")
    val perUnit = unit.toLowerCase.stripSuffix("s") match {
      case "millisecond" => 1L
      case "second"      => 1000L
      case "minute"      => 60L * 1000L
      case "hour"        => 3600L * 1000L
      case "day"         => 24L * 3600L * 1000L
      case u => throw new IllegalArgumentException(s"horizon unit: $u")
    }
    n.toLong * perUnit
  }

  /** Lossless epoch-micros from a Timestamp: getTime carries only the
    * millisecond part (sub-ms micros live in getNanos), so `getTime*1000`
    * silently truncates — and the batch twin q31 orders by FULL-microsecond
    * ts, where a same-user click/view pair inside one millisecond needs the
    * sub-ms digits for the strictly-earlier/tie-break decision.
    */
  private[streaming] def epochMicros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  def asofViewClick(events: Dataset[EventIn],
      horizon: String = "1 hour"): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    val idleMs = horizonMs(horizon)
    events
      .withWatermark("ts", horizon)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[EventIn], state: GroupState[AsofState]) =>
          val prev = state.getOption.getOrElse(AsofState(Nil, Nil))
          var views = prev.pendingViews
          var clicks = prev.clicks
          batch.foreach { e =>
            val us = epochMicros(e.ts)
            if (e.event_type == "view") views ::= ((us, e.event_id))
            else if (e.event_type == "click") clicks ::= ((us, e.event_id, e.value))
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // finalize views at or below the watermark, in (ts, id) order
          val (ripe, still) = views.partition(_._1 <= wmUs)
          val ordered = clicks.sortBy(c => (c._1, c._2))
          val out = ripe.sortBy(identity).map { case (vUs, vId) =>
            // strictly earlier in the (ts, event_id) total order — a click
            // at the SAME ts with a smaller id counts, matching the batch
            // window's `rowsBetween(unboundedPreceding, -1)`
            val hit = ordered.takeWhile(c =>
              c._1 < vUs || (c._1 == vUs && c._2 < vId)).lastOption
            AsofOut(vId, uid, hit.map(_._3))
          }
          // prune dominated clicks: keep from the newest click ≤ watermark on
          val cutoff = ordered.filter(_._1 <= wmUs).lastOption
          val kept = cutoff match {
            case Some(c0) => ordered.dropWhile(c => (c._1, c._2) != ((c0._1, c0._2)))
            case None     => ordered
          }
          if (still.isEmpty && kept.isEmpty) state.remove()
          else if (state.hasTimedOut && prev.pendingViews.isEmpty) {
            // A timeout fire on a state with no pending views can only be
            // the IDLE register (the view-wakeup register exists only
            // while a view is pending, and timeout invocations carry an
            // empty batch): the click history has been idle a full
            // horizon — drop it, keeping per-user state O(horizon) as
            // documented. A view-wakeup fire (prev had views) falls
            // through and re-arms the idle register below once its views
            // finalize.
            state.remove()
          } else {
            state.update(AsofState(still, kept))
            still.map(_._1).minOption match {
              // wake when the watermark passes the oldest unfinalized view
              // (+1 ms: the register must be strictly above the watermark,
              // and a view can share the watermark's millisecond)
              case Some(vUs) => state.setTimeoutTimestamp(vUs / 1000L + 1L)
              // only click history remains: schedule idle expiry at
              // watermark + horizon so an inactive user's pruned clicks
              // don't persist forever (a view that could still use them
              // arrives within the horizon by definition — later views
              // re-enter through the Some branch above)
              case None =>
                state.setTimeoutTimestamp(wmUs / 1000L + idleMs)
            }
          }
          out.iterator
      }
  }

  /** File-source entry point: stream the events fixture directory as if it
    * were arriving (schema-locked, bounded per trigger). The fixture stores
    * TIMESTAMP(NANOS), which Spark's parquet reader only accepts as long
    * (`nanosAsLong`) — converted here exactly like the batch loader
    * (graft.Tables.events), integer `div` so micros match DuckDB truncation.
    *
    * NOTE deliberate side effect: `nanosAsLong` is a session-level SQL conf
    * (no reader-scoped equivalent exists), so after this call every
    * TIMESTAMP(NANOS) parquet column in the session reads as LongType.
    */
  /** Canonical events schema — the fallback when the source directory has
    * no parquet footers to peek yet (an EMPTY directory is a normal state
    * for a file-stream source before the first file lands). Matches the
    * current fixture vintage (`ts` as timestamp[us]); a directory that
    * later receives the nanos-long vintage still resolves via the footer
    * peek, which wins whenever a file exists.
    */
  private[streaming] val eventSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props",
        org.apache.spark.sql.types.StringType)))

  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The file-stream source requires an explicit schema; take it from a
    // batch footer peek of the same directory so the stream decodes
    // whichever fixture vintage is present (ts as nanos-long vs
    // timestamp[us]) — then normalize exactly like the batch loader.
    // An empty/absent directory cannot be peeked ('Unable to infer
    // schema') — fall back to the canonical schema instead of failing.
    val schema =
      try spark.read.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => eventSchema }
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir))
  }
}
