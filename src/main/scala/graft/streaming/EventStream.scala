package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming extensions over the `events` stream (SURVEY.md §2.10:
  * the reference is pure batch MPP, so streaming is this engine's extension
  * surface; the transforms are shared with the batch EventQueries so logic is
  * written once and runs in either mode).
  *
  * Scale posture: watermarks bound state; aggregations are keyed so state
  * partitions across executors; file sources trigger incrementally.
  */
object EventStream {

  /** The events schema as the stream source declares it (TimestampType µs). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of parquet event batches. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Tumbling-window counts with a watermark bounding late data and state
    * (shared shape with EventQueries.q70Tumbling).
    */
  def tumblingCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Hourly error/total rollup — the landing half of the burn-rate panel
    * (EventQueries.q260BurnRate). State is one (count, count) pair per open
    * hour under the watermark; the multi-window burn composition
    * (EventQueries.burnFromHourly) runs as a BATCH query over the LANDED
    * rollup — docs/SCALE.md pattern #8: a 6-hour trailing view is a window
    * over the appended hourly series, not 6 hours of streaming state.
    */
  def errorRates(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"))
      .select(expr("unix_timestamp(window.start) DIV 3600").as("hour"),
        col("n_total"), col("n_err"))

  /** Watermark-finalized DAILY purchase revenue (integer cents) — the
    * landing rollup under the q316 XmR control chart: append mode emits a
    * day only once its watermark passes, so the sink accumulates the
    * exact (day, x) series and `EventQueries.xmrFromDays` reproduces the
    * batch control-chart row from the landed table (the errorRates/q260
    * composition pattern). State = one open day per key-less window.
    */
  def dailyRevenue(events: DataFrame, watermark: String = "25 hours"): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(sum(expr("CAST(ROUND(value*100) AS BIGINT)")).as("x"))
      .select(expr("unix_timestamp(window.start) DIV 86400").as("day"),
        col("x"))

  /** Watermark-finalized per-day reconciliation fingerprints — the
    * streaming twin of q555's partition-checksum pass: (count, Σ portable
    * row-hash) per day, where the hash sum is a PLAIN associative
    * aggregate, so the fingerprint maintains itself incrementally with one
    * open day of state and merges across partitions by addition — the
    * property that makes checksum reconciliation the 100 TB path. A CDC
    * consumer compares landed fingerprints against the replica's batch
    * fingerprints and row-diffs only the days that disagree.
    */
  def dayFingerprints(events: DataFrame,
      watermark: String = "25 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"),
        sum(graft.functions.Text.portableHash(concat_ws("|",
          col("event_id").cast("string"),
          expr("CAST(ROUND(value*100) AS BIGINT)").cast("string")))
          .cast("decimal(38,0)")).as("fp"))
      .select(expr("unix_timestamp(window.start) DIV 86400").as("day"),
        col("n"), col("fp").cast("decimal(38,0)").as("fp"))

  /** Sliding-window counts (windowLen every slide) — the overlapping-window
    * twin of EventQueries.q75Sliding. Each event contributes to
    * windowLen/slide windows; the watermark still bounds state, which grows
    * by that same factor relative to tumbling.
    */
  def slidingCounts(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Hourly OHLC bars over the purchase stream — the streaming twin of
    * EventQueries.q109OhlcBars. Open/close come from struct-ordered min/max
    * ((ts, event_id, value) lexicographic — the earliest/latest row's value
    * with a deterministic tie-break), which are PLAIN aggregates and so run
    * incrementally under streaming where the batch twin's row_number
    * formulation cannot. Volume stays exact integer cents; the watermark
    * bounds open-window state.
    */
  def ohlcBars(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events.filter(col("event_type") === "purchase")
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(count(lit(1)).as("n_trades"),
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close"),
        sum(graft.functions.TSql.cents(col("value"))).as("volume_c"))
      .select(col("window.start").as("bucket"), col("n_trades"), col("open"),
        col("high"), col("low"), col("close"), col("volume_c"))

  /** Session windows per user (30-minute gap), watermark-bounded — the
    * streaming twin of EventQueries.q71Sessions.
    */
  def sessionAggregates(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"),
        col("session_value"))

  final case class UserEvent(user_id: Long, event_type: String, value: Double)
  final case class UserState(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via mapGroupsWithState: running per-user totals —
    * the engine's stateful-operator extension point. (No processing-time
    * timeout: timeouts re-trigger empty microbatches forever under
    * processAllAvailable; eviction belongs to watermark-based operators.)
    */
  def userRunningTotals(spark: SparkSession,
      events: DataFrame): Dataset[UserState] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserState](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(uid, 0L, 0.0))
          var n = prev.n_events
          var v = prev.total_value
          rows.foreach { e => n += 1; v += e.value }
          val next = UserState(uid, n, v)
          state.update(next)
          next
      }
  }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
      value: Double)
  final case class OpenSession(start: java.sql.Timestamp,
      end: java.sql.Timestamp, n_events: Long, session_value: Double)
  final case class SessionState(sessions: Seq[OpenSession])
  final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
      last_event: java.sql.Timestamp, n_events: Long, session_value: Double)

  /** Custom sessionization via flatMapGroupsWithState + EVENT-TIME timeout —
    * the full custom-state pattern next to [[sessionAggregates]]'s built-in
    * session_window: sessions are held open in keyed state and emitted ONLY
    * when the watermark passes their gap horizon (the event-time timeout).
    * Emitting exactly one record per closed session is what the built-in
    * operator cannot express in this form (e.g. feeding a session table
    * with no upserts).
    *
    * A session is never closed eagerly by a later event: any event still
    * above the watermark may legally arrive out of order, start an earlier
    * session, extend an open one backwards, or BRIDGE two open sessions into
    * one — so state holds the LIST of open sessions per key (interval-merge
    * under the gap), and only the watermark retires them. Gap semantics
    * match session_window exactly: an event at precisely end + gap starts a
    * new session (strict inequality).
    *
    * State per key is the handful of concurrently-open sessions inside the
    * watermark horizon — bounded by horizon/gap, not the stream length; the
    * event-time timeout evicts idle users' state as the watermark advances,
    * never by wall clock (restart-safe, no empty-batch storms).
    */
  def userSessions(spark: SparkSession, events: DataFrame,
      gapMinutes: Int = 30, watermark: String = "2 hours"): Dataset[ClosedSession] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    // insert an event as a unit session, then coalesce: two sessions merge
    // when one starts strictly inside the other's gap extension
    def insert(sessions: Seq[OpenSession], e: SessionEvent): Seq[OpenSession] = {
      val all = (OpenSession(e.ts, e.ts, 1L, e.value) +: sessions)
        .sortBy(_.start.getTime)
      all.tail.foldLeft(List(all.head)) { (acc, s) =>
        val cur = acc.head
        if (s.start.getTime < cur.end.getTime + gapMs)
          OpenSession(cur.start,
            if (s.end.after(cur.end)) s.end else cur.end,
            cur.n_events + s.n_events,
            cur.session_value + s.session_value) :: acc.tail
        else s :: acc
      }.reverse
    }
    events.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("value")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[SessionState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prior = state.getOption.map(_.sessions).getOrElse(Seq.empty)
          val merged = rows.foldLeft(prior)(insert)
          // retire every session whose horizon the watermark has passed —
          // no admissible event can reach it anymore
          val (done, open) = merged.partition(_.end.getTime + gapMs <= wm)
          if (open.nonEmpty) {
            state.update(SessionState(open))
            // the timeout must sit strictly beyond the current watermark; a
            // horizon already passed fires on the next trigger
            state.setTimeoutTimestamp(
              math.max(wm + 1, open.map(_.end.getTime + gapMs).min))
          } else state.remove()
          done.sortBy(_.start.getTime).iterator.map(s =>
            ClosedSession(uid, s.start, s.end, s.n_events, s.session_value))
      }
  }

  /** Stream-static enrichment: the streaming fact joined to a (small) static
    * dimension — the streaming twin of the star-schema broadcast join. The
    * static side is re-resolved per micro-batch by Spark, so a slowly-
    * changing dimension table picks up changes between batches; broadcast
    * keeps the join shuffle-free on the stream side at any scale.
    */
  def enriched(events: DataFrame, dim: DataFrame,
      key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Stream-stream interval join: purchases attributed to a prior click by
    * the same user within `within` — the conversion-attribution shape.
    * Watermarks on BOTH sides plus the time-range condition let the engine
    * evict join state (a click older than the watermark minus `within` can
    * never match again); without them stream-stream state grows without
    * bound. Inner join emits eagerly on match, so results don't wait on the
    * watermark.
    */
  def clickToPurchase(events: DataFrame, within: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $within"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("purchase_ts"), col("purchase_value"))
  }

  final case class TouchEvent(event_id: Long, ts: java.sql.Timestamp,
    user_id: Long, event_type: String, value: Double)
  final case class TouchState(lastTouchKey: Option[Long],
    pending: Seq[TouchEvent])
  final case class AttributedPurchase(user_id: Long, event_id: Long,
    ts: java.sql.Timestamp, channel: String, value_c: Long)

  /** Last-touch attribution as keyed streaming state — the streaming twin
    * of the batch q128 (EventQueries.q128Attribution): every purchase is
    * credited to the user's most recent prior click/view within the
    * lookback, using the SAME integer key encoding (epoch_ms·4 +
    * channel code, running max), so batch and stream agree event-for-event
    * (StreamingSpec proves parity).
    *
    * Unlike the stream-stream interval join ([[clickToPurchase]]), which
    * emits every qualifying (click, purchase) pair eagerly, attribution is
    * order-sensitive — "the LAST touch before" — so events must apply in
    * event-time order. State therefore buffers events still above the
    * watermark and drains them in (ts, event_id) order only once the
    * watermark passes (the same buffer-until-finality discipline as
    * [[userSessions]]); the running max key survives drains indefinitely
    * while the user stays active. State is bounded: the pending buffer by
    * the watermark horizon, and idle users' state by an event-time timeout
    * at last-seen + lookback — safe to evict because any later purchase
    * would find the touch expired anyway. One semantic seam: an EVICTED
    * touch and a never-present touch both report 'none'; keeping the
    * batch twin's finer none/stale distinction would mean retaining every
    * idle user's state forever, exactly what the timeout exists to avoid.
    */
  def attributedPurchases(spark: SparkSession, events: DataFrame,
      lookbackMs: Long = 7L * 86400000L,
      watermark: String = "2 hours"): Dataset[AttributedPurchase] = {
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")).as[TouchEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttributedPurchase](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[TouchState]) =>
          val prev = state.getOption.getOrElse(TouchState(None, Nil))
          val buffered = prev.pending ++ rows
          val wm = state.getCurrentWatermarkMs()
          // finality boundary: rows at or below the watermark can no longer
          // be preceded by an unseen event, so their order is settled
          val (ready, pending) = buffered.partition(_.ts.getTime <= wm)
          var lastKey = prev.lastTouchKey
          val out = ready.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
            val ms = e.ts.getTime
            val emitted = if (e.event_type == "purchase") {
              val channel = lastKey match {
                case None => "none"
                case Some(k) if ms - k / 4 > lookbackMs => "none"
                case Some(k) if k % 4 == 1 => "click"
                case Some(_) => "view"
              }
              Some(AttributedPurchase(uid, e.event_id, e.ts, channel,
                math.round(e.value * 100)))
            } else None
            val key = e.event_type match {
              case "click" => Some(ms * 4 + 1)
              case "view" => Some(ms * 4 + 2)
              case _ => None
            }
            key.foreach(k => lastKey = Some(math.max(lastKey.getOrElse(k), k)))
            emitted
          }
          // The event-time timeout serves two purposes. With events still
          // pending it is the DRAIN trigger: the function is only invoked
          // for keys with new data or an expired timeout, so without it a
          // quiet user's buffered purchases would wait on their next event,
          // not on the watermark — arm it just past the newest pending
          // event and the group wakes the moment its order is settled.
          // With nothing pending it is EVICTION: one lookback past the
          // touch key, after which any future purchase would find the
          // touch expired anyway — state removal is semantically free.
          val evictAt = lastKey.map(_ / 4).getOrElse(0L) + lookbackMs + 1
          if (pending.isEmpty && evictAt <= wm) {
            state.remove()
          } else {
            state.update(TouchState(lastKey, pending))
            val timeoutAt =
              if (pending.nonEmpty) pending.map(_.ts.getTime).max + 1
              else evictAt
            state.setTimeoutTimestamp(math.max(timeoutAt, wm + 1))
          }
          out.iterator
      }
  }

  final case class SeqEvent(event_id: Long, ts: java.sql.Timestamp,
    user_id: Long, event_type: String)
  final case class SeqState(lastType: Option[String], lastMs: Long,
    pending: Seq[SeqEvent])
  final case class Transition(user_id: Long, from_type: String,
    to_type: String, ts: java.sql.Timestamp)

  /** Per-user event-type transitions as keyed streaming state — the
    * streaming twin of the batch q108/q280 lead pass: the sink-side
    * (from, to) count rollup reproduces the batch transition matrix
    * row-for-row (StreamingSpec proves it), so the Markov surface
    * (q108 probabilities, q165 next-event accuracy, q280 entropy rate)
    * can be maintained incrementally instead of replaying the event log.
    *
    * Transitions are order-sensitive (successor pairs), so the state
    * buffers events still above the watermark and drains them in
    * (ts, event_id) order once final — [[attributedPurchases]]'s
    * buffer-until-finality discipline; across drains only the LAST drained
    * type survives, which is all a successor pair needs. Retained state is
    * one (type, ms) pair per active user plus the watermark-bounded
    * buffer; idle users evict after `idleEvictMs` (event-time timeout),
    * with the documented seam that a gap longer than the horizon drops
    * that single spanning transition — the bounded-state trade, same
    * family as attribution's evicted-touch seam.
    */
  def transitions(spark: SparkSession, events: DataFrame,
      watermark: String = "2 hours",
      idleEvictMs: Long = 30L * 86400000L): Dataset[Transition] = {
    import spark.implicits._
    events.withWatermark("ts", watermark)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[SeqEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqState, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[SeqState]) =>
          val prev = state.getOption.getOrElse(SeqState(None, 0L, Nil))
          val buffered = prev.pending ++ rows
          val wm = state.getCurrentWatermarkMs()
          val (ready, pending) = buffered.partition(_.ts.getTime <= wm)
          var lastType = prev.lastType
          var lastMs = prev.lastMs
          val out = ready.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
            val t = lastType.map(lt => Transition(uid, lt, e.event_type, e.ts))
            lastType = Some(e.event_type)
            lastMs = e.ts.getTime
            t
          }
          val evictAt = lastMs + idleEvictMs + 1
          if (pending.isEmpty && (lastType.isEmpty || evictAt <= wm)) {
            state.remove()
          } else {
            state.update(SeqState(lastType, lastMs, pending))
            val timeoutAt =
              if (pending.nonEmpty) pending.map(_.ts.getTime).max + 1
              else evictAt
            state.setTimeoutTimestamp(math.max(timeoutAt, wm + 1))
          }
          out.iterator
      }
  }

  /** Exactly-once ingest from an at-least-once source: drop redelivered
    * events by their idempotency key. `dropDuplicatesWithinWatermark` keeps
    * per-key state only until the watermark passes it, so state is bounded
    * by (event rate × watermark) instead of growing with the whole stream —
    * the production-safe form of streaming dedup. A duplicate arriving
    * within the watermark of its original is dropped even if their event
    * times differ by a skewed clock; one arriving later than the watermark
    * is the source's contract violation, not the engine's.
    */
  def dedup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming heavy-hitter candidates — the Misra-Gries summary
    * ([[graft.plans.FrequentItemsAgg]], q138's pass 1) as a streaming
    * aggregation: state is the single O(k) merged buffer in the state
    * store, updated each micro-batch through the same partial/merge path
    * the batch aggregate uses. The candidate-SUPERSET guarantee is proved
    * for arbitrary merge trees, so it survives any micro-batch slicing;
    * the exact verification recount stays a (cheap, candidate-filtered)
    * batch pass over the landed table, exactly as in q138. Complete-mode
    * output: one row per trigger with the live candidate set and total.
    */
  def trendingCandidates(events: DataFrame, k: Int = 256): DataFrame =
    events.agg(
      graft.functions.Sampling.frequentCandidates(col("user_id"), k)
        .as("candidates"),
      count(lit(1)).as("total"))

  /** Streaming daily-active bitmap blocks — the streaming PRODUCER of the
    * batch q230 level-1 rollup: per (day window, 64-id block) one int64
    * word accumulates `bit_or` votes in the state store (bounded state: a
    * block's word never grows past 8 bytes no matter how many events
    * re-set its bits), and append mode emits each word exactly once when
    * the watermark closes its day. Downstream grains are batch queries
    * over the landed words — daily popcounts, weekly re-ORs — the same
    * drain-on-watermark/compose-at-the-sink split as [[backlogDeltas]];
    * StreamingSpec proves both grains reproduce the batch q230 exactly.
    */
  def activeUserBitmaps(events: DataFrame,
      watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("w"),
        expr("user_id DIV 64").as("blk"))
      .agg(expr("bit_or(shiftleft(1L, CAST(user_id % 64 AS INT)))").as("word"))
      .select(
        expr("unix_micros(w.start) DIV 86400000000").as("day"),
        col("blk"), col("word"))

  /** Daily net order-flow from an order-lifecycle delta stream — the
    * streaming twin of the batch backlog query (operators/CoreQueries
    * q171): upstream emits +1 when an order opens and −1 the day after its
    * last line ships; this aggregation closes each day at the watermark
    * and appends its net change. The BACKLOG LEVEL is, by design, the
    * prefix sum of the emitted day stream computed at the sink (a running
    * total across event-time windows is not a streaming aggregation —
    * it's a one-line batch query over the appended series, and keeping the
    * streaming side a plain windowed sum keeps state bounded to the
    * watermark horizon). StreamingSpec proves net-change and prefix-sum
    * parity against the batch q171.
    */
  def backlogDeltas(orderEvents: DataFrame,
      watermark: String = "2 days"): DataFrame =
    orderEvents
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(sum(col("delta")).as("net_change"))
      .select(col("window.start").as("day_start"), col("net_change"))

  final case class DeltaRow(dts: java.sql.Timestamp, delta: Long)
  final case class ConcurrencyState(nets: Map[Long, Long])
  final case class DayConcurrency(day: Long, max_prefix: Long,
      net_change: Long, n_changes: Long)

  /** Streaming twin of batch q185 (peak concurrency): every event opens a
    * `windowMs` attention window, the ±1 deltas key by THEIR OWN day, and
    * keyed state accumulates per-millisecond nets until the watermark
    * passes midnight — then the day emits `(max_prefix, net_change,
    * n_changes)` and its state retires (event-time timeout, same
    * drain-on-watermark posture as [[userSessions]]). The emission is the
    * day-local summary on purpose: absolute peaks need the carry-in level
    * from all prior days, which is exactly the associative downstream
    * prefix pass the batch query's 100 TB note describes —
    * peak(day) = Σ_{d<day} net_change(d) + max_prefix(day) — and
    * StreamingSpec proves that composition reproduces q185 exactly.
    * State per key is the day's distinct delta timestamps (bounded by
    * seconds-per-day, not stream length).
    */
  def concurrencyProfile(spark: SparkSession, events: DataFrame,
      windowMs: Long, watermark: String = "2 hours"): Dataset[DayConcurrency] = {
    import spark.implicits._
    val deltas = events
      .select(explode(array(
        struct(col("ts").as("dts"), lit(1L).as("delta")),
        struct(timestamp_millis(unix_millis(col("ts")) + windowMs).as("dts"),
          lit(-1L).as("delta")))).as("e"))
      .select(col("e.dts").as("dts"), col("e.delta").as("delta"))
      .withWatermark("dts", watermark)
    deltas.as[DeltaRow]
      .groupByKey(_.dts.getTime / 86400000L)
      .flatMapGroupsWithState[ConcurrencyState, DayConcurrency](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (day, rows, state: GroupState[ConcurrencyState]) =>
          val wm = state.getCurrentWatermarkMs()
          var nets = state.getOption.map(_.nets).getOrElse(Map.empty)
          rows.foreach { r =>
            val ms = r.dts.getTime
            nets = nets.updated(ms, nets.getOrElse(ms, 0L) + r.delta)
          }
          val dayEnd = (day + 1) * 86400000L
          if (wm >= dayEnd) {
            state.remove()
            var run = 0L; var mx = Long.MinValue
            nets.toSeq.sortBy(_._1).foreach { case (_, net) =>
              run += net; if (run > mx) mx = run
            }
            Iterator.single(
              DayConcurrency(day, mx, run, nets.size.toLong))
          } else {
            state.update(ConcurrencyState(nets))
            state.setTimeoutTimestamp(math.max(wm + 1, dayEnd))
            Iterator.empty
          }
      }
  }

  /** Run any of the above to a named in-memory sink and process everything
    * currently available (the local smoke path; production uses a real sink).
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Partition column recording which micro-batch wrote each row. */
  val BatchIdCol = "graft_batch_id"

  /** Streaming load pipeline: land each micro-batch into a catalog table
    * partitioned by batch id — the streaming twin of the CTAS load path.
    *
    * foreachBatch alone is only at-least-once (a batch whose write completes
    * but whose checkpoint commit doesn't will be replayed on restart), so the
    * write is made idempotent: every row carries its batch id as a partition
    * column and the write is a DYNAMIC PARTITION OVERWRITE of exactly that
    * partition — a replayed batch rewrites its own partition instead of
    * duplicating rows, which upgrades the end-to-end guarantee to effective
    * exactly-once. The dynamic mode is a table property set when the first
    * batch creates the table, so every later `insertInto` (a replay's too)
    * reads it without touching session conf. Per-batch work runs under a
    * job label so the QueryJournal attributes it.
    */
  def appendToTable(spark: SparkSession, df: DataFrame, table: String,
      checkpointDir: String, label: String = "stream-load"): Unit = {
    val q = df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        spark.sparkContext.setJobDescription(s"$label batch=$batchId")
        try {
          val stamped = batch.withColumn(BatchIdCol, lit(batchId))
          if (!spark.catalog.tableExists(table)) {
            stamped.write.format("parquet").partitionBy(BatchIdCol)
              .option("partitionOverwriteMode", "dynamic")
              .saveAsTable(table)
          } else {
            stamped.write.mode("overwrite").insertInto(table)
          }
        } finally spark.sparkContext.setJobDescription(null)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
  }
}
