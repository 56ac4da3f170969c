package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twins of the batch event analytics (EventsAnalytics): the same
  * logical operations expressed over an unbounded source. The reference has
  * no aggregations at all (SURVEY.md §2.7); these are the idiomatic-Spark
  * upgrades its architecture points at — watermarked window aggregation and
  * custom session state via flatMapGroupsWithState.
  *
  * Scale posture: windowed aggregation shuffles once on (window, type) with
  * partial aggregation map-side; session state is partitioned by user_id
  * and lives in the state store (RocksDB at scale), so state size is
  * O(active users), not O(events).
  */
object EventStreamOps {

  /** Watermarked tumbling-window counts per event type; pass `slide` for
    * hopping windows (every event lands in window/slide overlapping
    * windows — the streaming twin of EventsAnalytics.hoppingWindow, ev10).
    * Late events beyond the watermark are dropped — the documented
    * divergence from the reference's accept-everything posture
    * (SURVEY.md §2.7). */
  def windowedCounts(
      events: DataFrame,
      window: String = "1 hour",
      watermark: String = "2 hours",
      slide: String = ""): DataFrame = {
    val w =
      if (slide.isEmpty) org.apache.spark.sql.functions.window(col("ts"), window)
      else org.apache.spark.sql.functions.window(col("ts"), window, slide)
    events
      .withWatermark("ts", watermark)
      .groupBy(w, col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
  }

  /** Stream-stream attribution join: every purchase paired with the
    * clicks of the same user in the preceding `withinMs` window — the
    * streaming twin of the candidate set ev14's as-of attribution
    * reduces (batch picks the latest click; a streaming consumer gets
    * the full candidate set in append mode and reduces downstream,
    * because "latest" is only final once the watermark passes).
    *
    * Scale posture — this is the one operator class where Spark's
    * streaming state story actually bites: both sides are watermarked
    * AND the join condition carries an event-time range
    * (`p.ts - within <= c.ts <= p.ts`), which is exactly what the state
    * store needs to EVICT buffered rows once the watermark passes their
    * last possible match. Without the range condition the click buffer
    * grows without bound; with it, state is O(events inside the
    * watermark+within horizon) per side. Join keys shuffle both streams
    * on user_id once; no other exchange.
    */
  def attributionJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      withinMs: Long = 3600 * 1000L,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermarkDelay)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $withinMs MILLISECONDS"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("p_ts"), col("click_id"), col("c_ts"))
  }

  /** Native session-window aggregation — Spark's built-in MERGING window
    * (`session_window(ts, gap)`) as the declarative twin of [[sessionize]]'s
    * hand-rolled flatMapGroupsWithState. The two implement the same gap
    * semantics with different machinery and different trade-offs, and the
    * engine ships both deliberately: session_window keeps the query in the
    * aggregation operator family (partial merge, RocksDB provider support,
    * no user state class, `numRowsTotal` observability) and is what you
    * reach for when the per-session result is an AGGREGATE; the custom
    * state path is for logic a merge can't express (e.g. emitting
    * per-event session ordinals). Window bounds: a session's `end` is
    * last-event + gap (the merge invariant), where [[sessionize]] reports
    * last-event itself — the parity spec pins the exact mapping.
    *
    * Scale: one shuffle on the grouping key; state = one merged window
    * per open (user, session), evicted when the watermark passes
    * session end — the same O(active sessions) bound as the custom path. */
  def sessionWindowCounts(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming HLL day-register builder — ev18's sketch-warehouse leg
    * maintained INCREMENTALLY from the live stream: a watermarked daily
    * window aggregates MAX(rank) per (day, event_type, register) and, in
    * append mode, emits each day's register table exactly once — when the
    * watermark passes the day — as FINAL rows: byte-identical to what the
    * batch day build writes over the same events (spec-asserted,
    * including the lossless idempotent-MAX week merge downstream).
    *
    * Scale posture: state is ≤ m=256 registers per open (day, type) —
    * independent of event volume, the whole point of a mergeable sketch —
    * and the shuffle carries (window, type, reg) keys with map-side
    * partial MAX. Downstream range queries merge emitted day tables with
    * the same idempotent MAX as the batch artifact (safe under
    * at-least-once re-emission). */
  def hllDayRegisters(events: DataFrame,
                      watermark: String = "2 hours"): DataFrame = {
    val h = md5(col("user_id").cast("string"))
    events
      .select(col("ts"), col("event_type"),
        graft.relational.EventsAnalytics.hllRegOf(h).as("reg"),
        graft.relational.EventsAnalytics.hllRankOf(h).as("rank"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("event_type"), col("reg"))
      .agg(max(col("rank")).as("mr"))
      .select(col("window.start").cast("date").as("day"),
        col("event_type"), col("reg"), col("mr"))
  }

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(start: Long, last: Long, nEvents: Long)

  final case class SessionOut(user_id: Long, session_start_ms: Long,
      session_end_ms: Long, n_events: Long)

  /** Gap-based streaming sessionization: one state entry per user; a
    * session closes either when a later event opens the next one or when
    * the EVENT-TIME timeout fires (watermark passes last-event + gap).
    * Event-time timeout means batches only run when data arrives — no
    * empty-batch spin — and session closure is replay-deterministic
    * (batch twin: EventsAnalytics.sessionize). */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(userId, s.start, s.last, s.nEvents))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(s.copy(last = t, nEvents = s.nEvents + 1))
                case Some(s) =>
                  closed ::= SessionOut(userId, s.start, s.last, s.nEvents)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close via watermark once the gap has provably elapsed
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
