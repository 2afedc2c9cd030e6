package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Event sessionization — gap-based sessions per user, in two shapes:
  *
  *  - `batch`: declarative window functions (lag -> boundary flag ->
  *    running sum = session index) — fully Catalyst-planned, one shuffle on
  *    user_id, SQL-expressible (DuckDB-oracled in SparkEntry q5);
  *  - `streaming`: flatMapGroupsWithState over a streaming Dataset (the
  *    custom-state path for continuous feeds); emits a session when the
  *    gap passes or the processing-time timeout fires.
  *
  * Scale: both shuffle once on user_id; the streaming state is O(1) per
  * active user (last-event time + running aggregates).
  */
object Sessionize {

  final case class Event(user_id: Long, ts: Timestamp, value: Double)
  final case class Session(
      user_id: Long, session_idx: Long, start_ts: Timestamp, end_ts: Timestamp,
      n_events: Long, value_cents: Long)

  /** Batch sessionization: sessions split where the gap to the previous
    * event of the same user exceeds `gapMinutes`. */
  def batch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // parquet naive timestamps arrive as TIMESTAMP_NTZ in Spark 4; cast via
    // TIMESTAMP (session tz = UTC) for epoch arithmetic, matching DuckDB's
    // epoch(ts) on the same naive values
    val flagged = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("timestamp").cast("long") - col("prev_ts").cast("timestamp").cast("long") > gapMinutes * 60L, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy("user_id", "session_idx")
  }

  final case class SessState(
      startMs: Long, lastMs: Long, n: Long, cents: Long)

  /** Streaming sessionization with custom state: one state entry per user;
    * a session is emitted when a later event of the same user arrives past
    * the gap (the trailing session stays open in the state store until its
    * user shows up again — flushing on a wall-clock timeout is a policy
    * choice left to the caller). Works on streaming and batch Datasets. */
  def streaming(events: Dataset[Event], gapMinutes: Int = 30)
      : Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def fn(userId: Long, it: Iterator[Event], state: GroupState[(Long, SessState)])
        : Iterator[Session] = {
      val (idx, open) = state.getOption.getOrElse((0L, null: SessState))
      val (out, curIdx, cur) = SessionGap.numbered(userId, idx, open, it, gapMs)
      if (cur != null) state.update((curIdx, cur))
      out.iterator
    }

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Streaming sessionization that ALSO flushes trailing sessions: same
    * state machine as `streaming`, plus an event-time timeout at
    * last_event + gap — when the watermark passes it, the open session is
    * emitted, completing the streaming story (with `NoTimeout` a user's
    * last session would sit in the state store until that user reappeared).
    *
    * Session identity: the flush keeps a counter TOMBSTONE (idx, n=0) in
    * the state store instead of removing the entry, so `session_idx` stays
    * monotonic per user across flushes and (user_id, session_idx) never
    * collides — matching `batch` and the NoTimeout variant. The cost is
    * explicit: state is ~4 longs per user EVER seen (not per active user).
    * This variant exists for consumers that NEED the per-user counter
    * contract; at crawl scale (unbounded user cardinality) the default is
    * `streamingBounded` below — identity keyed on (user_id, start_ts),
    * state reclaimed with state.remove(), O(active users). */
  def streamingWithTimeout(events: Dataset[Event], gapMinutes: Int = 30,
                           watermarkDelay: String = "1 minute"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def fn(userId: Long, it: Iterator[Event], state: GroupState[(Long, SessState)])
        : Iterator[Session] = {
      if (state.hasTimedOut) {
        val (idx, cur) = state.get
        // counter tombstone: no open session (n=0), idx preserved; no new
        // timeout is armed, so the entry sits inert until the user returns
        state.update((idx, SessState(0L, 0L, 0L, 0L)))
        Iterator.single(SessionGap.session(userId, idx, cur))
      } else {
        val (idx, cur0) = state.getOption.getOrElse((0L, null: SessState))
        val open = if (cur0 != null && cur0.n == 0) null else cur0 // tombstone -> closed
        val (out, curIdx, cur) = SessionGap.numbered(userId, idx, open, it, gapMs)
        if (cur != null) {
          state.update((curIdx, cur))
          state.setTimeoutTimestamp(cur.lastMs + gapMs)
        }
        out.iterator
      }
    }

    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  final case class BoundedSession(
      user_id: Long, start_ts: Timestamp, end_ts: Timestamp,
      n_events: Long, value_cents: Long)

  /** Streaming sessionization with BOUNDED state — the scale DEFAULT.
    * Same gap machine and event-time timeout flush as
    * `streamingWithTimeout`, but session identity is (user_id, start_ts)
    * instead of a per-user counter, so the flush can `state.remove()`:
    * the state store holds exactly the OPEN sessions, O(active users
    * inside the gap window), never O(users ever seen). Identity is still
    * collision-free — two sessions of one user are separated by more than
    * the gap, so their start timestamps always differ. Use this on
    * unbounded-cardinality feeds (crawl frontiers, web logs); reach for
    * `streamingWithTimeout` only when a consumer needs the per-user
    * monotonic `session_idx` contract badly enough to pay unbounded
    * state for it. */
  def streamingBounded(events: Dataset[Event], gapMinutes: Int = 30,
                       watermarkDelay: String = "1 minute"): Dataset[BoundedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    def fn(userId: Long, it: Iterator[Event], state: GroupState[SessState])
        : Iterator[BoundedSession] = {
      def close(cur: SessState): BoundedSession =
        BoundedSession(userId, new Timestamp(cur.startMs), new Timestamp(cur.lastMs),
          cur.n, cur.cents)
      if (state.hasTimedOut) {
        val cur = state.get
        state.remove() // the whole point: nothing lingers after the flush
        Iterator.single(close(cur))
      } else {
        val (closed, cur) = SessionGap.step(state.getOption.orNull, it, gapMs)
        if (cur != null) {
          state.update(cur)
          state.setTimeoutTimestamp(cur.lastMs + gapMs)
        }
        closed.iterator.map(close)
      }
    }

    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming exact dedup with BOUNDED state: the first event per key is
    * emitted, later duplicates are dropped, and the suppression state is
    * reclaimed once the watermark passes (`dropDuplicatesWithinWatermark`)
    * — the streaming twin of `Dedup.exact`. State is O(distinct keys
    * inside the watermark window), RocksDB-backed at scale — NOT O(all
    * keys ever), which plain `dropDuplicates` on a stream would keep. */
  def streamingDedup(events: DataFrame, keys: Seq[String],
                     watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked tumbling-window aggregation over a streaming events feed
    * (the standard windowed-agg shape; q4 is its batch twin). */
  def windowedCounts(streamEvents: DataFrame): DataFrame =
    streamEvents
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .select(col("w.start").as("h"), col("event_type"), col("n"), col("value_cents"))
}

/** The per-event session logic the streaming variants of `Sessionize`
  * share. A top-level object, so the state functions that call it capture
  * nothing: Spark serializes them into every task. */
private[streaming] object SessionGap {
  import Sessionize.{Event, SessState, Session}

  /** The gap state machine: one group's events in `ts` order, each opening a session (none open), extending
    * the open one, or — past the gap — closing it and opening the next.
    * Returns the closed sessions in order and the one left open (null when
    * `open` was null and there were no events). */
  def step(open: SessState, events: Iterator[Event], gapMs: Long)
      : (Seq[SessState], SessState) = {
    val closed = Seq.newBuilder[SessState]
    var cur = open
    events.toSeq.sortBy(_.ts.getTime).foreach { e =>
      val t = e.ts.getTime
      val cents = math.round(e.value * 100)
      if (cur != null && t - cur.lastMs <= gapMs)
        cur = SessState(cur.startMs, math.max(cur.lastMs, t), cur.n + 1, cur.cents + cents)
      else {
        if (cur != null) closed += cur
        cur = SessState(t, t, 1, cents)
      }
    }
    (closed.result(), cur)
  }

  def session(userId: Long, idx: Long, s: SessState): Session =
    Session(userId, idx, new Timestamp(s.startMs), new Timestamp(s.lastMs), s.n, s.cents)

  /** `step` with counter identity: `idx` numbers `open`, or the user's last
    * session when none is open, and each session opened after it takes the
    * next number. Returns the closed sessions, the open one's number and
    * the open one. */
  def numbered(userId: Long, idx: Long, open: SessState, events: Iterator[Event],
               gapMs: Long): (Seq[Session], Long, SessState) = {
    val (closed, cur) = step(open, events, gapMs)
    val first = if (open == null) idx + 1 else idx
    val out = closed.zipWithIndex.map { case (s, k) => session(userId, first + k, s) }
    (out, first + closed.length, cur)
  }
}
