package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured Streaming variants of the event-time queries
  * (SURVEY.md §2.9 stretch — the reference has no streaming at all;
  * our batch window queries share the same Catalyst expressions, so
  * the streaming form is the identical transform under `readStream`).
  *
  * At scale: watermarking bounds state; the windowed aggregate state
  * store is keyed by (window, extra keys) and pruned as the watermark
  * passes window ends.
  *
  * Nothing here writes files. Every stream whose output persists —
  * folded index state and per-batch ingest-probe output alike — commits
  * through [[DeltaState]]'s one `_COMMIT` protocol; an ingest probe's
  * output is an add-only store (`DeltaFoldSpec(add = probe)`).
  */
object StreamingOps {

  /** readStream over a parquet directory with an explicit schema (a
    * streaming source may not infer). ts has shipped as
    * TIMESTAMP(NANOS) (→ LongType under nanosAsLong) and as naive
    * TIMESTAMP(MICROS) (→ TIMESTAMP_NTZ, which watermarks reject);
    * normalize both exactly like the batch reader
    * (graft.io.Tables.events).
    */
  def eventsStream(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val raw = spark.readStream.schema(schema).parquet(dir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Custom per-key streaming state (§2.9: `mapGroupsWithState`):
    * running per-user event count + last-seen epoch second. State is
    * BOUNDED: a user idle past `idleTimeoutSec` of event time is
    * evicted once the watermark passes (emitting a final snapshot), so
    * the store holds one record per RECENTLY-ACTIVE user, not per
    * ever-seen user. A user who returns after eviction restarts from
    * zero — the documented trade of any idle-eviction counter.
    */
  def statefulUserCounts(spark: SparkSession, events: DataFrame,
                         idleTimeoutSec: Long = 86400,
                         watermark: String = "1 hour") = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    events.select(col("user_id"), col("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            // idle past the horizon: final snapshot, then evict
            val (n, last) = state.get
            state.remove()
            (user, n, last)
          } else {
            val (prevN, prevLast) = state.getOption.getOrElse((0L, 0L))
            var n = prevN; var last = prevLast
            rows.foreach { case (_, t) =>
              n += 1; val sec = t.getTime / 1000; if (sec > last) last = sec }
            state.update((n, last))
            // same clamp as statefulSessions: a pure-late batch can put
            // last+timeout behind the watermark, which
            // setTimeoutTimestamp rejects
            state.setTimeoutTimestamp(math.max(
              last * 1000L + idleTimeoutSec * 1000L,
              state.getCurrentWatermarkMs() + 1L))
            (user, n, last)
          }
      }
      .toDF("user_id", "n_events", "last_seen")
  }

  /** Per-user session state held between micro-batches; timestamps in
    * epoch µs (full event-time precision — second-floored gaps would
    * disagree with session_window at boundaries).
    */
  final case class SessionState(startUs: Long, lastUs: Long, n: Long)

  /** A gap-closed session, emitted once. `session_start` is the
    * epoch-second floor, matching q16_session_window's output.
    */
  final case class ClosedSession(user_id: Long, session_start: Long, n_events: Long)

  /** Custom streaming sessionization via `flatMapGroupsWithState`
    * (§2.9): per-user gap-based sessions held in the state store and
    * emitted only when CLOSED — by a later event at/over the gap, or by
    * event-time timeout once the watermark passes last+gap. This is the
    * general stateful-operator shape for session logic `session_window`
    * cannot express (duration caps, per-type rules, custom payloads).
    *
    * Semantics match the batch/SQL session definition exactly for
    * in-order and intra-batch data: half-open sessions, a gap >=
    * `gapSec` starts a new one, compared at full µs event-time
    * precision. Cross-batch LATE events (allowed up to the watermark
    * delay) extend the current session monotonically; a late event
    * older than the current session start merges into it rather than
    * reopening an earlier session (the built-in session_window buffers
    * until the watermark to resolve that case — a custom operator that
    * needs it should do the same). State is one small record per ACTIVE
    * user — watermark-driven timeouts evict idle users, so state is
    * bounded by concurrently-active keys, not corpus size.
    */
  def statefulSessions(spark: SparkSession, events: DataFrame,
                       gapSec: Long = 1800,
                       watermark: String = "1 hour") = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def micros(t: java.sql.Timestamp): Long =
      (t.getTime / 1000) * 1000000L + t.getNanos / 1000
    events
      .select(col("user_id"), col("ts"))
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new events: final close
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.startUs / 1000000L, s.n))
          } else {
            // micro-batch rows arrive unordered within the group
            val ts = rows.map(r => micros(r._2)).toArray
            java.util.Arrays.sort(ts)
            val out = Seq.newBuilder[ClosedSession]
            var st = state.getOption
            ts.foreach { t =>
              st = st match {
                case Some(s) if t - s.lastUs < gapSec * 1000000L =>
                  // cross-batch late events may arrive with t < lastUs
                  // (or even < startUs): extend the window monotonically
                  // instead of moving lastUs backward, which would
                  // wrongly split the session on the next in-order event
                  Some(SessionState(math.min(s.startUs, t), math.max(s.lastUs, t), s.n + 1))
                case other =>
                  other.foreach(s => out += ClosedSession(user, s.startUs / 1000000L, s.n))
                  Some(SessionState(t, t, 1))
              }
            }
            st.foreach { s =>
              state.update(s)
              // a batch of pure late data can put last+gap BEHIND the
              // watermark; setTimeoutTimestamp throws on that, killing
              // the query — clamp to watermark+1ms (fires next batch,
              // which is right: the session is already expired)
              state.setTimeoutTimestamp(math.max(
                s.lastUs / 1000L + gapSec * 1000L,
                state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          })
      .toDF()
  }

  /** Streaming exact-dedup: drop repeated event_ids across
    * micro-batches. `dropDuplicatesWithinWatermark` (NOT plain
    * dropDuplicates: with keys that exclude the event-time column,
    * StreamingDeduplicateExec never builds an eviction predicate and
    * state grows with the stream) evicts each id once the watermark
    * passes its event time — state bounded by the lateness window, the
    * streaming twin of DedupOps.exactDedup's hash-aggregate.
    */
  def streamingDedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each click joined to the same user's
    * purchases within `intervalHours` AFTER the click. Watermarks on
    * BOTH sides bound the join state: a buffered click can be evicted
    * once the purchase-side watermark passes click_ts + interval, so
    * state is O(events in the interval window), not O(stream) — the
    * canonical scalable stream-stream join shape.
    */
  def clickPurchaseJoin(spark: SparkSession, clicks: DataFrame, purchases: DataFrame,
                        intervalHours: Int = 24,
                        watermark: String = "1 hour"): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", watermark)
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $intervalHours HOURS"))
      .select(col("click_id"), col("user_id"),
        col("click_ts").cast("long").as("click_ts_s"),
        col("purchase_ts").cast("long").as("purchase_ts_s"),
        col("purchase_value"))
  }

  /** Stream-static enrichment join — the remaining §2.9 join path
    * (distinct from the stateful stream-stream interval join): each
    * micro-batch joins against a STATIC dimension, broadcast per
    * batch. No watermark and no state store — the static side is
    * re-resolvable at every trigger, which is exactly why this is the
    * right shape for slowly-refreshed dims at scale (swap the dim
    * files; the next batch sees the new version; no stream restart).
    */
  def staticEnrich(stream: DataFrame, dim: DataFrame,
                   joinCol: String): DataFrame =
    stream.join(broadcast(dim), Seq(joinCol))

  /** Tumbling-window counts with a watermark: the streaming twin of
    * q14_window_tumbling.
    */
  def tumblingCounts(events: DataFrame, width: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").cast("long").as("window_start"),
        col("event_type"), col("cnt"), col("sum_value"))
}
