package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming over the events stream — the reference has no
  * streaming at all (batch jobs on a scheduler; its docs list time-windowed
  * aggregation as future work, reference DOCUMENTATION.md:401-405), so this
  * is the beyond-parity streaming surface: watermarked tumbling windows and
  * custom keyed state.
  *
  * Every transform takes/returns DataFrames so the same code runs on
  * `readStream` (micro-batch) and on a batch frame in tests.
  */
object EventsStream {

  /** Watermarked 1-hour tumbling-window aggregation per event type.
    * Late data beyond the watermark is dropped; state for closed windows is
    * evicted — the property that keeps state bounded on an unbounded
    * stream.
    */
  def hourlyTypeCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(38, 6))).cast(DecimalType(20, 2)).as("total_value"))
      .select(
        col("window.start").as("hour_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Per-user session aggregation: events closer than `gap` merge into one
    * session (built-in `session_window`, watermark bounds session state).
    */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(38, 6))).cast(DecimalType(20, 2)).as("total_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** STREAM-STREAM interval join — conversion attribution: each `convType`
    * event pairs with the same user's `causeType` events whose timestamp
    * falls inside [conv_ts − horizon, conv_ts]. This is the canonical
    * Structured Streaming stream-stream inner join: BOTH sides carry a
    * watermark and the join condition carries an event-time range, which
    * is exactly what lets the engine bound its join state — a buffered
    * cause row is evicted once the watermark passes `cause_ts + horizon`
    * (no conversion that could still arrive can match it), so state stays
    * proportional to the horizon × arrival rate, not the stream's
    * lifetime. Self-join of one events stream (filtered twice) is the
    * supported micro-batch shape.
    *
    * Batch-equivalent by construction: applied to a batch frame the same
    * code is a plain interval equi-join (the q_events_attribution oracle
    * replays it in SQL), the stream≡batch property StreamingSpec pins.
    * At scale the join shuffles both sides on user_id once; the range
    * predicate evaluates inside the joined partition.
    */
  def attributionJoin(events: DataFrame, causeType: String = "click",
      convType: String = "purchase", horizon: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val cause = events.filter(col("event_type") === causeType)
      .select(col("user_id"), col("event_id").as("cause_id"),
        col("ts").as("cause_ts"))
      .withWatermark("cause_ts", watermark)
    val conv = events.filter(col("event_type") === convType)
      .select(col("user_id").as("__conv_user"),
        col("event_id").as("conv_id"), col("ts").as("conv_ts"),
        col("value"))
      .withWatermark("conv_ts", watermark)
    cause.join(conv,
        col("user_id") === col("__conv_user") &&
          col("cause_ts") <= col("conv_ts") &&
          col("cause_ts") >= col("conv_ts") - expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("conv_id"), col("cause_id"),
        col("cause_ts"), col("conv_ts"), col("value"))
  }

  final case class Event(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Custom keyed state via mapGroupsWithState: running per-user totals.
    *
    * Deliberately NoTimeout: a processing-time TTL makes the engine fire
    * data-less micro-batches forever to evict state, which busy-loops a
    * synchronous test harness (and burns cluster cycles between events).
    * Bounding state on an unbounded key space belongs to an event-time
    * watermark policy layered on top, not to this operator.
    */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
            case ((cn, cv), e) => (cn + 1, cv + e.value)
          }
          val next = UserRunning(userId, n, v)
          state.update(next)
          next
      }
  }

  /** Output mode the stateful query needs. */
  val RunningTotalsOutputMode: OutputMode = OutputMode.Update()
}
