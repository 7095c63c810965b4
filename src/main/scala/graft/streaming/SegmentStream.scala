package graft.streaming

import graft.model.Condition
import graft.operators.ConditionCompiler
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Continuously-maintained segments: the reference refreshes
  * `segment_output_<id>` on an hourly/daily cron (scheduler.py), discarding
  * and recomputing the whole aggregate; here the SAME rule conditions
  * compile (via the same [[ConditionCompiler]]) onto the live event stream
  * and the segment updates per micro-batch with per-user keyed state.
  *
  * Exactness contract matches the batch engine bit-for-bit: amounts enter
  * state as DECIMAL(18,6) unscaled longs (micro-units, HALF_UP, the same
  * rounding `cast(double as decimal(18,6))` applies), sums are exact
  * integer adds (order-independent), and the emitted `total_spent` applies
  * the same moneyOut convention (round to 2dp, surface as DOUBLE) — so a
  * streaming segment row equals the batch row for the same data, which
  * StreamingSpec asserts including the rounding boundaries. Both share one
  * domain: |amount| < 1e12 and a per-user total below about 9.2e12 (2^63
  * micro-units); outside it both raise rather than round or wrap.
  *
  * State is bounded by the user key space (the product semantics — a
  * segment IS per-user running state), not by time; an eviction policy
  * (watermark on last activity) layers on top if the key space is
  * unbounded, same note as [[EventsStream.runningUserTotals]].
  */
object SegmentStream {

  final case class TxRow(user_id: Long, amount: Double, transaction_type: String)
  final case class SegState(n: Long, sumMicros: Long, types: Seq[String])
  final case class SegmentRow(user_id: Long, total_transactions: Long,
      total_spent: Double, transaction_types: String)

  private def microsOf(amount: Double): Long = {
    val d = java.math.BigDecimal.valueOf(amount).setScale(6, java.math.RoundingMode.HALF_UP)
    if (d.precision > 18) throw new ArithmeticException(s"amount $amount is outside DECIMAL(18,6)")
    d.unscaledValue().longValueExact()
  }

  private def moneyOut(sumMicros: Long): Double =
    new java.math.BigDecimal(java.math.BigInteger.valueOf(sumMicros), 6)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Compile rule conditions onto a (possibly streaming) transaction frame
    * and maintain the canonical segment shape per user. WHERE applies
    * per-event before state; HAVING becomes the emitted `in_segment`
    * flag (both compiled by the same ConditionCompiler as the batch path).
    *
    * Why a flag and not a filter: in Update mode a filtered-out revision
    * is simply NOT emitted, so a user whose running state stops satisfying
    * a non-monotone HAVING (`<`, `!=`, ranges) would never be retracted —
    * the sink would keep the stale member row forever. Emitting every
    * revision with `in_segment` true/false gives the sink the retraction
    * signal to upsert/delete on; the batch-equivalent membership is the
    * rows whose LATEST revision has `in_segment = true` (asserted in
    * StreamingSpec, including a shrinking-membership case). Run with
    * `OutputMode.Update`.
    */
  def continuousSegment(tx: DataFrame, conditions: Seq[Condition]): DataFrame = {
    val spark = tx.sparkSession
    import spark.implicits._
    val compiled = ConditionCompiler.compile(conditions)
    val filtered = compiled.where.map(tx.filter).getOrElse(tx)
      .filter(col("user_id").isNotNull)
    val typed = filtered.select(
        col("user_id").cast("long"),
        col("amount").cast("double"),
        col("transaction_type").cast("string"))
      .as[TxRow]

    val updated = typed.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[TxRow], state: GroupState[SegState]) =>
          val prev = state.getOption.getOrElse(SegState(0L, 0L, Nil))
          var n = prev.n
          var sum = prev.sumMicros
          var types = prev.types.toSet
          batch.foreach { r =>
            n += 1
            sum = Math.addExact(sum, microsOf(r.amount))
            if (r.transaction_type != null) types += r.transaction_type
          }
          val next = SegState(n, sum, types.toSeq.sorted)
          state.update(next)
          SegmentRow(uid, n, moneyOut(sum), next.types.mkString(","))
      }
      .toDF()
    updated.withColumn("in_segment",
      compiled.having.getOrElse(lit(true)))
  }

  /** Output mode the stateful query needs. */
  val SegmentOutputMode: OutputMode = OutputMode.Update()

  /** Drive a continuously-maintained segment into the [[graft.sources.SegmentStore]]:
    * each micro-batch UPSERTS into `segment_output_<ruleId>` — revisions
    * with `in_segment = true` replace the user's stored row, false
    * revisions delete it (the retraction path a non-monotone HAVING
    * needs). Plain parquet has no MERGE, so the upsert is
    * read-existing → anti-join the batch's users → union the batch's
    * members → `SegmentStore.write`, which writes the merged content to a
    * staging directory while the old data stays readable (the plan READS
    * the directory being replaced) and swaps it in by rename — a failed
    * batch leaves the previous state, never an empty store, and a restart
    * that replays the batch re-derives the same merge (idempotent); a
    * crashed swap rolls back, so the read keeps every earlier member.
    * Per-user state lives in the streaming checkpoint.
    * Empty micro-batches (restart replays, no-data triggers) skip the
    * rewrite entirely. Returns the configured writer — caller sets
    * `option("checkpointLocation", ...)` and `.start()`s it.
    */
  def sinkToStore(segment: DataFrame, store: graft.sources.SegmentStore,
      ruleId: Long): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    segment.writeStream
      .outputMode(SegmentOutputMode)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val members = batch.filter(col("in_segment")).drop("in_segment")
          val next =
            if (!store.exists(ruleId)) members
            else store.read(ruleId)
              .join(broadcast(batch.select("user_id").distinct()), Seq("user_id"), "left_anti")
              .unionByName(members)
          store.write(ruleId, next)
          ()
        }
      }
}
