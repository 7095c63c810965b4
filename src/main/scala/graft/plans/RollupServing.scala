package graft.plans

import graft.model.Condition
import graft.operators.{ConditionCompiler, Rollups}
import graft.sources.{RollupEntry, SegmentStore}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Serve window-scoped reads from precomputed rollups instead of the raw
  * event log (reference intent: `backend/create_aggregates.py:19-104`
  * materializes `upi_transactions_agg` precisely so per-user trailing-window
  * reads never rescan transactions).
  *
  * The contract that makes the rewrite SAFE is exactness, not freshness:
  * [[Rollups.userWindows]] recomposes its totals from per-category decimal
  * partials, so a served answer is bit-identical to the raw-scan answer AS
  * OF the rollup's build — the planner substitutes plans, never
  * approximations (q_rollup_served pins this: the oracle computes from raw
  * events, the engine answers from the rollup, and the hashes must match).
  * Staleness is governed by the same refresh scheduling as segments.
  *
  * At 100 TB this rewrite is the difference between a dashboard query
  * costing a full event-log scan and costing a read of a users-sized
  * table: the rollup is ~|users|·|periods| rows with no JSON parse, no
  * window explode, and no shuffle left in the served plan.
  */
object RollupServing {

  /** Build the user-windows rollup, write it under the store's warehouse,
    * and register it in the rollup catalog. Returns the registration.
    */
  def materialize(store: SegmentStore, tx: DataFrame, periods: Seq[Int],
      name: String = "user_windows"): RollupEntry = {
    val path = s"${store.warehousePath}/rollup_$name"
    // same crash-safe swap as segments/catalog: a reader never sees a
    // half-written rollup, and a crashed refresh leaves the previous one
    store.swapIn(path) { staging =>
      Rollups.userWindows(tx, periods)
        .write.mode(SaveMode.Overwrite).parquet(staging)
    }
    store.registerRollup(name, path, periods)
    RollupEntry(name, path, periods)
  }

  /** The rewrite: per-user totals for a trailing `periodDays` window are
    * answered from a registered rollup iff one materializes that exact
    * window; otherwise fall back to computing from the raw scan. The
    * served plan reads ONLY the rollup parquet (period pruning pushes to
    * the scan).
    */
  def userWindowTotals(spark: SparkSession, store: SegmentStore,
      tx: => DataFrame, periodDays: Int): DataFrame =
    store.loadRollupsUnlocked().find(_.periods.contains(periodDays)) match {
      case Some(e) =>
        store.recoverSwap(e.path) // heal a crashed refresh before reading
        spark.read.parquet(e.path)
          .filter(col("period_days") === periodDays)
      case None =>
        Rollups.userWindows(tx, Seq(periodDays))
    }

  /** Serve a window-scoped segment rule — HAVING-style conditions over the
    * trailing-window totals (`total_spend`, `transaction_count`) — from the
    * rollup, in the segment-output shape. Returns None when the window
    * isn't materialized or a condition needs raw rows (anything that is not
    * a HAVING condition can't be answered post-aggregation), so the caller
    * falls back to the base path.
    */
  def serveSegment(spark: SparkSession, store: SegmentStore,
      periodDays: Int, conditions: Seq[Condition]): Option[DataFrame] = {
    val compiled = ConditionCompiler.compile(conditions)
    // WHERE-routed conditions filter raw rows BEFORE aggregation — a rollup
    // aggregated without them cannot serve the request. Malformed/skipped
    // conditions don't block: the base path skips them identically (Q10).
    if (compiled.where.nonEmpty) None
    else store.loadRollupsUnlocked().find(_.periods.contains(periodDays)).map { e =>
      store.recoverSwap(e.path)
      val base = spark.read.parquet(e.path)
        .filter(col("period_days") === periodDays)
        .select(col("user_id"), col("total_transactions"),
          col("total_amount").as(ConditionCompiler.SpentCol))
      compiled.having.fold(base)(base.filter)
    }
  }
}
