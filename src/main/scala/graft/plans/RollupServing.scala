package graft.plans

import graft.model.Condition
import graft.operators.{ConditionCompiler, Rollups}
import graft.sources.SegmentStore
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

  /** The rollup lives beside the segments, one `period_days=<p>` directory
    * per materialized window; a window is served iff its directory exists.
    */
  private def rollupPath(store: SegmentStore): String =
    s"${store.warehousePath}/rollup_user_windows"

  /** Build the user-windows rollup and swap it in under the store's
    * warehouse (the same [[SegmentStore.swapIn]] as segments and the
    * catalog): a reader never sees a half-written rollup, and a failed
    * build leaves the previous one. A crashed build rolls back: reads
    * keep serving the previous rollup ([[SegmentStore.resolve]]) until the
    * next `materialize` lands.
    */
  def materialize(store: SegmentStore, tx: DataFrame, periods: Seq[Int]): Unit = {
    val target = new org.apache.hadoop.fs.Path(rollupPath(store))
    SegmentStore.swapIn(target.getFileSystem(tx.sparkSession.sparkContext.hadoopConfiguration),
        target) { staging =>
      Rollups.userWindows(tx, periods)
        .write.mode(SaveMode.Overwrite).partitionBy("period_days").parquet(staging.toString)
    }
  }

  /** The materialized rows of one window in [[Rollups.userWindows]]' column
    * order, or None when no rollup holds that window. The plan scans only
    * the rollup parquet; the period filter prunes it to one directory.
    */
  private def window(spark: SparkSession, store: SegmentStore,
      periodDays: Int): Option[DataFrame] = {
    val target = new org.apache.hadoop.fs.Path(rollupPath(store))
    val fsys = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    SegmentStore.resolve(fsys, target)
      .filter(root => fsys.exists(new org.apache.hadoop.fs.Path(root, s"period_days=$periodDays")))
      .map(root => spark.read.parquet(root.toString)
        .filter(col("period_days") === periodDays)
        // partitionBy moved period_days last; restore the build's order
        .select(Seq("user_id", "period_days", "total_transactions", "total_amount",
          "last_transaction_date", "city_tier", "favorite_category").map(col): _*))
  }

  /** The rewrite: per-user totals for a trailing `periodDays` window are
    * answered from the rollup iff it materializes that exact window;
    * otherwise computed from the raw scan.
    */
  def userWindowTotals(spark: SparkSession, store: SegmentStore,
      tx: => DataFrame, periodDays: Int): DataFrame =
    window(spark, store, periodDays).getOrElse(Rollups.userWindows(tx, Seq(periodDays)))

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
    else window(spark, store, periodDays).map { w =>
      val base = w.select(col("user_id"), col("total_transactions"),
        col("total_amount").as(ConditionCompiler.SpentCol))
      compiled.having.fold(base)(base.filter)
    }
  }
}
