package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-user windowed rollups — the reference's `upi_transactions_agg`
  * builder (reference: backend/create_aggregates.py:19-104): for each
  * trailing window of N days, per-user transaction count, spend, last
  * activity, max tier, and favorite category.
  *
  * Design-for-scale notes:
  *  - The anchor ("now") is the corpus max timestamp, joined in via a
  *    broadcast cross join of a 1-row aggregate — deterministic across runs
  *    and sf, no driver collect in the plan.
  *  - All windows AND all aggregates compute in ONE scan: each row explodes
  *    to the window lengths it falls into, a single hash aggregate rolls up
  *    to (user_id, period_days, category) partials, and everything else —
  *    totals and the favorite-category mode — derives from those partials
  *    under one (user_id, period_days) exchange. The reference runs one
  *    full query per window; the pre-r4 shape here scanned events (and
  *    re-parsed the city_tier JSON) twice, once for totals and once for
  *    the mode.
  *  - favorite_category is the reference's correlated `ORDER BY COUNT(*)
  *    DESC LIMIT 1` subquery (create_aggregates.py:43-47) rewritten as a
  *    window-function mode with a deterministic tie-break (count desc,
  *    category asc) — the one window function the engine needs (SURVEY §2.5).
  *  - Output carries dates, not raw timestamps: the corpus stores
  *    nanosecond timestamps which Spark truncates to micros, so echoing
  *    `max(ts)` would diverge from a nanosecond-native engine.
  */
object Rollups {

  def userWindows(tx: DataFrame, periods: Seq[Int]): DataFrame = {
    val anchor = tx.agg(max(to_date(col("ts"))).as("anchor"))
    val periodsLit = array(periods.map(lit): _*)
    val base = tx.crossJoin(broadcast(anchor))
      .withColumn("period_days",
        explode(filter(periodsLit, p => to_date(col("ts")) >= date_sub(col("anchor"), p))))

    // One hash aggregate to per-category partials; partial counts/sums are
    // exact (decimal), so the per-(user, period) totals recomposed from
    // them are identical to a direct aggregate over the raw rows.
    val partials = base.groupBy(col("user_id"), col("period_days"), col("category"))
      .agg(
        count(lit(1)).as("cat_count"),
        sum(col("amount").cast(Tables.MoneyExact)).as("cat_amount"),
        max(to_date(col("ts"))).as("cat_last_date"),
        max(col("city_tier")).as("cat_tier"))

    windowTail(partials)
  }

  /** Shared tail of [[userWindows]] and [[userWindowsFromDaily]]: from
    * (user_id, period_days, category) partials to the final rollup rows.
    * Totals and the mode share ONE partitioning: both window specs key on
    * (user_id, period_days), so Catalyst plans a single exchange + sort
    * with two Window operators over it — no join, no second scan.
    */
  private def windowTail(partials: DataFrame): DataFrame = {
    val part = Window.partitionBy(col("user_id"), col("period_days"))
    val byCount = part.orderBy(col("cat_count").desc, col("category"))
    partials
      .withColumn("rn", row_number().over(byCount))
      .withColumn("total_transactions", sum(col("cat_count")).over(part))
      .withColumn("total_amount", Tables.moneyOut(sum(col("cat_amount")).over(part)))
      .withColumn("last_transaction_date", max(col("cat_last_date")).over(part))
      .withColumn("city_tier", max(col("cat_tier")).over(part))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("period_days"), col("total_transactions"),
        col("total_amount"), col("last_transaction_date"), col("city_tier"),
        col("category").as("favorite_category"))
  }

  /** Mergeable DAILY partials of the transaction stream — the storage unit
    * of the INCREMENTAL rollup path. One row per (user_id, day, category)
    * holding an exact count / exact-decimal amount / max tier; any two
    * partial sets over disjoint row sets merge by re-aggregation with NO
    * loss (counts and decimal sums are associative and exact, max is
    * idempotent), so the full-corpus rollup recomposed from partials is
    * bit-identical to a direct recompute — the property the
    * q_rollup_incremental oracle pins.
    *
    * Scale shape: the reference rebuilds `upi_transactions_agg` from the
    * full history on every scheduler tick (create_aggregates.py:19-104);
    * at 100 TB that is a full-table scan per refresh. Here a nightly batch
    * aggregates ONLY its own rows and upserts only the day partitions it
    * touches ([[upsertDailyPartials]]); serving recomposes the trailing
    * windows from partials orders of magnitude smaller than the raw stream.
    */
  def dailyPartials(tx: DataFrame): DataFrame =
    tx.groupBy(col("user_id"), to_date(col("ts")).as("day"), col("category"))
      .agg(
        count(lit(1)).as("cat_count"),
        sum(col("amount").cast(Tables.MoneyExact)).as("cat_amount"),
        max(col("city_tier")).as("cat_tier"))

  /** Seed (or fully rebuild) the day-partitioned partial store. Clustered
    * by `day` before the write (one exchange of the KB-scale partials) so
    * each day directory gets ONE file instead of one per shuffle
    * partition — a day-partitioned write from an un-clustered aggregate
    * emits tasks × days tiny files (guide §6 small-files trap; the
    * Iceberg `write.distribution-mode=hash` discipline).
    */
  def writeDailyPartials(tx: DataFrame, path: String): Unit =
    dailyPartials(tx).repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(path)

  /** Merge a delta batch into the partial store, rewriting ONLY the day
    * partitions the delta touches: existing partials for those days are
    * read back (a broadcast semi-join on `day` against the delta's day
    * set — dynamic partition pruning keeps untouched days unread), merged
    * by re-aggregation, and published with dynamic partition overwrite, so
    * a 100 TB history with a one-day delta rewrites one day's directory.
    *
    * The merged rows are materialized BEFORE the write because Spark
    * refuses to overwrite a path its input plan reads from. Local default
    * is an eager `localCheckpoint` (executor-local blocks — cheap, but a
    * lost executor mid-write fails the job); pass `checkpointDir` to pin
    * the barrier to reliable storage at cluster scale, mirroring the
    * curation module's `Dedup.duplicateClusters` knob.
    */
  def upsertDailyPartials(delta: DataFrame, path: String,
      checkpointDir: Option[String] = None): Unit = {
    val spark = delta.sparkSession
    val dp = dailyPartials(delta)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val merged =
      if (!fs.exists(hPath)) dp
      else {
        val touched = dp.select(col("day")).distinct()
        val existing = spark.read.parquet(path)
          .join(broadcast(touched), Seq("day"), "left_semi")
        dp.unionByName(existing.select(dp.columns.toIndexedSeq.map(col): _*))
          .groupBy(col("user_id"), col("day"), col("category"))
          .agg(
            sum(col("cat_count")).as("cat_count"),
            sum(col("cat_amount")).cast(Tables.MoneyExact).as("cat_amount"),
            max(col("cat_tier")).as("cat_tier"))
      }
    // UUID-scoped materialization (NOT the SparkContext-global checkpoint
    // dir): concurrent upserts with different checkpointDirs must never
    // misroute each other's files — see [[graft.Materializer]].
    val pinned = new graft.Materializer(checkpointDir)(merged)
    // cluster by day for the same one-file-per-day layout as the seed
    // write. NOTE: repartition(col("day")) gives each day ONE write task —
    // right for the documented KB-scale per-day partials, a throughput
    // cliff if partials ever grow to GB-scale days (then add a secondary
    // split key, e.g. pmod(hash(user_id), k), to bound file size).
    pinned.repartition(col("day")).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(path)
  }

  /** The trailing-window rollup recomposed from the daily partial store —
    * same output contract as [[userWindows]], but the scan input is the
    * (user, day, category) partials, not the raw stream: at 100 TB the
    * serving query reads back weeks of small partial partitions instead of
    * the full event history, and the rest of the plan (explode to periods,
    * one hash aggregate, one window exchange) is shared with the direct
    * path via [[windowTail]]. Exactness of the merge (see
    * [[dailyPartials]]) makes the two paths bit-identical.
    */
  def userWindowsFromDaily(daily: DataFrame, periods: Seq[Int]): DataFrame = {
    val anchor = daily.agg(max(col("day")).as("anchor"))
    val periodsLit = array(periods.map(lit): _*)
    val base = daily.crossJoin(broadcast(anchor))
      .withColumn("period_days",
        explode(filter(periodsLit, p => col("day") >= date_sub(col("anchor"), p))))
    val partials = base.groupBy(col("user_id"), col("period_days"), col("category"))
      .agg(
        sum(col("cat_count")).as("cat_count"),
        sum(col("cat_amount")).cast(Tables.MoneyExact).as("cat_amount"),
        max(col("day")).as("cat_last_date"),
        max(col("cat_tier")).as("cat_tier"))
    windowTail(partials)
  }

  /** Trailing `windowDays`-day MOVING aggregates of the daily event stream,
    * per event type: for every (event_type, day) with activity, the count
    * and exact-decimal amount over that day and the `windowDays - 1`
    * preceding CALENDAR days. A RANGE frame over the day number — not ROWS
    * — so gap days genuinely age out of the window instead of silently
    * stretching it (the trap of ROWS BETWEEN N PRECEDING on sparse dailies).
    *
    * Scale shape: the daily pre-aggregate collapses the event stream to at
    * most (types × days) rows BEFORE the window, so the window sort input
    * is tiny regardless of corpus size; one exchange on event_type.
    * Determinism: counts are integer; amounts stay exact DECIMAL through
    * both the daily and the window sum and surface once as DOUBLE
    * ([[Tables.moneyOut]]) — order-independent under any partitioning.
    */
  def movingDaily(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "window must be at least one day")
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(Tables.MoneyExact)).as("__amt"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("__dn"))
      .rangeBetween(-(windowDays - 1).toLong, 0L)
    daily
      .withColumn("__dn", datediff(col("day"), to_date(lit("1970-01-01"))))
      .withColumn("n_window", sum(col("n")).over(w).cast("long"))
      .withColumn("amount_window", Tables.moneyOut(sum(col("__amt")).over(w)))
      .select(col("event_type"), col("day"), col("n"),
        col("n_window"), col("amount_window"))
  }
}
