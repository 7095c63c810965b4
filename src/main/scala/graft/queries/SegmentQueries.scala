package graft.queries

import graft.model._
import graft.operators._
import graft.parity.SegmentOps
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The audience platform's query registrations: base and Compound
  * segments (q_seg_*), the segment store (q_store_*) and rollups
  * (q_rollup_*), each with its DuckDB oracle SQL, plus the oracle fragments
  * and the scratch-directory helper that other registries share. The
  * conventions (identical aliases both sides, total ORDER BY, DOUBLE at the
  * money boundary) hold for every [[Q]].
  */
private[graft] object SegmentQueries {

  /** Run `body` against a unique scratch directory, eagerly materialize its
    * result (localCheckpoint), and delete the directory before returning —
    * the finally-drop discipline of the index queries. Per-call JVM
    * shutdown hooks are NOT used: under Bench's repeated warm+measure
    * invocations they accumulate hooks and undeleted temp dirs until JVM
    * exit.
    */
  private[graft] def withScratchDir(prefix: String)(body: java.nio.file.Path => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir).localCheckpoint(true)
    finally scala.util.Try {
      java.nio.file.Files.walk(dir)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** The DuckDB rendering of the segment aggregate over `events`
    * (reference semantics: backend/app/utils/rule_parser.py:111-123).
    */
  private def segCte(where: String, having: String = ""): String = {
    val w = if (where.isEmpty) "" else s" WHERE $where"
    val h = if (having.isEmpty) "" else s" HAVING $having"
    "SELECT user_id, count(user_id) AS total_transactions, " +
      s"${dSum("value")} AS total_spent, " +
      "'EVENTS' AS transaction_types " +
      s"FROM events$w GROUP BY user_id$h"
  }

  private def segSql(where: String, having: String = ""): String =
    segCte(where, having) + " ORDER BY user_id"

  /** DuckDB rendering of the derived city_tier column (FIXTURES.md §C). */
  private[graft] val tierSql = "(CAST(json_extract_string(props, '$.k') AS INTEGER) % 4 + 1)"

  private def seg(conds: Condition*)(spark: SparkSession, dir: String): DataFrame =
    SegmentEngine.materializeBase(Tables.transactions(spark, dir), conds)
      .orderBy("user_id")

  private def segFaithful(conds: Condition*)(spark: SparkSession, dir: String): DataFrame =
    SegmentEngine.materializeBase(Tables.transactions(spark, dir), conds,
      ConditionCompiler.Mode(faithfulDateStrings = true))
      .orderBy("user_id")

  // -------------------------------------------------------------------------
  // Base-rule segment queries (SURVEY §2.2/§2.4: P1-P6, A1, A2, A8)
  // -------------------------------------------------------------------------

  private val baseRuleQueries: Seq[Q] = Seq(
    Q("q_seg_base_amount",
      seg(Condition("transaction_amount", ">", "100")),
      Some(segSql("value > 100"))),

    Q("q_seg_base_tier",
      seg(Condition("city_tier", "=", "2")),
      Some(segSql(s"$tierSql = 2"))),

    Q("q_seg_base_tier_in",
      seg(Condition.in("city_tier", Seq("1", "3"))),
      Some(segSql(s"$tierSql IN (1, 3)"))),

    Q("q_seg_base_dates",
      seg(Condition.between("transaction_date", "2024-01-10", "2024-01-20")),
      Some(segSql(
        "CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'"))),

    // Bug-compatible variant: the reference compares raw timestamp text with
    // the date literal, excluding most of the last day (SURVEY Q2/§7.4).
    Q("q_seg_base_dates_faithful",
      segFaithful(Condition.between("transaction_date", "2024-01-10", "2024-01-20")),
      Some(segSql(
        "strftime(ts, '%Y-%m-%d %H:%M:%S') BETWEEN '2024-01-10' AND '2024-01-20'"))),

    Q("q_seg_base_having",
      seg(
        Condition("transaction_amount", ">", "50"),
        Condition("total_spend", ">", "2000"),
        Condition("transaction_count", ">=", "5")),
      // HAVING compares the same post-convention DOUBLE the Spark engine
      // filters on (ConditionCompiler routes total_spend to the output col).
      Some(segSql(
        "value > 50",
        s"${dSum("value")} > 2000 AND count(user_id) >= 5"))),

    // Segment over the TWO-source union (orders ∪ lineitem): the one query
    // whose transaction_types actually aggregates multiple discriminator
    // values, exercising the sorted GROUP_CONCAT canonicalization (Q3) and
    // the reference's real UNION-ALL-then-aggregate shape (U1 + A1).
    Q("q_seg_base_twosource",
      (s, d) => SegmentEngine.materializeBase(
        Tables.transactionsTwoSource(s, d),
        Seq(Condition("transaction_amount", ">", "30000")))
        .orderBy("user_id"),
      Some(s"$twoSourceCte SELECT user_id, count(user_id) AS total_transactions, " +
        s"${dSum("amount")} AS total_spent, " +
        "string_agg(DISTINCT transaction_type, ',' ORDER BY transaction_type) " +
        "AS transaction_types " +
        "FROM t WHERE amount > 30000 GROUP BY user_id ORDER BY user_id")),

    // Full control-plane round-trip under the hash gate: create a rule in a
    // fresh store (dependency detection against an empty catalog), plan,
    // materialize, WRITE the segment parquet (observe-metric count), read
    // it back. Proves S5/S7 write→read fidelity — the stored bytes, not
    // just the in-memory frame, must match the oracle.
    Q("q_store_roundtrip",
      (s, d) => withScratchDir("graft_verify_store") { whDir =>
        // unique scratch warehouse per invocation (a fixed path would race
        // concurrent bench/verify processes)
        val store = new graft.sources.SegmentStore(s, whDir.toString)
        val runner = new SegmentRunner(store, () => Tables.transactions(s, d))
        val (id, _) = runner.createRule("roundtrip",
          Seq(Condition("transaction_amount", ">", "300")))
        runner.run(id, "2026-01-01T00:00:00Z")
        store.read(id).orderBy("user_id")
      },
      Some(segSql("value > 300"))),

    // Segment GROWTH over runs: the run-history table (beyond-parity
    // observability — the reference catalog keeps only the latest
    // row_count, so size-over-time is unqueryable there). One rule runs at
    // three timestamps with its conditions PUT-updated between runs; the
    // output is the recorded (refreshed_at, row_count) series, and the
    // oracle recomputes each run's expected count from the corpus under
    // that run's condition — certifying both the history plumbing and the
    // re-planned materializations behind it.
    Q("q_store_history",
      (s, d) => withScratchDir("graft_verify_hist") { whDir =>
        val store = new graft.sources.SegmentStore(s, whDir.toString)
        val runner = new SegmentRunner(store, () => Tables.transactions(s, d))
        val (id, _) = runner.createRule("hist",
          Seq(Condition("transaction_amount", ">", "300")))
        runner.run(id, "2026-01-01T00:00:00Z")
        runner.updateRule(id, Seq(Condition("transaction_amount", ">", "500")))
        runner.run(id, "2026-01-02T00:00:00Z")
        runner.updateRule(id, Seq(Condition("transaction_amount", ">", "100")))
        runner.run(id, "2026-01-03T00:00:00Z")
        store.runHistory().filter(col("rule_id") === id)
          .select(col("refreshed_at"), col("row_count"))
          .orderBy("refreshed_at")
      },
      Some({
        def cnt(cond: String) = s"(SELECT count(*) FROM (${segCte(cond)}))"
        "SELECT * FROM (VALUES " +
          s"('2026-01-01T00:00:00Z', CAST(${cnt("value > 300")} AS BIGINT)), " +
          s"('2026-01-02T00:00:00Z', CAST(${cnt("value > 500")} AS BIGINT)), " +
          s"('2026-01-03T00:00:00Z', CAST(${cnt("value > 100")} AS BIGINT))" +
          ") AS t(refreshed_at, row_count) ORDER BY refreshed_at"
      })),

    // The JDBC connector under the hash gate (S1/S5 for real databases —
    // the reference's only I/O path, spark_processor.py:104-110/192-199):
    // materialize a base segment, WRITE it to an embedded Derby database
    // with pinned column types (the drop-and-recreate refresh shape), then
    // read it back through the whole-query pushdown path with customSchema
    // — the stored DATABASE bytes, not the in-memory frame, must match the
    // corpus oracle. Unique scratch db per invocation; the engine is shut
    // down and the directory deleted before returning.
    Q("q_seg_base_jdbc",
      (s, d) => withScratchDir("graft_jdbc_seg") { dir =>
        System.setProperty("derby.stream.error.file", s"$dir/derby.log")
        val conn = graft.sources.Jdbc.Conn(
          s"jdbc:derby:$dir/db;create=true",
          "org.apache.derby.jdbc.EmbeddedDriver")
        val seg = SegmentEngine.materializeBase(Tables.transactions(s, d),
          Seq(Condition("transaction_amount", ">", "300")))
        graft.sources.Jdbc.write(seg, conn, "segment_output_jdbc",
          createTableColumnTypes = Some("transaction_types VARCHAR(64)"))
        val out = graft.sources.Jdbc.readQuery(s, conn,
          "SELECT \"user_id\", \"total_transactions\", \"total_spent\", " +
            "\"transaction_types\" FROM segment_output_jdbc",
          customSchema = Some("user_id LONG, total_transactions LONG, " +
            "total_spent DOUBLE, transaction_types STRING"))
          .orderBy("user_id").localCheckpoint(true)
        // embedded Derby keeps every booted database open in-engine;
        // shutdown releases it (and always signals via SQLException)
        try java.sql.DriverManager.getConnection(
          s"jdbc:derby:$dir/db;shutdown=true")
        catch { case _: java.sql.SQLException => () }
        out
      },
      Some(segSql("value > 300"))),

    // All conditions malformed ⇒ silently skipped ⇒ all-users segment
    // (SURVEY Q10; reference rule_parser.py:46-58).
    Q("q_seg_vacuous_conditions",
      seg(
        Condition("no_such_field", ">", "1"),
        Condition("transaction_amount", "LIKE", "5"),
        Condition("transaction_amount", ">", "")),
      Some(segSql(""))))

  // -------------------------------------------------------------------------
  // Compound segments: set operations + planner reuse (SURVEY §2.6, §2.11)
  // -------------------------------------------------------------------------

  /** The canonical 3-parent scenario (reference's shipped rules 1-3 adapted
    * to the corpus): amount > 100, tier = 2, June-window analog.
    */
  private val parentConds: Seq[Seq[Condition]] = Seq(
    Seq(Condition("transaction_amount", ">", "250")),
    Seq(Condition("city_tier", "=", "2"), Condition("transaction_amount", ">", "200")),
    Seq(Condition.between("transaction_date", "2024-01-10", "2024-01-12"),
      Condition("transaction_amount", ">", "150")))

  /** The stored rules `parentConds` stand for, ids from 1. */
  private val parentRules: Seq[Rule] = parentConds.zipWithIndex.map { case (cs, i) =>
    Rule(id = i + 1L, name = s"rule${i + 1}", conditions = cs)
  }

  private def parents(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val tx = Tables.transactions(spark, dir)
    parentConds.map(SegmentEngine.materializeBase(tx, _))
  }

  /** DuckDB CTE header mirroring `parents`. */
  private val parentsCte: String =
    s"WITH s1 AS (${segCte("value > 250")}), " +
      s"s2 AS (${segCte(s"$tierSql = 2 AND value > 200")}), " +
      s"s3 AS (${segCte(
        "CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12' AND value > 150")})"

  private val setOpQueries: Seq[Q] = Seq(
    Q("q_seg_intersect_keyed",
      (s, d) => SegmentOps.combine(SetOp.Intersection, parents(s, d)).orderBy("user_id"),
      Some(s"$parentsCte SELECT * FROM s1 " +
        "WHERE user_id IN (SELECT user_id FROM s2) " +
        "AND user_id IN (SELECT user_id FROM s3) ORDER BY user_id")),

    // Bug-compatible full-row intersect: parents computed under different
    // filters give differing aggregates, so this is usually (near-)empty —
    // the reference's shipped rule 4 artifact (SURVEY Q1).
    Q("q_seg_intersect_faithful",
      (s, d) => SegmentOps.combine(SetOp.Intersection, parents(s, d), keyed = false)
        .orderBy("user_id"),
      Some(s"$parentsCte SELECT * FROM s1 INTERSECT SELECT * FROM s2 " +
        "INTERSECT SELECT * FROM s3 ORDER BY user_id")),

    Q("q_seg_union_keyed",
      (s, d) => SegmentOps.combine(SetOp.Union, parents(s, d)).orderBy("user_id"),
      Some(s"$parentsCte, u AS (" +
        "SELECT *, 1 AS p FROM s1 UNION ALL SELECT *, 2 AS p FROM s2 " +
        "UNION ALL SELECT *, 3 AS p FROM s3), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY p) AS rn FROM u) " +
        "SELECT user_id, total_transactions, total_spent, transaction_types " +
        "FROM r WHERE rn = 1 ORDER BY user_id")),

    Q("q_seg_union_faithful",
      (s, d) => SegmentOps.combine(SetOp.Union, parents(s, d), keyed = false)
        .orderBy("user_id", "total_transactions", "total_spent", "transaction_types"),
      Some(s"$parentsCte SELECT * FROM s1 UNION SELECT * FROM s2 UNION SELECT * FROM s3 " +
        "ORDER BY user_id, total_transactions, total_spent, transaction_types")),

    Q("q_seg_diff_keyed",
      (s, d) => SegmentOps.combine(SetOp.Difference, parents(s, d)).orderBy("user_id"),
      Some(s"$parentsCte SELECT * FROM s1 " +
        "WHERE user_id NOT IN (SELECT user_id FROM s2) " +
        "AND user_id NOT IN (SELECT user_id FROM s3) ORDER BY user_id")),

    Q("q_seg_diff_faithful",
      (s, d) => SegmentOps.combine(SetOp.Difference, parents(s, d), keyed = false)
        .orderBy("user_id"),
      Some(s"$parentsCte SELECT * FROM s1 EXCEPT SELECT * FROM s2 " +
        "EXCEPT SELECT * FROM s3 ORDER BY user_id")),

    // The reference's greedy reuse rewrite (R1-R3, kept for parity): a new
    // rule whose conditions are covered by rules 1-3 plus a residual HAVING
    // condition is covered by [2,3,1] with that residual, here intersected
    // keyed with the residual's aggregate over the raw scan.
    Q("q_seg_planner_reuse",
      (s, d) => {
        val newConds = parentConds.flatten :+ Condition("total_spend", ">", "500")
        val cover = graft.plans.DependencyFinder.findBestDependency(newConds, parentRules).get
        val byId = parentRules.map(_.id).zip(parents(s, d)).toMap
        SegmentOps.combine(cover.operation, cover.dependencyRuleIds.map(byId) :+
          SegmentEngine.materializeBase(Tables.transactions(s, d), cover.remaining))
          .orderBy("user_id")
      },
      // Greedy cover claims by (size desc, id asc): rules 2 and 3 carry two
      // conditions each, so the dependency order is [2, 3, 1] and the keyed
      // intersection keeps rule 2's aggregates.
      Some(s"$parentsCte, sr AS (${segCte("", s"${dSum("value")} > 500")}) " +
        "SELECT * FROM s2 " +
        "WHERE user_id IN (SELECT user_id FROM s3) " +
        "AND user_id IN (SELECT user_id FROM s1) " +
        "AND user_id IN (SELECT user_id FROM sr) ORDER BY user_id")),

    // Exact reuse (R4-R5), the default path: rule 1's WHERE set plus two
    // HAVING conditions binds Compound over rule 1 alone and evaluates as
    // a HAVING filter over its segment, never reading the raw scan. The
    // oracle aggregates the raw events under the rule's own conditions.
    Q("q_seg_exact_reuse",
      (s, d) => {
        val having = Seq(Condition("total_spend", ">", "500"),
          Condition("transaction_count", ">=", "2"))
        val plan = graft.plans.Planner.planNew(parentConds.head ++ having, parentRules)
        require(plan == SegmentPlan.Compound(Seq(1L), SetOp.Intersection, having), s"bound $plan")
        val byId = parentRules.map(_.id).zip(parents(s, d)).toMap
        graft.plans.Planner.evaluate(plan, sys.error("exact reuse reads no events"), byId)
          .orderBy("user_id")
      },
      Some(segSql("value > 250", s"${dSum("value")} > 500 AND count(user_id) >= 2"))))

  // -------------------------------------------------------------------------
  // Rollups and the shared oracle fragments (SURVEY §2.4, §2.7 T1/T4)
  // -------------------------------------------------------------------------

  /** Shared DuckDB fragment: exact decimal sum of a double amount, rounded
    * to 2dp and surfaced as DOUBLE (the engine-wide monetary-output
    * convention, `Tables.moneyOut` on the Spark side).
    */
  private[graft] def dSum(expr: String): String =
    s"CAST(CAST(sum(CAST($expr AS DECIMAL(38,6))) AS DECIMAL(20,2)) AS DOUBLE)"

  /** DuckDB rendering of the two-source unified view (orders ∪ lineitem,
    * FIXTURES.md §C two-source mapping).
    */
  private[graft] def twoSourceCte: String =
    "WITH t AS (" +
      "SELECT o_custkey AS user_id, o_totalprice AS amount, o_orderdate AS ts, " +
      "o_orderpriority AS category, 'ORDERS' AS transaction_type FROM orders " +
      "UNION ALL " +
      "SELECT o_custkey, l_extendedprice, l_shipdate, l_returnflag, 'LINEITEM' " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey)"

  /** Direct full-history rollup SQL over raw events — shared verbatim by
    * q_rollup_user_windows (direct path) and q_rollup_incremental (the
    * partial-store upsert + recompose path): one oracle, two plans, and
    * the hash gate proves both produce the same bits.
    */
  private val userWindowsOracle: String =
    "WITH a AS (SELECT CAST(max(ts) AS DATE) AS anchor FROM events), " +
      "base AS (SELECT user_id, p.period_days, CAST(ts AS DATE) AS d, value, " +
      s"event_type, $tierSql AS tier FROM events CROSS JOIN a " +
      "CROSS JOIN (VALUES (7), (14), (30)) AS p(period_days) " +
      "WHERE CAST(ts AS DATE) >= a.anchor - p.period_days), " +
      "agg AS (SELECT user_id, period_days, count(*) AS total_transactions, " +
      s"${dSum("value")} AS total_amount, max(d) AS last_transaction_date, " +
      "max(tier) AS city_tier FROM base GROUP BY 1, 2), " +
      "fav AS (SELECT user_id, period_days, event_type AS favorite_category, " +
      "row_number() OVER (PARTITION BY user_id, period_days " +
      "ORDER BY count(*) DESC, event_type) AS rn " +
      "FROM base GROUP BY user_id, period_days, event_type) " +
      "SELECT agg.user_id, agg.period_days, total_transactions, total_amount, " +
      "last_transaction_date, city_tier, favorite_category " +
      "FROM agg JOIN fav ON agg.user_id = fav.user_id " +
      "AND agg.period_days = fav.period_days WHERE rn = 1 " +
      "ORDER BY agg.user_id, agg.period_days"

  private val rollupQueries: Seq[Q] = Seq(
    // Segment sample enriched with user attributes (reference sample_data
    // endpoint + user dim): deterministic top-10 by user_id, broadcast into
    // customer.
    Q("q_seg_sample_enriched",
      (s, d) => Analytics.sampleWithUsers(
        SegmentEngine.materializeBase(Tables.transactions(s, d),
          Seq(Condition("transaction_amount", ">", "100"))),
        Tables.customer(s, d), 10),
      Some(s"WITH s AS (${segCte("value > 100")}) " +
        "SELECT user_id, c_name AS name, " +
        "lower(replace(c_name, '#', '.')) || '@corp.example' AS email, " +
        "total_transactions, total_spent, transaction_types " +
        "FROM (SELECT * FROM s ORDER BY user_id LIMIT 10) " +
        "JOIN customer ON user_id = c_custkey ORDER BY user_id")),

    // Rollup SERVING under the hash gate: materialize the windowed rollup
    // into a scratch warehouse and answer the 14-day request
    // through the planner rewrite — the served plan reads only the rollup
    // parquet, while the oracle computes from RAW events. Hash equality is
    // the proof that serving substitutes plans, not approximations.
    Q("q_rollup_served",
      (s, d) => withScratchDir("graft_verify_rollup") { whDir =>
        val store = new graft.sources.SegmentStore(s, whDir.toString)
        graft.plans.RollupServing.materialize(
          store, Tables.transactions(s, d), Seq(7, 14, 30))
        graft.plans.RollupServing.userWindowTotals(
          s, store, Tables.transactions(s, d), periodDays = 14)
          .orderBy("user_id")
      },
      Some("WITH a AS (SELECT CAST(max(ts) AS DATE) AS anchor FROM events), " +
        "base AS (SELECT user_id, CAST(ts AS DATE) AS d, value, " +
        s"event_type, $tierSql AS tier FROM events CROSS JOIN a " +
        "WHERE CAST(ts AS DATE) >= a.anchor - 14), " +
        "agg AS (SELECT user_id, count(*) AS total_transactions, " +
        s"${dSum("value")} AS total_amount, max(d) AS last_transaction_date, " +
        "max(tier) AS city_tier FROM base GROUP BY 1), " +
        "fav AS (SELECT user_id, event_type AS favorite_category, " +
        "row_number() OVER (PARTITION BY user_id " +
        "ORDER BY count(*) DESC, event_type) AS rn " +
        "FROM base GROUP BY user_id, event_type) " +
        "SELECT agg.user_id, CAST(14 AS INT) AS period_days, total_transactions, " +
        "total_amount, last_transaction_date, city_tier, favorite_category " +
        "FROM agg JOIN fav ON agg.user_id = fav.user_id WHERE rn = 1 " +
        "ORDER BY agg.user_id")),

    Q("q_rollup_user_windows",
      (s, d) => Rollups.userWindows(Tables.transactions(s, d), Seq(7, 14, 30))
        .orderBy("user_id", "period_days"),
      Some(userWindowsOracle)),

    // INCREMENTAL rollup maintenance under the hash gate: the stream
    // arrives as two batches split by a row-level hash of the timestamp —
    // so the SAME (user, day, category) key lands in both batches and the
    // second write must genuinely SUM partials (counts + exact-decimal
    // amounts), not just append rows or replace partitions. Batch 1 seeds
    // the day-partitioned store, batch 2 upserts through dynamic partition
    // overwrite, and the windows recompose from the merged partials. The
    // oracle is the DIRECT full-history rollup over raw events, shared
    // verbatim with q_rollup_user_windows: hash equality proves
    // upsert + recompose ≡ recompute-from-scratch.
    Q("q_rollup_incremental",
      (s, d) => withScratchDir("graft_verify_incr") { whDir =>
        val tx = Tables.transactions(s, d)
        val store = whDir.resolve("daily").toString
        val inFirst = pmod(hash(col("ts")), lit(2)) === 0
        Rollups.writeDailyPartials(tx.filter(inFirst), store)
        Rollups.upsertDailyPartials(tx.filter(!inFirst), store)
        Rollups.userWindowsFromDaily(s.read.parquet(store), Seq(7, 14, 30))
          .orderBy("user_id", "period_days")
      },
      Some(userWindowsOracle)),

    // Trailing 7-CALENDAR-day moving daily aggregates per event type: a
    // RANGE frame over the day number, so gap days age out instead of
    // stretching the window (the ROWS-frame trap on sparse dailies).
    // Amounts stay exact decimal through BOTH sums, surfaced once as
    // DOUBLE — order-independent and engine-bit-identical.
    Q("q_rollup_moving_7d",
      (s, d) => Rollups.movingDaily(Tables.events(s, d), windowDays = 7)
        .orderBy("event_type", "day"),
      Some("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        "count(*) AS n, sum(CAST(value AS DECIMAL(38,6))) AS amt " +
        "FROM events GROUP BY 1, 2), " +
        "dn AS (SELECT *, day - DATE '1970-01-01' AS d FROM daily) " +
        "SELECT event_type, day, n, " +
        "CAST(sum(n) OVER w AS BIGINT) AS n_window, " +
        "CAST(CAST(sum(amt) OVER w AS DECIMAL(20,2)) AS DOUBLE) " +
        "AS amount_window " +
        "FROM dn WINDOW w AS (PARTITION BY event_type ORDER BY d " +
        "RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_type, day")))

  private[graft] val queries: Seq[Q] = baseRuleQueries ++ setOpQueries ++ rollupQueries
}
