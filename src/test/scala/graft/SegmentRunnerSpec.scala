package graft

import graft.model._
import graft.operators.SegmentRunner
import graft.sources.SegmentStore
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** End-to-end rule lifecycle: create → detect reuse → materialize → store. */
class SegmentRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def tx(): DataFrame =
    Seq(
      (1L, 600.0, "2024-01-05 10:00:00", "Dining", 1),
      (1L, 700.0, "2024-01-06 10:00:00", "Travel", 1),
      (2L, 650.0, "2024-01-07 10:00:00", "Dining", 2),
      (2L, 40.0, "2024-01-08 10:00:00", "Dining", 1),
      (3L, 30.0, "2024-01-09 10:00:00", "Travel", 1))
      .toDF("user_id", "amount", "ts_s", "category", "city_tier")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      .withColumn("transaction_type", lit("UPI"))

  private val cAmount = Condition("transaction_amount", ">", "500")
  private val cTier   = Condition("city_tier", "=", "1")

  test("canonical 4-rule scenario: base rules, compound reuse, store, lineage") {
    val dir = Files.createTempDirectory("graft_runner").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)

    val (id1, p1) = runner.createRule("big-spenders", Seq(cAmount))
    val (id2, p2) = runner.createRule("tier-1", Seq(cTier))
    assert(id1 == 1L && id2 == 2L)
    assert(p1 == SegmentPlan.Base(Seq(cAmount)) && p2 == SegmentPlan.Base(Seq(cTier)))

    // rule 3's conditions ⊇ rules 1+2 ⇒ compound INTERSECTION, no residual
    val (id3, p3) = runner.createRule("both", Seq(cAmount, cTier))
    assert(p3 == SegmentPlan.Compound(Seq(1L, 2L), SetOp.Intersection, Nil))

    assert(runner.run(id1, "2026-08-12T00:00:00") == 2L) // users 1,2 have >500 txns
    assert(runner.run(id2, "2026-08-12T00:00:00") == 3L) // all users touch tier 1
    assert(runner.run(id3, "2026-08-12T00:00:00") == 2L) // keyed: {1,2}

    // keyed intersection keeps parent-1 aggregates: user 1 → 2 txns > 500
    val seg3 = store.read(id3).orderBy("user_id").collect()
    assert(seg3.map(_.getAs[Long]("user_id")).toSeq == Seq(1L, 2L))
    assert(seg3.head.getAs[Long]("total_transactions") == 2L)

    val cat = store.loadCatalog()
    assert(cat.find(_.ruleId == 3).get.rowCount == 2L)
    assert(cat.find(_.ruleId == 3).get.lastRefreshedAt.contains("2026-08-12T00:00:00"))
    assert(store.lineage(3)._2.toSet == Set((1L, 3L), (2L, 3L)))
  }

  test("empty result writes canonical empty segment (Q9); runAll is topo-ordered") {
    val dir = Files.createTempDirectory("graft_runner2").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id1, _) = runner.createRule("r1", Seq(cAmount))
    val (idEmpty, _) = runner.createRule("none",
      Seq(Condition("transaction_amount", ">", "99999")))
    val (id3, _) = runner.createRule("compound", Seq(cAmount, cTier))
    assert(id3 == 3L)
    // runAll materializes parents before rule 3 even though 2 is unrelated
    val counts = runner.runAll("2026-08-12T01:00:00")
    assert(counts(idEmpty) == 0L)
    assert(store.read(idEmpty).schema == Schemas.segmentOutput)
    assert(counts(id3) >= 1L)
  }

  test("reference shipped-DB scenario: faithful compound rule yields 0 rows (Q1/BASELINE)") {
    val dir = Files.createTempDirectory("graft_runner4").toString
    val store = new SegmentStore(spark, dir)
    // keyed = false + DropResidual ⇒ bug-compatible with the reference
    val runner = new SegmentRunner(store, tx,
      keyed = false, residualMode = graft.plans.Planner.DropResidual)
    // amount > 600 (not 500): under >500 user 1's aggregates coincide in
    // both parents and the full-row intersect would keep that row
    val cAmount600 = Condition("transaction_amount", ">", "600")
    runner.createRule("r1", Seq(cAmount600))
    runner.createRule("r2", Seq(cTier))                         // like city_tier = '1'
    val (id3, p3) = runner.createRule("r3-compound", Seq(cAmount600, cTier))
    assert(p3 == SegmentPlan.Compound(Seq(1L, 2L), SetOp.Intersection, Nil))
    val counts = runner.runAll("2026-08-12T02:00:00")
    // parents are non-empty and share users, but full-row intersect compares
    // per-segment aggregates ⇒ empty — the shipped rule-4 artifact
    assert(counts(1L) > 0 && counts(2L) > 0)
    assert(counts(id3) == 0L)
    assert(store.read(id3).schema == Schemas.segmentOutput) // Q9 empty write
  }

  test("schedule cadence: calculateNextRun per reference scheduler semantics") {
    import graft.operators.Schedule
    val t0 = "2026-08-12T06:30:00Z"
    assert(Schedule.calculateNextRun("HOURLY", t0) == "2026-08-12T07:30:00Z")
    assert(Schedule.calculateNextRun("DAILY", t0) == "2026-08-13T06:30:00Z")
    assert(Schedule.calculateNextRun("WEEKLY", t0) == "2026-08-19T06:30:00Z")
    assert(Schedule.calculateNextRun("weekly", t0) == "2026-08-19T06:30:00Z")
    // unrecognized → daily, like the reference's else branch
    assert(Schedule.calculateNextRun("FORTNIGHTLY", t0) == "2026-08-13T06:30:00Z")
    assert(Schedule.isDue(None, t0), "never-armed rule is due immediately")
    assert(Schedule.isDue(Some(t0), t0) && !Schedule.isDue(Some("2026-08-12T06:30:01Z"), t0))
  }

  test("isActive gates runAll; runDue honors cadence and re-arms nextRunAt") {
    val dir = Files.createTempDirectory("graft_runner5").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id1, _) = runner.createRule("hourly", Seq(cAmount), schedule = "HOURLY")
    val (id2, _) = runner.createRule("paused", Seq(cTier), isActive = false)

    val counts = runner.runAll("2026-08-12T00:00:00Z")
    assert(counts.keySet == Set(id1), "inactive rule must be skipped")
    assert(store.loadCatalog().find(_.ruleId == id2).get.rowCount == -1L)

    // tick 1: only the active rule is due (never armed); re-armed +1h
    val t1 = "2026-08-12T06:00:00Z"
    assert(runner.runDue(t1).keySet == Set(id1))
    val armed = store.loadCatalog().find(_.ruleId == id1).get
    assert(armed.nextRunAt.contains("2026-08-12T07:00:00Z"))
    assert(armed.lastRefreshedAt.contains(t1))

    // tick 2 before the arm time: nothing due; tick 3 at the arm time: due
    assert(runner.runDue("2026-08-12T06:59:59Z").isEmpty)
    assert(runner.runDue("2026-08-12T07:00:00Z").keySet == Set(id1))

    // re-activated rule joins the next tick
    runner.setActive(id2, active = true)
    assert(runner.runDue("2026-08-12T08:00:00Z").keySet == Set(id1, id2))
  }

  test("faithfulSchedule: reference never re-arms, so a due rule re-runs every tick") {
    // reference scheduler.py:62-133 — execute_rule touches only
    // last_run_at; next_run_at is set once at init and never advanced, so
    // cadence exists in calculate_next_run but is unreachable.
    val dir = Files.createTempDirectory("graft_runner_faithful").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id, _) = runner.createRule("hourly", Seq(cAmount), schedule = "HOURLY")

    val t1 = "2026-08-12T06:00:00Z"
    assert(runner.runDue(t1, faithfulSchedule = true).keySet == Set(id))
    val entry = store.loadCatalog().find(_.ruleId == id).get
    assert(entry.nextRunAt.isEmpty, "faithful mode must not re-arm nextRunAt")
    assert(entry.lastRefreshedAt.contains(t1), "last refresh still recorded")

    // one second later — cadence is HOURLY, but the reference re-runs
    // anyway because the rule was never re-armed
    assert(runner.runDue("2026-08-12T06:00:01Z", faithfulSchedule = true)
      .keySet == Set(id))

    // switching back to default mode re-arms from the current tick
    assert(runner.runDue("2026-08-12T06:00:02Z").keySet == Set(id))
    assert(store.loadCatalog().find(_.ruleId == id).get
      .nextRunAt.contains("2026-08-12T07:00:02Z"))
  }

  test("dependents of a never-materialized parent are skipped, not crashed") {
    val dir = Files.createTempDirectory("graft_runner7").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (idP, _) = runner.createRule("parent", Seq(cAmount), isActive = false)
    val (idC, plan) = runner.createRule("child", Seq(cAmount, cTier))
    assert(plan.isInstanceOf[SegmentPlan.Compound])

    // parent inactive AND never materialized: child cannot run this batch
    val counts = runner.runAll("2026-08-12T00:00:00Z")
    assert(counts.isEmpty, s"child must be skipped, got $counts")

    // manual trigger materializes the parent; next batch the child runs
    // against the stored parent parquet even though the parent stays inactive
    runner.run(idP, "2026-08-12T00:30:00Z")
    val counts2 = runner.runAll("2026-08-12T01:00:00Z")
    assert(counts2.keySet == Set(idC) && counts2(idC) > 0)
  }

  test("rule lifecycle: list/get/delete with dependent guard") {
    val dir = Files.createTempDirectory("graft_runner6").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id1, _) = runner.createRule("r1", Seq(cAmount))
    val (id2, _) = runner.createRule("r2", Seq(cTier))
    val (id3, _) = runner.createRule("compound", Seq(cAmount, cTier))
    runner.runAll("2026-08-12T00:00:00Z")

    assert(runner.listRules().map(_.ruleId) == Seq(id1, id2, id3))
    assert(runner.listRules(page = 2, perPage = 2).map(_.ruleId) == Seq(id3))
    assert(runner.getRule(id2).exists(_.segmentName == "r2"))
    assert(runner.getRule(99L).isEmpty)

    // parent with a live dependent: guarded (deviation from the reference's
    // blind delete; force replicates it)
    intercept[IllegalArgumentException](runner.deleteRule(id1))
    assert(store.exists(id1))

    runner.deleteRule(id3)
    assert(runner.getRule(id3).isEmpty && !store.exists(id3))
    runner.deleteRule(id1) // dependent gone ⇒ delete proceeds
    assert(runner.getRule(id1).isEmpty && !store.exists(id1))
    assert(runner.listRules().map(_.ruleId) == Seq(id2))
    intercept[IllegalArgumentException](runner.deleteRule(99L))
  }

  test("catalog sql_query sentinel COMPOUND_OPERATION:<op> round-trips (rules.py:211 crumb)") {
    val dir = Files.createTempDirectory("graft_runner_sentinel").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id1, _) = runner.createRule("r1", Seq(cAmount))
    runner.createRule("r2", Seq(cTier))
    val (id3, p3) = runner.createRule("compound", Seq(cAmount, cTier))
    assert(p3.isInstanceOf[SegmentPlan.Compound])

    // create path: compound rules carry the reference's literal sentinel,
    // base rules the reference's generated display SQL — and both survive
    // the parquet round-trip
    val cat = store.loadCatalog()
    assert(cat.find(_.ruleId == id1).get.sqlQuery
      .exists(_.contains("WHERE amount > '500'")))
    assert(cat.find(_.ruleId == id3).get.sqlQuery
      .contains("COMPOUND_OPERATION:intersection"))

    // PUT back to base regenerates the display SQL; PUT into compound
    // re-sets the sentinel
    assert(runner.updateRule(id3,
      Seq(Condition("transaction_amount", ">", "99999"))).isInstanceOf[SegmentPlan.Base])
    assert(store.loadCatalog().find(_.ruleId == id3).get.sqlQuery
      .exists(_.contains("WHERE amount > '99999'")))
    assert(runner.updateRule(id3, Seq(cAmount, cTier))
      .isInstanceOf[SegmentPlan.Compound])
    assert(store.loadCatalog().find(_.ruleId == id3).get.sqlQuery
      .contains("COMPOUND_OPERATION:intersection"))

    // dispatch is untouched by the sentinel: the compound rule still runs
    // off its structured fields (Q5)
    runner.runAll("2026-08-12T00:00:00Z")
    assert(store.read(id3).count() >= 1L)
  }

  test("base-rule display SQL matches the reference's generated text exactly (rule_parser.py:96)") {
    import graft.operators.ReferenceSql
    val sql = ReferenceSql.generateSegmentSql(Seq(
      Condition("transaction_amount", ">", "500"),
      Condition.between("transaction_date", "2025-06-01", "2025-06-30"),
      Condition.in("city_tier", Seq("1", "2")),
      Condition("total_spend", ">=", "1000"),
      Condition("transaction_count", ">", "5"),
      Condition("no_such_field", ">", "1"),     // unknown field → skipped
      Condition("transaction_amount", "LIKE", "x"))) // bad operator → skipped
    assert(sql ===
      "WITH all_transactions AS ( SELECT user_id, amount, transaction_date, " +
        "category, city_tier, 'UPI' as transaction_type FROM upi_transactions_raw " +
        "UNION ALL SELECT user_id, amount, transaction_date, category, city_tier, " +
        "'CREDIT_CARD' as transaction_type FROM credit_card_transactions_raw ), " +
        "filtered_transactions AS ( SELECT * FROM all_transactions " +
        "WHERE amount > '500' AND transaction_date BETWEEN '2025-06-01' AND '2025-06-30' " +
        "AND city_tier IN ('1', '2') ) " +
        "SELECT ft.user_id, COUNT(ft.user_id) as total_transactions, " +
        "SUM(ft.amount) as total_spent, " +
        "GROUP_CONCAT(DISTINCT ft.transaction_type) as transaction_types " +
        "FROM filtered_transactions ft GROUP BY ft.user_id " +
        "HAVING SUM(amount) >= '1000' AND COUNT(user_id) > '5'")
    // no conditions → both clauses empty, template otherwise intact
    assert(ReferenceSql.generateSegmentSql(Nil)
      .endsWith("FROM filtered_transactions ft GROUP BY ft.user_id"))

    // whitespace skip-parity: rule_parser.py:51 checks the UPPERCASED raw
    // operator against the allowed list with no trim/collapse, so padded
    // or doubly-spaced operators silently skip in the rendered text —
    // identical to a rule with no valid conditions
    assert(ReferenceSql.generateSegmentSql(Seq(
        Condition("transaction_amount", " > ", "500"),
        Condition("city_tier", "NOT  IN", CondValue.Many(Vector("1"))))) ===
      ReferenceSql.generateSegmentSql(Nil))
  }

  test("run history records every materialization, including empty ones") {
    val dir = Files.createTempDirectory("graft_runner_hist").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    assert(store.runHistory().count() === 0L, "fresh store has empty history")
    val (id, _) = runner.createRule("h", Seq(cAmount))
    runner.run(id, "2026-08-12T00:00:00Z")
    runner.run(id, "2026-08-12T01:00:00Z")
    runner.updateRule(id, Seq(Condition("transaction_amount", ">", "99999")))
    runner.run(id, "2026-08-12T02:00:00Z") // empty segment still recorded
    val h = store.runHistory().orderBy("refreshed_at").collect()
      .map(r => (r.getAs[String]("refreshed_at"), r.getAs[Long]("row_count")))
    assert(h.toSeq === Seq(
      ("2026-08-12T00:00:00Z", 2L),
      ("2026-08-12T01:00:00Z", 2L),
      ("2026-08-12T02:00:00Z", 0L)))
  }

  test("concurrent createRule calls get distinct ids and all land in the catalog") {
    val dir = Files.createTempDirectory("graft_runner_race").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val perThread = 4
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (1 to 2).map(t => new Thread(() =>
      (1 to perThread).foreach { i =>
        ids.add(runner.createRule(s"t$t-$i", Seq(cAmount))._1)
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val got = ids.asScala.toSeq
    assert(got.size == 2 * perThread && got.distinct.size == got.size,
      s"ids must be distinct, got $got")
    assert(store.loadCatalog().map(_.ruleId).sorted == got.sorted,
      "a rule created concurrently must not be lost from the catalog")
  }

  test("a rule throwing mid-batch rethrows; the rules refreshed before it stay committed") {
    val dir = Files.createTempDirectory("graft_runner_fail").toString
    val store = new SegmentStore(spark, dir)
    var calls = 0
    val failing: () => DataFrame = () => {
      calls += 1
      if (calls == 2) throw new IllegalStateException("source down")
      tx()
    }
    val runner = new SegmentRunner(store, failing)
    val (id1, _) = runner.createRule("first", Seq(cAmount))
    val (id2, _) = runner.createRule("second", Seq(cTier))
    val at = "2026-08-12T00:00:00Z"
    intercept[IllegalStateException](runner.runAll(at))
    val cat = store.loadCatalog()
    val first = cat.find(_.ruleId == id1).get
    assert(first.rowCount == 2L && first.lastRefreshedAt.contains(at))
    assert(cat.find(_.ruleId == id2).get.rowCount == -1L, "the failed rule stays unrefreshed")
    val h = store.runHistory().collect()
      .map(r => (r.getAs[Long]("rule_id"), r.getAs[String]("refreshed_at"), r.getAs[Long]("row_count")))
    assert(h.toSeq == Seq((id1, at, 2L)))
  }

  test("runAll commits the batch's run history as one file") {
    val dir = Files.createTempDirectory("graft_runner_hist_batch").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    runner.createRule("r1", Seq(cAmount))
    runner.createRule("r2", Seq(cTier))
    runner.createRule("r3", Seq(Condition("transaction_amount", ">", "99999")))
    def historyFiles(): Int =
      Option(new java.io.File(dir, "_history").list()).fold(0)(_.count(_.endsWith(".parquet")))
    val before = historyFiles()
    assert(runner.runAll("2026-08-12T00:00:00Z").size == 3)
    assert(historyFiles() - before == 1)
    assert(store.runHistory().count() == 3L)
  }

  test("updateRule re-detects excluding self (R7)") {
    val dir = Files.createTempDirectory("graft_runner3").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    runner.createRule("r1", Seq(cAmount))
    val (id2, _) = runner.createRule("r2", Seq(cTier))
    // r2's new conditions now cover r1's ⇒ becomes compound on [1] + residual
    val plan = runner.updateRule(id2, Seq(cAmount, cTier))
    assert(plan == SegmentPlan.Compound(Seq(1L), SetOp.Intersection, Seq(cTier)))
    val entry = store.loadCatalog().find(_.ruleId == id2).get
    assert(entry.dependsOn == Seq(1L) && entry.conditions == Seq(cTier))
  }
}
