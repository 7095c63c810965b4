package graft

import graft.model._
import graft.operators.SegmentRunner
import graft.sources.{RunHistoryEntry, SegmentStore}
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SortExec, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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
  private val cCount2 = Condition("transaction_count", ">=", "2")
  private val cSpend  = Condition("total_spend", ">", "1000")

  test("canonical 4-rule scenario: base rules, compound reuse, store, lineage") {
    val dir = Files.createTempDirectory("graft_runner").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)

    val (id1, p1) = runner.createRule("big-spenders", Seq(cAmount))
    val (id2, p2) = runner.createRule("tier-1", Seq(cTier))
    assert(id1 == 1L && id2 == 2L)
    assert(p1 == SegmentPlan.Base(Seq(cAmount)) && p2 == SegmentPlan.Base(Seq(cTier)))

    // rule 3's WHERE set is no stored rule's ⇒ Base: rules 1 and 2 intersect
    // to users {1,2}, but user 2's only transaction over 500 is in tier 2
    val (id3, p3) = runner.createRule("both", Seq(cAmount, cTier))
    assert(p3 == SegmentPlan.Base(Seq(cAmount, cTier)))
    // rule 4 = rule 1's WHERE set plus a HAVING condition ⇒ compound over
    // rule 1 alone, the HAVING condition its residual
    val (id4, p4) = runner.createRule("repeat-big-spenders", Seq(cAmount, cCount2))
    assert(p4 == SegmentPlan.Compound(Seq(1L), SetOp.Intersection, Seq(cCount2)))

    assert(runner.run(id1, "2026-08-12T00:00:00") == 2L) // users 1,2 have >500 txns
    assert(runner.run(id2, "2026-08-12T00:00:00") == 3L) // all users touch tier 1
    assert(runner.run(id3, "2026-08-12T00:00:00") == 1L) // {1}
    assert(runner.run(id4, "2026-08-12T00:00:00") == 1L) // {1}

    // user 1 → 2 txns > 500, in tier 1
    val seg3 = store.read(id3).orderBy("user_id").collect()
    assert(seg3.map(_.getAs[Long]("user_id")).toSeq == Seq(1L))
    assert(seg3.head.getAs[Long]("total_transactions") == 2L)
    // the HAVING filter keeps rule 1's aggregates
    assert(store.read(id4).collect().toSeq == store.read(id1).filter($"user_id" === 1L).collect().toSeq)

    val cat = store.loadCatalog()
    assert(cat.find(_.ruleId == 3).get.rowCount == 1L)
    assert(cat.find(_.ruleId == 3).get.lastRefreshedAt.contains("2026-08-12T00:00:00"))
    assert(cat.find(_.ruleId == 4).get.conditions == Seq(cAmount, cCount2),
      "the catalog keeps the submitted conditions")
    assert(store.lineage(4)._2.toSet == Set((1L, 4L)))
  }

  test("empty result writes canonical empty segment (Q9); runAll is topo-ordered") {
    val dir = Files.createTempDirectory("graft_runner2").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id1, _) = runner.createRule("r1", Seq(cAmount))
    val (idEmpty, _) = runner.createRule("none",
      Seq(Condition("transaction_amount", ">", "99999")))
    val (id3, p3) = runner.createRule("compound", Seq(cAmount, cCount2))
    assert(id3 == 3L && p3.isInstanceOf[SegmentPlan.Compound])
    // runAll materializes parents before rule 3 even though 2 is unrelated
    val counts = runner.runAll("2026-08-12T01:00:00")
    assert(counts(idEmpty) == 0L)
    assert(store.read(idEmpty).schema == Schemas.segmentOutput)
    assert(counts(id3) >= 1L)
  }

  test("reference shipped-DB scenario: faithful compound rule yields 0 rows (Q1/BASELINE)") {
    val dir = Files.createTempDirectory("graft_runner4").toString
    val store = new SegmentStore(spark, dir)
    // DropResidual(keyed = false) ⇒ bug-compatible with the reference
    val runner = new SegmentRunner(store, tx,
      residualMode = graft.plans.Planner.DropResidual(keyed = false))
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

  test("a default runner refuses by name the greedy bindings a DropResidual runner stored") {
    val dir = Files.createTempDirectory("graft_runner_parity").toString
    val store = new SegmentStore(spark, dir)
    val parity = new SegmentRunner(store, tx, residualMode = graft.plans.Planner.DropResidual())
    // one greedy parent with another WHERE set, and two greedy parents
    parity.createRule("r1", Seq(cAmount))
    val (id2, p2) = parity.createRule("one-parent", Seq(cAmount, cTier, cCount2))
    parity.createRule("r3", Seq(cTier))
    val (id4, p4) = parity.createRule("two-parents", Seq(cTier, cAmount))
    assert(p2 == SegmentPlan.Compound(Seq(1L), SetOp.Intersection, Seq(cTier, cCount2)))
    assert(p4 == SegmentPlan.Compound(Seq(1L, 3L), SetOp.Intersection, Nil))
    val runner = new SegmentRunner(store, tx)
    assert(runner.run(1L, "2026-08-12T02:00:00") == 2L)
    for (id <- Seq(id2, id4)) {
      val e = intercept[IllegalStateException](runner.run(id, "2026-08-12T02:00:00"))
      assert(e.getMessage.contains(s"rule $id is bound") && e.getMessage.contains("greedy"))
    }
    // an exact binding refreshes under either runner
    val (id5, p5) = runner.createRule("exact", Seq(cAmount, cCount2))
    assert(p5 == SegmentPlan.Compound(Seq(1L), SetOp.Intersection, Seq(cCount2)))
    assert(runner.run(id5, "2026-08-12T02:00:00") == 1L)
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
    val (idC, plan) = runner.createRule("child", Seq(cAmount, cCount2))
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

  test("a dependent of an inactive parent caught mid-swap runs on the parent's rows") {
    val dir = Files.createTempDirectory("graft_runner_midswap").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (idP, _) = runner.createRule("parent", Seq(cAmount), isActive = false)
    val (idC, plan) = runner.createRule("child", Seq(cAmount, cCount2))
    assert(plan.isInstanceOf[SegmentPlan.Compound])
    runner.run(idP, "2026-08-12T00:00:00Z")
    val counts = runner.runAll("2026-08-12T01:00:00Z")
    assert(counts.keySet == Set(idC))
    val rows = store.read(idC).orderBy("user_id").collect().toSeq

    // a crash between the parent's two swap renames moved it aside
    Files.move(java.nio.file.Paths.get(dir, s"segment_output_$idP"),
      java.nio.file.Paths.get(dir, s"segment_output_${idP}__old"))
    assert(runner.runAll("2026-08-12T02:00:00Z") == counts,
      "the dependent must run against the moved-aside parent")
    assert(store.read(idC).orderBy("user_id").collect().toSeq == rows)
  }

  test("rule lifecycle: list/get/delete with dependent guard") {
    val dir = Files.createTempDirectory("graft_runner6").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id1, _) = runner.createRule("r1", Seq(cAmount))
    val (id2, _) = runner.createRule("r2", Seq(cTier))
    val (id3, _) = runner.createRule("compound", Seq(cAmount, cCount2))
    runner.runAll("2026-08-12T00:00:00Z")

    assert(runner.listRules().map(_.ruleId) == Seq(id1, id2, id3))
    assert(runner.listRules(page = 2, perPage = 2).map(_.ruleId) == Seq(id3))
    assert(runner.getRule(id2).exists(_.segmentName == "r2"))
    assert(runner.getRule(99L).isEmpty)

    // parent with a live dependent: guarded (deviation from the reference's
    // blind delete)
    intercept[IllegalArgumentException](runner.deleteRule(id1))
    assert(store.exists(id1))

    // a crashed swap's leftover goes with the segment
    val staging = java.nio.file.Paths.get(dir, s"segment_output_${id3}__staging")
    Files.createDirectories(staging)
    runner.deleteRule(id3)
    assert(runner.getRule(id3).isEmpty && !store.exists(id3) && !Files.exists(staging))
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
    val (id3, p3) = runner.createRule("compound", Seq(cAmount, cCount2))
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
    assert(runner.updateRule(id3, Seq(cAmount, cCount2))
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

  test("concurrent refreshes of one rule never throw and leave one refresh's rows") {
    val dir = Files.createTempDirectory("graft_runner_run_race").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id, _) = runner.createRule("raced", Seq(cAmount))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map(t => new Thread(() =>
      (1 to 6).foreach { i =>
        try runner.run(id, s"2026-08-12T0$i:0$t:00Z")
        catch { case e: Throwable => errors.add(e) }
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"${errors.size} of 12 refreshes threw:\n" +
      errors.asScala.map(_.toString).mkString("\n"))

    val once = Files.createTempDirectory("graft_runner_run_once").toString
    val single = new SegmentStore(spark, once)
    val singleRunner = new SegmentRunner(single, tx)
    singleRunner.run(singleRunner.createRule("raced", Seq(cAmount))._1, "2026-08-12T00:00:00Z")
    assert(store.read(id).orderBy("user_id").collect().toSeq ==
      single.read(id).orderBy("user_id").collect().toSeq)
    val left = new java.io.File(dir).list().filter(n => n.endsWith("__staging") || n.endsWith("__old"))
    assert(left.isEmpty, s"swap leftovers: ${left.mkString(", ")}")
  }

  test("a rule throwing mid-batch rethrows; the rules refreshed before it stay committed") {
    val dir = Files.createTempDirectory("graft_runner_fail").toString
    val store = new SegmentStore(spark, dir)
    // only the second rule reads city_tier; the first rule's pruned scan
    // never evaluates the throwing column
    val boom = udf((t: Int) => if (t >= 0) throw new IllegalStateException("source down") else t)
      .asNondeterministic()
    val runner = new SegmentRunner(store,
      () => tx().repartition($"user_id").withColumn("city_tier", boom($"city_tier")))
    val (id1, _) = runner.createRule("first", Seq(cAmount))
    val (id2, _) = runner.createRule("second", Seq(cTier))
    val at = "2026-08-12T00:00:00Z"
    val e = intercept[Exception](runner.runAll(at))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists {
      case s: IllegalStateException => s.getMessage == "source down"
      case _                        => false
    }, s"the UDF's failure must be in the cause chain of $e")
    val cat = store.loadCatalog()
    val first = cat.find(_.ruleId == id1).get
    assert(first.rowCount == 2L && first.lastRefreshedAt.contains(at))
    assert(cat.find(_.ruleId == id2).get.rowCount == -1L, "the failed rule stays unrefreshed")
    val h = store.runHistory().collect()
      .map(r => (r.getAs[Long]("rule_id"), r.getAs[String]("refreshed_at"), r.getAs[Long]("row_count")))
    assert(h.toSeq == Seq((id1, at, 2L)))
  }

  test("a refresh batch builds the transaction view once") {
    val dir = Files.createTempDirectory("graft_runner_view_once").toString
    val store = new SegmentStore(spark, dir)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val runner = new SegmentRunner(store, () => { calls.incrementAndGet(); tx() })
    runner.createRule("r1", Seq(cAmount))
    runner.createRule("r2", Seq(cTier))
    val (_, p3) = runner.createRule("residual", Seq(cAmount, cCount2))
    assert(p3 match { case SegmentPlan.Compound(_, _, residual) => residual.nonEmpty; case _ => false })
    val (id4, p4) = runner.createRule("covered", Seq(cAmount))
    assert(p4 == SegmentPlan.Compound(Seq(1L), SetOp.Intersection, Nil))
    assert(runner.runAll("2026-08-12T00:00:00Z").size == 4)
    assert(calls.get() == 1, "every rule of a batch must plan against one view")
    calls.set(0)
    assert(runner.run(id4, "2026-08-12T01:00:00Z") == 2L)
    assert(calls.get() == 0, "a batch whose rules never read the view must not build it")
  }

  test("a Compound chain refreshes from its inactive parent's segment in one job") {
    val dir = Files.createTempDirectory("graft_runner_compound_only").toString
    val store = new SegmentStore(spark, dir)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val runner = new SegmentRunner(store, () => { calls.incrementAndGet(); tx() })
    val (id1, _) = runner.createRule("parent", Seq(cAmount), isActive = false)
    val (id2, p2) = runner.createRule("repeat", Seq(cAmount, cCount2))
    val (id3, p3) = runner.createRule("repeat-big", Seq(cAmount, cCount2, cSpend))
    assert(p2 == SegmentPlan.Compound(Seq(id1), SetOp.Intersection, Seq(cCount2)))
    assert(p3 == SegmentPlan.Compound(Seq(id2), SetOp.Intersection, Seq(cSpend)))
    runner.run(id1, "2026-08-12T00:00:00Z")
    calls.set(0)
    var counts = Map.empty[Long, Long]
    val jobs = jobsLaunchedBy { counts = runner.runAll("2026-08-12T01:00:00Z") }
    assert(counts == Map(id2 -> 1L, id3 -> 1L))
    assert(calls.get() == 0, "a Compound rule is a filter over its parent's segment")
    assert(jobs.size == 1, s"one write publishes the chain, got ${jobs.size} jobs")
    Seq(id2 -> Seq(cAmount, cCount2), id3 -> Seq(cAmount, cCount2, cSpend)).foreach {
      case (id, conds) => assert(store.read(id).collect().toSeq ==
        graft.operators.SegmentEngine.materializeBase(tx(), conds).collect().toSeq)
    }
  }

  test("a Base rule and two Compound rules under it publish from one SQL execution") {
    val dir = Files.createTempDirectory("graft_runner_group").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id1, _) = runner.createRule("parent", Seq(cAmount))
    val (id2, p2) = runner.createRule("repeat", Seq(cAmount, cCount2))
    val (id3, p3) = runner.createRule("repeat-big", Seq(cAmount, cCount2, cSpend))
    assert(p2 == SegmentPlan.Compound(Seq(id1), SetOp.Intersection, Seq(cCount2)))
    assert(p3 == SegmentPlan.Compound(Seq(id2), SetOp.Intersection, Seq(cSpend)))
    // the plans of the batch's SQL executions, by execution id
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, SparkPlanInfo]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.sparkPlanInfo)
        case _ =>
      }
    }
    var counts = Map.empty[Long, Long]
    spark.sparkContext.addSparkListener(listener)
    val jobs = try jobsLaunchedBy { counts = runner.runAll("2026-08-12T00:00:00Z") }
      finally spark.sparkContext.removeSparkListener(listener)
    val executions = jobs.flatten.distinct
    assert(executions.size == 1, s"one write publishes the three rules, got ${executions.size}")
    def scans(p: SparkPlanInfo): Seq[String] =
      (if (p.nodeName.startsWith("Scan")) Seq(p.simpleString) else Nil) ++ p.children.flatMap(scans)
    val read = executions.flatMap(e => Option(plans.get(e.toLong)).toSeq.flatMap(scans))
    assert(read.isEmpty, s"the batch must read no stored segment, read ${read.mkString("; ")}")
    assert(counts == Map(id1 -> 2L, id2 -> 1L, id3 -> 1L))
    Seq(id1 -> Seq(cAmount), id2 -> Seq(cAmount, cCount2), id3 -> Seq(cAmount, cCount2, cSpend))
      .foreach { case (id, conds) => assert(store.read(id).orderBy("user_id").collect().toSeq ==
        graft.operators.SegmentEngine.materializeBase(tx(), conds).orderBy("user_id").collect().toSeq)
      }
  }

  test("a grouped rule whose HAVING keeps no user stores the empty segment") {
    val dir = Files.createTempDirectory("graft_runner_group_empty").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id1, _) = runner.createRule("parent", Seq(cAmount))
    val (id2, p2) = runner.createRule("nobody", Seq(cAmount, Condition("total_spend", ">", "99999")))
    assert(p2.isInstanceOf[SegmentPlan.Compound])
    val at = "2026-08-12T00:00:00Z"
    assert(runner.runAll(at) == Map(id1 -> 2L, id2 -> 0L))
    assert(store.read(id2).schema == Schemas.segmentOutput && store.read(id2).count() == 0L)
    assert(store.loadCatalog().find(_.ruleId == id2).get.rowCount == 0L)
    assert(store.runHistory().as[RunHistoryEntry].collect().toSeq.sortBy(_.rule_id) ==
      Seq(RunHistoryEntry(id1, at, 2L), RunHistoryEntry(id2, at, 0L)))
  }

  /** The one file write `body` ran, once the listener has seen it. */
  private def fileWriteOf(body: => Unit): QueryExecution = {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand])) writes.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1, s"expected one file write, saw ${writes.size}")
    writes.peek()
  }

  test("a lone rule's write holds no Generate or Sort; a lone Base rule plans as materializeBase") {
    val dir = Files.createTempDirectory("graft_runner_lone").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id1, _) = runner.createRule("repeat", Seq(cAmount, cCount2))
    val (id2, p2) = runner.createRule("repeat-big", Seq(cAmount, cCount2, cSpend))
    assert(p2 == SegmentPlan.Compound(Seq(id1), SetOp.Intersection, Seq(cSpend)))
    // two batches of one rule each: the Compound rule's parent is outside its batch
    val base = fileWriteOf(assert(runner.run(id1, "2026-08-12T00:00:00Z") == 1L))
    val compound = fileWriteOf(assert(runner.run(id2, "2026-08-12T00:00:00Z") == 1L))
    val aqe = new AdaptiveSparkPlanHelper {}
    for (qe <- Seq(base, compound)) {
      val found = aqe.collect(qe.executedPlan) { case p @ (_: GenerateExec | _: SortExec) => p.nodeName }
      assert(found.isEmpty, s"a lone rule's write planned ${found.mkString(", ")}:\n${qe.executedPlan}")
    }
    // the rows the write observes and stores, below its row-count metric
    val written = base.optimizedPlan.collectFirst { case c: CollectMetrics => c.child }.get
    val expected = graft.operators.SegmentEngine.materializeBase(tx(), Seq(cAmount, cCount2))
      .queryExecution.optimizedPlan
    assert(written.canonicalized == expected.canonicalized, s"$written\nis not\n$expected")
  }

  test("concurrent refreshes of one rule group never share its group directory") {
    val dir = Files.createTempDirectory("graft_runner_group_race").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val rules = Seq(Seq(cAmount), Seq(cAmount, cCount2), Seq(cAmount, cCount2, cSpend))
    val ids = rules.map(runner.createRule("raced", _)._1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map(t => new Thread(() =>
      (1 to 4).foreach { i =>
        try runner.runAll(s"2026-08-12T0$i:0$t:00Z")
        catch { case e: Throwable => errors.add(e) }
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"${errors.size} of 8 refreshes threw:\n" +
      errors.asScala.map(_.toString).mkString("\n"))
    ids.zip(rules).foreach { case (id, conds) =>
      assert(store.read(id).orderBy("user_id").collect().toSeq ==
        graft.operators.SegmentEngine.materializeBase(tx(), conds).orderBy("user_id").collect().toSeq)
    }
    val left = new java.io.File(dir).list().filter(n => n.contains("__"))
    assert(left.isEmpty, s"swap or group leftovers: ${left.mkString(", ")}")
  }

  test("every job a refresh batch launches belongs to a segment write") {
    val dir = Files.createTempDirectory("graft_runner_sql_jobs").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    runner.createRule("r1", Seq(cAmount))
    runner.createRule("r2", Seq(cTier))
    runner.createRule("residual", Seq(cAmount, cCount2))
    runner.createRule("covered", Seq(cAmount))
    val jobs = jobsLaunchedBy(assert(runner.runAll("2026-08-12T00:00:00Z").size == 4))
    assert(jobs.nonEmpty)
    assert(jobs.forall(_.nonEmpty),
      s"${jobs.count(_.isEmpty)} of ${jobs.size} jobs ran outside any SQL execution")
  }

  test("a refresh failing mid-write keeps the previous segment and its row count") {
    val dir = Files.createTempDirectory("graft_runner_keep").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id, _) = runner.createRule("kept", Seq(cAmount))
    assert(runner.run(id, "2026-08-12T00:00:00Z") == 2L)
    val before = store.read(id).orderBy("user_id").collect().toSeq

    // Clustered by user_id, the rule's aggregate needs no further shuffle,
    // so the UDF throws inside the write's own stage, after an in-place
    // overwrite would already have deleted the old files.
    val boom = udf((a: Double) => if (a >= 0) throw new IllegalStateException("source down") else a)
      .asNondeterministic()
    val failing = new SegmentRunner(store,
      () => tx().repartition($"user_id").withColumn("amount", boom($"amount")))
    intercept[org.apache.spark.SparkException](failing.run(id, "2026-08-12T01:00:00Z"))
    assert(store.read(id).orderBy("user_id").collect().toSeq == before)
    assert(store.loadCatalog().find(_.ruleId == id).get.rowCount == 2L)
  }

  test("concurrent readers see a whole catalog while rules are created") {
    val dir = Files.createTempDirectory("graft_runner_readers").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def guarded(body: => Unit): Thread = new Thread(() =>
      try body catch { case t: Throwable => errors.add(t) })
    val writer = guarded(try (1 to 8).foreach(i =>
      runner.createRule(s"r$i", Seq(Condition("transaction_amount", ">", s"${i * 100}"))))
      finally done.set(true))
    val listings = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = guarded {
      var last = false
      while (!last) {
        last = done.get()
        val ids = runner.listRules(1, 100).map(_.ruleId)
        assert(ids == (1L to ids.size.toLong), s"listing $ids")
        ids.lastOption.foreach(id => assert(runner.getRule(id).exists(_.ruleId == id)))
        listings.incrementAndGet()
      }
    }
    Seq(writer, reader).foreach(_.start()); Seq(writer, reader).foreach(_.join())
    assert(errors.isEmpty, errors.asScala.mkString("\n"))
    assert(listings.get() >= 1 && runner.listRules(1, 100).map(_.ruleId) == (1L to 8L))
  }

  test("catalog calls on rules that never ran launch no Spark job") {
    val dir = Files.createTempDirectory("graft_runner_nojob").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val jobs = jobsLaunchedBy {
      val (id1, _) = runner.createRule("r1", Seq(cAmount))
      val (id2, plan) = runner.createRule("r2", Seq(cAmount, cCount2))
      assert(plan == SegmentPlan.Compound(Seq(id1), SetOp.Intersection, Seq(cCount2)))
      runner.updateRule(id2, Seq(cAmount, cCount2, cSpend))
      runner.setActive(id1, active = false)
      assert(runner.listRules().map(_.ruleId) == Seq(id1, id2))
      assert(runner.getRule(id1).exists(!_.isActive))
      assert(store.lineage(id2) == (Seq(id2, id1), Seq((id1, id2))))
      runner.deleteRule(id2)
      runner.deleteRule(id1)
      assert(runner.listRules().isEmpty)
    }
    assert(jobs.isEmpty, "catalog reads and writes must stay on the driver")
  }

  test("a refresh batch's history commit launches no Spark job") {
    val dir = Files.createTempDirectory("graft_runner_hist_nojob").toString
    val store = new SegmentStore(spark, dir)
    val rows = Seq(RunHistoryEntry(1L, "2026-08-12T00:00:00Z", 2L),
      RunHistoryEntry(2L, "2026-08-12T00:00:00Z", 0L))
    assert(jobsLaunchedBy(store.appendRunHistory(rows)).isEmpty,
      "the history commit must stay on the driver")
    assert(store.runHistory().as[RunHistoryEntry].collect().toSeq.sortBy(_.rule_id) == rows)
  }

  test("runAll commits the batch's run history as one file") {
    val dir = Files.createTempDirectory("graft_runner_hist_batch").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    runner.createRule("r1", Seq(cAmount))
    runner.createRule("r2", Seq(cTier))
    runner.createRule("r3", Seq(Condition("transaction_amount", ">", "99999")))
    def historyFiles(): Int =
      Option(new java.io.File(dir, "_history").list()).fold(0)(_.count(_.endsWith(".json")))
    val before = historyFiles()
    assert(runner.runAll("2026-08-12T00:00:00Z").size == 3)
    assert(historyFiles() - before == 1)
    assert(store.runHistory().count() == 3L)
  }

  test("a deleted rule's id is never reused, so its history stays its own") {
    val dir = Files.createTempDirectory("graft_runner_ids").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id1, _) = runner.createRule("first", Seq(cAmount))
    assert(id1 == 1L && runner.run(id1, "2026-08-12T00:00:00Z") == 2L)
    runner.deleteRule(id1)
    val (id2, _) = runner.createRule("second", Seq(cTier))
    assert(id2 == 2L, "the new rule must not take the deleted rule's id")
    assert(runner.run(id2, "2026-08-13T00:00:00Z") == 3L)
    val own = store.runHistory().filter($"rule_id" === id2).as[RunHistoryEntry].collect().toSeq
    assert(own == Seq(RunHistoryEntry(id2, "2026-08-13T00:00:00Z", 3L)))

    // a catalog saved as a bare list of entries takes its highest id as the mark
    val legacy = Files.createTempDirectory("graft_runner_ids_legacy").toString
    Files.writeString(java.nio.file.Paths.get(legacy, "_catalog.json"),
      """[{"ruleId":3,"segmentName":"old","tableName":"segment_output_3","conditions":[],
        |"dependsOn":[],"rowCount":-1}]""".stripMargin)
    assert(new SegmentRunner(new SegmentStore(spark, legacy), tx)
      .createRule("next", Seq(cAmount))._1 == 4L)
  }

  test("updateRule re-detects excluding self (R7)") {
    val dir = Files.createTempDirectory("graft_runner3").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    runner.createRule("r1", Seq(cAmount))
    val (id2, _) = runner.createRule("r2", Seq(cTier))
    // r2's new conditions are r1's WHERE set plus HAVING ⇒ compound on [1] + residual
    val plan = runner.updateRule(id2, Seq(cAmount, cCount2))
    assert(plan == SegmentPlan.Compound(Seq(1L), SetOp.Intersection, Seq(cCount2)))
    val entry = store.loadCatalog().find(_.ruleId == id2).get
    assert(entry.dependsOn == Seq(1L) && entry.conditions == Seq(cAmount, cCount2))
    // r2's stored set would serve its own update best: excluded, r1 serves
    assert(runner.updateRule(id2, Seq(cAmount, cCount2, cSpend)) ==
      SegmentPlan.Compound(Seq(1L), SetOp.Intersection, Seq(cCount2, cSpend)))
  }

  test("updateRule refuses a rule with dependents, so no update can bind a cycle") {
    val dir = Files.createTempDirectory("graft_runner_update_cycle").toString
    val store = new SegmentStore(spark, dir)
    val runner = new SegmentRunner(store, tx)
    val (id1, _) = runner.createRule("r1", Seq(cAmount))
    val (id2, p2) = runner.createRule("r2", Seq(cAmount, cCount2))
    assert(p2 == SegmentPlan.Compound(Seq(id1), SetOp.Intersection, Seq(cCount2)))
    val before = store.loadCatalog()
    // re-planned as a HAVING superset of r2, r1 would bind onto r2
    val e = intercept[IllegalArgumentException](
      runner.updateRule(id1, Seq(cAmount, cCount2, cSpend)))
    assert(e.getMessage.contains(s"rule $id1 has dependents $id2"))
    assert(store.loadCatalog() == before, "a refused update must leave the catalog as it was")
    assert(runner.runAll("2026-08-12T00:00:00Z").keySet == Set(id1, id2))
  }
}
