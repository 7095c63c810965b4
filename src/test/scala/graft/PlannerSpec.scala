package graft

import graft.model._
import graft.plans.{DependencyFinder, Planner}
import graft.sources.{ConditionCodec, SegmentStore}
import java.nio.file.Files

/** Control plane: greedy subset cover, plan precedence, store round-trip. */
class PlannerSpec extends SparkSpec {

  private val cAmount = Condition("transaction_amount", ">", "500")
  private val cTier   = Condition("city_tier", "=", "1")
  private val cDate   = Condition.between("transaction_date", "2025-06-01", "2025-06-30")
  private val cHaving = Condition("total_spend", ">", "1000")

  private val rules = Seq(
    Rule(1, "r1", Seq(cAmount)),
    Rule(2, "r2", Seq(cTier)),
    Rule(3, "r3", Seq(cAmount, cTier))) // 2 conditions — claimed first

  test("greedy cover prefers larger condition sets, tie-break by id (R2)") {
    val d = DependencyFinder.findBestDependency(Seq(cAmount, cTier, cDate), rules).get
    // r3 (2 conds) claimed first and consumes both singles' conditions.
    assert(d.dependencyRuleIds == Seq(3))
    assert(d.remaining == Seq(cDate))
    assert(d.operation == SetOp.Intersection)
  }

  test("no useful cover ⇒ Base plan; exclusion skips self (R3/R7)") {
    assert(DependencyFinder.findBestDependency(Seq(cDate), rules).isEmpty)
    assert(Planner.planNew(Seq(cDate), rules) == SegmentPlan.Base(Seq(cDate)))
    // excluding rule 3 falls back to the two singles
    val d = DependencyFinder.findBestDependency(
      Seq(cAmount, cTier), rules, excludeRuleId = Some(3)).get
    assert(d.dependencyRuleIds == Seq(1, 2) && d.remaining.isEmpty)
  }

  test("condition canonicalization is order-insensitive (R1)") {
    assert(DependencyFinder.canonical(Seq(cAmount, cTier)) ==
      DependencyFinder.canonical(Seq(cTier, cAmount)))
  }

  test("offline re-analysis: composite only on exact composition (R9)") {
    val r4 = Rule(4, "r4", Seq(cAmount, cTier, cDate))
    val plans = Planner.reclassifyAll(rules :+ r4)
    // r3 = r1 ∪ r2 exactly ⇒ composite; r4 has no exact cover ⇒ base
    assert(plans(3) == SegmentPlan.Compound(Seq(1, 2), SetOp.Intersection, Nil))
    assert(plans(4) == SegmentPlan.Base(Seq(cAmount, cTier, cDate)))
    assert(plans(1) == SegmentPlan.Base(Seq(cAmount)))
  }

  test("stored rule with deps+op plans Compound even with conditions present (Q5)") {
    val r = Rule(9, "r9", Seq(cAmount), dependencies = Seq(1, 2),
      operation = Some(SetOp.Intersection))
    assert(Planner.planStored(r) ==
      SegmentPlan.Compound(Seq(1, 2), SetOp.Intersection, Seq(cAmount)))
    assert(Planner.planStored(Rule(10, "r10", Seq(cAmount), dependencies = Seq(1))) ==
      SegmentPlan.Base(Seq(cAmount)))
  }

  test("single-parent compound passes through; zero parents rejected (U5/U6 deviation)") {
    import spark.implicits._
    val seg = Seq((1L, 1L, 10.0, "UPI")).toDF(
      "user_id", "total_transactions", "total_spent", "transaction_types")
    // exact single cover ⇒ the rule IS that segment (reference would abort;
    // documented deviation in Planner.evaluate)
    val out = Planner.evaluate(
      SegmentPlan.Compound(Seq(1), SetOp.Intersection),
      tx = seg, loadParent = _ => seg)
    assert(out.collect().length == 1)
    intercept[IllegalArgumentException] {
      Planner.evaluate(
        SegmentPlan.Compound(Nil, SetOp.Intersection),
        tx = seg, loadParent = _ => seg).collect()
    }
    // faithful mode reproduces the reference's < 2-parent abort
    // (spark_processor.py:92-94) on the same single-cover plan
    intercept[IllegalArgumentException] {
      Planner.evaluate(
        SegmentPlan.Compound(Seq(1), SetOp.Intersection),
        tx = seg, loadParent = _ => seg, faithfulParentGuard = true).collect()
    }
    // and stays inert when two parents resolve
    val two = Planner.evaluate(
      SegmentPlan.Compound(Seq(1, 2), SetOp.Intersection),
      tx = seg, loadParent = _ => seg, faithfulParentGuard = true)
    assert(two.collect().length == 1)
    // a non-vacuous residual must NOT rescue the faithful count: the
    // reference counts parent_segment_dfs only (spark_processor.py:92-94),
    // so 1 parent + residual still aborts
    val txf = {
      import org.apache.spark.sql.functions.{to_timestamp, lit, col}
      Seq((1L, 600.0, "2024-01-05 10:00:00", "Dining", 1))
        .toDF("user_id", "amount", "ts_s", "category", "city_tier")
        .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
        .withColumn("transaction_type", lit("UPI"))
    }
    intercept[IllegalArgumentException] {
      Planner.evaluate(
        SegmentPlan.Compound(Seq(1), SetOp.Intersection, Seq(cAmount)),
        tx = txf, loadParent = _ => seg, faithfulParentGuard = true).collect()
    }
  }

  test("reclassify of identical twin rules is acyclic (higher id depends on lower)") {
    val twins = Seq(Rule(1, "a", Seq(cAmount)), Rule(2, "b", Seq(cAmount)))
    val plans = Planner.reclassifyAll(twins)
    assert(plans(1) == SegmentPlan.Base(Seq(cAmount)))
    assert(plans(2) == SegmentPlan.Compound(Seq(1), SetOp.Intersection, Nil))
  }

  test("segment store: write/read, empty write, catalog + metadata + lineage (S5-S7/Q9/R6)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_store").toString
    val store = new SegmentStore(spark, dir)
    val seg = Seq((1L, 3L, 100.5, "UPI")).toDF(
      "user_id", "total_transactions", "total_spent", "transaction_types")
    assert(store.write(7, seg) == 1L)
    assert(store.read(7).schema == Schemas.segmentOutput)
    assert(store.write(8, seg.limit(0)) == 0L)
    assert(store.read(8).count() == 0 && store.read(8).schema == Schemas.segmentOutput)

    val entries = Seq(
      SegmentCatalogEntry(1, "s1", "segment_output_1", Seq(cAmount), Nil, None),
      SegmentCatalogEntry(4, "s4", "segment_output_4", Nil, Seq(1, 3), Some("intersection")),
      SegmentCatalogEntry(3, "s3", "segment_output_3", Seq(cDate, cHaving), Seq(1), Some("intersection")))
    store.modifyCatalog(_ => (entries, ()))
    store.modifyCatalog(cat => (cat.map(e => if (e.ruleId != 4) e else
      e.copy(rowCount = 42, lastRefreshedAt = Some("2026-08-12T00:00:00"))), ()))
    val loaded = store.loadCatalog()
    assert(loaded.map(_.ruleId) == Seq(1, 3, 4))
    assert(loaded.find(_.ruleId == 4).get.rowCount == 42L)
    assert(loaded.find(_.ruleId == 3).get.conditions == Seq(cDate, cHaving))
    // lineage: 4 -> {1, 3}, 3 -> {1}; cycle guard tolerates repeats
    val (nodes, edges) = store.lineage(4)
    assert(nodes.toSet == Set(4L, 1L, 3L))
    assert(edges.toSet == Set((1L, 4L), (3L, 4L), (1L, 3L)))
  }

  test("rollup serving: registered window served from the rollup scan, others fall back") {
    import graft.plans.RollupServing
    import graft.operators.Rollups
    import graft.sources.Tables
    val dir = Files.createTempDirectory("graft_rollup_serve").toString
    val store = new SegmentStore(spark, dir)
    val tx = Tables.transactions(spark, sf)
    RollupServing.materialize(store, tx, Seq(7, 14))
    assert(store.loadRollupsUnlocked().map(_.periods) == Seq(Seq(7, 14)))

    // the REWRITE: the served plan reads only the rollup parquet — no raw
    // event scan, no JSON tier parse, no aggregation left to do
    val served = RollupServing.userWindowTotals(spark, store, tx, 14)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("rollup_user_windows"), s"must scan the rollup:\n$plan")
    assert(!plan.contains("events") && !plan.contains("get_json_object"),
      "served plan must not touch the raw event log")

    // ...and serving is exact: bit-identical to computing from raw
    val raw = Rollups.userWindows(tx, Seq(14))
    assert(served.orderBy("user_id").collect().toSeq ==
      raw.orderBy("user_id").collect().toSeq)

    // an unmaterialized window falls back to the raw compute
    val fb = RollupServing.userWindowTotals(spark, store, tx, 21)
    assert(fb.queryExecution.executedPlan.toString.contains("events"))
    assert(fb.select("period_days").distinct().collect().map(_.getInt(0)).toSeq == Seq(21))
  }

  test("rollup serving: HAVING-only window rules served, WHERE rules refused") {
    import graft.plans.RollupServing
    import graft.operators.Rollups
    import graft.sources.Tables
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_rollup_rule").toString
    val store = new SegmentStore(spark, dir)
    val tx = Tables.transactions(spark, sf)
    RollupServing.materialize(store, tx, Seq(14))

    val conds = Seq(Condition("total_spend", ">", "500"),
      Condition("transaction_count", ">=", "2"))
    val seg = RollupServing.serveSegment(spark, store, 14, conds)
      .getOrElse(fail("HAVING-only conditions must be servable"))
    val expected = Rollups.userWindows(tx, Seq(14))
      .filter(col("total_amount") > 500.0 && col("total_transactions") >= 2L)
      .select(col("user_id"), col("total_transactions"),
        col("total_amount").as("total_spent"))
    assert(seg.orderBy("user_id").collect().toSeq ==
      expected.orderBy("user_id").collect().toSeq)
    assert(seg.columns.toSeq == Seq("user_id", "total_transactions", "total_spent"))

    // a WHERE-routed condition filters raw rows pre-aggregation — the
    // rollup cannot serve it
    assert(RollupServing.serveSegment(spark, store, 14,
      conds :+ Condition("transaction_amount", ">", "10")).isEmpty)
    // unmaterialized window: refuse, caller takes the base path
    assert(RollupServing.serveSegment(spark, store, 21, conds).isEmpty)
  }

  test("condition codec round-trips scalars, lists, value2") {
    val cs = Seq(cAmount, cDate, Condition.in("city_tier", Seq("1", "2")),
      Condition("transaction_amount", ">", ""))
    assert(ConditionCodec.decodeAll(ConditionCodec.encodeAll(cs)) == cs)
    assert(ConditionCodec.decodeAll("") == Nil)
  }
}
