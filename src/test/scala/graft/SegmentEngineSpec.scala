package graft

import graft.model._
import graft.operators._
import graft.sources.{PropsK, PropsKExpr, Tables}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Coalesce, GetJsonObject}
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec,
  SortAggregateExec}
import org.apache.spark.sql.functions._

/** Core segment pipeline, exercised with the reference's own boundary
  * fixture shape (reference: backend/scripts/seed_filter_test_data.py:20-58):
  * one user with rows above/below the amount threshold and in/out of tier.
  */
class SegmentEngineSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def tx(rows: (Long, Double, String, String, Int, String)*): DataFrame =
    rows.toDF("user_id", "amount", "ts_s", "category", "city_tier", "transaction_type")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")

  private val fixture = tx(
    (1L, 1500.0, "2024-01-05 10:00:00", "Electronics", 2, "UPI"),
    (1L, 2500.0, "2024-01-06 11:00:00", "Travel", 2, "UPI"),
    (1L, 900.0, "2024-01-07 12:00:00", "Dining", 2, "UPI"),     // below amount
    (1L, 3000.0, "2024-01-08 13:00:00", "Dining", 1, "CREDIT_CARD"),
    (2L, 50.0, "2024-01-09 14:00:00", "Groceries", 1, "UPI"))   // below amount

  test("base rule: amount filter + aggregate shape") {
    val out = SegmentEngine.materializeBase(fixture,
      Seq(Condition("transaction_amount", ">", "1000")))
    val rows = out.orderBy("user_id").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("user_id") == 1L)
    assert(r.getAs[Long]("total_transactions") == 3L)
    assert(r.getAs[Double]("total_spent") == 7000.0)
    // sort_array(collect_set) ⇒ deterministic alphabetical order (SURVEY Q3)
    assert(r.getAs[String]("transaction_types") == "CREDIT_CARD,UPI")
  }

  test("HAVING routes on aggregates, WHERE pre-aggregation (Q8)") {
    val out = SegmentEngine.materializeBase(fixture, Seq(
      Condition("transaction_amount", ">", "1000"),
      Condition("total_spend", ">", "6000")))
    assert(out.select("user_id").as[Long].collect().toSeq == Seq(1L))
    val none = SegmentEngine.materializeBase(fixture, Seq(
      Condition("transaction_amount", ">", "1000"),
      Condition("total_spend", ">", "7500")))
    assert(none.count() == 0)
  }

  test("BETWEEN dates: intended vs faithful string comparison (Q2)") {
    val f = tx(
      (1L, 10.0, "2024-01-10 00:00:00", "a", 1, "UPI"),
      (1L, 10.0, "2024-01-20 12:00:00", "a", 1, "UPI"), // last day, afternoon
      (1L, 10.0, "2024-01-21 00:00:00", "a", 1, "UPI"))
    val cond = Seq(Condition.between("transaction_date", "2024-01-10", "2024-01-20"))
    val intended = SegmentEngine.materializeBase(f, cond).collect().head
    assert(intended.getAs[Long]("total_transactions") == 2L)
    // faithful: '2024-01-20 12:00:00' > '2024-01-20' lexicographically ⇒ excluded
    val faithful = SegmentEngine.materializeBase(f, cond,
      ConditionCompiler.Mode(faithfulDateStrings = true)).collect().head
    assert(faithful.getAs[Long]("total_transactions") == 1L)
  }

  test("malformed conditions silently skipped; fully-vacuous rule = all users (Q10)") {
    val compiled = ConditionCompiler.compile(Seq(
      Condition("bogus", ">", "1"),
      Condition("transaction_amount", "LIKE", "x"),
      Condition("transaction_amount", ">", "")))
    assert(compiled.isVacuous && compiled.skipped.size == 3)
    val out = SegmentEngine.materializeCompiled(fixture, compiled)
    assert(out.count() == 2) // both users
  }

  test("IN / NOT IN with typed casts") {
    val in = SegmentEngine.materializeBase(fixture,
      Seq(Condition.in("city_tier", Seq("1"))))
    assert(in.select("user_id").as[Long].collect().toSet == Set(1L, 2L))
    val notIn = SegmentEngine.materializeBase(fixture,
      Seq(Condition("city_tier", "NOT IN", CondValue.Many(Vector("1")))))
    assert(notIn.select("user_id").as[Long].collect().toSet == Set(1L))
  }

  test("operator whitelist parse: case-insensitive, whitespace-exact (reference skip parity)") {
    assert(CondOp.parse("not in").contains(CondOp.NotIn))
    assert(CondOp.parse("between").contains(CondOp.Between))
    assert(CondOp.parse("===").isEmpty)
    // rule_parser.py:51 checks `operator.upper() not in allowed` with no
    // trim/collapse — these are silently SKIPPED by the reference, so they
    // must be skipped here too or the engines compute different segments
    assert(CondOp.parse("not   in").isEmpty)
    assert(CondOp.parse(" > ").isEmpty)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the segment aggregate plans a HashAggregate, and building it launches no job") {
    val dir = Files.createTempDirectory("graft_engine_plan").toString
    fixture.drop("transaction_type").write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    // shaped like Tables.transactions, and like the reference's UNION ALL
    val literal = scan.withColumn("transaction_type", lit("EVENTS"))
    def branch(tier: Int, name: String) =
      scan.filter($"city_tier" === tier).withColumn("transaction_type", lit(name))
    val union = branch(2, "UPI").unionByName(branch(1, "CREDIT_CARD"))
    for ((view, types) <- Seq(literal -> Set("EVENTS"), union -> Set("CREDIT_CARD,UPI"))) {
      var seg: DataFrame = null
      assert(jobsLaunchedBy {
        seg = SegmentEngine.materializeBase(view, Seq(Condition("transaction_amount", ">", "100")))
      }.isEmpty, "a literal discriminator needs no job to find its names")
      assert(seg.collect().map(_.getAs[String]("transaction_types")).toSet == types)
      val plan = seg.queryExecution.executedPlan // final once executed
      assert(plan.toString.contains("isFinalPlan=true"), plan)
      assert(collect(plan) { case a: HashAggregateExec => a }.nonEmpty, plan)
      assert(collect(plan) { case a: ObjectHashAggregateExec => a }.isEmpty, plan)
      assert(collect(plan) { case a: SortAggregateExec => a }.isEmpty, plan)
    }
  }

  test("a city_tier rule reads props with the byte scan in codegen, and no corpus row falls back") {
    val seg = SegmentEngine.materializeBase(Tables.transactions(spark, sf),
      Seq(Condition("city_tier", "=", "2")))
    seg.collect()
    val plan = seg.queryExecution.executedPlan
    // the operators compiled into a whole-stage codegen stage: below it,
    // down to its InputAdapters
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(stage)
    }
    val compiled = collect(plan) { case w: WholeStageCodegenExec => stage(w.child) }.flatten
    // a file scan lists its data filters as pushdown candidates; it evaluates none
    val all = collect(plan) { case p if !p.isInstanceOf[FileSourceScanExec] => p }
    def scans(ps: Seq[SparkPlan]) = ps.flatMap(_.expressions).flatMap(_.collect { case e: PropsKExpr => e })
    assert(scans(compiled).nonEmpty && scans(compiled).size == scans(all).size, plan)
    // get_json_object appears only as the coalesce fallback behind the scan
    val exprs = all.flatMap(_.expressions)
    val fallbacks = exprs.flatMap(_.collect {
      case Coalesce(Seq(_: PropsKExpr, rest @ _*)) => rest.flatMap(_.collect { case g: GetJsonObject => g })
    }).flatten
    val parses = exprs.flatMap(_.collect { case g: GetJsonObject => g })
    assert(parses.nonEmpty && parses.size == fallbacks.size, plan)

    val props = Tables.events(spark, sf).filter($"props".isNotNull)
    assert(props.count() == 1000)
    assert(props.filter(PropsK($"props").isNull).count() == 0, "corpus rows reach the fallback")
  }

  /** `body` with `spark.sql.ansi.enabled` set to `on`, restored after. */
  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("amounts and totals outside the micro-unit domain raise, ANSI on or off") {
    def amounts(as: (Long, Double)*): DataFrame =
      as.map { case (u, a) => (u, a, "UPI") }.toDF("user_id", "amount", "transaction_type")
    def raises(view: DataFrame, error: String): Unit = {
      val e = intercept[Exception](SegmentEngine.materializeBase(view, Nil).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains(error)), e)
    }
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      raises(amounts(1L -> 1e12), "NUMERIC_VALUE_OUT_OF_RANGE")
      raises(amounts(1L -> -1e12), "NUMERIC_VALUE_OUT_OF_RANGE")
      raises(amounts(Seq.fill(10)(1L -> 9.3e11): _*), "ARITHMETIC_OVERFLOW") // 9.3e12 in all
      // just inside both limits
      val edge = SegmentEngine.materializeBase(
        amounts(Seq.fill(10)(1L -> 9.2e11) :+ (2L -> 999999999999.999): _*), Nil)
      assert(edge.orderBy("user_id").select("total_spent").as[Double].collect().toSeq ==
        Seq(9.2e12, 1e12))
    }
  }
}
