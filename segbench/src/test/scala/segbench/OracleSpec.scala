package segbench

import graft.model.{Condition, SegmentPlan}
import graft.operators.{SegmentEngine, SegmentRunner}
import graft.plans.RollupServing
import graft.sources.{SegmentStore, Tables}
import java.nio.file.{Files => JFiles}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The oracle against the program, on a tiny generated table. */
class OracleSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val seed = 42L
  private val spec = TableSpec(3000L, 400L, zipf = false, files = 2)
  private lazy val root = {
    val d = JFiles.createTempDirectory("segbench_oracle").toString
    Gen.write(spark, seed, spec, d)
    d
  }
  private def rows() = Gen.rows(seed, spec)

  override def afterAll(): Unit = Files.delete(root)
  private lazy val atomOf = Gen.vocabulary(seed).map(a => a.condition -> a).toMap

  test("the oracle agrees with SegmentRunner on every segment, Compound ones included") {
    val store = new SegmentStore(spark, s"$root/warehouse")
    val runner = new SegmentRunner(store, () => Tables.transactions(spark, root))
    val rules = Gen.rules(seed, Workload.RefreshMany.shape, "r")
    val plans = rules.map(g => g -> runner.createRule(g.name, g.conditions)._2)
    assert(plans.exists(_._2.isInstanceOf[SegmentPlan.Compound]))
    val counts = runner.runAll("2025-04-01T00:00:00Z")
    val catalog = store.loadCatalog()
    val byId = catalog.map(e => e.ruleId -> e).toMap
    plans.foreach { case (g, plan) => assert(Check.bindingError(g, plan, byId).isEmpty) }
    val expected = Check.expected(catalog, atomOf, () => rows(), spec.users)
    assert(expected.values.exists(_.size > 0))
    expected.foreach { case (id, seg) =>
      assert(counts(id) == seg.size.toLong, s"rule $id row count")
      assert(Check.storedSum(spark, s"$root/warehouse/segment_output_$id") == seg.sum(), s"rule $id")
    }
  }

  test("the oracle's window totals agree with the served rollup and the base path") {
    val store = new SegmentStore(spark, s"$root/warehouse_w")
    val tx = () => Tables.transactions(spark, root)
    RollupServing.materialize(store, tx(), Seq(7, 30))
    val anchor = rows().map(_.day).max
    val having = Gen.vocabulary(seed).filter(a => !a.isWhere).take(2)
    for (period <- Seq(7, 30); hs <- having.map(Seq(_))) {
      val served = RollupServing.serveSegment(spark, store, period, hs.map(_.condition))
      assert(served.nonEmpty)
      val window = Condition("transaction_date", ">=", Gen.dayLit(anchor - Gen.StartDay - period))
      val base = SegmentEngine.materializeBase(tx(), window +: hs.map(_.condition))
      val want = Oracle.window(rows(), spec.users, anchor, period, hs).sum("")
      for (df <- Seq(served.get, base)) {
        val got = df.collect().foldLeft(Sum.Zero)((s, r) => s.add(r.getAs[Long]("user_id"),
          r.getAs[Long]("total_transactions"), r.getAs[Double]("total_spent"), ""))
        assert(got == want, s"period $period $hs")
      }
    }
  }
}
