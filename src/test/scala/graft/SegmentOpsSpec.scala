package graft

import graft.model.SetOp
import graft.parity.SegmentOps
import org.apache.spark.sql.DataFrame

/** Set-op algebra: row-faithful (bug-compatible, SURVEY Q1) vs keyed. */
class SegmentOpsSpec extends SparkSpec {
  import spark.implicits._

  private def seg(rows: (Long, Long, Double, String)*): DataFrame =
    rows.toDF("user_id", "total_transactions", "total_spent", "transaction_types")

  // Same users, different aggregates — the rule-4 shape.
  private val a = seg((1L, 3L, 100.0, "UPI"), (2L, 2L, 50.0, "UPI"))
  private val b = seg((1L, 5L, 999.0, "UPI"), (3L, 1L, 10.0, "UPI"))
  private val aDup = seg((1L, 3L, 100.0, "UPI"), (4L, 1L, 5.0, "UPI"))

  test("row-faithful INTERSECTION of differing aggregates is empty (Q1 artifact)") {
    assert(SegmentOps.combine(SetOp.Intersection, Seq(a, b), keyed = false).count() == 0)
    // identical rows do intersect
    assert(SegmentOps.combine(SetOp.Intersection, Seq(a, aDup), keyed = false)
      .as[(Long, Long, Double, String)].collect().toSet == Set((1L, 3L, 100.0, "UPI")))
  }

  test("keyed INTERSECTION matches on user_id, keeps first parent's aggregates") {
    val out = SegmentOps.combine(SetOp.Intersection, Seq(a, b))
      .as[(Long, Long, Double, String)].collect().toSet
    assert(out == Set((1L, 3L, 100.0, "UPI")))
  }

  test("UNION: faithful dedups full rows; keyed dedups users deterministically") {
    val faithful = SegmentOps.combine(SetOp.Union, Seq(a, aDup), keyed = false)
    assert(faithful.count() == 3) // (1,...) deduped, users {1,2,4}
    val keyed = SegmentOps.combine(SetOp.Union, Seq(b, a)) // first parent wins
      .as[(Long, Long, Double, String)].collect().toSet
    assert(keyed == Set((1L, 5L, 999.0, "UPI"), (3L, 1L, 10.0, "UPI"), (2L, 2L, 50.0, "UPI")))
  }

  test("DIFFERENCE: faithful full-row except vs keyed anti-join") {
    val faithful = SegmentOps.combine(SetOp.Difference, Seq(a, b), keyed = false)
    assert(faithful.count() == 2) // (1,3,100) != (1,5,999) row-wise ⇒ survives
    val keyed = SegmentOps.combine(SetOp.Difference, Seq(a, b))
      .select("user_id").as[Long].collect().toSet
    assert(keyed == Set(2L))
  }

  test("dispatch: case-insensitive parse, single-parent passthrough, empty rejected (U5/U6/Q4)") {
    assert(SetOp.parse("InTeRsEcTiOn").contains(SetOp.Intersection))
    assert(SetOp.parse("bogus").isEmpty)
    assert(SegmentOps.combine("union", Seq(a), keyed = true).collect().length == 2)
    intercept[IllegalArgumentException](SegmentOps.combine("UNION", Nil, keyed = true))
    intercept[IllegalArgumentException](SegmentOps.combine("bogus", Seq(a, b), keyed = true))
  }
}
