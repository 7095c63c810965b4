package segbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val spec = TableSpec(5000L, 500L, zipf = true, files = 2)
  private val shape = Workload.RefreshMany.shape

  private def sums(seed: Long): Seq[Sum] = {
    val sets = Gen.rules(seed, shape, "r").map(_.atoms)
    Oracle.base(Gen.rows(seed, spec), spec.users, sets).map(_.sum())
  }

  test("the same seed gives identical inputs and oracle checksums") {
    assert(Gen.rows(7, spec).toVector == Gen.rows(7, spec).toVector)
    assert(Gen.vocabulary(7) == Gen.vocabulary(7))
    assert(Gen.rules(7, shape, "r") == Gen.rules(7, shape, "r"))
    assert(sums(7) == sums(7))
  }

  test("another seed gives other inputs and checksums") {
    assert(Gen.rows(7, spec).toVector != Gen.rows(8, spec).toVector)
    assert(sums(7) != sums(8))
  }

  test("rows span ninety days and every user id lies in range") {
    val rs = Gen.rows(3, spec).toVector
    assert(rs.map(_.day).max - rs.map(_.day).min == Gen.Days - 1)
    assert(rs.forall(r => r.userId >= 1 && r.userId <= spec.users))
    assert(rs.forall(r => r.cents >= 1 && r.cents <= Gen.MaxCents))
  }

  test("the vocabulary covers the five routed fields and all nine operators") {
    val v = Gen.vocabulary(11)
    assert(v.map(_.field).toSet == Set("transaction_amount", "city_tier", "transaction_date",
      "total_spend", "transaction_count"))
    assert(v.map(_.op).toSet == Set(">", "<", "=", ">=", "<=", "!=", "IN", "NOT IN", "BETWEEN"))
  }

  test("supersets extend their parent by one atom; fresh rules extend no earlier rule") {
    val rs = Gen.rules(5, shape, "r")
    shape.zip(rs).zipWithIndex.foreach {
      case ((Super(j), r), _) =>
        assert(r.atoms.init == rs(j).atoms && !rs(j).atoms.contains(r.atoms.last))
      case ((Fresh(k), r), i) =>
        assert(r.atoms.size == k)
        assert(rs.take(i).forall(e => !e.atoms.toSet.subsetOf(r.atoms.toSet)))
    }
    assert(rs.map(_.atoms.toSet).distinct.size == rs.size)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 20).map(_.toDouble)).map(_._1).contains(50))
    assert(Stats.tail((1 to 40).map(_.toDouble)).map(_._1).contains(75))
    assert(Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains(90))
  }
}
