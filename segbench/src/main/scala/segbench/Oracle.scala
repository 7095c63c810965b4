package segbench

import Gen.Row
import graft.model.{Condition, SegmentCatalogEntry, SegmentPlan, SetOp}
import java.time.LocalDate
import org.apache.spark.sql.SparkSession

/** A segment as the oracle computes it: rows sorted by user id. */
final case class Seg(users: Array[Long], counts: Array[Long], cents: Array[Long]) {
  def size: Int = users.length
  def spent(i: Int): Double = java.math.BigDecimal.valueOf(cents(i), 2).doubleValue
  /** Checksum with every row's transaction_types set to `types`. */
  def sum(types: String = Oracle.TxTypes): Sum = {
    var s = Sum.Zero
    var i = 0
    while (i < users.length) {
      s = s.add(users(i), counts(i), spent(i), types); i += 1
    }
    s
  }
  def take(n: Int): Seg = Seg(users.take(n), counts.take(n), cents.take(n))
}

/** Order-independent checksum of a segment: row count plus the wrapping sum
  * of a per-row hash of (user_id, total_transactions, total_spent,
  * transaction_types).
  */
final case class Sum(rows: Long, hash: Long) {
  def add(user: Long, n: Long, spent: Double, types: String): Sum =
    Sum(rows + 1, hash + Sum.rowHash(user, n, spent, types))
  def +(o: Sum): Sum = Sum(rows + o.rows, hash + o.hash)
}
object Sum {
  val Zero: Sum = Sum(0L, 0L)
  def rowHash(user: Long, n: Long, spent: Double, types: String): Long =
    Gen.mix(Gen.mix(Gen.mix(user * 0x9e3779b97f4a7c15L + n)
      ^ java.lang.Double.doubleToLongBits(spent)) ^ String.valueOf(types).hashCode.toLong)
}

/** Expected segments computed from the generator's rows and typed atoms
  * alone: no part of the program's compiler, engine, set operations or
  * planner is used. Semantics follow the platform's rule language:
  * WHERE atoms filter rows, rows aggregate per user (count, exact cent sum
  * rounded to 2 dp), HAVING atoms filter users, and a rule bound as
  * Compound is the user-keyed intersection of its inputs carrying the first
  * input's aggregates.
  */
object Oracle {
  /** Every row of the unified view over `events` is tagged EVENTS, so every
    * non-empty user's distinct-type list is exactly that.
    */
  val TxTypes = "EVENTS"

  private def num(s: String): Double = s.trim.toDouble
  private def day(s: String): Long = LocalDate.parse(s.trim).toEpochDay

  /** `x <op> literal(s)` over doubles, the way the compiler types values. */
  private def cmp(a: Atom, parse: String => Double): Double => Boolean = a.op match {
    case ">"  => val v = parse(a.v); x => x > v
    case "<"  => val v = parse(a.v); x => x < v
    case "="  => val v = parse(a.v); x => x == v
    case ">=" => val v = parse(a.v); x => x >= v
    case "<=" => val v = parse(a.v); x => x <= v
    case "!=" => val v = parse(a.v); x => x != v
    case "BETWEEN" => val lo = parse(a.v); val hi = parse(a.v2.get); x => x >= lo && x <= hi
    case "IN"     => val vs = a.vs.map(parse).toSet; x => vs(x)
    case "NOT IN" => val vs = a.vs.map(parse).toSet; x => !vs(x)
  }

  def where(a: Atom): Row => Boolean = a.field match {
    case "transaction_amount" => val f = cmp(a, num); r => f(r.value)
    // tiers and counts compare as integers; literals are integral here
    case "city_tier"        => val f = cmp(a, s => num(s).toInt.toDouble); r => f(r.tier.toDouble)
    case "transaction_date" => val f = cmp(a, s => day(s).toDouble); r => f(r.day.toDouble)
  }

  def having(a: Atom): (Long, Double) => Boolean = a.field match {
    case "total_spend"       => val f = cmp(a, num); (_, spent) => f(spent)
    case "transaction_count" => val f = cmp(a, s => num(s).toLong.toDouble); (n, _) => f(n.toDouble)
  }

  /** Base segments of several atom sets in one pass over the rows. User ids
    * must lie in [1, users].
    */
  def base(rows: Iterator[Row], users: Long, sets: Seq[Seq[Atom]]): Seq[Seg] = {
    val wheres = sets.map(_.filter(_.isWhere).map(where).toArray).toArray
    val counts = sets.map(_ => new Array[Int](users.toInt + 1)).toArray
    val cents = sets.map(_ => new Array[Long](users.toInt + 1)).toArray
    rows.foreach { r =>
      var s = 0
      while (s < wheres.length) {
        val ws = wheres(s)
        var ok = true
        var j = 0
        while (ok && j < ws.length) { ok = ws(j)(r); j += 1 }
        if (ok) {
          counts(s)(r.userId.toInt) += 1
          cents(s)(r.userId.toInt) += r.cents
        }
        s += 1
      }
    }
    sets.indices.map { s =>
      val hs = sets(s).filterNot(_.isWhere).map(having)
      val us = Array.newBuilder[Long]; val ns = Array.newBuilder[Long]; val cs = Array.newBuilder[Long]
      var u = 1
      while (u <= users) {
        val n = counts(s)(u)
        if (n > 0) {
          val spent = java.math.BigDecimal.valueOf(cents(s)(u), 2).doubleValue
          if (hs.forall(h => h(n.toLong, spent))) { us += u.toLong; ns += n.toLong; cs += cents(s)(u) }
        }
        u += 1
      }
      Seg(us.result(), ns.result(), cs.result())
    }
  }

  /** User-keyed intersection; rows and aggregates come from the first input. */
  def intersect(inputs: Seq[Seg]): Seg = {
    require(inputs.nonEmpty, "no inputs")
    val others = inputs.tail.map(_.users.toSet)
    val head = inputs.head
    val keep = head.users.indices.filter(i => others.forall(_.contains(head.users(i))))
    Seg(keep.map(head.users).toArray, keep.map(head.counts).toArray, keep.map(head.cents).toArray)
  }

  /** Per-user totals of the trailing `periodDays` window ending at the last
    * generated day, filtered by HAVING atoms: what a window rule serves.
    */
  def window(rows: Iterator[Row], users: Long, anchorDay: Long, periodDays: Int,
      hs: Seq[Atom]): Seg = {
    val from = anchorDay - periodDays
    base(rows.filter(_.day >= from), users, Seq(hs)).head
  }
}

/** Checks of what the program stored and bound, against the oracle. */
object Check {

  /** Checks that a bound plan is a valid cover of the submitted rule under
    * the platform's reuse rule: every parent's stored conditions and the
    * residual are subsets of the submitted set, and together they are all
    * of it.
    */
  def bindingError(g: GenRule, plan: SegmentPlan,
      stored: Map[Long, SegmentCatalogEntry]): Option[String] = {
    val want = g.conditions.toSet
    plan match {
      case SegmentPlan.Base(cs) =>
        if (cs.toSet == want) None else Some(s"${g.name}: base plan ${cs.size} conditions != submitted")
      case SegmentPlan.Compound(parents, op, residual) =>
        val ps = parents.flatMap(stored.get).map(_.conditions.toSet)
        if (op != SetOp.Intersection) Some(s"${g.name}: op $op")
        else if (ps.size != parents.size) Some(s"${g.name}: unknown parent")
        else if (!ps.forall(_.subsetOf(want)) || !residual.toSet.subsetOf(want))
          Some(s"${g.name}: cover not a subset of submitted")
        else if ((ps.flatten.toSet ++ residual) != want) Some(s"${g.name}: cover misses conditions")
        else None
    }
  }

  /** Expected segments of cataloged rules, following their stored bindings:
    * a Compound rule is the keyed intersection of its parents' expected
    * segments and its residual's base segment. `known` holds segments
    * already computed for other rules.
    */
  def expected(entries: Seq[SegmentCatalogEntry], atomOf: Map[Condition, Atom],
      rows: () => Iterator[Row], users: Long, known: Map[Long, Seg] = Map.empty): Map[Long, Seg] = {
    val byId = entries.map(e => e.ruleId -> e).toMap
    val baseSets = entries.map(_.conditions.map(atomOf)).filter(_.nonEmpty).distinct
    val base = baseSets.zip(Oracle.base(rows(), users, baseSets)).toMap
    val memo = collection.mutable.Map.empty[Long, Seg] ++ known
    def exp(id: Long): Seg = memo.getOrElseUpdate(id, {
      val e = byId(id)
      val residual = e.conditions.map(atomOf)
      if (e.dependsOn.nonEmpty && e.operation.nonEmpty)
        Oracle.intersect(e.dependsOn.map(exp) ++ (if (residual.nonEmpty) Seq(base(residual)) else Nil))
      else base(residual)
    })
    entries.map(e => e.ruleId -> exp(e.ruleId)).toMap
  }

  /** Checksum of a stored segment, read with plain Spark. */
  def storedSum(spark: SparkSession, path: String): Sum = {
    import spark.implicits._
    spark.read.parquet(path).as[SegOut].mapPartitions { it =>
      var s = Sum.Zero
      it.foreach(r => s = s.add(r.user_id, r.total_transactions, r.total_spent, r.transaction_types))
      Iterator((s.rows, s.hash))
    }.collect().foldLeft(Sum.Zero) { case (a, (n, h)) => a + Sum(n, h) }
  }
}
