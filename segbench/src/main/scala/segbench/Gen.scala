package segbench

import graft.model.{CondValue, Condition}
import java.time.{Instant, LocalDate}

/** One generated transaction in the corpus's `events` schema. */
final case class Event(event_id: Long, ts: Instant, user_id: Long,
    event_type: String, value: Double, props: String)

/** Size of a generated transaction table. `zipf` draws user ids from a
  * Zipf(s = 1) law over `users` ids instead of uniformly.
  */
final case class TableSpec(rows: Long, users: Long, zipf: Boolean, files: Int)

/** A generated rule: a set of condition atoms from the shared vocabulary. */
final case class GenRule(name: String, atoms: Vector[Atom]) {
  def conditions: Seq[Condition] = atoms.map(_.condition)
}

/** One condition of the vocabulary, kept in the generator's own form so the
  * oracle evaluates it without going through the program's compiler. `v2`
  * is set only for BETWEEN, `vs` only for IN / NOT IN.
  */
final case class Atom(field: String, op: String, v: String, v2: Option[String] = None,
    vs: Vector[String] = Vector.empty) {
  def condition: Condition =
    if (op == "IN" || op == "NOT IN") Condition(field, op, CondValue.Many(vs), None)
    else Condition(field, op, CondValue.One(v), v2)
  /** True when the atom filters rows before aggregation (WHERE-routed). */
  def isWhere: Boolean = field != "total_spend" && field != "transaction_count"
}

/** Deterministic inputs from a seed: every value is a pure function of
  * (seed, row index) or (seed, draw index), so the same seed gives the same
  * inputs regardless of how Spark partitions the generation.
  */
object Gen {
  val Days = 90
  val StartDay: Long = LocalDate.of(2025, 1, 1).toEpochDay
  val EventTypes: Vector[String] = Vector("purchase", "view", "click", "refund", "signup")
  val MaxCents = 100000L

  /** SplitMix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def draw(seed: Long, i: Long, k: Int): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + k) + i * 0x632be59bd9b4e019L)
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  /** The fields of one row, in the oracle's integer form. */
  final case class Row(eventId: Long, epochSec: Long, userId: Long,
      eventType: Int, cents: Long, k: Int) {
    def day: Long = Math.floorDiv(epochSec, 86400L)
    def value: Double = cents / 100.0
    def tier: Int = k % 4 + 1
    def toEvent: Event = Event(eventId, Instant.ofEpochSecond(epochSec), userId,
      EventTypes(eventType), value, s"""{"k": $k}""")
  }

  // Any prime that does not divide the user count permutes [0, users).
  private val Scramble = 999983L

  def row(seed: Long, spec: TableSpec, i: Long): Row = {
    val u = unit(draw(seed, i, 1))
    val rank =
      if (spec.zipf) math.min(spec.users, math.exp(u * math.log(spec.users.toDouble)).toLong) - 1
      else (u * spec.users).toLong
    val userId = 1L + Math.floorMod(rank * Scramble, spec.users)
    val sec = StartDay * 86400L + (unit(draw(seed, i, 2)) * Days * 86400L).toLong
    val cents = math.max(1L, math.min(MaxCents,
      math.exp(unit(draw(seed, i, 3)) * math.log(MaxCents.toDouble)).toLong))
    val et = (unit(draw(seed, i, 4)) * EventTypes.size).toInt
    val k = (unit(draw(seed, i, 5)) * 1000).toInt
    Row(i, sec, userId, et, cents, k)
  }

  /** Writes the generated table as `<root>/events.parquet`, where the
    * program's `Tables.events` reads the corpus.
    */
  def write(spark: org.apache.spark.sql.SparkSession, seed: Long, spec: TableSpec, root: String): Unit = {
    import spark.implicits._
    spark.range(0L, spec.rows, 1L, spec.files).map(i => row(seed, spec, i).toEvent)
      .write.mode("overwrite").parquet(s"$root/events.parquet")
  }

  def rows(seed: Long, spec: TableSpec): Iterator[Row] =
    Iterator.range(0, spec.rows.toInt).map(i => row(seed, spec, i.toLong))

  /** Date literal `d` days after the first generated day. */
  def dayLit(d: Long): String = LocalDate.ofEpochDay(StartDay + d).toString

  // ---- condition vocabulary ------------------------------------------------

  /** The shared vocabulary: every one of the compiler's five routed fields
    * and nine operators, one atom per (field, operator) pair. Thresholds come
    * from the seed within narrow ranges, so a rule's cost barely depends on
    * the seed; tier and count thresholds whose steps would change a rule's
    * selectivity a lot stay fixed.
    */
  def vocabulary(seed: Long): Vector[Atom] = {
    var n = 0
    def r(): Double = { n += 1; unit(draw(seed, n.toLong, 101)) }
    def amt(lo: Double, hi: Double): String = f"${lo + r() * (hi - lo)}%.2f"
    def day(lo: Int, hi: Int): String = dayLit(lo + (r() * (hi - lo)).toLong)
    def tier(): Int = 1 + (r() * 4).toInt
    Vector(
      Atom("transaction_amount", ">", amt(40, 60)),
      Atom("transaction_amount", "<=", amt(300, 500)),
      Atom("transaction_amount", "BETWEEN", amt(8, 12), Some(amt(400, 600))),
      Atom("transaction_amount", ">=", amt(2, 4)),
      Atom("transaction_amount", "!=", "100.00"),
      Atom("transaction_amount", "=", "0.01"),
      Atom("city_tier", "IN", "", vs = { val t = tier(); Vector(t, t % 4 + 1).map(_.toString) }),
      Atom("city_tier", "NOT IN", "", vs = Vector(tier().toString)),
      Atom("city_tier", "!=", tier().toString),
      Atom("city_tier", "<", "3"),
      Atom("city_tier", ">", "0"),
      Atom("transaction_date", ">=", day(10, 20)),
      Atom("transaction_date", "<", day(70, 80)),
      Atom("transaction_date", "BETWEEN", day(20, 30), Some(day(60, 70))),
      Atom("transaction_date", "!=", day(0, 90)),
      Atom("total_spend", ">", amt(50, 150)),
      Atom("total_spend", "<", amt(8000, 12000)),
      Atom("transaction_count", ">=", "2"),
      Atom("transaction_count", "IN", "", vs = (1 to 40).map(_.toString).toVector),
      Atom("transaction_count", "NOT IN", "", vs = Vector("3")),
      Atom("transaction_count", "=", "1"),
      Atom("transaction_count", "BETWEEN", "1", Some((20 + (r() * 30).toInt).toString)),
    )
  }

  /** Distinct rules of a fixed shape. Which vocabulary entries a rule uses
    * does not depend on the seed (only their thresholds do), so every seed
    * binds the same plan structure. `Fresh(k)` is a rule of `k` atoms that
    * is not a superset of an earlier rule; `Super(j)` is rule `j` plus one
    * atom, which binds as Compound over stored rule `j`.
    */
  def rules(seed: Long, shape: Seq[Shape], prefix: String): Vector[GenRule] = {
    val vocab = vocabulary(seed)
    var out = Vector.empty[Vector[Int]]
    var draws = 0L
    def pick(): Int = { draws += 1; (unit(draw(0L, draws, 200)) * vocab.size).toInt }
    shape.foreach { sh =>
      val seen = out.map(_.toSet)
      out :+= Iterator.continually(sh match {
        case Fresh(k) => Vector.fill(k)(pick()).distinct
        case Super(j) => out(j) :+ pick()
      }).find { ix =>
        val set = ix.toSet
        set.size == ix.size && !seen.contains(set) &&
          (sh match {
            case Fresh(_) => !seen.exists(_.subsetOf(set))
            case Super(_) => true
          })
      }.get
    }
    out.zipWithIndex.map { case (ix, i) => GenRule(s"$prefix-$i", ix.map(vocab)) }
  }
}

sealed trait Shape
final case class Fresh(atoms: Int) extends Shape
final case class Super(parent: Int) extends Shape
