package graft.operators

import graft.model._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles the rule condition language straight to Catalyst `Column`
  * expressions — the SQL-string IR of the reference
  * (reference: backend/app/utils/rule_parser.py:23-94) and its injection
  * hazards disappear; Catalyst pushes the resulting predicates into the
  * parquet scan.
  *
  * Routing mirrors the reference exactly: `transaction_amount`, `city_tier`,
  * `transaction_date` become WHERE predicates (pre-aggregation, SURVEY Q8);
  * `total_spend`, `transaction_count` become HAVING predicates
  * (reference: rule_parser.py:12-20,85-90). Malformed conditions — unknown
  * field, non-whitelisted operator, missing/empty value — are skipped
  * silently with a warning, not errors (reference: rule_parser.py:46-58,
  * SURVEY Q10).
  *
  * All values arrive as strings (SURVEY Q2); the compiler casts per field so
  * `amount > '500'` behaves like SQLite's type affinity made it behave.
  */
object ConditionCompiler {

  /** Typed column targets inside the unified transaction view. */
  val AmountCol = "amount"
  val TierCol   = "city_tier"
  val DateCol   = "ts"
  /** Post-aggregation columns (segment output schema). */
  val SpentCol = "total_spent"
  val CountCol = "total_transactions"

  /** HAVING-routed fields (reference: rule_parser.py:20). */
  private val aggregateFields = Map(
    "total_spend"       -> SpentCol,
    "transaction_count" -> CountCol)

  /** A condition [[compile]] routes to HAVING: one on `total_spend` or
    * `transaction_count`, compiled or skipped. Every other condition is a
    * WHERE condition or skipped before the aggregate.
    */
  def isHaving(c: Condition): Boolean = aggregateFields.contains(c.field)

  /** WHERE-routed fields (reference: rule_parser.py:12-18). */
  private val whereFields = Set("transaction_amount", "city_tier", "transaction_date")

  final case class Compiled(
      where: Option[Column],
      having: Option[Column],
      skipped: Seq[(Condition, String)]) {
    def isVacuous: Boolean = where.isEmpty && having.isEmpty
  }

  /** Compilation mode. `faithfulDateStrings = true` reproduces the
    * reference's raw lexicographic comparison of timestamp text against the
    * date literal — which makes BETWEEN exclude most of the range's last day
    * (SURVEY §7.4 item 2). Default is the intended semantics: compare whole
    * days inclusively.
    */
  final case class Mode(faithfulDateStrings: Boolean = false)
  val DefaultMode: Mode = Mode()

  def compile(conditions: Seq[Condition], mode: Mode = DefaultMode): Compiled = {
    val skipped = Vector.newBuilder[(Condition, String)]
    val wheres  = Vector.newBuilder[Column]
    val havings = Vector.newBuilder[Column]

    conditions.foreach { c =>
      compileOne(c, mode) match {
        case Right(col) =>
          if (isHaving(c)) havings += col else wheres += col
        case Left(reason) =>
          skipped += ((c, reason))
      }
    }
    Compiled(
      wheres.result().reduceOption(_ && _),
      havings.result().reduceOption(_ && _),
      skipped.result())
  }

  private def compileOne(c: Condition, mode: Mode): Either[String, Column] = {
    if (c.field == null || c.field.isEmpty) return Left("missing field")
    val opO = CondOp.parse(Option(c.operator).getOrElse(""))
    if (opO.isEmpty) return Left(s"unsupported operator '${c.operator}'")
    val op = opO.get

    if (aggregateFields.contains(c.field)) compileAggregate(c, op)
    else if (whereFields.contains(c.field)) compileWhere(c, op, mode)
    else Left(s"unknown field '${c.field}'")
  }

  // ---- WHERE ----------------------------------------------------------------

  private def compileWhere(c: Condition, op: CondOp, mode: Mode): Either[String, Column] =
    c.field match {
      case "transaction_amount" =>
        typedCompare(col(AmountCol), op, c, parseNum)
      case "city_tier" =>
        typedCompare(col(TierCol), op, c, parseInt)
      case "transaction_date" =>
        if (mode.faithfulDateStrings)
          // Reference quirk: the generated SQL compares the raw timestamp
          // text with the quoted literal (rule_parser.py:65-66); SQLite
          // compares lexicographically, so '2025-06-30 10:00:00' > '2025-06-30'.
          typedCompare(
            date_format(col(DateCol), "yyyy-MM-dd HH:mm:ss"), op, c,
            s => Some(s))
        else
          typedCompare(to_date(col(DateCol)), op, c, parseDate)
      case f => Left(s"unknown field '$f'")
    }

  // ---- HAVING ---------------------------------------------------------------

  private def compileAggregate(c: Condition, op: CondOp): Either[String, Column] = {
    val target = aggregateFields(c.field)
    val mk: String => Option[Any] =
      if (target == CountCol) parseLong(_) else parseNum(_)
    typedCompare(col(target), op, c, mk)
  }

  // ---- shared ---------------------------------------------------------------

  /** Builds `column <op> literal(s)` with per-field literal parsing; any
    * unparsable value ⇒ Left ⇒ skipped, matching the reference's tolerance.
    */
  private def typedCompare(
      target: Column,
      op: CondOp,
      c: Condition,
      mkVal: String => Option[Any]): Either[String, Column] = {

    def one: Either[String, Any] = c.value match {
      case CondValue.One(v) if v != null && v.nonEmpty =>
        mkVal(v).toRight(s"unparsable value '$v'")
      case CondValue.One(_) => Left("missing value")
      case CondValue.Many(_) => Left("list value for scalar operator")
    }

    op match {
      case CondOp.Gt  => one.map(v => target > lit(v))
      case CondOp.Lt  => one.map(v => target < lit(v))
      case CondOp.Eq  => one.map(v => target === lit(v))
      case CondOp.Geq => one.map(v => target >= lit(v))
      case CondOp.Leq => one.map(v => target <= lit(v))
      case CondOp.Neq => one.map(v => target =!= lit(v))
      case CondOp.Between =>
        for {
          lo <- one
          hiS <- c.value2.filter(_.nonEmpty).toRight("BETWEEN needs value2")
          hi <- mkVal(hiS).toRight(s"unparsable value2 '$hiS'")
        } yield target.between(lit(lo), lit(hi))
      case CondOp.In | CondOp.NotIn =>
        c.value match {
          case CondValue.Many(vs) if vs.nonEmpty =>
            val vals = vs.flatMap(mkVal(_))
            if (vals.size != vs.size) Left("unparsable IN list value")
            else {
              val in = target.isin(vals: _*)
              Right(if (op == CondOp.In) in else !in)
            }
          case CondValue.Many(_) => Left("empty IN list")
          case CondValue.One(_)  => Left("IN requires a list value")
        }
    }
  }

  private def parseNum(s: String): Option[Double] =
    try Some(s.trim.toDouble) catch { case _: NumberFormatException => None }
  private def parseInt(s: String): Option[Int] =
    try Some(s.trim.toDouble.toInt) catch { case _: NumberFormatException => None }
  private def parseLong(s: String): Option[Long] =
    try Some(s.trim.toDouble.toLong) catch { case _: NumberFormatException => None }
  private def parseDate(s: String): Option[java.sql.Date] =
    try Some(java.sql.Date.valueOf(s.trim)) catch { case _: IllegalArgumentException => None }
}
