package graft.operators

import graft.model._
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, EvalMode, ExprId,
  Literal, MakeDecimal, NumericEvalContext, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Materializes a base rule into the canonical segment shape:
  * filter → groupBy(user_id) → (count, exact sum, distinct type set)
  * ([[aggregate]]) → having → null guard.
  *
  * The reference pushes this whole pipeline as generated SQL into SQLite
  * (reference: backend/app/utils/rule_parser.py:96-136,
  * backend/app/processor/spark_processor.py:104-112); here Spark computes it
  * natively: the WHERE predicate reaches the parquet scan (predicate
  * pushdown), the aggregation runs as a partial+final `HashAggregate` (one
  * shuffle on user_id), and HAVING is a post-agg filter.
  *
  * Every aggregate buffer is fixed-width, so Spark plans its codegen
  * `HashAggregate` (a `collect_set` buffer would force `ObjectHashAggregate`,
  * which falls back to sort-based aggregation past 128 keys):
  *  - `SUM(amount)` is a long sum of each amount's `DECIMAL(18,6)` unscaled
  *    value (micro-units, rounded HALF_UP as `cast(double as decimal)`
  *    rounds), so it is exact and partitioning-order independent. It is
  *    rounded to 2dp like the reference's outputs and surfaced as DOUBLE
  *    (`Tables.moneyOut`, the cross-engine rendering convention). The cast
  *    and the sum always evaluate in ANSI mode, so the domain is
  *    |amount| < 1e12 and a per-user total below about 9.2e12 (2^63 micro-
  *    units); outside it the query raises, in every session, and never
  *    returns null or a wrapped value. `SegmentStream` has the same domain.
  *  - `GROUP_CONCAT(DISTINCT …)` is nondeterministic in SQLite (SURVEY Q3);
  *    we canonicalize to the names sorted in byte order, comma-joined, as
  *    `sort_array(collect_set(...))` would. Each transaction type name is
  *    one bit of a long, OR-ed per user and decoded after the aggregate, so
  *    a view holds at most 63 names ([[typeNames]]).
  */
object SegmentEngine {

  /** Compile + evaluate a base rule over a unified transaction view. */
  def materializeBase(
      tx: DataFrame,
      conditions: Seq[Condition],
      mode: ConditionCompiler.Mode = ConditionCompiler.DefaultMode): DataFrame = {
    val compiled = ConditionCompiler.compile(conditions, mode)
    materializeCompiled(tx, compiled)
  }

  def materializeCompiled(tx: DataFrame, compiled: ConditionCompiler.Compiled): DataFrame = {
    val agged = aggregate(tx, compiled.where)
    // HAVING, then the null guard, as two filters: the optimizer then folds
    // the type-name decoding into the aggregate (one filter over the
    // decoding projection keeps it a separate operator)
    compiled.having.fold(agged)(agged.filter).filter(col("user_id").isNotNull)
  }

  /** The per-user aggregate of the transactions `where` passes, before any
    * HAVING: every rule of one WHERE set selects its users from it.
    */
  def aggregate(tx: DataFrame, where: Option[Column]): DataFrame = {
    val names = typeNames(tx)
    val tt = col("transaction_type")
    val bit = if (names.isEmpty) lit(null).cast(LongType)
      else names.indices.tail.foldLeft(when(tt === names.head, 1L))((w, i) =>
        w.when(tt === names(i), 1L << i))
    val mask = col("__type_mask")
    val types = names.indices.map(i => when((mask bitwiseAND (1L << i)) =!= 0L, names(i)))
    where.map(tx.filter).getOrElse(tx)
      .groupBy(col("user_id"))
      .agg(
        count(col("user_id")).as("total_transactions"),
        Tables.moneyOut(sumMicros(col("amount"))).as("total_spent"),
        bit_or(bit).as("__type_mask"))
      .select(col("user_id"), col("total_transactions"), col("total_spent"),
        concat_ws(",", types: _*).as("transaction_types"))
  }

  /** The aggregate rows a rule of HAVING set `having` keeps: those it
    * passes, minus the null user (reference spark_processor.py:112, P5).
    */
  def keeps(having: Option[Column]): Column = {
    val known = col("user_id").isNotNull
    having.fold(known)(_ && known)
  }

  /** Exact sum of `amount` as `DECIMAL(19,6)`: a long sum of micro-units,
    * cast and summed in ANSI mode whatever the session sets.
    */
  private def sumMicros(amount: Column): Column = {
    val ansi = EvalMode.ANSI
    val micros = UnscaledValue(Cast(bridge.expression(amount), DecimalType(18, 6), None, ansi))
    bridge.column(MakeDecimal(Sum(micros, NumericEvalContext(ansi)).toAggregateExpression(), 19, 6))
  }

  /** The non-null `transaction_type` names `tx` can hold, in byte order
    * (the order `sort_array` gives strings). Read from the optimized plan
    * when every branch sets the column to a literal or holds it as local
    * data, so no job runs; else one `distinct` job over the column. More
    * than 63 names is refused.
    */
  private def typeNames(tx: DataFrame): IndexedSeq[String] = {
    val plan = tx.queryExecution.optimizedPlan
    val fromPlan = plan.output.find(_.name.equalsIgnoreCase("transaction_type"))
      .filter(_.dataType == StringType)
      .flatMap(a => literalValues(plan, a.exprId))
    val found = fromPlan.getOrElse(tx.select(col("transaction_type").cast(StringType))
      .distinct().collect().flatMap(r => Option(r.getString(0))).toSet)
    require(found.size <= 63, s"a segment's transaction_type holds at most 63 names; " +
      s"this view holds ${found.size}")
    found.toIndexedSeq.sortBy(UTF8String.fromString)
  }

  /** The non-null string values attribute `id` takes in `plan`, when each is
    * a literal or a local row; None when some branch computes or reads it.
    */
  private def literalValues(plan: LogicalPlan, id: ExprId): Option[Set[String]] = {
    def at(output: Seq[Attribute]): Int = output.indexWhere(_.exprId == id)
    plan match {
      case p: Project => p.projectList.find(_.exprId == id).flatMap {
          case Alias(Literal(v, StringType), _) => Some(Option(v).map(_.toString).toSet)
          case a: Attribute => literalValues(p.child, a.exprId)
          case _ => None
        }
      case u: Union =>
        val i = at(u.output)
        u.children.foldLeft(Option(Set.empty[String]))((acc, c) =>
          acc.zip(literalValues(c, c.output(i).exprId)).map { case (a, b) => a ++ b })
      case l: LocalRelation =>
        val i = at(l.output)
        Some(l.data.filterNot(_.isNullAt(i)).map(_.getUTF8String(i).toString).toSet)
      // values pass through these unchanged (or are dropped / nulled)
      case _: Filter | _: Sort | _: RepartitionOperation | _: GlobalLimit | _: LocalLimit |
           _: Sample | _: Join | _: Deduplicate =>
        plan.children.find(_.outputSet.exists(_.exprId == id)).flatMap(literalValues(_, id))
      case _ => None
    }
  }
}
