package graft.plans

import graft.model._
import graft.operators.{ConditionCompiler, SegmentEngine}
import org.apache.spark.sql.DataFrame

/** Binds rules to execution plans and evaluates them
  * (reference: backend/app/api/rules.py:27-66 for plan build,
  * backend/app/processor/spark_processor.py:63-119 for dispatch).
  *
  * Reuse is exact: a rule R reuses a stored segment S only when both share
  * a WHERE set and S's HAVING set is a subset of R's, the view-matching
  * condition for aggregate views (Goldstein & Larson, SIGMOD 2001). WHERE
  * conditions filter transactions before the per-user aggregate, so S then
  * holds every user R can select with R's own aggregates, and
  * R = σ_having(R)(S): a filter over S's parquet that scans no `events`.
  * The reference's greedy multi-parent cover ([[DependencyFinder]]) and its
  * set-operation evaluation are not this object's: they plan and refresh
  * rules only in the reference-parity runner.
  *
  * Precedence (SURVEY Q5): a rule carrying dependencies + operation is
  * Compound even if it also has base conditions — the reference checks
  * `depends_on && operation` before `sql_query`.
  */
object Planner {

  /** Whether the stored segment of `parent` serves a rule of `conditions`
    * exactly: the same WHERE set, and a subset of its HAVING conditions.
    */
  def serves(parent: Seq[Condition], conditions: Seq[Condition]): Boolean = {
    val (w, h) = parent.toSet.partition(!ConditionCompiler.isHaving(_))
    val (where, having) = conditions.toSet.partition(!ConditionCompiler.isHaving(_))
    w == where && h.subsetOf(having)
  }

  /** Plan a brand-new rule: bind it to the rule in `existing` that
    * [[serves]] it with the largest HAVING set (ties: the lowest id). The
    * plan's residual holds the HAVING conditions that rule lacks. Base when
    * no rule qualifies.
    */
  def planNew(conditions: Seq[Condition], existing: Seq[Rule]): SegmentPlan =
    existing.filter(r => serves(r.conditions, conditions))
      .minByOption(r => (-r.conditions.toSet.count(ConditionCompiler.isHaving), r.id)) match {
      case Some(s) =>
        SegmentPlan.Compound(Seq(s.id), SetOp.Intersection, conditions.filterNot(s.conditions.toSet))
      case None => SegmentPlan.Base(conditions)
    }

  /** Offline re-analysis (R9): re-plan every rule against all the others
    * by the same exact rule as [[planNew]] (reference:
    * backend/update_segment_query.py:43-89 re-classifies by exact
    * condition-set composition). Of two rules with the same condition set,
    * only the higher id may bind the lower, so no two rules bind each
    * other: any other binding strictly grows the HAVING set.
    */
  def reclassifyAll(rules: Seq[Rule]): Map[Long, SegmentPlan] =
    rules.map { r =>
      val own = r.conditions.toSet
      r.id -> planNew(r.conditions,
        rules.filter(o => o.id != r.id && (o.conditions.toSet != own || o.id < r.id)))
    }.toMap

  /** Plan an already-stored rule (dispatch-time view, R5). A Compound
    * plan carries the rule's stored conditions.
    */
  def planStored(rule: Rule): SegmentPlan =
    (rule.dependencies, rule.operation) match {
      case (deps, Some(op)) if deps.nonEmpty => SegmentPlan.Compound(deps, op, rule.conditions)
      case _                                 => SegmentPlan.Base(rule.conditions)
    }

  /** Evaluate a plan. `loadParent` resolves a parent rule id to its
    * materialized segment (from the SegmentStore, or recomputed).
    *
    * A Compound plan is exact reuse: the rows of its one parent that the
    * plan's HAVING conditions keep ([[SegmentEngine.keeps]]), over the
    * segment columns `total_spent` and `total_transactions`; `tx` is not
    * read. One parent is enough: a deliberate deviation from the reference's
    * ≥2-parent abort (U6). A plan of any other shape, such as the greedy
    * cover's, is refused.
    */
  def evaluate(plan: SegmentPlan, tx: => DataFrame, loadParent: Long => DataFrame): DataFrame =
    plan match {
      case SegmentPlan.Base(conds) =>
        SegmentEngine.materializeBase(tx, conds)
      case SegmentPlan.Compound(parents, op, conds) =>
        require(parents.size == 1 && op == SetOp.Intersection,
          s"exact reuse reads one parent by intersection, got $op over " +
            s"${parents.size} parents; a greedy cover evaluates only by set operations")
        SegmentEngine.keeps(ConditionCompiler.compile(conds).having)
          .foldLeft(loadParent(parents.head))(_.filter(_))
    }
}
