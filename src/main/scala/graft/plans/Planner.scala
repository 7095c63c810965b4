package graft.plans

import graft.model._
import graft.operators.{ConditionCompiler, SegmentEngine, SegmentOps}
import org.apache.spark.sql.DataFrame

/** Binds rules to execution plans and evaluates them
  * (reference: backend/app/api/rules.py:27-66 for plan build,
  * backend/app/processor/spark_processor.py:63-119 for dispatch).
  *
  * Precedence (SURVEY Q5): a rule carrying dependencies + operation is
  * Compound even if it also has (vacuous) base conditions — the reference
  * checks `depends_on && operation` before `sql_query`.
  */
object Planner {

  /** Plan a brand-new rule: run dependency detection against existing rules
    * (reference rules.py:27-37). Falls back to Base when no useful cover.
    */
  def planNew(conditions: Seq[Condition], existing: Seq[Rule]): SegmentPlan =
    DependencyFinder.findBestDependency(conditions, existing) match {
      case Some(d) => SegmentPlan.Compound(d.dependencyRuleIds, d.operation, d.remaining)
      case None    => SegmentPlan.Base(conditions)
    }

  /** Offline re-analysis (R9): re-classify every rule as base vs composite
    * by exact condition-set composition — a rule becomes Compound only when
    * some other rules' condition-sets together equal its own exactly
    * (reference: backend/update_segment_query.py:43-89, `combined ==
    * conditions` at :55-75). Unlike [[planNew]], partial covers do NOT
    * qualify.
    */
  def reclassifyAll(rules: Seq[Rule]): Map[Long, SegmentPlan] = {
    val canonicalById: Map[Long, Set[Condition]] =
      rules.map(r => r.id -> DependencyFinder.canonical(r.conditions)).toMap
    rules.map { r =>
      val target = canonicalById(r.id)
      // Rules with the SAME condition set would otherwise classify as
      // composites of each other (an unevaluatable cycle); only the
      // higher-id twin may depend on the lower-id one.
      val candidates = rules.filter(o =>
        canonicalById(o.id) != target || o.id < r.id)
      val plan = DependencyFinder.findBestDependency(
          r.conditions, candidates, excludeRuleId = Some(r.id)) match {
        case Some(d) if d.remaining.isEmpty =>
          SegmentPlan.Compound(d.dependencyRuleIds, d.operation, Nil)
        case _ => SegmentPlan.Base(r.conditions)
      }
      r.id -> plan
    }.toMap
  }

  /** Plan an already-stored rule (dispatch-time view, R5). */
  def planStored(rule: Rule): SegmentPlan =
    (rule.dependencies, rule.operation) match {
      case (deps, Some(op)) if deps.nonEmpty => SegmentPlan.Compound(deps, op, rule.conditions)
      case _                                 => SegmentPlan.Base(rule.conditions)
    }

  /** Evaluation semantics for the residual conditions a compound plan
    * carries. The reference generates SQL for the residual but then ignores
    * it at dispatch time (SURVEY Q5/R4-R5) — `DropResidual` reproduces that;
    * `ApplyResidual` (default) also intersects with the residual-condition
    * segment, which is what the rewrite logically promises.
    */
  sealed trait ResidualMode
  case object ApplyResidual extends ResidualMode
  case object DropResidual  extends ResidualMode

  /** Evaluate a plan. `loadParent` resolves a parent rule id to its
    * materialized segment (from the SegmentStore, or recomputed).
    * A compound plan that resolves to a single input passes it through
    * unchanged; only zero inputs is an error (deliberate deviation from the
    * reference's ≥2 abort, U6 — see the inline comment below). Set
    * `faithfulParentGuard = true` to reproduce the reference exactly:
    * a compound rule with fewer than two resolved PARENT segments aborts
    * (spark_processor.py:92-94 counts `parent_segment_dfs` only — the
    * residual never joins that list, so it must not rescue the count
    * here either) — the flag-gated faithful mode, like Q1's set-op
    * semantics.
    */
  def evaluate(
      plan: SegmentPlan,
      tx: => DataFrame,
      loadParent: Long => DataFrame,
      keyed: Boolean = true,
      residualMode: ResidualMode = ApplyResidual,
      faithfulParentGuard: Boolean = false): DataFrame =
    plan match {
      case SegmentPlan.Base(conds) =>
        SegmentEngine.materializeBase(tx, conds)
      case SegmentPlan.Compound(parents, op, residual) =>
        val parentDfs = parents.map(loadParent)
        val inputs = residualMode match {
          case ApplyResidual if residual.nonEmpty =>
            val compiled = ConditionCompiler.compile(residual)
            if (compiled.isVacuous) parentDfs
            else parentDfs :+ SegmentEngine.materializeCompiled(tx, compiled)
          case _ => parentDfs
        }
        // A single resolved input (rule exactly covered by one existing
        // segment) passes through — it IS that segment. The reference
        // aborts here instead (spark_processor.py:92-94); treating its
        // error path as an error, not a semantic, is a deliberate
        // deviation — opt into the reference behavior per call with
        // `faithfulParentGuard`.
        if (faithfulParentGuard)
          require(parentDfs.size >= 2,
            s"Compound rule resolved ${parentDfs.size} parent segments (< 2); " +
              "the reference aborts here (spark_processor.py:92-94)")
        require(inputs.nonEmpty, "Compound rule resolved no parent segments")
        SegmentOps.combine(op, inputs, keyed)
    }
}
