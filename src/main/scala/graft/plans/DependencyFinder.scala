package graft.plans

import graft.model._

/** The reference's segment-reuse rewrite, kept for reference parity (the
  * parity runner's `planGreedy`): greedily expresses a new rule as an
  * INTERSECTION of already-materialized segments whose condition-sets are
  * subsets of the new rule's, leaving only residual conditions for fresh
  * computation (reference: backend/app/utils/dependency_finder.py:19-74).
  *
  * The cover is not exact: a WHERE condition filters transactions before
  * the per-user aggregate, so neither it nor a HAVING bound distributes
  * over an intersection of per-user segments ({amount > 500} ∩ {tier = 1}
  * keeps a user whose only transaction over 500 is in another tier). The
  * default path reuses a segment only where the result is exact
  * ([[Planner.planNew]]).
  *
  * Determinism: candidates are ordered by condition-count descending
  * (reference dependency_finder.py:38 sorts by json_array_length desc) with
  * rule-id ascending as the tie-break, so plans are reproducible
  * (SURVEY §7.4 item 5).
  */
object DependencyFinder {

  final case class Detection(
      dependencyRuleIds: Seq[Long],
      operation: SetOp,
      remaining: Seq[Condition])

  /** Canonical form: order-insensitive set of conditions
    * (reference dependency_finder.py:9-17 — dict→sorted tuple; our case
    * classes are already canonical values).
    */
  def canonical(conditions: Seq[Condition]): Set[Condition] = conditions.toSet

  /** Finds the best dependency cover for `conditions` among `existing`
    * rules. A caller re-planning a rule leaves that rule out of `existing`,
    * so it never depends on itself (reference rules.py:162,
    * dependency_finder.py:39-40).
    *
    * Returns Some only if ≥1 dependency was claimed AND the cover consumed
    * ≥1 condition (reference dependency_finder.py:65-71, R3).
    */
  def findBestDependency(conditions: Seq[Condition], existing: Seq[Rule]): Option[Detection] = {
    val target = canonical(conditions)
    if (target.isEmpty) return None

    val candidates = existing
      .filter(_.conditions.nonEmpty)
      .sortBy(r => (-r.conditions.size, r.id))

    var remaining = target
    val claimed = Vector.newBuilder[Long]
    candidates.foreach { r =>
      val cs = canonical(r.conditions)
      if (cs.nonEmpty && cs.subsetOf(remaining)) {
        claimed += r.id
        remaining = remaining -- cs
      }
    }
    val deps = claimed.result()
    if (deps.nonEmpty && remaining.size < target.size)
      // Keep the original ordering of whatever conditions remain.
      Some(Detection(deps, SetOp.Intersection,
        conditions.filter(remaining.contains)))
    else None
  }
}
