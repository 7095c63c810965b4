package graft.parity

import graft.model._
import graft.operators.{Schedule, SegmentEngine, SegmentRunner}
import graft.plans.{DependencyFinder, Planner}
import graft.sources.SegmentStore
import org.apache.spark.sql.DataFrame

/** The reference's rule lifecycle, kept for behavioural parity only: rules
  * bind the greedy cover ([[ReferenceRunner.planGreedy]]) and refresh one
  * write each by the reference's full-row set operations
  * ([[ReferenceRunner.evaluate]]). The catalog, ordering and commit steps
  * are [[SegmentRunner]]'s.
  */
final class ReferenceRunner(store: SegmentStore, tx: () => DataFrame) {

  def createRule(name: String, conditions: Seq[Condition]): (Long, SegmentPlan) =
    SegmentRunner.create(store, name, conditions, Schedule.Daily, isActive = true)(
      ReferenceRunner.planGreedy)

  def runAll(refreshedAt: String): Map[Long, Long] =
    refresh(refreshedAt)(SegmentRunner.runnable(store, _)(_.isActive))

  /** A tick that never re-arms (scheduler.py:62-133): once a rule's arm
    * time has passed it re-runs on every tick.
    */
  def runDue(now: String): Map[Long, Long] = refresh(now)(SegmentRunner.due(store, _, now))

  private def refresh(at: String)(pick: Seq[SegmentCatalogEntry] => Seq[Long]) = {
    val catalog = store.loadCatalog()
    val byId = catalog.map(e => e.ruleId -> e).toMap
    lazy val view = tx()
    SegmentRunner.publish(store, pick(catalog), at, rearm = false) { id =>
      val plan = Planner.planStored(SegmentRunner.asRule(byId(id)))
      Seq(id -> store.write(id, ReferenceRunner.evaluate(plan, view, store.read, keyed = false)))
    }
  }
}

object ReferenceRunner {

  /** The reference's plan for a new rule (rules.py:27-37): the greedy cover
    * of [[DependencyFinder]], Base when no cover consumes a condition.
    */
  def planGreedy(conditions: Seq[Condition], existing: Seq[Rule]): SegmentPlan =
    DependencyFinder.findBestDependency(conditions, existing) match {
      case Some(d) => SegmentPlan.Compound(d.dependencyRuleIds, d.operation, d.remaining)
      case None    => SegmentPlan.Base(conditions)
    }

  /** A plan as the reference dispatches it (spark_processor.py:63-119): a
    * Compound plan's parents combine by its set operation, keyed or
    * full-row ([[SegmentOps.combine]]), and its residual is dropped (SURVEY
    * Q5/R4-R5). One parent passes through, a deviation from the reference's
    * abort ([[requireTwoParents]]); none is an error.
    */
  def evaluate(plan: SegmentPlan, tx: => DataFrame, loadParent: Long => DataFrame,
      keyed: Boolean): DataFrame =
    plan match {
      case SegmentPlan.Base(conds) => SegmentEngine.materializeBase(tx, conds)
      case SegmentPlan.Compound(parents, op, _) =>
        require(parents.nonEmpty, "Compound rule resolved no parent segments")
        SegmentOps.combine(op, parents.map(loadParent), keyed)
    }

  /** `plan`, past the reference's abort (spark_processor.py:92-94): a
    * Compound plan with fewer than two parents fails, whatever its residual.
    */
  def requireTwoParents(plan: SegmentPlan): SegmentPlan = plan match {
    case SegmentPlan.Compound(parents, _, _) if parents.size < 2 =>
      throw new IllegalArgumentException(s"Compound rule resolved ${parents.size} parent " +
        "segments (< 2); the reference aborts here")
    case _ => plan
  }
}
