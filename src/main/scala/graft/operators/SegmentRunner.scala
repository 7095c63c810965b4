package graft.operators

import graft.model._
import graft.plans.Planner
import graft.sources.{RunHistoryEntry, SegmentStore}
import org.apache.spark.sql.DataFrame

/** Top-level rule lifecycle — the engine a user of the reference platform
  * would actually call. Mirrors the two entry points:
  *
  *  - [[createRule]] = `POST /api/v1/rules` (reference
  *    backend/app/api/rules.py:11-70): reuse detection against the
  *    catalog, submitted conditions stored on the rule, lineage recorded.
  *  - [[run]] = the scheduler's `execute_rule` → SparkSegmentProcessor
  *    (reference backend/app/processor/spark_processor.py:205-237): plan
  *    dispatch (compound wins over base, Q5), materialization, empty-safe
  *    store write (Q9), row-count + refresh metadata (S7).
  *
  * Rules reuse stored segments exactly ([[Planner.planNew]]): a Compound
  * rule is a HAVING filter over one parent's parquet and reads no `tx`.
  * The runner refuses to refresh a Compound rule that is not exact reuse
  * of its parent: one the reference's greedy cover bound.
  *
  * `refreshedAt` is caller-supplied rather than wall-clock so runs are
  * reproducible. A refresh batch calls `tx` at most once, so all of its
  * rules see one listing of the view, a consistent snapshot no rule re-lists.
  * It writes each WHERE set once: a Compound rule whose parent is in the
  * batch publishes from its parent's write.
  */
final class SegmentRunner(store: SegmentStore, tx: () => DataFrame) {
  import SegmentRunner._

  /** Create + catalog a rule. Returns its id and the plan that was bound.
    * Deviation: the rule keeps its submitted conditions, not only those
    * the cover left over (reference rules.py:40-50), so later rules match
    * against what each stored segment means. `schedule` and
    * `isActive` govern scheduled execution ([[runAll]]/[[runDue]]). Id
    * assignment and reuse detection run inside the catalog
    * transaction, so concurrent creates get distinct ids. Ids are never
    * reused: a new rule takes one past the catalog's high-water mark, not
    * past its current highest id, so a deleted rule's run history never
    * passes to its successor.
    */
  def createRule(name: String, conditions: Seq[Condition],
      schedule: String = Schedule.Daily, isActive: Boolean = true): (Long, SegmentPlan) =
    create(store, name, conditions, schedule, isActive)(Planner.planNew)

  /** List cataloged rules, paginated like the reference's
    * `GET /api/v1/rules` (reference rules.py:83-107; 1-based pages).
    */
  def listRules(page: Int = 1, perPage: Int = 10): Seq[SegmentCatalogEntry] = {
    require(page >= 1 && perPage >= 1, s"bad page spec ($page, $perPage)")
    store.loadCatalog().slice((page - 1) * perPage, page * perPage)
  }

  def getRule(ruleId: Long): Option[SegmentCatalogEntry] =
    store.loadCatalog().find(_.ruleId == ruleId)

  /** Flip a rule's active flag (`PUT /rules/<id>` with `is_active`,
    * reference rules.py:176). Inactive rules are skipped by
    * [[runAll]]/[[runDue]] but stay in the catalog and keep their data.
    * An id not in the catalog is refused and nothing is written.
    */
  def setActive(ruleId: Long, active: Boolean): Unit =
    store.modifyCatalog { catalog =>
      requireRule(catalog.rules, ruleId)
      (catalog.rules.map(e => if (e.ruleId == ruleId) e.copy(isActive = active) else e), ())
    }

  /** Delete a rule: catalog row + materialized segment dir
    * (`DELETE /rules/<id>`, reference rules.py:128-151).
    *
    * Documented deviation: the reference deletes blindly, leaving
    * dependents' `depends_on` dangling (their next run dies on a missing
    * parent table). Here a delete with live dependents throws — at scale a
    * dangling parent takes down every dependent refresh.
    */
  def deleteRule(ruleId: Long): Unit = {
    store.modifyCatalog { catalog =>
      require(catalog.rules.exists(_.ruleId == ruleId), s"rule $ruleId not in catalog")
      val dependents = catalog.rules.filter(_.dependsOn.contains(ruleId)).map(_.ruleId)
      require(dependents.isEmpty,
        s"rule $ruleId has dependents ${dependents.mkString(",")}; " +
          "re-plan or delete them first")
      (catalog.rules.filterNot(_.ruleId == ruleId), ())
    }
    store.delete(ruleId)
  }

  /** Update a rule's conditions: re-runs reuse detection excluding the
    * rule itself (reference rules.py:154-225, R7). Deviation: a rule with
    * dependents is refused, like [[deleteRule]]'s guard (the reference
    * updates it in place, which changes what its dependents mean and may
    * bind it onto one of them: a cycle [[runAll]] throws on). An id not in
    * the catalog is refused and nothing is written.
    */
  def updateRule(ruleId: Long, conditions: Seq[Condition]): SegmentPlan =
    store.modifyCatalog { catalog =>
      requireRule(catalog.rules, ruleId)
      val dependents = catalog.rules.filter(_.dependsOn.contains(ruleId)).map(_.ruleId)
      require(dependents.isEmpty, s"rule $ruleId has dependents ${dependents.mkString(",")}; " +
        "re-plan or delete them first")
      val p = Planner.planNew(conditions, catalog.rules.filter(_.ruleId != ruleId).map(asRule))
      (catalog.rules.map(e => if (e.ruleId == ruleId) withPlan(e, conditions, p) else e), p)
    }

  /** Materialize one rule into the store; returns the row count written.
    * Parents must already be materialized (like the reference, which loads
    * `segment_output_<id>` tables and aborts when fewer than two exist).
    */
  def run(ruleId: Long, refreshedAt: String): Long =
    refresh(refreshedAt, rearm = false) { catalog =>
      requireRule(catalog, ruleId)
      Seq(ruleId)
    }(ruleId)

  /** Materialize every ACTIVE cataloged rule, parents before dependents
    * (the reference scheduler only ever arms `is_active` rules —
    * scheduler.py:28,50). Dependents of an inactive parent still run,
    * reading the parent's last materialized parquet, exactly as the
    * reference's execute path loads stored `segment_output_<id>` tables.
    */
  def runAll(refreshedAt: String): Map[Long, Long] =
    refresh(refreshedAt, rearm = false)(runnable(store, _)(_.isActive))

  /** Scheduler tick: run every active rule whose `nextRunAt` has arrived
    * (never-armed rules are due immediately, like the reference's init
    * snap-to-now), then re-arm it per its cadence —
    * `Schedule.calculateNextRun` (see the deviation note there: the
    * reference computes cadence but never re-arms after a run). The
    * refreshed rules' row counts, refresh stamps and re-arms land in ONE
    * catalog transaction after the tick, and their history rows in one
    * file, so the control-plane I/O stays O(rules), not O(rules²). A
    * crash mid-batch leaves the segments rewritten so far with their
    * previous `rowCount` and not re-armed (still due), so the next tick
    * re-runs them idempotently; a rule that throws still commits the rules
    * refreshed before it, then the exception propagates.
    */
  def runDue(now: String): Map[Long, Long] = refresh(now, rearm = true)(due(store, _, now))

  /** Evaluate and write the rules `pick` takes from the catalog (in its
    * order), then commit the batch ([[SegmentRunner.publish]]). The rules
    * share one view, built on first use (its plan, not its data: nothing is
    * cached).
    *
    * A rule joins its parent's group when both are in the batch, and every
    * group, one rule or more, is evaluated the same way: each member is the
    * rows of the group's source that its own HAVING set keeps
    * ([[SegmentEngine.keeps]]). The source is the per-user aggregate of a
    * Base root's WHERE set, or the stored segment of a Compound root's
    * parent. One [[SegmentStore.writeGroup]] call publishes the group, and
    * the store picks its write.
    */
  private def refresh(at: String, rearm: Boolean)(
      pick: Seq[SegmentCatalogEntry] => Seq[Long]): Map[Long, Long] = {
    val catalog = store.loadCatalog()
    val ids = pick(catalog)
    val byId = catalog.map(e => e.ruleId -> e).toMap
    val plans = ids.map(id => id -> Planner.planStored(asRule(byId(id)))).toMap
    val rootOf = collection.mutable.Map.empty[Long, Long]
    val groups = collection.mutable.LinkedHashMap.empty[Long, Vector[Long]]
    ids.foreach { id =>
      val root = exactParent(plans(id), byId).flatMap(rootOf.get).getOrElse(id)
      rootOf(id) = root
      groups(root) = groups.getOrElse(root, Vector.empty) :+ id
    }
    lazy val view = tx()
    def compiled(id: Long) = ConditionCompiler.compile(byId(id).conditions)
    // the writes handle the empty case (canonical-schema empty parquet, Q9);
    // probing emptiness first would execute the whole DAG twice.
    publish(store, groups.toSeq, at, rearm) { case (root, members) =>
      members.foreach(id => requireExact(id, plans(id), byId))
      val source = exactParent(plans(root), byId)
        .fold(SegmentEngine.aggregate(view, compiled(root).where))(store.read)
      store.writeGroup(source, members.map(id => id -> SegmentEngine.keeps(compiled(id).having)))
    }
  }

  /** The parent a Compound plan is exact reuse of ([[Planner.serves]]). */
  private def exactParent(plan: SegmentPlan, byId: Map[Long, SegmentCatalogEntry]): Option[Long] =
    plan match {
      case SegmentPlan.Compound(Seq(p), SetOp.Intersection, conds)
          if byId.get(p).exists(e => Planner.serves(e.conditions, conds)) => Some(p)
      case _ => None
    }

  /** Refuse a Compound plan that is not exact reuse of its one parent: a
    * binding the reference's greedy cover stored, which exact evaluation
    * would misread (a single parent's whole segment, minus the rule's WHERE
    * conditions the parent lacks).
    */
  private def requireExact(id: Long, plan: SegmentPlan,
      byId: Map[Long, SegmentCatalogEntry]): Unit = plan match {
    case SegmentPlan.Compound(parents, _, _) if exactParent(plan, byId).isEmpty =>
      throw new IllegalStateException(s"rule $id is bound to rules ${parents.mkString(",")} " +
        "by the reference's greedy cover, not by exact reuse; refresh it with the " +
        "reference runner or update its conditions")
    case _ =>
  }
}

/** The catalog, ordering and commit steps of a rule's lifecycle, shared
  * with the reference-parity runner so both keep one catalog the same way.
  */
object SegmentRunner {

  private[graft] def asRule(e: SegmentCatalogEntry): Rule =
    Rule(e.ruleId, e.segmentName, e.conditions,
      schedule = e.schedule, isActive = e.isActive,
      dependencies = e.dependsOn,
      operation = e.operation.flatMap(SetOp.parse))

  private def requireRule(catalog: Seq[SegmentCatalogEntry], ruleId: Long): Unit =
    if (!catalog.exists(_.ruleId == ruleId))
      throw new NoSuchElementException(s"rule $ruleId not in catalog")

  /** Catalog a new rule bound by `plan` ([[SegmentRunner.createRule]]). */
  private[graft] def create(store: SegmentStore, name: String, conditions: Seq[Condition],
      schedule: String, isActive: Boolean)(
      plan: (Seq[Condition], Seq[Rule]) => SegmentPlan): (Long, SegmentPlan) =
    store.modifyCatalog { catalog =>
      val id = catalog.nextRuleId
      val p = plan(conditions, catalog.rules.map(asRule))
      val entry = withPlan(SegmentCatalogEntry(id, name, s"segment_output_$id", Nil, Nil, None,
        schedule = schedule, isActive = isActive), conditions, p)
      (catalog.rules :+ entry, (id, p))
    }

  /** The catalog fields a plan decides: the submitted conditions, parents,
    * operation and display SQL.
    */
  private[graft] def withPlan(e: SegmentCatalogEntry, conditions: Seq[Condition],
      plan: SegmentPlan): SegmentCatalogEntry =
    plan match {
      case SegmentPlan.Base(_) =>
        e.copy(conditions = conditions, dependsOn = Nil, operation = None,
          sqlQuery = Some(ReferenceSql.generateSegmentSql(conditions)))
      case SegmentPlan.Compound(parents, op, _) =>
        // sql_query holds the reference's display sentinel
        // `COMPOUND_OPERATION:<op>` (rules.py:211); dispatch never reads it (Q5)
        val name = op.toString.toLowerCase
        e.copy(conditions = conditions, dependsOn = parents,
          operation = Some(name), sqlQuery = Some(s"COMPOUND_OPERATION:$name"))
    }

  /** The active rules due at `now`, parents first ([[runnable]]). */
  private[graft] def due(store: SegmentStore, catalog: Seq[SegmentCatalogEntry],
      now: String): Seq[Long] = {
    java.time.Instant.parse(now) // validate once, fail fast with a clear cause
    runnable(store, catalog)(e => e.isActive && Schedule.isDue(e.nextRunAt, now))
  }

  /** Write each unit of a batch (`write` returns the row counts it
    * published), then commit what was written, also when a unit throws, so
    * the rules refreshed before it are kept: one catalog transaction sets
    * each rule's row count (S7), refresh stamp and, when `rearm`, next arm
    * time on the catalog as it is under the lock, and one driver-written
    * history file records the batch.
    */
  private[graft] def publish[U](store: SegmentStore, units: Seq[U], at: String,
      rearm: Boolean)(write: U => Seq[(Long, Long)]): Map[Long, Long] = {
    var done = Vector.empty[(Long, Long)]
    try units.foreach(u => done ++= write(u))
    finally if (done.nonEmpty) {
      val rows = done.toMap
      store.modifyCatalog(catalog => (catalog.rules.map(e => rows.get(e.ruleId).fold(e)(n =>
        e.copy(rowCount = n, lastRefreshedAt = Some(at),
          nextRunAt = if (rearm) Some(Schedule.calculateNextRun(e.schedule, at))
                      else e.nextRunAt))), ()))
      // growth-over-runs observability (the catalog keeps only the latest)
      store.appendRunHistory(done.map { case (id, n) => RunHistoryEntry(id, at, n) })
    }
    done.toMap
  }

  /** Rules picked by `pick`, parents before dependents, minus those whose
    * parents were never materialized (inactive/not-due parents keep serving
    * their LAST stored parquet, but a parent with no store at all cannot be
    * read — the reference logs that rule's failure and continues; aborting
    * the whole batch mid-way would strand the rules already refreshed). A
    * rule runnable this batch counts as materialized for its dependents.
    */
  private[graft] def runnable(store: SegmentStore, catalog: Seq[SegmentCatalogEntry])(
      pick: SegmentCatalogEntry => Boolean): Seq[Long] = {
    val byId = catalog.map(e => e.ruleId -> e).toMap
    val available = collection.mutable.Set.empty[Long]
    topoOrder(catalog).filter { id =>
      val ok = pick(byId(id)) &&
        byId(id).dependsOn.forall(p => available(p) || store.exists(p))
      if (ok) available += id
      ok
    }
  }

  private def topoOrder(catalog: Seq[SegmentCatalogEntry]): Seq[Long] = {
    val byId = catalog.map(e => e.ruleId -> e).toMap
    val visited = collection.mutable.LinkedHashSet.empty[Long]
    def visit(id: Long, stack: Set[Long]): Unit = {
      if (visited.contains(id)) return
      require(!stack.contains(id), s"dependency cycle at rule $id")
      byId(id).dependsOn.foreach { p =>
        // fail loudly, naming the declaring rule — silently skipping the
        // dependent would read stale or missing parent parquet mid-batch
        require(byId.contains(p), s"rule $id depends on missing rule $p")
        visit(p, stack + id)
      }
      visited += id
    }
    catalog.foreach(e => visit(e.ruleId, Set.empty))
    visited.toSeq
  }
}
