package graft.operators

import graft.model._
import graft.plans.Planner
import graft.sources.{RunHistoryEntry, SegmentStore}
import org.apache.spark.sql.DataFrame

/** Top-level rule lifecycle — the engine a user of the reference platform
  * would actually call. Mirrors the two entry points:
  *
  *  - [[createRule]] = `POST /api/v1/rules` (reference
  *    backend/app/api/rules.py:11-70): dependency detection against the
  *    catalog, residual conditions stored on the rule, lineage recorded.
  *  - [[run]] = the scheduler's `execute_rule` → SparkSegmentProcessor
  *    (reference backend/app/processor/spark_processor.py:205-237): plan
  *    dispatch (compound wins over base, Q5), materialization, empty-safe
  *    store write (Q9), row-count + refresh metadata (S7).
  *
  * `refreshedAt` is caller-supplied rather than wall-clock so runs are
  * reproducible.
  */
final class SegmentRunner(
    store: SegmentStore,
    tx: () => DataFrame,
    keyed: Boolean = true,
    residualMode: Planner.ResidualMode = Planner.ApplyResidual,
    mode: ConditionCompiler.Mode = ConditionCompiler.DefaultMode) {

  private def asRule(e: SegmentCatalogEntry): Rule =
    Rule(e.ruleId, e.segmentName, e.conditions,
      schedule = e.schedule, isActive = e.isActive,
      dependencies = e.dependsOn,
      operation = e.operation.flatMap(SetOp.parse))

  /** The reference writes the literal string `COMPOUND_OPERATION:<op>` into
    * the catalog's sql_query column for compound rules
    * (reference: backend/app/api/rules.py:211) — a display sentinel, never
    * consulted by dispatch (the structured depends_on/operation fields
    * govern, Q5). Reproduced verbatim against our stored lowercase op so a
    * catalog listing round-trips like the reference's.
    */
  private def compoundSentinel(op: SetOp): Option[String] =
    Some(s"COMPOUND_OPERATION:${op.toString.toLowerCase}")

  /** The catalog fields a plan decides: stored conditions (the residual
    * for a compound rule), parents, operation and display SQL.
    */
  private def withPlan(e: SegmentCatalogEntry, plan: SegmentPlan): SegmentCatalogEntry =
    plan match {
      case SegmentPlan.Base(cs) =>
        e.copy(conditions = cs, dependsOn = Nil, operation = None,
          sqlQuery = Some(ReferenceSql.generateSegmentSql(cs)))
      case SegmentPlan.Compound(parents, op, residual) =>
        e.copy(conditions = residual, dependsOn = parents,
          operation = Some(op.toString.toLowerCase), sqlQuery = compoundSentinel(op))
    }

  /** Create + catalog a rule. Returns its id and the plan that was bound.
    * Like the reference, the rule keeps only the conditions the dependency
    * cover did NOT consume (reference rules.py:40-50). `schedule` and
    * `isActive` govern scheduled execution ([[runAll]]/[[runDue]]). Id
    * assignment and dependency detection run inside the catalog
    * transaction, so concurrent creates get distinct ids.
    */
  def createRule(name: String, conditions: Seq[Condition],
      schedule: String = Schedule.Daily, isActive: Boolean = true): (Long, SegmentPlan) =
    store.modifyCatalog { catalog =>
      val id = catalog.map(_.ruleId).maxOption.getOrElse(0L) + 1L
      val plan = Planner.planNew(conditions, catalog.map(asRule))
      val entry = withPlan(SegmentCatalogEntry(id, name, s"segment_output_$id", Nil, Nil, None,
        schedule = schedule, isActive = isActive), plan)
      (catalog :+ entry, (id, plan))
    }

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
    */
  def setActive(ruleId: Long, active: Boolean): Unit =
    store.modifyCatalog(catalog => (catalog.map(e =>
      if (e.ruleId == ruleId) e.copy(isActive = active) else e), ()))

  /** Delete a rule: catalog row + materialized segment dir
    * (`DELETE /rules/<id>`, reference rules.py:128-151).
    *
    * Documented deviation: the reference deletes blindly, leaving
    * dependents' `depends_on` dangling (their next run dies on a missing
    * parent table). Here a delete with live dependents throws unless
    * `force = true` — at scale a dangling parent takes down every dependent
    * refresh, so the guard is the safe default and `force` replicates the
    * reference's behavior.
    */
  def deleteRule(ruleId: Long, force: Boolean = false): Unit = {
    store.modifyCatalog { catalog =>
      require(catalog.exists(_.ruleId == ruleId), s"rule $ruleId not in catalog")
      val dependents = catalog.filter(_.dependsOn.contains(ruleId)).map(_.ruleId)
      require(force || dependents.isEmpty,
        s"rule $ruleId has dependents ${dependents.mkString(",")}; " +
          "re-plan or delete them first (or pass force = true)")
      (catalog.filterNot(_.ruleId == ruleId), ())
    }
    store.delete(ruleId)
  }

  /** Update a rule's conditions: re-runs dependency detection excluding the
    * rule itself (reference rules.py:154-225, R7).
    */
  def updateRule(ruleId: Long, conditions: Seq[Condition]): SegmentPlan =
    store.modifyCatalog { catalog =>
      val plan = Planner.planNew(conditions, catalog.filter(_.ruleId != ruleId).map(asRule))
      (catalog.map(e => if (e.ruleId == ruleId) withPlan(e, plan) else e), plan)
    }

  /** Materialize one rule into the store; returns the row count written.
    * Parents must already be materialized (like the reference, which loads
    * `segment_output_<id>` tables and aborts when fewer than two exist).
    */
  def run(ruleId: Long, refreshedAt: String): Long = {
    val catalog = store.loadCatalog()
    if (!catalog.exists(_.ruleId == ruleId))
      throw new NoSuchElementException(s"rule $ruleId not in catalog")
    refresh(catalog, Seq(ruleId), refreshedAt, rearm = false)(ruleId)
  }

  /** Materialize every ACTIVE cataloged rule, parents before dependents
    * (the reference scheduler only ever arms `is_active` rules —
    * scheduler.py:28,50). Dependents of an inactive parent still run,
    * reading the parent's last materialized parquet, exactly as the
    * reference's execute path loads stored `segment_output_<id>` tables.
    */
  def runAll(refreshedAt: String): Map[Long, Long] = {
    val catalog = store.loadCatalog()
    refresh(catalog, runnable(catalog)(_.isActive), refreshedAt, rearm = false)
  }

  /** Scheduler tick: run every active rule whose `nextRunAt` has arrived
    * (never-armed rules are due immediately, like the reference's init
    * snap-to-now), then re-arm it per its cadence —
    * `Schedule.calculateNextRun` (see the deviation note there: the
    * reference computes cadence but never re-arms after a run). The
    * refreshed rules' row counts, refresh stamps and re-arms land in ONE
    * catalog transaction after the tick, and their history rows in one
    * append, so the control-plane I/O stays O(rules), not O(rules²). A
    * crash mid-batch leaves the segments rewritten so far with their
    * previous `rowCount` and not re-armed (still due), so the next tick
    * re-runs them idempotently; a rule that throws still commits the rules
    * refreshed before it, then the exception propagates.
    *
    * Pass `faithfulSchedule = true` to reproduce the reference scheduler
    * EXACTLY (backend/app/core/scheduler.py:62-133): `execute_rule`
    * updates only `last_run_at`, never `next_run_at`, so once a rule's
    * arm time has passed it stays due and re-runs on EVERY tick —
    * `calculate_next_run` exists but is unreachable. The default
    * implements the evident intent (cadence actually governs re-runs);
    * the flag exists for byte-for-byte behavioral parity, same pattern
    * as `Planner.evaluate(faithfulParentGuard)` and the faithful set-op /
    * string-date modes.
    */
  def runDue(now: String, faithfulSchedule: Boolean = false): Map[Long, Long] = {
    java.time.Instant.parse(now) // validate once, fail fast with a clear cause
    val catalog = store.loadCatalog()
    refresh(catalog, runnable(catalog)(e => e.isActive && Schedule.isDue(e.nextRunAt, now)),
      now, rearm = !faithfulSchedule)
  }

  /** Evaluate and write each rule of `ids` (in order, planned from
    * `catalog`), then [[commit]] the batch — also when a rule throws, so the
    * rules refreshed before it are kept.
    */
  private def refresh(catalog: Seq[SegmentCatalogEntry], ids: Seq[Long],
      at: String, rearm: Boolean): Map[Long, Long] = {
    val byId = catalog.map(e => e.ruleId -> e).toMap
    var done = Vector.empty[(Long, Long)]
    try ids.foreach { id =>
      val plan = Planner.planStored(asRule(byId(id)))
      // write() handles the empty case (canonical-schema empty parquet, Q9);
      // probing emptiness first would execute the whole DAG twice.
      done :+= id -> store.write(id,
        Planner.evaluate(plan, tx(), store.read, keyed, residualMode, mode))
    } finally commit(done, at, rearm)
    done.toMap
  }

  /** One catalog transaction sets each refreshed rule's row count (S7),
    * refresh stamp and, when `rearm`, next arm time on the catalog as it is
    * under the lock; one history append records the whole batch.
    */
  private def commit(counts: Seq[(Long, Long)], at: String, rearm: Boolean): Unit =
    if (counts.nonEmpty) {
      val rows = counts.toMap
      store.modifyCatalog(catalog => (catalog.map(e => rows.get(e.ruleId).fold(e)(n =>
        e.copy(rowCount = n, lastRefreshedAt = Some(at),
          nextRunAt = if (rearm) Some(Schedule.calculateNextRun(e.schedule, at))
                      else e.nextRunAt))), ()))
      // growth-over-runs observability (the catalog keeps only the latest)
      store.appendRunHistory(counts.map { case (id, n) => RunHistoryEntry(id, at, n) })
    }

  /** Rules picked by `pick`, parents before dependents, minus those whose
    * parents were never materialized (inactive/not-due parents keep serving
    * their LAST stored parquet, but a parent with no store at all cannot be
    * read — the reference logs that rule's failure and continues; aborting
    * the whole batch mid-way would strand the rules already refreshed). A
    * rule runnable this batch counts as materialized for its dependents.
    */
  private def runnable(catalog: Seq[SegmentCatalogEntry])(
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
