package segbench

import graft.model._
import graft.operators.{ConditionCompiler, SegmentEngine, SegmentRunner}
import graft.plans.{DependencyFinder, Planner, RollupServing}
import graft.sources.{SegmentStore, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import Workload.{AnalystSession, RefreshMany, RefreshWide}

/** A stored segment row, for checksumming what the program wrote. */
final case class SegOut(user_id: Long, total_transactions: Long, total_spent: Double,
    transaction_types: String)

/** One workload run: set-up, one warm operation, the measured loop, then
  * the oracle checks. Only the set-up and the operations themselves are timed.
  */
final class Runner(spark: SparkSession, w: Workload, seed: Long, seconds: Int,
    trace: Boolean, dir: String, sessionS: Double) {

  private val cores = Session.cores(spark)
  private val vocab = Gen.vocabulary(seed)
  private val atomOf: Map[Condition, Atom] = vocab.map(a => a.condition -> a).toMap
  private def rows(): Iterator[Gen.Row] = Gen.rows(seed, w.table)

  private var attempted = 0L
  private var failed = 0L
  private val notes = Vector.newBuilder[String]
  private def fail(msg: String): Unit = { failed += 1; if (failed <= 20) notes += s"FAIL $msg" }

  /** Counts an operation; an exception counts as its failure. */
  private def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => fail(s"$what: $e"); None }
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body; (a, (System.nanoTime() - t0) / 1e6)
  }

  private var tracer = new Tracer(spark, enabled = false)

  // ---- set-up -------------------------------------------------------------

  /** The set-up: inputs, their ingest, the catalog, and what the workload
    * needs materialized before it starts.
    */
  final class Env(val root: String) {
    val store = new SegmentStore(spark, s"$root/warehouse")
    val tx: () => DataFrame = () => Tables.transactions(spark, root)
    val runner = new SegmentRunner(store, tx)
    /** Created rules in creation order with the id and plan they bound. */
    val created = Vector.newBuilder[(GenRule, Long, SegmentPlan)]
    def warehouse: String = s"$root/warehouse"
    def segPath(id: Long): String = s"$warehouse/segment_output_$id"
  }

  /** Three base rules of one WHERE and one HAVING atom each, the same atoms
    * for every seed (thresholds vary), so every seed scans and writes alike.
    */
  private def wideRules(): Vector[GenRule] = {
    def atom(field: String, op: String) = vocab.find(a => a.field == field && a.op == op).get
    Vector(
      Vector(atom("transaction_amount", ">"), atom("total_spend", ">")),
      Vector(atom("city_tier", "IN"), atom("transaction_count", "BETWEEN")),
      Vector(atom("transaction_date", ">="), atom("total_spend", "<")),
    ).zipWithIndex.map { case (as, j) => GenRule(s"w-$j", as) }
  }

  private def seededRules(): Vector[GenRule] = w match {
    case RefreshMany    => Gen.rules(seed, RefreshMany.shape, "r")
    case RefreshWide    => wideRules()
    case AnalystSession => Gen.rules(seed, AnalystSession.catalogShape, "c")
  }

  private def setup(root: String): Env = {
    Files.delete(root)
    Gen.write(spark, seed, w.table, root)
    val env = new Env(root)
    seededRules().foreach { g =>
      val (id, plan) = env.runner.createRule(g.name, g.conditions)
      env.created += ((g, id, plan))
    }
    if (w == AnalystSession) {
      env.runner.runAll(Runner.stamp(0))
      RollupServing.materialize(env.store, env.tx(), AnalystSession.rollupPeriods)
    }
    env
  }

  // ---- oracle -------------------------------------------------------------

  private def expectedAll(entries: Seq[SegmentCatalogEntry],
      known: Map[Long, Seg] = Map.empty): Map[Long, Seg] =
    Check.expected(entries, atomOf, () => rows(), w.table.users, known)

  /** Checks every cataloged segment's stored content against the oracle; a
    * mismatch fails the operation that wrote it. `count` counts each check
    * as its own operation, for segments no measured operation wrote.
    */
  private def checkStored(env: Env, expected: Map[Long, Seg], count: Boolean): Unit =
    expected.toSeq.sortBy(_._1).foreach { case (id, seg) =>
      if (count) attempted += 1
      val got = try Check.storedSum(spark, env.segPath(id)) catch { case e: Exception => Sum(-1, 0) }
      if (got != seg.sum()) fail(s"segment $id: stored $got, expected ${seg.sum()}")
    }

  private def catalogMap(env: Env): Map[Long, SegmentCatalogEntry] =
    env.store.loadCatalog().map(e => e.ruleId -> e).toMap

  private def asRule(e: SegmentCatalogEntry): Rule =
    Rule(e.ruleId, e.segmentName, e.conditions, e.schedule, e.isActive, e.dependsOn,
      e.operation.flatMap(SetOp.parse))

  // ---- probes (traced runs only) ------------------------------------------

  private val compileUs = Vector.newBuilder[Double]
  private val findUs = Vector.newBuilder[Double]
  private val evaluateMs = Vector.newBuilder[Double]
  private val segFiles = Vector.newBuilder[(Long, Long, Long)] // files, bytes, rows

  private def probeCreate(conds: Seq[Condition], live: Seq[Rule]): Unit = {
    compileUs += timed(tracer.span("probe.compile")(ConditionCompiler.compile(conds)))._2 * 1000
    findUs += timed(tracer.span("probe.findDependency")(
      DependencyFinder.findBestDependency(conds, live)))._2 * 1000
  }
  private def probeEvaluate(env: Env, plan: SegmentPlan): Unit =
    evaluateMs += timed(tracer.span("probe.evaluate")(
      Planner.evaluate(plan, env.tx(), env.store.read)))._2
  private def probeFiles(env: Env, id: Long, rowsWritten: Long): Unit = {
    val (files, bytes) = Files.parts(env.segPath(id))
    segFiles += ((files, bytes, rowsWritten))
  }

  // ---- measured loops -----------------------------------------------------

  private val opMs = Vector.newBuilder[Double]
  private val tracedOpMs = Vector.newBuilder[Double]
  private val perOp = collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
  private def record(op: String, ms: Double): Unit =
    if (!tracer.enabled) perOp(op) = perOp.getOrElse(op, Vector.empty) :+ ms

  /** Runs `step` (which returns its measured milliseconds) while the next
    * step is expected to keep the measured time within `seconds`, and at
    * least once. Untimed checks between steps do not count. With tracing,
    * the first half runs untraced and the second half traced.
    */
  private def loop(step: Int => Double): Unit = {
    var i = 0
    def phase(secs: Double, out: collection.mutable.Builder[Double, Vector[Double]]): Unit = {
      var spent = 0.0
      var last = 0.0
      do {
        last = step(i); i += 1
        out += last; spent += last
      } while (spent + last <= secs * 1000)
    }
    if (!trace) phase(seconds, opMs)
    else {
      phase(seconds / 2.0, opMs)
      tracer = new Tracer(spark, enabled = true)
      phase(seconds / 2.0, tracedOpMs)
    }
  }

  private var tickCounts = Vector.empty[Map[Long, Long]]

  private def refresh(env: Env, ids: Seq[Long]): Unit = {
    (0 until w.warmTicks).foreach(i => env.runner.runAll(Runner.stamp(i)))
    logPhase("warm-up done")
    loop { i =>
      val (counts, ms) = timed(tracer.span("op.tick")(tracer.span("operators.runAll")(
        try Some(env.runner.runAll(Runner.stamp(w.warmTicks + i)))
        catch { case e: Exception => fail(s"tick $i: $e"); None })))
      // every rule the tick refreshes is one attempted operation
      attempted += ids.size
      counts.foreach(c => tickCounts :+= c)
      ms
    }
  }

  private var serveHits = 0
  private var serveTries = 0
  private val sessionCreated = Vector.newBuilder[(GenRule, SegmentPlan)]

  /** The session's rules: even cycles a stored rule plus one atom (a
    * superset, bound as Compound over it), odd cycles a fresh rule of one or
    * two atoms that is a superset of no stored rule. As with the seeded
    * rules, which atoms a cycle uses does not depend on the seed.
    */
  private def sessionRule(i: Int, stored: Vector[GenRule]): GenRule = {
    var k = 0
    def atom(): Atom = { k += 1; vocab((Gen.unit(Gen.draw(0L, i.toLong, 800 + k)) * vocab.size).toInt) }
    val atoms =
      if (i % 2 == 0) {
        val p = stored((i / 2) % stored.size)
        p.atoms :+ Iterator.continually(atom()).find(a => !p.atoms.contains(a)).get
      } else Iterator.continually(Vector.fill(1 + (i / 2) % 2)(atom()).distinct)
        .find(as => !stored.exists(_.atoms.toSet.subsetOf(as.toSet))).get
    GenRule(s"s-$i", atoms)
  }

  /** Window requests: superset cycles ask for a window the rollup holds
    * (7, 30 or 90 days), fresh-rule cycles for one it lacks (14 or 60), so
    * the costlier run pairs with the cheaper serve. One HAVING atom.
    */
  private def windowRequest(i: Int): (Int, Seq[Atom]) = {
    val held = AnalystSession.rollupPeriods
    val missing = AnalystSession.windowPeriods.filterNot(held.contains)
    val p = if (i % 2 == 0) held((i / 2) % held.size) else missing((i / 2) % missing.size)
    val hs = vocab.filter(a => !a.isWhere)
    (p, Seq(hs((Gen.unit(Gen.draw(0L, i.toLong, 901)) * hs.size).toInt)))
  }

  private def session(env: Env, stored: Map[Long, Seg]): Unit = {
    val storedRules = env.created.result().map(_._1)
    val seeded = catalogMap(env)
    val anchorDay = rows().map(_.day).max
    val windows = collection.mutable.Map.empty[(Int, Seq[Atom]), Sum]
    def cycle(i: Int): Double = {
      val g = sessionRule(i, storedRules)
      val conds = g.conditions
      if (tracer.enabled)
        probeCreate(conds, tracer.span("probe.loadCatalog")(env.store.loadCatalog()).map(asRule))
      val (period, hs) = windowRequest(i)
      var total = 0.0
      def op[A](name: String, span: String)(body: => A): Option[A] = {
        val (a, ms) = timed(tracer.span(span)(attempt(name)(body)))
        record(name, ms); total += ms; a
      }
      val done = tracer.span("op.cycle") {
        for {
          (id, plan) <- op("create", "operators.createRule")(env.runner.createRule(g.name, conds))
          n <- op("run", if (plan.isInstanceOf[SegmentPlan.Compound]) "operators.run.compound"
            else "operators.run")(env.runner.run(id, Runner.stamp(i)))
          (page, cnt) <- op("read", "sources.read") {
            val df = env.store.read(id)
            (df.orderBy(col("user_id")).limit(AnalystSession.pageSize).collect(), df.count())
          }
          served <- op("serve", "plans.serve") {
            val cs = hs.map(_.condition)
            RollupServing.serveSegment(spark, env.store, period, cs) match {
              case Some(df) => (true, df.collect())
              case None => (false, fallback(env, anchorDay, period, cs).collect())
            }
          }
        } yield (id, plan, n, page, cnt, served)
      }
      // outside the timed operations: checks, then the rule's deletion
      done.foreach { case (id, plan, n, page, cnt, (hit, served)) =>
        Check.bindingError(g, plan, seeded).foreach(fail)
        sessionCreated += ((g, plan))
        // the run reads the stored catalog entry; a difference from the
        // returned plan shows as a segment mismatch
        val exp = expectedAll(Seq(planned(id, g, plan)), stored)(id)
        if (n != exp.size) fail(s"${g.name}: run wrote $n rows, expected ${exp.size}")
        val got = Check.storedSum(spark, env.segPath(id))
        if (got != exp.sum()) fail(s"${g.name}: segment $got, expected ${exp.sum()}")
        val want = exp.take(AnalystSession.pageSize)
        val pageOk = page.length == want.size && page.indices.forall { k =>
          page(k).getAs[Long]("user_id") == want.users(k) &&
            page(k).getAs[Long]("total_transactions") == want.counts(k) &&
            page(k).getAs[Double]("total_spent") == want.spent(k)
        }
        if (!pageOk || cnt != exp.size) fail(s"${g.name}: read page or count differs")
        serveTries += 1
        if (hit) serveHits += 1
        val sv = served.foldLeft(Sum.Zero)((s, r) => s.add(r.getAs[Long]("user_id"),
          r.getAs[Long]("total_transactions"), r.getAs[Double]("total_spent"), ""))
        val wsum = windows.getOrElseUpdate((period, hs),
          Oracle.window(rows(), w.table.users, anchorDay, period, hs).sum(""))
        if (sv != wsum) fail(s"window $period ${hs.map(_.condition)}: served $sv, expected $wsum")
        if (tracer.enabled) { probeEvaluate(env, plan); probeFiles(env, id, n) }
        val (_, ms) = timed(tracer.span("operators.deleteRule")(
          attempt("delete")(env.runner.deleteRule(id))))
        record("delete", ms)
      }
      total
    }
    // one op is a round of two cycles, one of each kind, so every op costs
    // alike; rounds after the warm-up are numbered from 1
    def round(r: Int): Double = cycle(2 * r) + cycle(2 * r + 1)
    round(0)
    perOp.clear()
    loop(r => round(r + 1))
  }

  /** The catalog entry a plan stands for, for the oracle. */
  private def planned(id: Long, g: GenRule, plan: SegmentPlan): SegmentCatalogEntry = plan match {
    case SegmentPlan.Base(cs) => SegmentCatalogEntry(id, g.name, s"segment_output_$id", cs, Nil, None)
    case SegmentPlan.Compound(ps, op, residual) =>
      SegmentCatalogEntry(id, g.name, s"segment_output_$id", residual, ps, Some(op.toString.toLowerCase))
  }

  /** The base path for a window the rollup does not hold: the window as a
    * `transaction_date` condition beside the HAVING ones, materialized from
    * the raw scan.
    */
  private def fallback(env: Env, anchorDay: Long, period: Int, conds: Seq[Condition]): DataFrame =
    SegmentEngine.materializeBase(env.tx(),
      Condition("transaction_date", ">=", Gen.dayLit(anchorDay - Gen.StartDay - period)) +: conds)

  // ---- run ----------------------------------------------------------------

  private val runStartNs = System.nanoTime()
  /** Phase timings go to the run log on stderr, for sizing runs. */
  private def logPhase(what: String): Unit =
    System.err.println(f"segbench ${w.name}: $what at ${(System.nanoTime() - runStartNs) / 1e9}%.1f s")

  def run(): Result = {
    val (env, setupMs) = timed(setup(s"$dir/setup"))
    logPhase("set-up done")
    val setupS = sessionS + setupMs / 1000
    val created = env.created.result()
    val ids = created.map(_._2)
    val cat0 = catalogMap(env)
    created.foreach { case (g, _, plan) =>
      attempted += 1; Check.bindingError(g, plan, cat0).foreach(fail)
    }
    val expected = expectedAll(cat0.values.toSeq)
    logPhase("oracle done")
    w match {
      case AnalystSession =>
        checkStored(env, expected, count = true)
        session(env, expected)
      case _ =>
        refresh(env, ids)
        logPhase("measured loop done")
        val want = expected.map { case (id, s) => id -> s.size.toLong }
        tickCounts.foreach(c => if (c != want) fail(s"tick counts differ from oracle"))
        checkStored(env, expected, count = false)
        logPhase("stored segments checked")
        if (tracer.enabled) {
          ids.foreach(id => probeFiles(env, id, expected(id).size.toLong))
          created.foreach { case (g, id, plan) =>
            probeCreate(g.conditions, cat0.values.filter(_.ruleId < id).toSeq.sortBy(_.ruleId).map(asRule))
            probeEvaluate(env, plan)
          }
        }
    }
    val tr = tracer.finish()
    val sizes = describe(created, cat0)
    val bound = if (w == AnalystSession) sessionCreated.result() else created.map(c => (c._1, c._3))
    val layer =
      if (!trace) Nil
      else Layers.compute(Probe(w, cores, ids.size, tr, bound,
        created.collect { case (_, id, SegmentPlan.Compound(_, _, _)) => id }.toSet,
        opMs.result(), tracedOpMs.result(),
        compileUs.result(), findUs.result(), evaluateMs.result(), segFiles.result(),
        serveHits, serveTries))
    Files.delete(dir)
    Result(setupS, opMs.result(),
      if (w == AnalystSession) "round" else "tick",
      perOp.toSeq, attempted, failed, sizes, Stats.rssPeakMb(), layer, notes.result())
  }

  private def describe(created: Seq[(GenRule, Long, SegmentPlan)],
      cat: Map[Long, SegmentCatalogEntry]): Seq[(String, String)] = {
    def depth(id: Long): Int = 1 + cat(id).dependsOn.map(depth).maxOption.getOrElse(0)
    val compound = created.count(_._3.isInstanceOf[SegmentPlan.Compound])
    Seq("rows" -> w.table.rows.toString, "users" -> w.table.users.toString,
      "zipf" -> w.table.zipf.toString, "rules" -> created.size.toString,
      "compound_rules" -> compound.toString,
      "max_depth" -> cat.keys.map(depth).maxOption.getOrElse(0).toString) ++
      (if (w == AnalystSession) Seq("cycles" -> (2 * (opMs.result().size + tracedOpMs.result().size)).toString,
        "serve_hits" -> s"$serveHits/$serveTries") else Nil)
  }
}

object Runner {
  def stamp(i: Int): String = java.time.Instant.parse("2025-04-01T00:00:00Z").plusSeconds(i.toLong).toString
}
