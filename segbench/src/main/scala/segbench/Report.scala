package segbench

import graft.model.SegmentPlan

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt; val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The highest of the usual percentiles with at least ten samples beyond
    * it, with its value.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75, 50).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => p -> percentile(xs, p))

  /** Peak resident memory of this process (VmHWM), in MiB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}

object Files {
  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val all = java.nio.file.Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally all.close()
    }
  }

  /** Data files of a parquet directory and their total size in bytes. */
  def parts(path: String): (Long, Long) = {
    val fs = new java.io.File(path).listFiles().toSeq.filter(_.getName.startsWith("part-"))
    (fs.size.toLong, fs.map(_.length).sum)
  }
}

/** What a traced run hands to the per-layer roll-up. */
final case class Probe(w: Workload, cores: Int, rules: Int, tr: Trace,
    bound: Seq[(GenRule, SegmentPlan)], compoundIds: Set[Long], untracedMs: Seq[Double], tracedMs: Seq[Double],
    compileUs: Seq[Double], findUs: Seq[Double], evaluateMs: Seq[Double],
    segFiles: Seq[(Long, Long, Long)], serveHits: Int, serveTries: Int)

/** Per-layer metrics from the traced half of a run. An "op" is one scheduler
  * tick on the refresh workloads and one analyst cycle on analyst-session
  * (the overhead compares whole measured ops: ticks, or rounds of two cycles);
  * a "rule" is one rule refreshed (a tick refreshes every rule) or, on
  * analyst-session, one rule created or run. A metric whose operation the
  * workload never performs reads 0.
  */
object Layers {
  import Artifact._

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def compute(p: Probe): Seq[(String, Double, String)] = {
    val tr = p.tr
    val refresh = p.w.isRefresh
    val ops = tr.named(if (refresh) "op.tick" else "op.cycle")
    val opIds = ops.flatMap(o => tr.subtree(o.id)).toSet
    val opMs = ops.map(_.ms).sum
    val runSpans = tr.named("operators.run") ++ tr.named("operators.run.compound")
    val ruleSpans =
      if (refresh) tr.named("operators.runAll") else tr.named("operators.createRule") ++ runSpans
    val ruleIds = ruleSpans.flatMap(s => tr.subtree(s.id)).toSet
    val ruleOps = if (refresh) ops.size.toDouble * p.rules else ruleSpans.size.toDouble
    val refreshed = if (refresh) ruleOps else runSpans.size.toDouble
    val q = tr.queriesIn(ruleIds)
    val opQ = tr.queriesIn(opIds)
    def qms(qs: Seq[QueryRec], kinds: String*): Double = qs.filter(r => kinds.contains(r.kind)).map(_.ms).sum
    val ruleJobs = tr.jobsIn(ruleIds)
    val txJobs = tr.txJobsIn(opIds)
    val compoundBound = p.bound.count(_._2.isInstanceOf[SegmentPlan.Compound])
    def perSpan(name: String, kinds: String*): Seq[Double] =
      tr.named(name).map(s => qms(tr.queriesIn(tr.subtree(s.id)), kinds: _*))
    val compoundMs =
      if (refresh) opQ.filter(r => r.kind == Segment && p.compoundIds(r.target)).map(_.ms)
      else perSpan("operators.run.compound", Segment)
    val submitted = p.bound.map(_._1.atoms.size).sum.toDouble
    val consumed = p.bound.map {
      case (g, SegmentPlan.Compound(_, _, residual)) => g.atoms.size - residual.size
      case _ => 0
    }.sum.toDouble
    val self = ops.flatMap(o => tr.subtree(o.id)).flatMap(tr.span).filterNot(_.name.startsWith("op."))
      .groupBy(_.layer).map { case (l, ss) => l -> ss.map(tr.selfMs).sum }
    val segFiles = p.segFiles
    Seq(
      ("sources.catalog_queries_per_rule", ratio(q.count(_.kind == Catalog), ruleOps), "count"),
      ("sources.catalog_ms_per_rule", ratio(qms(q, Catalog), ruleOps), "ms"),
      ("sources.history_ms_per_rule", ratio(qms(q, History), refreshed), "ms"),
      ("sources.fs_ops_per_rule", ratio(ruleSpans.map(_.fsOps).sum, ruleOps), "count"),
      ("sources.fs_bytes_per_rule", ratio(ruleSpans.map(_.fsBytes).sum, ruleOps), "bytes"),
      ("sources.tx_rows_read_per_op", ratio(txJobs.map(_.inRecords).sum, ops.size), "count"),
      ("sources.tx_bytes_read_per_op", ratio(txJobs.map(_.inBytes).sum, ops.size), "bytes"),
      ("sources.segment_files_per_rule", ratio(segFiles.map(_._1).sum, segFiles.size), "count"),
      ("sources.segment_bytes_per_row", ratio(segFiles.map(_._2).sum, segFiles.map(_._3).sum), "bytes"),
      ("sources.segment_read_ms", med(perSpan("sources.read", SegRead)), "ms"),
      ("operators.segment_query_ms_per_rule", ratio(qms(opQ, Segment), refreshed), "ms"),
      ("operators.compound_query_ms", med(compoundMs), "ms"),
      ("operators.shuffle_bytes_per_rule", ratio(ruleJobs.map(_.shuffleBytes).sum, ruleOps), "bytes"),
      ("operators.jobs_per_rule", ratio(ruleJobs.size, ruleOps), "count"),
      ("operators.tasks_per_rule", ratio(ruleJobs.map(_.tasks).sum, ruleOps), "count"),
      ("operators.executor_busy_frac", ratio(tr.jobsIn(opIds).map(_.runMs).sum, opMs * p.cores), "frac"),
      ("operators.compile_us", med(p.compileUs), "us"),
      ("plans.find_dependency_us", med(p.findUs), "us"),
      ("plans.reuse_frac", ratio(compoundBound, p.bound.size), "frac"),
      ("plans.covered_frac", ratio(consumed, submitted), "frac"),
      ("plans.evaluate_ms", med(p.evaluateMs), "ms"),
      ("plans.serve_hit_frac", ratio(p.serveHits, p.serveTries), "frac"),
      ("plans.serve_query_ms", med(perSpan("plans.serve", Rollup, Tx)), "ms"),
      ("jvm.gc_ms_per_op", ratio(ops.map(_.gcMs).sum, ops.size), "ms"),
      ("trace.overhead_ms_per_op", med(p.tracedMs) - med(p.untracedMs), "ms"),
      ("trace.catalog_history_share", ratio(qms(opQ, Catalog, History), opMs), "frac"),
      ("trace.segment_query_share", ratio(qms(opQ, Segment), opMs), "frac"),
      ("trace.control_plane_share",
        ratio(opMs - qms(opQ, Segment, SegRead, Rollup, Tx, Other), opMs), "frac"),
      ("layer.sources_self_ms_per_op", ratio(self.getOrElse("sources", 0.0), ops.size), "ms"),
      ("layer.operators_self_ms_per_op", ratio(self.getOrElse("operators", 0.0), ops.size), "ms"),
      ("layer.plans_self_ms_per_op", ratio(self.getOrElse("plans", 0.0), ops.size), "ms"),
    )
  }
}

object Report {
  private def fmt(x: Double): String =
    java.math.BigDecimal.valueOf(x).round(new java.math.MathContext(10)).toPlainString

  /** End-to-end metrics of one workload; every workload reports all of them. */
  def endToEnd(r: Result): Seq[(String, Double, String)] = Seq(
    ("setup_s", r.setupS, "s"),
    ("op_p50_ms", Stats.median(r.opMs), "ms"),
    ("rss_peak_mb", r.rssPeakMb, "MB"))

  def printLines(name: String, r: Result, trace: Boolean): Unit = {
    val sizes = r.sizes.map { case (k, v) => s"$k=$v" }.mkString(" ")
    println(s"[$name] sizes $sizes")
    endToEnd(r).foreach { case (m, v, u) => println(s"[$name] $m ${fmt(v)} $u") }
    println(s"[$name] ${r.opName} samples (ms): ${r.opMs.map(fmt).mkString(" ")}")
    if (r.opName == "tick")
      println(s"[$name] tick_s ${fmt(Stats.median(r.opMs) / 1000)} s (median of ${r.opMs.size} ticks)")
    r.perOp.foreach { case (op, ms) =>
      val tail = Stats.tail(ms).map { case (p, v) => s", ${op}_tail_ms ${fmt(v)} ms (p$p)" }.getOrElse("")
      println(s"[$name] ${op}_p50_ms ${fmt(Stats.median(ms))} ms$tail, n=${ms.size}")
    }
    println(s"[$name] failed_frac ${fmt(r.failed.toDouble / math.max(1L, r.attempted))} " +
      s"(${r.failed}/${r.attempted})")
    if (trace) r.layer.foreach { case (m, v, u) => println(s"[$name] $m ${fmt(v)} $u") }
    r.notes.foreach(n => println(s"[$name] $n"))
  }

  private def obj(ms: Seq[(String, Double, String)]): String =
    ms.map { case (m, v, u) => s""""$m": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  def json(results: Seq[(String, Result)], trace: Boolean, single: Boolean): String = {
    def metrics(r: Result) = if (trace) r.layer else endToEnd(r)
    val ms =
      if (single) metrics(results.head._2)
      else results.flatMap { case (n, r) => metrics(r).map { case (m, v, u) => (s"$n.$m", v, u) } }
    val attempted = results.map(_._2.attempted).sum
    val failed = results.map(_._2.failed).sum
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": ${obj(ms)}}"""
  }
}
