package segbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One recorded span: a public call the benchmark made, or an operation
  * grouping such calls. Counters are sampled at its boundaries.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
    fsOps: Long, fsBytes: Long, gcMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def layer: String = name.takeWhile(_ != '.')
}

/** Where a Spark query read or wrote, by artifact. */
object Artifact {
  val Segment = "segment"   // writes segment_output_<id>
  val SegRead = "seg_read"  // reads segment_output_<id> only
  val Catalog = "catalog"   // _catalog or the _rollups registry
  val History = "history"   // _history
  val Rollup  = "rollup"    // rollup_<name>
  val Tx      = "tx"        // reads the events scan only
  val Other   = "other"

  private val SegDir = """segment_output_\d+""".r
  val SegId = """segment_output_(\d+)$""".r

  def classify(out: Option[String], in: Seq[String]): String = {
    def kind(p: String): Option[String] = {
      val leaf = p.split('/').lastOption.getOrElse("")
      if (leaf.startsWith("_catalog") || leaf.startsWith("_rollups")) Some(Catalog)
      else if (leaf.startsWith("_history")) Some(History)
      else if (leaf.startsWith("rollup_")) Some(Rollup)
      else if (SegDir.findPrefixOf(leaf).nonEmpty) Some(Segment)
      else if (leaf.startsWith("events")) Some(Tx)
      else None
    }
    out.flatMap(kind) match {
      case Some(k) => k
      case None =>
        val ks = in.flatMap(kind).distinct
        if (ks.contains(Catalog)) Catalog
        else if (ks.contains(History)) History
        else if (ks.contains(Rollup)) Rollup
        else if (ks.contains(Tx)) Tx
        else if (ks.contains(Segment)) SegRead
        else Other
    }
  }
}

/** Per-query record from the QueryExecutionListener. `target` is the rule
  * id of the segment a query wrote, or -1.
  */
final case class QueryRec(execId: Long, kind: String, ms: Double, readsTx: Boolean, target: Long)

/** Task totals of one Spark job. */
final class JobAgg(val span: Long, val execId: Long) {
  var tasks = 0L; var runMs = 0L; var shuffleBytes = 0L
  var inRecords = 0L; var inBytes = 0L
}

/** In-memory tracer: spans around the benchmark's public calls into the
  * program, plus a SparkListener and a QueryExecutionListener that attribute
  * each job and query to the span open on the driver thread (through a Spark
  * local property, so asynchronous listener delivery cannot misattribute)
  * and to the artifact it read or wrote. Nothing is written until the end.
  * When disabled, `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Prop = "segbench.span"
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private val spans = Vector.newBuilder[Span]
  private val jobs = new ConcurrentHashMap[Int, JobAgg]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val queries = new ConcurrentHashMap[Int, QueryRec]()
  private val execOfQe = new ConcurrentHashMap[Int, Long]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Prop))).map(_.toLong).getOrElse(0L)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new JobAgg(span, exec))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        Option(org.apache.spark.sql.SegbenchInternals.queryExecution(end))
          .foreach(qe => execOfQe.put(System.identityHashCode(qe), end.executionId))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      val m = e.taskMetrics
      j.foreach { a => a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.inRecords += m.inputMetrics.recordsRead
          a.inBytes += m.inputMetrics.bytesRead
        }
      }}
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.analyzed
      val out = plan.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
      val in = plan.collectWithSubqueries {
        case l: LogicalRelation => l.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      }.flatten
      val kind = Artifact.classify(out, in)
      val target = out.flatMap(o => Artifact.SegId.findFirstMatchIn(o)).map(_.group(1).toLong)
      queries.put(System.identityHashCode(qe), QueryRec(-1L, kind, durationNs / 1e6,
        in.exists(p => Artifact.classify(None, Seq(p)) == Artifact.Tx), target.getOrElse(-1L)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  /** File-system operations and bytes moved, from Hadoop's statistics. */
  private def fsStats(): (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(s => s.getReadOps + s.getWriteOps + s.getLargeReadOps).sum,
      all.map(s => s.getBytesRead + s.getBytesWritten).sum)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      stack ::= id
      sc.setLocalProperty(Prop, id.toString)
      val (o0, b0) = fsStats(); val g0 = gcMs(); val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val (o1, b1) = fsStats()
        spans += Span(id, parent, name, t0, t1, o1 - o0, b1 - b0, gcMs() - g0)
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Stop listening and wait until every queued listener event is handled. */
  def finish(): Trace = {
    if (enabled) {
      org.apache.spark.SparkInternals.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(queryListener)
    }
    // the two listeners see each query's end event in either order; join here
    val qs = queries.asScala.toVector.map { case (k, q) =>
      q.copy(execId = Option(execOfQe.get(k)).map(_.longValue).getOrElse(-1L)) }
    new Trace(spans.result(), jobs.asScala.values.toVector, qs)
  }
}

/** The recorded trace, with the roll-ups the report needs. */
final class Trace(val spans: Vector[Span], val jobs: Vector[JobAgg], val queries: Vector[QueryRec]) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val children = spans.groupBy(_.parent)

  /** The span itself and every span below it. */
  def subtree(id: Long): Set[Long] =
    Set(id) ++ children.getOrElse(id, Vector.empty).flatMap(c => subtree(c.id))

  def named(name: String): Vector[Span] = spans.filter(_.name == name)

  def selfMs(s: Span): Double = s.ms - children.getOrElse(s.id, Vector.empty).map(_.ms).sum

  private lazy val execSpan: Map[Long, Long] =
    jobs.filter(_.execId >= 0).groupBy(_.execId).map { case (e, js) => e -> js.head.span }

  /** Queries attributed to any of the given spans. */
  def queriesIn(ids: Set[Long]): Vector[QueryRec] =
    queries.filter(q => execSpan.get(q.execId).exists(ids))
  def jobsIn(ids: Set[Long]): Vector[JobAgg] = jobs.filter(j => ids(j.span))
  def txJobsIn(ids: Set[Long]): Vector[JobAgg] = {
    val txExecs = queries.filter(_.readsTx).map(_.execId).toSet
    jobsIn(ids).filter(j => txExecs(j.execId))
  }
  def span(id: Long): Option[Span] = byId.get(id)
}
