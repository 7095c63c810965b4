package segbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession

/** Command line: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>. Runs one workload (or `all`, one after another on the same
  * session) and prints each metric by name with its unit, then one JSON
  * line: {"correct", "attempted", "failed", "metrics"}.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match { case "0" => false; case "1" => true; case t => sys.error(s"bad --trace $t") },
      need("work"))
    require(a.workload == "all" || Workload.byName.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workload.byName.keys.mkString(", ")}, all")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.start(args.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val names = if (args.workload == "all") Workload.names else Seq(args.workload)
    val results = try names.map { n =>
      val w = Workload.byName(n)
      val dir = s"${args.work}/$n"
      val r = new Runner(spark, w, args.seed, args.seconds, args.trace, dir, sessionS).run()
      Report.printLines(n, r, args.trace)
      n -> r
    } finally spark.stop()
    println(Report.json(results, args.trace, single = args.workload != "all"))
  }
}

object Session {
  def start(work: String): SparkSession = {
    // run.py pins the driver to two CPUs; README.md says why
    val cores = math.min(2, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .appName("segbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // scales Spark's unified memory down with the data; see README.md
      .config("spark.memory.fraction", "0.025")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism
}

/** Everything one workload run measured. */
final case class Result(
    setupS: Double,
    opMs: Seq[Double], opName: String,
    perOp: Seq[(String, Seq[Double])],
    attempted: Long, failed: Long,
    sizes: Seq[(String, String)],
    rssPeakMb: Double,
    layer: Seq[(String, Double, String)],
    notes: Seq[String])

/** The three workloads; README.md says why each exists. `warmTicks` is the
  * number of unmeasured ticks a refresh workload runs before its measured
  * loop: enough that the measured ticks no longer get faster one after
  * another as the JIT compiles more of the path.
  */
sealed abstract class Workload(val name: String, val table: TableSpec, val warmTicks: Int = 0) {
  def isRefresh: Boolean = this != Workload.AnalystSession
}
object Workload {

  /** Many small rules on a small table: per-rule control-plane work dominates.
    * Two fresh rules and two supersets, a chain of three levels.
    */
  case object RefreshMany extends Workload("refresh-many",
      TableSpec(100000L, 20000L, zipf = false, files = 4), warmTicks = 4) {
    val shape: Seq[Shape] = Seq(Fresh(1), Fresh(2), Super(0), Super(2))
  }
  /** Few base rules, each one WHERE and one HAVING atom, on a table whose
    * in-memory footprint exceeds the driver's storage memory.
    */
  case object RefreshWide extends Workload("refresh-wide",
      TableSpec(1000000L, 1000000L, zipf = true, files = 8), warmTicks = 3)
  /** One analyst in a closed loop over a pre-seeded, materialized catalog.
    * Even cycles create a superset of a stored rule, odd cycles a fresh rule;
    * window requests cycle through five periods, two of which the rollup
    * does not hold.
    */
  case object AnalystSession extends Workload("analyst-session",
      TableSpec(50000L, 10000L, zipf = false, files = 4)) {
    val catalogShape: Seq[Shape] = Seq(Fresh(1), Fresh(2), Fresh(1), Fresh(2),
      Super(0), Super(1), Super(4), Super(3))
    val rollupPeriods: Seq[Int] = Seq(7, 30, 90)
    val windowPeriods: Seq[Int] = Seq(7, 14, 30, 60, 90)
    val pageSize = 50
  }
  val all: Seq[Workload] = Seq(RefreshMany, RefreshWide, AnalystSession)
  val names: Seq[String] = all.map(_.name)
  val byName: Map[String, Workload] = all.map(w => w.name -> w).toMap
}
