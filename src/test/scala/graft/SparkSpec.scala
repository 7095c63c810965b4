package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per JVM for all suites. */
object TestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** The ids of the Spark jobs `body` launched on this thread. */
  protected def jobsLaunchedBy(body: => Unit): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"driver-only-${System.nanoTime()}"
    sc.setJobGroup(group, "driver-only calls")
    try body finally sc.clearJobGroup()
    // job events reach the status tracker asynchronously but in order: once
    // a later marker job shows up, every earlier job in `group` would too
    val marker = s"$group-marker"
    sc.setJobGroup(marker, "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty)
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }
}
