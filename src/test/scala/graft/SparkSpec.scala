package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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

  /** The SQL execution id of each Spark job `body` launched on this thread,
    * in start order: None for a job that ran outside any SQL execution
    * (e.g. a parquet schema inference).
    */
  protected def jobsLaunchedBy(body: => Unit): Seq[Option[String]] = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[String])]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p => Option(p.getProperty("spark.jobGroup.id")).foreach(g =>
          started.add(g -> Option(p.getProperty("spark.sql.execution.id")))))
    }
    def seen(g: String) = started.asScala.filter(_._1 == g).map(_._2).toSeq
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobs launched by body")
      try body finally sc.clearJobGroup()
      // listener events arrive in order: once a later marker job shows up,
      // every earlier job in `group` has too
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen(marker).isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen(marker).nonEmpty)
    } finally sc.removeSparkListener(listener)
    seen(group)
  }
}
