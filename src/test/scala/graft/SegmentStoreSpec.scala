package graft

import graft.model._
import graft.operators.SegmentRunner
import graft.sources.SegmentStore
import java.net.URI
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hadoop-FS test double: a registered non-`file:` scheme backed by the
  * local filesystem. Any `java.io.File` probe in the store would miss these
  * URIs entirely (the round-2/3 defect) — every store path must go through
  * the Hadoop FileSystem API to pass.
  */
class MockFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: URI = URI.create("mockfs:///")
}

class SegmentStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tx(): DataFrame =
    Seq((1L, 600.0, "2024-01-05 10:00:00", "Dining", 1),
      (2L, 40.0, "2024-01-08 10:00:00", "Dining", 1))
      .toDF("user_id", "amount", "ts_s", "category", "city_tier")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      .withColumn("transaction_type", lit("UPI"))

  test("store works against a non-local URI (Hadoop FileSystem, not java.io.File)") {
    spark.sparkContext.hadoopConfiguration
      .setClass("fs.mockfs.impl", classOf[MockFs], classOf[org.apache.hadoop.fs.FileSystem])
    val local = Files.createTempDirectory("graft_mockfs").toString
    val store = new SegmentStore(spark, s"mockfs://$local")
    val runner = new SegmentRunner(store, tx)

    val (id, _) = runner.createRule("r1", Seq(Condition("transaction_amount", ">", "500")))
    assert(!store.exists(id))
    assert(runner.run(id, "2026-08-12T00:00:00Z") == 1L)
    assert(store.exists(id))
    assert(store.read(id).select("user_id").as[Long].collect().toSeq == Seq(1L))
    assert(store.loadCatalog().head.rowCount == 1L)
    runner.deleteRule(id)
    assert(!store.exists(id) && store.loadCatalog().isEmpty)
  }

  test("materialized transactions: JSON parsed once at ingest, tier filter pushes to parquet") {
    import graft.model.Condition
    import graft.operators.SegmentEngine
    import graft.sources.Tables
    val out = Files.createTempDirectory("graft_mat").toString + "/tx"
    Tables.materializeTransactions(spark, sf, out)

    val conds = Seq(Condition("city_tier", "=", "2"))
    val fromView = SegmentEngine.materializeBase(Tables.transactions(spark, sf), conds)
      .orderBy("user_id").collect()
    val mat = Tables.transactionsMaterialized(spark, out)
    val fromMat = SegmentEngine.materializeBase(mat, conds)
      .orderBy("user_id").collect()
    assert(fromMat.toSeq == fromView.toSeq)

    // the win: tier predicate reaches the parquet scan as a pushed filter,
    // and no JSON parse appears anywhere in the plan
    val plan = SegmentEngine.materializeBase(mat, conds)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("city_tier"))
    assert(!plan.contains("get_json_object"))
  }

  test("loadCatalog reads catalogs written before the scheduling columns existed") {
    val dir = Files.createTempDirectory("graft_oldcat").toString
    // simulate a pre-r4 catalog: same layout minus schedule/isActive/nextRunAt
    Seq((1L, "old-rule", "segment_output_1", "transaction_amount|>|S500|N",
        Seq.empty[Long], "", 42L, "2026-01-01T00:00:00Z"))
      .toDF("ruleId", "segmentName", "tableName", "conditions",
        "dependsOn", "operation", "rowCount", "lastRefreshedAt")
      .coalesce(1).write.parquet(s"$dir/_catalog")
    val store = new SegmentStore(spark, dir)
    val cat = store.loadCatalog()
    assert(cat.map(_.ruleId) == Seq(1L) && cat.head.rowCount == 42L)
    assert(cat.head.schedule == "DAILY" && cat.head.isActive && cat.head.nextRunAt.isEmpty,
      "missing columns must read as daily-active-unarmed defaults")
  }

  private def entry(id: Long, name: String, rows: Long = 0L) =
    SegmentCatalogEntry(id, name, s"segment_output_$id",
      Seq(Condition("transaction_amount", ">", "500")), Nil, None, rows, None)

  private def save(store: SegmentStore, entries: Seq[SegmentCatalogEntry]): Unit =
    store.modifyCatalog(_ => (entries, ()))

  private def hfs(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("catalog save survives a crash between the two swap renames (roll forward)") {
    val dir = Files.createTempDirectory("graft_crash_fwd").toString
    val store = new SegmentStore(spark, dir)
    save(store, Seq(entry(1L, "v1")))

    // Reconstruct the exact mid-swap crash state: the NEW catalog fully
    // written (with its _SUCCESS commit marker) under __staging, the OLD one
    // moved aside to __old, the target directory missing.
    val other = Files.createTempDirectory("graft_crash_src").toString
    save(new SegmentStore(spark, other), Seq(entry(1L, "v2", rows = 9L)))
    val fsys = hfs(dir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fsys.rename(p(s"$other/_catalog"), p(s"$dir/_catalog__staging")))
    assert(fsys.rename(p(s"$dir/_catalog"), p(s"$dir/_catalog__old")))

    val cat = store.loadCatalog()
    assert(cat.map(_.segmentName) == Seq("v2") && cat.head.rowCount == 9L,
      "a committed staging copy must win (the save had finished writing)")
    assert(fsys.exists(p(s"$dir/_catalog")) && !fsys.exists(p(s"$dir/_catalog__old")),
      "recovery must leave a clean swapped-in state")
    save(store, Seq(entry(2L, "v3"))) // subsequent saves still work
    assert(store.loadCatalog().map(_.ruleId) == Seq(2L))
  }

  test("catalog save crash before the staging write committed rolls back") {
    val dir = Files.createTempDirectory("graft_crash_back").toString
    val store = new SegmentStore(spark, dir)
    save(store, Seq(entry(1L, "v1", rows = 3L)))

    // Crash state: target moved aside, staging absent/uncommitted.
    val fsys = hfs(dir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")
    assert(fsys.rename(p("_catalog"), p("_catalog__old")))
    fsys.mkdirs(p("_catalog__staging")) // torn write: directory, no _SUCCESS

    val cat = store.loadCatalog()
    assert(cat.map(_.segmentName) == Seq("v1") && cat.head.rowCount == 3L,
      "without a commit marker the previous catalog must be restored")
  }

  test("a stale catalog lock from a dead writer is broken, a fresh save proceeds") {
    val dir = Files.createTempDirectory("graft_stale_lock").toString
    val store = new SegmentStore(spark, dir)
    val lock = java.nio.file.Paths.get(dir, "_catalog.lock")
    Files.writeString(lock, "pid=0\n")
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 11 * 60 * 1000))
    save(store, Seq(entry(1L, "after-stale")))
    assert(store.loadCatalog().map(_.segmentName) == Seq("after-stale"))
    assert(!Files.exists(lock), "lock must be released after the save")
  }

  test("concurrent modifyCatalog calls do not lose updates (lock spans read-modify-write)") {
    val dir = Files.createTempDirectory("graft_cat_race").toString
    val store = new SegmentStore(spark, dir)
    save(store, Seq(entry(1L, "counter", rows = 0L)))
    val perThread = 6
    val threads = Seq.fill(2)(new Thread(() =>
      (1 to perThread).foreach { _ =>
        store.modifyCatalog(cat => (cat.map(e =>
          if (e.ruleId == 1L) e.copy(rowCount = e.rowCount + 1) else e), ()))
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(store.loadCatalog().head.rowCount == 2L * perThread,
      "every increment must survive — a lost update means the lock leaked")
  }

  test("write counts rows on the write pass itself (observe metric, no re-read)") {
    val dir = Files.createTempDirectory("graft_obs").toString
    val store = new SegmentStore(spark, dir)
    val seg = tx().groupBy($"user_id")
      .agg(count(lit(1)).as("total_transactions"), sum($"amount").as("total_spent"),
        first($"transaction_type").as("transaction_types"))
    assert(store.write(7L, seg) == 2L)
    assert(store.write(8L, seg.filter($"user_id" < 0)) == 0L, "empty write counts 0")
    assert(store.read(7L).count() == 2L)
  }
}
