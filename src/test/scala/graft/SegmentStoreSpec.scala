package graft

import graft.model._
import graft.operators.SegmentRunner
import graft.plans.RollupServing
import graft.sources.{RunHistoryEntry, SegmentStore}
import graft.streaming.SegmentStream
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.Path
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

/** MockFs under its own scheme that crashes the process at the k-th
  * rename or delete of a swap target (a segment, the catalog, the rollup or
  * a `_history` log file) or of its `__staging`/`__old` sibling or a
  * segment's `__group` directory
  * ([[CrashFs.arm]]): that operation and every later one on a swap
  * path throw, as if the process had died. `_catalog.lock` is exempt (a
  * stale lock has its own test); other files are untouched.
  */
class CrashFs extends MockFs {
  override def getScheme: String = "crashfs"
  override def getUri: URI = URI.create("crashfs:///")
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step(src, dst); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashFs.step(p); super.delete(p, recursive)
  }
}

object CrashFs {
  private val SwapPath = """(segment_output_\d+|_catalog\.json|rollup_user_windows|[0-9a-f-]{36}\.json)(__staging|__old|__group)?""".r
  private val ops = new java.util.concurrent.atomic.AtomicLong(0)
  @volatile private var crashAt = Long.MaxValue

  /** Count swap-path operations from 0 and crash at the `k`-th. */
  def arm(k: Long): Unit = { ops.set(0); crashAt = k }
  def count: Long = ops.get()

  private def step(ps: Path*): Unit =
    if (ps.exists(p => SwapPath.matches(p.getName)) && ops.incrementAndGet() >= crashAt)
      throw new java.io.IOException(s"crashed at swap operation $crashAt on ${ps.mkString(" -> ")}")
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
    // and no JSON parse (nor the props byte scan) appears anywhere in the plan
    val plan = SegmentEngine.materializeBase(mat, conds)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("city_tier"))
    assert(!plan.contains("get_json_object") && !plan.contains("props_k_int"))
  }

  test("loadCatalog reads catalogs written before the scheduling columns existed") {
    val dir = Files.createTempDirectory("graft_oldcat").toString
    // an entry written before schedule/isActive/nextRunAt/sqlQuery existed
    Files.writeString(java.nio.file.Paths.get(dir, "_catalog.json"),
      """[{"ruleId":1,"segmentName":"old-rule","tableName":"segment_output_1",
        |"conditions":[{"field":"transaction_amount","operator":">","value":"500"}],
        |"dependsOn":[],"rowCount":42,"lastRefreshedAt":"2026-01-01T00:00:00Z"}]""".stripMargin)
    val store = new SegmentStore(spark, dir)
    val cat = store.loadCatalog()
    assert(cat.map(_.ruleId) == Seq(1L) && cat.head.rowCount == 42L)
    assert(cat.head.conditions == Seq(Condition("transaction_amount", ">", "500")))
    assert(cat.head.schedule == "DAILY" && cat.head.isActive && cat.head.nextRunAt.isEmpty,
      "missing fields must read as daily-active-unarmed defaults")
    assert(cat.head.sqlQuery.isEmpty && cat.head.operation.isEmpty)
  }

  test("a warehouse holding a parquet catalog is refused, never read as empty") {
    val dir = Files.createTempDirectory("graft_parquetcat").toString
    Seq((1L, "old-rule")).toDF("ruleId", "segmentName").write.parquet(s"$dir/_catalog")
    def listing() = new java.io.File(dir).list().toSeq.sorted
    val before = listing()
    val store = new SegmentStore(spark, dir)
    for (call <- Seq[() => Any](() => store.loadCatalog(),
        () => store.modifyCatalog(cat => (cat.rules :+ entry(cat.nextRuleId, "new"), ())))) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("_catalog.json") && e.getMessage.contains("parquet"))
    }
    assert(listing() == before && before == Seq("_catalog"), "nothing may be written")
  }

  test("a catalog from before submitted conditions is refused if it holds a Compound rule") {
    val dir = Files.createTempDirectory("graft_residualcat").toString
    // format 1: rule 2 stores the greedy cover's residual {tier = 1}, not
    // the conditions it was submitted with
    val doc = """{"rules":[{"ruleId":1,"segmentName":"r1","tableName":"segment_output_1",
        |"conditions":[{"field":"transaction_amount","operator":">","value":"500"}],"dependsOn":[]},
        |{"ruleId":2,"segmentName":"r2","tableName":"segment_output_2",
        |"conditions":[{"field":"city_tier","operator":"=","value":"1"}],"dependsOn":[1],
        |"operation":"intersection"}],"highWater":2}""".stripMargin
    val cat = java.nio.file.Paths.get(dir, "_catalog.json")
    Files.writeString(cat, doc)
    val store = new SegmentStore(spark, dir)
    for (call <- Seq[() => Any](() => store.loadCatalog(),
        () => store.modifyCatalog(c => (c.rules :+ entry(c.nextRuleId, "new"), ())))) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("catalog format 2") && e.getMessage.contains("Compound rule 2"))
    }
    assert(Files.readString(cat) == doc, "a refused catalog must not be rewritten")
  }

  test("a catalog from before submitted conditions still reads when it holds only Base rules") {
    val dir = Files.createTempDirectory("graft_basecat").toString
    val cat = java.nio.file.Paths.get(dir, "_catalog.json")
    Files.writeString(cat, """{"rules":[{"ruleId":1,"segmentName":"r1","tableName":"segment_output_1",
        |"conditions":[{"field":"transaction_amount","operator":">","value":"500"}],"dependsOn":[]}],
        |"highWater":3}""".stripMargin)
    val store = new SegmentStore(spark, dir)
    assert(store.loadCatalog() == Seq(entry(1L, "r1", -1L)))
    save(store, store.loadCatalog() :+ entry(4L, "r4"))
    assert(Files.readString(cat).contains(""""highWater":4,"format":2"""),
      "the next save marks the document")
    assert(store.loadCatalog().map(_.ruleId) == Seq(1L, 4L))
  }

  test("a warehouse holding parquet run history is refused by name") {
    val dir = Files.createTempDirectory("graft_parquethist").toString
    Seq(RunHistoryEntry(1L, "2026-01-01T00:00:00Z", 3L)).toDF().write.parquet(s"$dir/_history")
    val e = intercept[IllegalStateException](new SegmentStore(spark, dir).runHistory())
    assert(e.getMessage.contains("_history") && e.getMessage.contains("parquet"))
  }

  private def entry(id: Long, name: String, rows: Long = 0L) =
    SegmentCatalogEntry(id, name, s"segment_output_$id",
      Seq(Condition("transaction_amount", ">", "500")), Nil, None, rows, None)

  private def save(store: SegmentStore, entries: Seq[SegmentCatalogEntry]): Unit =
    store.modifyCatalog(_ => (entries, ()))

  private def hfs(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("catalog save survives a crash between the two swap renames (roll back)") {
    val dir = Files.createTempDirectory("graft_crash_fwd").toString
    val store = new SegmentStore(spark, dir)
    save(store, Seq(entry(1L, "v1")))

    // Reconstruct the exact mid-swap crash state: the NEW catalog fully
    // written (and closed) as the staging file, the OLD one moved aside to
    // __old, the target file missing.
    val other = Files.createTempDirectory("graft_crash_src").toString
    save(new SegmentStore(spark, other), Seq(entry(1L, "v2", rows = 9L)))
    val fsys = hfs(dir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fsys.rename(p(s"$other/_catalog.json"), p(s"$dir/_catalog.json__staging")))
    assert(fsys.rename(p(s"$dir/_catalog.json"), p(s"$dir/_catalog.json__old")))

    val cat = store.loadCatalog()
    assert(cat.map(_.segmentName) == Seq("v1") && cat.head.rowCount == 0L,
      "a crashed save rolls back: __old stays published, __staging is scratch")
    save(store, Seq(entry(2L, "v3"))) // subsequent saves still work
    assert(fsys.exists(p(s"$dir/_catalog.json")) && !fsys.exists(p(s"$dir/_catalog.json__old")) &&
      !fsys.exists(p(s"$dir/_catalog.json__staging")),
      "the next save must leave a clean swapped-in state")
    assert(store.loadCatalog().map(_.ruleId) == Seq(2L))
  }

  test("catalog save crash before the staging write committed rolls back") {
    val dir = Files.createTempDirectory("graft_crash_back").toString
    val store = new SegmentStore(spark, dir)
    save(store, Seq(entry(1L, "v1", rows = 3L)))

    // Crash state: target moved aside, no staging file.
    val fsys = hfs(dir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s"$dir/$s")
    assert(fsys.rename(p("_catalog.json"), p("_catalog.json__old")))

    val cat = store.loadCatalog()
    assert(cat.map(_.segmentName) == Seq("v1") && cat.head.rowCount == 3L,
      "without a staging file the previous catalog must be read")
  }

  test("a swap failing after a crashed swap keeps __old published") {
    val dir = Files.createTempDirectory("graft_crash_twice").toString
    val store = new SegmentStore(spark, dir)
    save(store, Seq(entry(1L, "v1")))
    val other = Files.createTempDirectory("graft_crash_twice_src").toString
    save(new SegmentStore(spark, other), Seq(entry(1L, "v2")))
    val fsys = hfs(dir)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    assert(fsys.rename(p(s"$other/_catalog.json"), p(s"$dir/_catalog.json__staging")))
    assert(fsys.rename(p(s"$dir/_catalog.json"), p(s"$dir/_catalog.json__old")))

    // the next save dies while writing its own staging file
    intercept[RuntimeException](SegmentStore.swapIn(fsys, p(s"$dir/_catalog.json")) { _ =>
      throw new RuntimeException("crash while writing")
    })
    assert(fsys.exists(p(s"$dir/_catalog.json__old")) && !fsys.exists(p(s"$dir/_catalog.json")))
    assert(store.loadCatalog().map(_.segmentName) == Seq("v1"))
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

  test("a lock create failing for another reason than a held lock is rethrown") {
    val file = Files.createTempFile("graft_not_a_dir", "")
    val store = new SegmentStore(spark, s"$file/warehouse")
    val t0 = System.nanoTime()
    intercept[org.apache.hadoop.fs.ParentNotDirectoryException](
      new SegmentRunner(store, tx).createRule("r", Seq(Condition("transaction_amount", ">", "1"))))
    assert(System.nanoTime() - t0 < 10L * 1000 * 1000 * 1000, "a failed create must not wait for the lock")
  }

  test("concurrent modifyCatalog calls do not lose updates (lock spans read-modify-write)") {
    val dir = Files.createTempDirectory("graft_cat_race").toString
    val store = new SegmentStore(spark, dir)
    save(store, Seq(entry(1L, "counter", rows = 0L)))
    val perThread = 6
    val threads = Seq.fill(2)(new Thread(() =>
      (1 to perThread).foreach { _ =>
        store.modifyCatalog(cat => (cat.rules.map(e =>
          if (e.ruleId == 1L) e.copy(rowCount = e.rowCount + 1) else e), ()))
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(store.loadCatalog().head.rowCount == 2L * perThread,
      "every increment must survive — a lost update means the lock leaked")
  }

  test("swap monitors are dropped once no swap of their target is in flight") {
    val dir = Files.createTempDirectory("graft_jvm_locks").toString
    val store = new SegmentStore(spark, dir)
    save(store, Seq(entry(1L, "counter", rows = 0L)))
    val before = SegmentStore.jvmLockCount
    (1 to 100).foreach { i =>
      // each history batch is a new swap target; the catalog save re-enters its lock
      store.appendRunHistory(Seq(RunHistoryEntry(1L, s"2026-08-12T00:00:$i", i.toLong)))
      store.modifyCatalog(cat => (cat.rules.map(_.copy(rowCount = i.toLong)), ()))
    }
    assert(SegmentStore.jvmLockCount <= before, "one monitor per history batch leaked")
    assert(store.runHistory().count() == 100L && store.loadCatalog().head.rowCount == 100L)
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

  test("reading a published segment launches no Spark job") {
    val dir = Files.createTempDirectory("graft_read_nojob").toString
    val store = new SegmentStore(spark, dir)
    val seg = Seq((1L, 2L, 1300.0, "UPI"), (2L, 1L, 40.0, "UPI"))
      .toDF("user_id", "total_transactions", "total_spent", "transaction_types")
    assert(store.write(7L, seg) == 2L)
    var read: DataFrame = null
    assert(jobsLaunchedBy { read = store.read(7L) }.isEmpty,
      "a segment is written in the canonical schema; reading it must not infer one")
    assert(read.schema == Schemas.segmentOutput)
    assert(read.orderBy("user_id").collect().toSeq == seg.collect().toSeq)

    // an empty segment still reads as no rows of the canonical schema
    assert(store.write(8L, seg.filter($"user_id" < 0)) == 0L)
    assert(store.read(8L).schema == Schemas.segmentOutput && store.read(8L).count() == 0L)

    // a file that disagrees with the canonical types raises, never reads as null
    seg.withColumn("total_spent", $"total_spent".cast("string"))
      .write.parquet(s"$dir/segment_output_9")
    intercept[org.apache.spark.SparkException](store.read(9L).collect())
    // one never published fails as a missing path
    intercept[org.apache.spark.sql.AnalysisException](store.read(10L))
  }

  test("a published segment directory holds only part files and their checksums") {
    val dir = Files.createTempDirectory("graft_part_files").toString
    val store = new SegmentStore(spark, dir)
    val seg = Seq((1L, 2L, 1300.0, "UPI"), (2L, 1L, 40.0, "UPI"))
      .toDF("user_id", "total_transactions", "total_spent", "transaction_types")
    assert(store.write(7L, seg) == 2L)
    assert(store.writeGroup(seg, Seq(8L -> Seq(lit(true)), 9L -> Seq($"user_id" === 2L),
      10L -> Seq(lit(false)))) == Seq(8L -> 2L, 9L -> 1L, 10L -> 0L))
    assert(store.read(9L).collect().toSeq == seg.filter($"user_id" === 2L).collect().toSeq)
    assert(store.read(10L).schema == Schemas.segmentOutput && store.read(10L).count() == 0L)
    for (id <- 7L to 10L) {
      val files = new java.io.File(s"$dir/segment_output_$id").list().toSeq
      assert(files.exists(_.startsWith("part-")), s"segment $id holds no part file")
      assert(files.forall(n => n.startsWith("part-") || n.startsWith(".part-") && n.endsWith(".crc")),
        s"segment $id holds ${files.mkString(", ")}")
    }
    assert(new java.io.File(dir).list().forall(!_.contains("__")), "the group directory is scratch")
    // a group directory a crashed write left goes with its root's segment
    Files.createDirectories(java.nio.file.Paths.get(dir, "segment_output_8__group", "rule_id=9"))
    assert(store.delete(8L) && !new java.io.File(s"$dir/segment_output_8__group").exists())
  }

  // ---- crash points -------------------------------------------------------
  //
  // Every rename/delete a publish makes on a swap path is a crash point
  // (Pillai et al., OSDI 2014). Each case replays one call against a copy of
  // one warehouse, crashing at operation k for every k the call makes, then
  // opens a fresh store on the plain scheme: every published item must read
  // as exactly its previous or its new content. `rowCount` may trail a
  // swapped segment (see SegmentRunner.runDue), so it is not compared.

  private val crashRule = Condition("transaction_amount", ">", "500")
  private val streamId = 42L

  /** `tx()` plus a third user, so every item's new content differs. */
  private def txNew(): DataFrame = tx().unionByName(
    Seq((3L, 900.0, "2024-01-09 10:00:00", "Travel", 2)).toDF("user_id", "amount", "ts_s", "category", "city_tier")
      .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s").withColumn("transaction_type", lit("UPI")))

  private def crashStore(dir: String): SegmentStore = {
    spark.sparkContext.hadoopConfiguration
      .setClass("fs.crashfs.impl", classOf[CrashFs], classOf[org.apache.hadoop.fs.FileSystem])
    new SegmentStore(spark, s"crashfs://$dir")
  }

  /** Rule 1 materialized, the 14-day rollup, and a streaming segment. Built
    * through CrashFs (unarmed) so no checksum sidecar outlives a rename.
    */
  private lazy val crashTemplate: String = {
    val dir = Files.createTempDirectory("graft_crash_tmpl").toString
    CrashFs.arm(Long.MaxValue)
    val store = crashStore(dir)
    val runner = new SegmentRunner(store, tx)
    val (id, _) = runner.createRule("r1", Seq(crashRule))
    runner.run(id, "2026-08-12T00:00:00Z")
    RollupServing.materialize(store, tx(), Seq(14))
    store.write(streamId, Seq((10L, 1L, 5.0, "UPI"), (11L, 2L, 7.0, "CC"))
      .toDF("user_id", "total_transactions", "total_spent", "transaction_types"))
    dir
  }

  private def copyOf(src: String): String = {
    val dst = Files.createTempDirectory("graft_crash_run")
    val from = java.nio.file.Paths.get(src)
    val walk = Files.walk(from)
    try walk.forEach { f =>
      val to = dst.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
    } finally walk.close()
    dst.toString
  }

  /** What a fresh store on the plain scheme reads, by item: catalog ids and
    * names, rule 1's segment, the served 14-day window, the streaming
    * segment and the run history.
    */
  private def published(dir: String): Seq[(String, Any)] = {
    val store = new SegmentStore(spark, dir)
    Seq("catalog" -> catalogOf(store), "rule 1's segment" -> rowsOf(store.read(1L)),
      "served window" -> RollupServing.serveSegment(spark, store, 14, Nil).map(rowsOf),
      "streaming segment" -> rowsOf(store.read(streamId)), "run history" -> historyOf(store))
  }

  private def rowsOf(df: DataFrame) = df.collect().toSeq.sortBy(_.getLong(0))
  private def catalogOf(store: SegmentStore) = store.loadCatalog().map(e => (e.ruleId, e.segmentName))
  private def historyOf(store: SegmentStore) =
    store.runHistory().as[RunHistoryEntry].collect().toSeq.sortBy(h => (h.rule_id, h.refreshed_at))

  /** Replay `call` against copies of `template`, crashing at each of its
    * swap-path operations in turn; every item `read` names must read as
    * its previous or its new content.
    */
  private def replayCrashPoints(call: SegmentStore => Unit, template: => String = crashTemplate,
      read: String => Seq[(String, Any)] = published): Unit = {
    val before = read(template)
    val clean = copyOf(template)
    CrashFs.arm(Long.MaxValue)
    call(crashStore(clean))
    val ops = CrashFs.count
    val after = read(clean)
    assert(ops > 0 && after != before, "the call must publish something")
    info(s"$ops crash points")
    for (k <- 1L to ops) {
      val dir = copyOf(template)
      CrashFs.arm(k)
      try scala.util.Try(call(crashStore(dir))) finally CrashFs.arm(Long.MaxValue)
      read(dir).zip(before.zip(after)).foreach {
        case ((item, got), ((_, was), (_, now))) => assert(got == was || got == now,
          s"crash at operation $k of $ops: the $item reads $got, neither previous $was nor new $now")
      }
      val store = new SegmentStore(spark, dir)
      val (id, _) = new SegmentRunner(store, tx).createRule("probe", Seq(crashRule))
      assert(!store.exists(id), s"crash at operation $k of $ops: id $id reused over a segment")
    }
  }

  test("crash point: createRule's catalog save") {
    replayCrashPoints(store => new SegmentRunner(store, txNew).createRule("r2", Seq(crashRule)))
  }

  test("crash point: run's segment swap and catalog commit") {
    replayCrashPoints(store => new SegmentRunner(store, txNew).run(1L, "2026-08-12T01:00:00Z"))
  }

  /** A Base rule and a Compound rule under it, both materialized: a
    * refresh batch publishes the two from one write.
    */
  private lazy val groupTemplate: String = {
    val dir = Files.createTempDirectory("graft_crash_group_tmpl").toString
    CrashFs.arm(Long.MaxValue)
    val runner = new SegmentRunner(crashStore(dir), tx)
    runner.createRule("r1", Seq(crashRule))
    runner.createRule("r2", Seq(crashRule, Condition("total_spend", ">", "550")))
    runner.runAll("2026-08-12T00:00:00Z")
    dir
  }

  test("crash point: one batch publishing a Base and a Compound rule from one write") {
    replayCrashPoints(store => new SegmentRunner(store, txNew).runAll("2026-08-12T01:00:00Z"),
      groupTemplate, { dir =>
        val store = new SegmentStore(spark, dir)
        Seq("catalog" -> catalogOf(store), "rule 1's segment" -> rowsOf(store.read(1L)),
          "rule 2's segment" -> rowsOf(store.read(2L)), "run history" -> historyOf(store))
      })
  }

  test("crash point: RollupServing.materialize") {
    replayCrashPoints(store => RollupServing.materialize(store, txNew(), Seq(14)))
  }

  test("crash point: one sinkToStore batch keeps the earlier members") {
    implicit val sqlCtx = spark.sqlContext
    replayCrashPoints { store =>
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double, String)]
      val seg = SegmentStream.continuousSegment(in.toDF().toDF("user_id", "amount", "transaction_type"),
        Seq(Condition("total_spend", "<", "100")))
      val q = SegmentStream.sinkToStore(seg, store, streamId)
        .option("checkpointLocation", Files.createTempDirectory("graft_crash_ckpt").toString)
        .start()
      try { in.addData((12L, 50.0, "UPI")); q.processAllAvailable() } finally q.stop()
    }
  }
}
