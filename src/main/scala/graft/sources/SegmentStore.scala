package graft.sources

import graft.model._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed store for materialized segments + catalog metadata,
  * replacing the reference's JDBC overwrite sink and SQLAlchemy metadata
  * update (reference: backend/app/processor/spark_processor.py:169-203 and
  * :139-167).
  *
  * Layout: `$warehouse/segment_output_<ruleId>/` (one parquet dir per rule),
  * `$warehouse/_catalog.json` (one JSON document of catalog entries and
  * the highest rule id ever assigned) and
  * `$warehouse/_history/<uuid>.json` (one JSON array of run rows per batch),
  * both read and written on the driver, never by a Spark job. A refresh never
  * overwrites a segment in place: the new content is written beside it and
  * swapped in ([[SegmentStore.swapIn]]), so a failed refresh leaves the
  * previous segment readable, like the reference's transactional table
  * replace; a crashed swap rolls back ([[SegmentStore.resolve]]). The
  * segments that filter one source publish in one [[writeGroup]] call,
  * which alone decides how they are written. An
  * empty result writes an empty file with the canonical 4-column schema so
  * downstream readers never fail (S6, SURVEY Q9), and reads trust that schema.
  * A segment directory holds only `part-*` files (and their checksums).
  */
final class SegmentStore(spark: SparkSession, warehouse: String) {

  /** Warehouse root — derived artifacts (rollups) live beside the segments. */
  def warehousePath: String = warehouse

  private def path(ruleId: Long): String = s"$warehouse/segment_output_$ruleId"

  /** Hadoop FileSystem for a path — resolves per-URI (file://, hdfs://,
    * s3a://, ...), unlike `java.io.File`, which silently only ever works on
    * the local filesystem.
    */
  private def fs(p: String): (FileSystem, Path) = {
    val hp = new Path(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  /** Write a segment, returning its row count (recorded in the catalog like
    * the reference's `row_count` update, S7). Null/empty-safe: an empty
    * result stores a zero-row file with the canonical schema (Q9).
    *
    * The segment is swapped in, so `df` may read the segment it replaces
    * (the streaming upsert reads, merges and rewrites it). The count rides
    * the write itself via an `observe` metric — one pass, no re-read of
    * what was just written.
    */
  def write(ruleId: Long, df: DataFrame): Long = {
    val (fsys, p) = fs(path(ruleId))
    SegmentStore.swapIn(fsys, p) { dir =>
      val obs = org.apache.spark.sql.Observation(s"seg_write_$ruleId")
      writeParquet(canonical(df).observe(obs, count(lit(1)).as("n")).write, dir)
      obs.get("n").asInstanceOf[Long]
    }
  }

  /** Publish one group of segments from `source`, returning each one's row
    * count in `keep`'s order: segment `id` holds the rows of `source` that
    * pass all of its filters. A lone segment is `source` filtered one
    * filter after another ([[write]]). Two or more come from one Spark
    * write, which sorts its rows by segment into partitions of the scratch
    * directory `segment_output_<root>__group` (`root` is the first id of
    * `keep`); each partition is then swapped in ([[SegmentStore.swapIn]])
    * as that segment, and a segment with no rows gets the canonical empty
    * file (Q9). Writes of one group directory serialize inside a JVM; the
    * directory is never read, and the next write of it, or a [[delete]] of
    * `root`, removes what a failed or crashed write left.
    */
  def writeGroup(source: DataFrame, keep: Seq[(Long, Seq[Column])]): Seq[(Long, Long)] =
    keep match {
      case Seq((id, filters)) => Seq(id -> write(id, filters.foldLeft(source)(_.filter(_))))
      case _ =>
        val root = keep.head._1
        val (fsys, group) = fs(path(root) + SegmentStore.GroupSuffix)
        SegmentStore.withJvmLock(fsys, group) {
          fsys.delete(group, true)
          val seg = col(SegmentStore.GroupColumn)
          val obs = org.apache.spark.sql.Observation(s"seg_group_$root")
          val counts = keep.map { case (id, _) => count(when(seg === id, 1)).as(id.toString) }
          val rows = canonical(source)
            .withColumn(SegmentStore.GroupColumn, explode(array(keep.map { case (id, filters) =>
              when(filters.reduce(_ && _), lit(id)) }: _*)))
            .filter(seg.isNotNull)
            .observe(obs, counts.head, counts.tail: _*)
          writeParquet(rows.write.partitionBy(SegmentStore.GroupColumn), group)
          val written = keep.map { case (id, _) =>
            val n = obs.get(id.toString).asInstanceOf[Long]
            val (f, p) = fs(path(id))
            SegmentStore.swapIn(f, p) { staging =>
              val part = new Path(group, s"${SegmentStore.GroupColumn}=$id")
              if (n > 0) require(fsys.rename(part, staging), s"rename $part -> $staging failed")
              else writeParquet(spark.createDataFrame(
                java.util.Collections.emptyList[Row](), Schemas.segmentOutput).write, staging)
            }
            id -> n
          }
          fsys.delete(group, true)
          written
        }
    }

  /** `df`'s canonical columns: names select them, casts pin their types. */
  private def canonical(df: DataFrame): DataFrame =
    df.select(Schemas.segmentOutput.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)

  /** Overwrite `dir` with parquet, leaving no `_SUCCESS` marker: nothing
    * reads one, as the swap is what publishes.
    */
  private def writeParquet(w: DataFrameWriter[Row], dir: Path): Unit =
    w.option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .mode(SaveMode.Overwrite).parquet(dir.toString)

  /** The published segment, read in the canonical schema every write pins
    * (no inference job; a file of other column types raises when read). One
    * never published fails as a missing path.
    */
  def read(ruleId: Long): DataFrame = {
    val (f, p) = fs(path(ruleId))
    spark.read.schema(Schemas.segmentOutput)
      .parquet(SegmentStore.resolve(f, p).getOrElse(p).toString)
  }

  def exists(ruleId: Long): Boolean = {
    val (f, p) = fs(path(ruleId)); SegmentStore.resolve(f, p).nonEmpty
  }

  /** Remove a segment's materialized parquet (rule DELETE, see
    * SegmentRunner.deleteRule), with the swap siblings and the group
    * directory ([[writeGroup]]) a failed or crashed write can leave. False
    * when nothing was published: neither the target nor a crashed swap's
    * `__old` copy ([[SegmentStore.resolve]]).
    */
  def delete(ruleId: Long): Boolean = {
    val (f, p) = fs(path(ruleId))
    val (staging, old) = SegmentStore.swapSiblings(p)
    val group = p.suffix(SegmentStore.GroupSuffix)
    SegmentStore.withJvmLock(f, group)(f.delete(group, true))
    SegmentStore.withJvmLock(f, p)(Seq(staging, old, p).map(f.delete(_, true)).tail.contains(true))
  }

  // ---- catalog --------------------------------------------------------------
  //
  // The catalog is the control plane's only source of truth (the reference
  // keeps it in SQLite, each rule's conditions a JSON list of
  // `{field, operator, value, value2?}` objects,
  // backend/app/models/rule_engine.py:45-95). Here it is one JSON document,
  // `_catalog.json`, that the driver reads and writes through the Hadoop
  // FileSystem API — no Spark job touches it:
  //  - `modifyCatalog` is the ONE mutator: it loads, applies a function and
  //    saves, all under the catalog lock, so every read-modify-write is a
  //    transaction and no concurrent writer's update is lost. A caller makes
  //    one call per operation, so each operation rewrites the catalog O(1)
  //    times (a whole refresh batch included);
  //  - readers take the same lock (`loadCatalog`), so a read never meets a
  //    save mid-swap. The lock covers only driver-side file I/O and the
  //    caller's in-memory update (milliseconds), so readers and writers
  //    serialize cheaply;
  //  - every save goes through the same staging + two-rename swap as segment
  //    data, so no crash window deletes the previous catalog before its
  //    replacement is durable. A save that crashed rolls back: reads resolve
  //    the moved-aside previous catalog ([[SegmentStore.resolve]]) until the
  //    next save lands, and never rename;
  //  - the lock is a create-exclusive lock file (atomic on HDFS and local FS;
  //    on object stores without atomic create-no-overwrite, e.g. raw S3,
  //    deploy with a single catalog writer instead — the data plane is
  //    unaffected either way).

  private val catalogPath = s"$warehouse/_catalog.json"

  /** Transactionally rewrite the catalog: `f` receives the catalog loaded
    * under the lock and returns the entries to save plus a result. If `f`
    * throws, nothing is saved. The saved high-water mark is the highest
    * rule id ever saved, so a deleted rule's id is never handed out again.
    */
  def modifyCatalog[A](f: SegmentStore.Catalog => (Seq[SegmentCatalogEntry], A)): A =
    withCatalogLock {
      val loaded = loadCatalogLocked()
      val (next, result) = f(loaded)
      val (fsys, p) = fs(catalogPath)
      val highWater = (loaded.highWater +: next.map(_.ruleId)).max
      SegmentStore.publishBytes(fsys, p,
        SegmentStore.toJson(SegmentStore.Catalog(next, highWater, SegmentStore.CatalogFormat)))
      result
    }

  /** The catalog as of the last committed [[modifyCatalog]], read under the
    * catalog lock so it never meets a save mid-swap.
    */
  def loadCatalog(): Seq[SegmentCatalogEntry] = withCatalogLock(loadCatalogLocked().rules)

  /** Serialize catalog mutations across processes. Acquisition is a
    * create-no-overwrite of `_catalog.lock` (atomic on HDFS only, see
    * below); a lock older than `staleLockMs` is presumed abandoned by a
    * crashed writer and broken (the swap itself is crash-safe, so breaking
    * a dead writer's lock never observes a torn catalog).
    */
  private def withCatalogLock[A](body: => A): A = {
    // Two layers: threads inside one driver JVM serialize on the catalog's
    // swap monitor, which the save's swapIn re-enters; driver processes
    // serialize on the lock file, whose create-no-overwrite is atomic on
    // HDFS (the namenode decides). Hadoop's local file system checks for the
    // file and then opens it without O_EXCL, so two driver processes on one
    // local warehouse can both take the lock; on object stores (s3a) the
    // create is a check-then-put and not exclusive either.
    val (fsys, p) = fs(catalogPath)
    SegmentStore.withJvmLock(fsys, p)(withCatalogFileLock(body))
  }

  private def withCatalogFileLock[A](body: => A): A = {
    val (fsys, lock) = fs(s"$warehouse/_catalog.lock")
    val staleLockMs = 10 * 60 * 1000L
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    var acquired = false
    while (!acquired) {
      try {
        val out = fsys.create(lock, false) // false = fail if it already exists
        try out.writeBytes(s"pid=${ProcessHandle.current().pid()}\n")
        finally out.close()
        acquired = true
      } catch {
        case e: java.io.IOException =>
          // only a held lock is waited for: any other failed create (the
          // warehouse sits below a file, no permission) is rethrown at once
          if (!e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] &&
              !fsys.exists(lock)) throw e
          val age = try {
            System.currentTimeMillis() - fsys.getFileStatus(lock).getModificationTime
          } catch { case _: java.io.FileNotFoundException => 0L } // holder just released
          if (age > staleLockMs) fsys.delete(lock, false)
          else if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"catalog lock $lock held for over 60s — concurrent writer stuck?")
          else Thread.sleep(50)
      }
    }
    try body finally fsys.delete(lock, false)
  }

  /** Read the catalog, as published ([[SegmentStore.readPublished]]).
    * Callers hold the catalog lock. A parquet `_catalog/` written by an
    * earlier engine version is refused, never read as empty (an empty read
    * would reassign rule ids over existing segments). So is a document
    * older than [[SegmentStore.CatalogFormat]] holding a Compound rule: it
    * stored that rule's greedy residual, not its submitted conditions.
    */
  private def loadCatalogLocked(): SegmentStore.Catalog = {
    val (fsys, p) = fs(catalogPath)
    SegmentStore.readPublished(fsys, p) match {
      case Some(bytes) =>
        val c = SegmentStore.catalogFromJson(bytes)
        if (c.format < SegmentStore.CatalogFormat)
          c.rules.find(_.dependsOn.nonEmpty).foreach(e => throw new IllegalStateException(
            s"$p predates catalog format ${SegmentStore.CatalogFormat}, which stores each " +
              s"rule's submitted conditions; its Compound rule ${e.ruleId} stores a greedy " +
              "cover's residual and is not read. Recreate the warehouse."))
        c
      case None =>
        val legacy = new Path(s"$warehouse/_catalog")
        if (fsys.exists(legacy)) throw new IllegalStateException(
          s"$legacy is a parquet catalog; the catalog format changed to " +
            s"$p and parquet catalogs are not read. Recreate the warehouse.")
        SegmentStore.Catalog(Nil, 0L)
    }
  }

  // ---- run history -----------------------------------------------------------
  //
  // Beyond-parity observability: every materialization records one
  // (rule_id, refreshed_at, row_count) row, so segment GROWTH over runs is
  // queryable (the reference's catalog keeps only the latest row_count).
  // Each refresh batch publishes one new driver-side file, `<uuid>.json`,
  // in the catalog's codec through [[SegmentStore.swapIn]]: no Spark job,
  // and no lock, as names are unique across processes. A crashed publish
  // leaves only a `__staging` file, which readers never list. Files accrete
  // one per batch; nothing folds them together.

  private val historyPath = s"$warehouse/_history"

  def appendRunHistory(entries: Seq[RunHistoryEntry]): Unit = {
    val (fsys, p) = fs(s"$historyPath/${java.util.UUID.randomUUID()}.json")
    SegmentStore.publishBytes(fsys, p, SegmentStore.toJson(entries))
  }

  /** All recorded runs, decoded on the driver into a local DataFrame (empty
    * when none). Filter by rule_id / order by refreshed_at at the call site.
    * A parquet `_history` from an earlier engine is refused, never read as empty.
    */
  def runHistory(): DataFrame = {
    val (fsys, dir) = fs(historyPath)
    val files = fsys.globStatus(new Path(dir, "*")).toSeq.map(_.getPath) // none when no dir
    files.find(_.getName.endsWith(".parquet")).foreach(f => throw new IllegalStateException(
      s"$f is parquet run history; the history format changed to $dir/*.json and " +
        "parquet history is not read. Move it aside or recreate the warehouse."))
    spark.createDataFrame(files.filter(_.getName.endsWith(".json")).flatMap(f =>
      SegmentStore.readPublished(fsys, f).toSeq.flatMap(SegmentStore.fromJson[List[RunHistoryEntry]])))
  }

  /** Lineage DAG for a rule: nodes + edges via recursive parent walk with a
    * cycle guard (reference: backend/app/api/segments.py:127-157, R6).
    */
  def lineage(ruleId: Long): (Seq[Long], Seq[(Long, Long)]) = {
    val byId = loadCatalog().map(e => e.ruleId -> e).toMap
    val nodes = Vector.newBuilder[Long]
    val edges = Vector.newBuilder[(Long, Long)]
    val visited = collection.mutable.Set.empty[Long]
    def walk(id: Long): Unit = {
      if (!visited.add(id)) return
      nodes += id
      byId.get(id).foreach(_.dependsOn.foreach { p =>
        edges += ((p, id)); walk(p)
      })
    }
    walk(ruleId)
    (nodes.result(), edges.result())
  }
}

object SegmentStore {

  /** The catalog document: the rules, the highest rule id ever saved and
    * the document's format. A document without the mark is format 1.
    */
  final case class Catalog(rules: Seq[SegmentCatalogEntry], highWater: Long, format: Int = 1) {
    def nextRuleId: Long = highWater + 1L
  }

  /** The catalog format this engine writes: each rule keeps its submitted
    * conditions. Format 1 kept a Compound rule's greedy residual.
    */
  val CatalogFormat = 2

  /** One monitor per swap target while some thread holds or awaits it; its
    * count of such threads is updated in `compute`, and the entry dropped
    * at zero, so the map holds only targets with a swap in flight.
    */
  private final class Monitor { var users = 0 }
  private val jvmLocks = new java.util.concurrent.ConcurrentHashMap[String, Monitor]()

  /** Run `body` holding `target`'s monitor (re-entrant). */
  private def withJvmLock[A](fsys: FileSystem, target: Path)(body: => A): A = {
    val key = fsys.makeQualified(target).toString
    val m = jvmLocks.compute(key, (_, m) => {
      val held = if (m == null) new Monitor else m
      held.users += 1
      held
    })
    try m.synchronized(body)
    finally jvmLocks.compute(key, (_, m) => { m.users -= 1; if (m.users == 0) null else m })
  }

  /** Swap targets with a monitor in the map (tests read its growth). */
  private[graft] def jvmLockCount: Int = jvmLocks.size

  /** Crash-safe replacement of a file or directory, the one way one is
    * published. It publishes segments ([[SegmentStore.write]], and one swap
    * per segment of a partitioned [[SegmentStore.writeGroup]]), small files
    * through [[publishBytes]] (the catalog, run-history files and curation's
    * snapshot pointers), the rollup (`RollupServing.materialize`) and
    * curation's compactions (`ManagedTables.compact`). `writeStaging`
    * materializes the new content into `<target>__staging` (its result is
    * returned), then the target is moved aside to `<target>__old` and the
    * staging copy renamed in. If `writeStaging` throws, the target is
    * untouched. A crashed swap rolls back: `__old` stays published
    * ([[resolve]]) until a target exists again, and a staging copy is
    * scratch. (Rolling it forward would pull files from under a lazy plan
    * that resolved `__old`, e.g. the streaming upsert's read.) Swaps of one
    * target serialize inside a JVM, not across driver processes (the
    * catalog adds its lock file). Renames are atomic on HDFS/local; on
    * object stores (s3a) they copy.
    */
  def swapIn[A](fsys: FileSystem, target: Path)(writeStaging: Path => A): A =
    withJvmLock(fsys, target) {
      val (staging, old) = swapSiblings(target)
      fsys.delete(staging, true) // scratch of a failed or crashed write
      val result = writeStaging(staging)
      if (fsys.exists(target)) {
        fsys.delete(old, true)
        require(fsys.rename(target, old), s"rename $target -> $old failed")
      }
      require(fsys.rename(staging, target), s"rename $staging -> $target failed")
      fsys.delete(old, true)
      result
    }

  /** What a reader of a swapped target sees: the target, else the `__old`
    * copy a crashed swap moved aside, else None. `__staging` is never read.
    */
  private[graft] def resolve(fsys: FileSystem, target: Path): Option[Path] =
    Seq(target, swapSiblings(target)._2).find(fsys.exists)

  /** Publish `bytes` as the small file `target` ([[swapIn]]). */
  private[graft] def publishBytes(fsys: FileSystem, target: Path, bytes: Array[Byte]): Unit =
    swapIn(fsys, target) { staging =>
      val out = fsys.create(staging, true)
      try out.write(bytes) finally out.close()
    }

  /** The bytes of a small published file ([[resolve]]), or None. */
  private[graft] def readPublished(fsys: FileSystem, target: Path): Option[Array[Byte]] =
    resolve(fsys, target).map { f =>
      val in = fsys.open(f)
      try in.readAllBytes() finally in.close()
    }

  /** The scratch sibling a [[SegmentStore.writeGroup]] writes under, and
    * the column its partitions are named by.
    */
  private val GroupSuffix = "__group"
  private val GroupColumn = "rule_id"

  /** The `__staging` and `__old` siblings [[swapIn]] moves a target through. */
  private def swapSiblings(target: Path): (Path, Path) =
    (target.suffix("__staging"), target.suffix("__old"))

  /** The JSON codec of the catalog and the run history. A condition keeps
    * the reference's own shape: `value` is a string, or a list for IN /
    * NOT IN, and `value2` appears only when present. An entry missing a
    * field written by a later engine version (e.g. `schedule`) takes its
    * [[SegmentCatalogEntry]] default.
    */
  private implicit val catalogFormats: org.json4s.Formats =
    org.json4s.DefaultFormats + ConditionSerializer

  private object ConditionSerializer extends org.json4s.CustomSerializer[Condition](_ => {
    import org.json4s._
    def str(s: String): JValue = if (s == null) JNull else JString(s)
    def unstr(v: JValue): String = v match {
      case JString(s) => s
      case JNull      => null
      case other      => throw new MappingException(s"condition string expected, got $other")
    }
    ({
      case JObject(fields) =>
        val m = fields.toMap
        Condition(unstr(m("field")), unstr(m("operator")),
          m("value") match {
            case JArray(vs) => CondValue.Many(vs.map(unstr).toVector)
            case v          => CondValue.One(unstr(v))
          },
          m.get("value2").map(unstr))
    }, {
      case c: Condition =>
        val value = c.value match {
          case CondValue.One(v)   => str(v)
          case CondValue.Many(vs) => JArray(vs.map(str).toList)
        }
        JObject(List("field" -> str(c.field), "operator" -> str(c.operator),
          "value" -> value) ++ c.value2.map("value2" -> str(_)))
    })
  })

  /** A catalog document, its rules sorted by id; a bare list of entries
    * (the format before the high-water mark) takes its highest id as the mark.
    */
  private def catalogFromJson(bytes: Array[Byte]): Catalog = {
    val c = org.json4s.jackson.JsonMethods.parse(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)) match {
      case list: org.json4s.JArray =>
        val rules = list.extract[List[SegmentCatalogEntry]]
        Catalog(rules, rules.map(_.ruleId).maxOption.getOrElse(0L))
      case doc => doc.extract[Catalog]
    }
    c.copy(rules = c.rules.sortBy(_.ruleId))
  }

  private[graft] def toJson(a: AnyRef): Array[Byte] =
    org.json4s.jackson.Serialization.write(a).getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private[graft] def fromJson[A: Manifest](bytes: Array[Byte]): A =
    org.json4s.jackson.Serialization.read[A](new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
}

/** One recorded materialization (run-history row), top-level so Spark derives its schema. */
case class RunHistoryEntry(rule_id: Long, refreshed_at: String, row_count: Long)
