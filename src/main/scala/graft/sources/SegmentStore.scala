package graft.sources

import graft.model._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed store for materialized segments + catalog metadata,
  * replacing the reference's JDBC overwrite sink and SQLAlchemy metadata
  * update (reference: backend/app/processor/spark_processor.py:169-203 and
  * :139-167).
  *
  * Layout: `$warehouse/segment_output_<ruleId>/` (one parquet dir per rule)
  * and `$warehouse/_catalog/` (tiny parquet of catalog entries). A refresh
  * never overwrites a segment in place: the new content is written beside
  * it and swapped in ([[swapIn]]), so a failed refresh leaves the previous
  * segment readable, like the reference's transactional table replace. An
  * empty result writes an empty file with the canonical 4-column schema so
  * downstream readers never fail (S6, SURVEY Q9).
  */
final class SegmentStore(spark: SparkSession, warehouse: String) {

  /** Warehouse root — derived artifacts (rollups) live beside the segments. */
  def warehousePath: String = warehouse

  private def path(ruleId: Long): String = s"$warehouse/segment_output_$ruleId"

  /** Hadoop FileSystem for a path — resolves per-URI (file://, hdfs://,
    * s3a://, ...), unlike `java.io.File`, which silently only ever works on
    * the local filesystem.
    */
  private def fs(p: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val hp = new org.apache.hadoop.fs.Path(p)
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
  def write(ruleId: Long, df: DataFrame): Long =
    swapIn(path(ruleId)) { dir =>
      val obs = org.apache.spark.sql.Observation(s"seg_write_$ruleId")
      // names select the canonical columns, casts pin their types
      df.select(Schemas.segmentOutput.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
        .observe(obs, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite).parquet(dir)
      obs.get("n").asInstanceOf[Long]
    }

  /** Crash-safe replacement of a warehouse directory, the one way one is
    * published. Its three users are segment [[write]]s, the catalog
    * ([[modifyCatalog]]) and `RollupServing.materialize`.
    * `writeStaging` materializes the new content beside the target (its
    * result is returned), then the old data is moved aside and the staging
    * directory renamed in. If `writeStaging` throws, the target is
    * untouched. At no point is the target's previous state deleted before
    * its replacement is fully written; a crash between the two renames
    * leaves the target missing until the next swap publishes it (only the
    * catalog is repaired on read, by the lock holder: [[recoverSwap]]).
    * Renames are atomic on HDFS/local; on object stores (s3a) they copy.
    */
  def swapIn[A](target: String)(writeStaging: String => A): A = {
    val (fsys, tgt) = fs(target)
    val (staging, old) = swapSiblings(tgt)
    fsys.delete(staging, true) // leftover from a previous crash, superseded
    val result = writeStaging(staging.toString)
    fsys.delete(old, true)
    if (fsys.exists(tgt))
      require(fsys.rename(tgt, old), s"rename $tgt -> $old failed")
    require(fsys.rename(staging, tgt), s"rename $staging -> $tgt failed")
    fsys.delete(old, true)
    result
  }

  /** The `__staging` and `__old` directories [[swapIn]] moves a target through. */
  private def swapSiblings(target: org.apache.hadoop.fs.Path) =
    (target.suffix("__staging"), target.suffix("__old"))

  /** Repair the target of an interrupted [[swapIn]]. Only the window between
    * the two renames leaves the target missing; recovery rolls FORWARD to
    * the fully-written staging copy when its `_SUCCESS` commit marker is
    * present, else rolls BACK to the preserved previous state. A no-op
    * whenever the target exists. Runs only under the catalog lock: an
    * unlocked repair could rename `__staging` between a writer's renames.
    */
  private def recoverSwap(target: String): Unit = {
    val (fsys, tgt) = fs(target)
    if (fsys.exists(tgt)) return
    val (staging, old) = swapSiblings(tgt)
    if (fsys.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))) {
      require(fsys.rename(staging, tgt), s"recovery rename $staging -> $tgt failed")
      fsys.delete(old, true)
    } else if (fsys.exists(old)) {
      require(fsys.rename(old, tgt), s"recovery rename $old -> $tgt failed")
      fsys.delete(staging, true)
    }
  }

  def read(ruleId: Long): DataFrame = spark.read.parquet(path(ruleId))

  def exists(ruleId: Long): Boolean = {
    val (f, p) = fs(path(ruleId)); f.exists(p)
  }

  /** Remove a segment's materialized parquet (rule DELETE, see
    * SegmentRunner.deleteRule), with the `__staging`/`__old` siblings a
    * failed or crashed swap can leave. False when nothing was materialized.
    */
  def delete(ruleId: Long): Boolean = {
    val (f, p) = fs(path(ruleId))
    val (staging, old) = swapSiblings(p)
    Seq(staging, old).foreach(f.delete(_, true))
    f.delete(p, true)
  }

  // ---- catalog --------------------------------------------------------------
  //
  // The catalog is the control plane's only source of truth (the reference
  // gets crash-safety for free from SQLite's transactionality,
  // backend/app/models/rule_engine.py:45-95). Here:
  //  - `modifyCatalog` is the ONE mutator: it loads, applies a function and
  //    saves, all under the catalog lock, so every read-modify-write is a
  //    transaction and no concurrent writer's update is lost. A caller makes
  //    one call per operation, so each operation rewrites the catalog O(1)
  //    times (a whole refresh batch included);
  //  - readers take the same lock (`loadCatalog`), so a read never sees the
  //    catalog mid-swap and the lock holder is the only one that repairs an
  //    interrupted swap (readers and writers serialize; a versioned catalog
  //    pointer is the route if concurrent readers ever dominate);
  //  - every save goes through the same staging + two-rename swap as segment
  //    data, so no crash window deletes the previous catalog before its
  //    replacement is durable;
  //  - the lock is a create-exclusive lock file (atomic on HDFS and local FS;
  //    on object stores without atomic create-no-overwrite, e.g. raw S3,
  //    deploy with a single catalog writer instead — the data plane is
  //    unaffected either way).

  private val catalogPath = s"$warehouse/_catalog"

  /** Transactionally rewrite the catalog: `f` receives the entries loaded
    * under the lock and returns the entries to save plus a result. If `f`
    * throws, nothing is saved.
    */
  def modifyCatalog[A](f: Seq[SegmentCatalogEntry] => (Seq[SegmentCatalogEntry], A)): A =
    withCatalogLock {
      import spark.implicits._
      val (next, result) = f(loadCatalogLocked())
      val flat = next.map(e => FlatEntry(
        e.ruleId, e.segmentName, e.tableName,
        ConditionCodec.encodeAll(e.conditions),
        e.dependsOn, e.operation.getOrElse(""),
        e.rowCount, e.lastRefreshedAt.getOrElse(""),
        e.schedule, e.isActive, e.nextRunAt.getOrElse(""),
        e.sqlQuery.getOrElse(""))).toDS()
      swapIn(catalogPath)(flat.coalesce(1).write.mode(SaveMode.Overwrite).parquet(_))
      result
    }

  /** The catalog as of the last committed [[modifyCatalog]], read under the
    * catalog lock so it never meets a save mid-swap.
    */
  def loadCatalog(): Seq[SegmentCatalogEntry] = withCatalogLock(loadCatalogLocked())

  /** Serialize catalog mutations across processes. Acquisition is an atomic
    * create-no-overwrite of `_catalog.lock`; a lock older than
    * `staleLockMs` is presumed abandoned by a crashed writer and broken
    * (the swap itself is crash-safe, so breaking a dead writer's lock never
    * observes a torn catalog).
    */
  private def withCatalogLock[A](body: => A): A =
    // Two layers: threads inside one driver JVM serialize on a per-warehouse
    // monitor (Hadoop's LocalFileSystem create-exclusive is check-then-create,
    // not atomic, so the file alone can't exclude same-process threads);
    // separate driver processes serialize on the lock file, whose exclusive
    // create IS atomic on HDFS namenodes and POSIX local mounts.
    SegmentStore.jvmLock(warehouse).synchronized(withCatalogFileLock(body))

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
        case _: java.io.IOException =>
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

  /** Columns added to the catalog after its first release, with the value
    * an old row means: pre-scheduling catalogs are daily-active-unarmed.
    * Read-side defaults keep warehouses written by older engine versions
    * loadable (schema evolution without a migration pass).
    */
  private val catalogDefaults: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "schedule" -> lit("DAILY"), "isActive" -> lit(true), "nextRunAt" -> lit(""),
    "sqlQuery" -> lit(""))

  /** Read the catalog, first repairing an interrupted save. Callers hold
    * the catalog lock.
    */
  private def loadCatalogLocked(): Seq[SegmentCatalogEntry] = {
    import spark.implicits._
    recoverSwap(catalogPath)
    val (f, p) = fs(catalogPath)
    if (!f.exists(p)) Seq.empty
    else {
      catalogDefaults.foldLeft(spark.read.parquet(catalogPath)) {
        case (df, (c, d)) =>
          if (df.columns.contains(c)) df else df.withColumn(c, d)
      }.as[FlatEntry].collect().toSeq
        .map(f => SegmentCatalogEntry(
          f.ruleId, f.segmentName, f.tableName,
          ConditionCodec.decodeAll(f.conditions),
          f.dependsOn, Option(f.operation).filter(_.nonEmpty),
          f.rowCount, Option(f.lastRefreshedAt).filter(_.nonEmpty),
          f.schedule, f.isActive, Option(f.nextRunAt).filter(_.nonEmpty),
          Option(f.sqlQuery).filter(_.nonEmpty)))
        .sortBy(_.ruleId)
    }
  }

  // ---- run history -----------------------------------------------------------
  //
  // Beyond-parity observability: every materialization appends one
  // (rule_id, refreshed_at, row_count) row, so segment GROWTH over runs is
  // a queryable table instead of a lost log line (the reference's catalog
  // keeps only the latest row_count). Append-only parquet: each refresh
  // batch writes one fresh file holding all of its rows, so no catalog lock
  // is needed — concurrent runners never touch each other's files, and
  // readers only see committed files. At production run rates the directory
  // accretes small files; that is the standard table-maintenance story
  // ([[Tables.compact]] on a cadence).

  private val historyPath = s"$warehouse/_history"

  def appendRunHistory(entries: Seq[RunHistoryEntry]): Unit = {
    import spark.implicits._
    entries.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(historyPath)
  }

  /** All recorded runs (empty frame with the canonical schema when no run
    * has ever been recorded). Filter by rule_id / order by refreshed_at at
    * the call site — it is a plain DataFrame.
    */
  def runHistory(): DataFrame = {
    import spark.implicits._
    val (f, p) = fs(historyPath)
    if (!f.exists(p)) spark.emptyDataset[RunHistoryEntry].toDF()
    else spark.read.parquet(historyPath)
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
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def jvmLock(warehouse: String): Object =
    jvmLocks.computeIfAbsent(warehouse, _ => new Object)
}

/** One recorded materialization (run-history row). Top-level so Spark can
  * derive an Encoder for it.
  */
case class RunHistoryEntry(rule_id: Long, refreshed_at: String, row_count: Long)

/** Catalog row flattened for parquet; conditions round-trip through a
  * compact escaped encoding (ConditionCodec). Top-level so Spark can derive
  * an Encoder for it.
  */
private[sources] case class FlatEntry(
    ruleId: Long, segmentName: String, tableName: String,
    conditions: String, dependsOn: Seq[Long], operation: String,
    rowCount: Long, lastRefreshedAt: String,
    schedule: String, isActive: Boolean, nextRunAt: String,
    sqlQuery: String)

/** Compact string codec for condition lists so catalog metadata stays a
  * flat parquet table. Control-plane only — never touches data rows.
  *
  * Every user-supplied string is percent-escaped before the printable
  * separators are applied, so arbitrary payload characters (including the
  * separators themselves) round-trip; `value2` absence is a structural
  * flag, not a sentinel value.
  */
object ConditionCodec {
  private val F = "|"  // field separator
  private val V = ","  // list-element separator
  private val C = ";"  // condition separator

  private def esc(s: String): String =
    s.flatMap {
      case '%' => "%25"
      case '|' => "%7c"
      case ',' => "%2c"
      case ';' => "%3b"
      case ch  => ch.toString
    }
  private def unesc(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length) {
        out.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { out.append(s.charAt(i)); i += 1 }
    }
    out.toString
  }

  def encodeAll(cs: Seq[Condition]): String = cs.map(encode).mkString(C)
  private def encode(c: Condition): String = {
    val vs = c.value match {
      case CondValue.One(v) => "S" + esc(v)
      // each element carries a 'v' prefix so the empty list ("M") stays
      // distinct from a single empty string ("Mv")
      case CondValue.Many(vs) => "M" + vs.map("v" + esc(_)).mkString(V)
    }
    val v2 = c.value2 match {
      case Some(v) => "S" + esc(v)
      case None    => "N"
    }
    Seq(esc(c.field), esc(c.operator), vs, v2).mkString(F)
  }

  def decodeAll(s: String): Seq[Condition] =
    if (s == null || s.isEmpty) Nil
    else s.split(C(0)).toSeq.filter(_.nonEmpty).map(decode)
  private def decode(s: String): Condition = {
    val parts = s.split(F(0))
    require(parts.length == 4 && parts(2).nonEmpty && parts(3).nonEmpty,
      s"unrecognized condition encoding '$s' — catalog written by an " +
        "incompatible codec version?")
    val value = parts(2).charAt(0) match {
      case 'S' => CondValue.One(unesc(parts(2).drop(1)))
      case 'M' =>
        val rest = parts(2).drop(1)
        if (rest.isEmpty) CondValue.Many(Vector.empty)
        else CondValue.Many(rest.split(V, -1).map(p => unesc(p.drop(1))).toVector)
    }
    val value2 = parts(3).charAt(0) match {
      case 'S' => Some(unesc(parts(3).drop(1)))
      case _   => None
    }
    Condition(unesc(parts(0)), unesc(parts(1)), value, value2)
  }
}
