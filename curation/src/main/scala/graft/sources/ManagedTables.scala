package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Metastore-managed tables behind the curation indexes: bucketed writes
  * and appends under a table's own bucket spec, tombstone deletes, and the
  * stage-and-swap rewrite their compactions publish through.
  */
object ManagedTables {

  /** Write a frame as a metastore-managed BUCKETED parquet table: rows are
    * hash-partitioned into `buckets` files per partition by `key` and
    * sorted within each bucket. Joins and aggregates on `key` between
    * tables bucketed the same way then run WITHOUT a shuffle — the
    * pre-shuffle is paid once at write time. This is the co-located-join
    * story at 100 TB: bucket the fact tables on user_id at ingest and every
    * segment aggregate / set-op / enrichment join reads its partition
    * locally. (Bucket metadata lives in the metastore, so the read side
    * must be `spark.table(name)`, not a parquet path — see
    * [[Tables.materializeTransactions]] for the path-based alternative.)
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      format: String = "parquet"): Unit = {
    require(format == "parquet" || format == "orc",
      s"bucketed index format must be parquet or orc, got '$format'")
    // Cluster to the bucket layout BEFORE the write: repartition(n, key)
    // and bucketBy(n, key) share the same pmod(murmur3) placement, so each
    // write task holds exactly one bucket and emits ONE file — an
    // un-clustered bucketed write emits (input partitions × buckets) tiny
    // files per index (guide §6), which every read-back then pays for in
    // open/list overhead. Write parallelism equals the bucket count, the
    // knob a cluster-scale caller already sizes to its fleet.
    df.repartition(buckets, col(key)).write.mode("overwrite").format(format)
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
  }

  /** The catalog-recorded provider of a managed table — read back by the
    * append/rewrite paths so maintenance NEVER changes an index's storage
    * format mid-life (an ORC-built index stays ORC through upserts,
    * deletes, and compactions).
    */
  private def providerOf(spark: SparkSession, table: String): String =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .provider.getOrElse("parquet")

  /** Append under a [[writeBucketed]] table's OWN bucket spec (read from
    * the catalog, never from call-site parameters — a mismatched append
    * would silently break bucket pruning on the grown table). The
    * incremental-maintenance primitive shared by the MinHash index and
    * the image-signature gate.
    */
  private[graft] def appendBucketed(spark: SparkSession, table: String,
      df: DataFrame): Unit = {
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec
      .getOrElse(throw new IllegalStateException(
        s"table $table has no bucket spec"))
    // same pre-clustering as [[writeBucketed]]: one file per bucket per
    // append instead of one per (input partition × bucket)
    df.repartition(spec.numBuckets, col(spec.bucketColumnNames.head))
      .write.mode("append").format(providerOf(spark, table))
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head)
      .sortBy(spec.sortColumnNames.head)
      .saveAsTable(table)
  }

  /** An index/table name lands in SQL statements and a recursive filesystem
    * delete — identifier-only, enforced symmetrically on the write, read,
    * and drop halves of every index API (BM25, ANN).
    */
  def requireIdent(name: String): Unit =
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"index name must be an identifier ([A-Za-z_][A-Za-z0-9_]*): $name")

  /** Drop managed tables AND their directories. A table dir can survive a
    * crash without a catalog entry (fresh metastore) — saveAsTable refuses
    * to overwrite an unregistered location, so the directory is cleared
    * too, resolved against the CURRENT database's location (a
    * warehouse-root guess would miss `<db>.db/` paths).
    */
  def dropManagedTables(spark: SparkSession, tables: Seq[String]): Unit = {
    tables.foreach(requireIdent)
    val dbLoc = new org.apache.hadoop.fs.Path(
      spark.catalog.getDatabase(spark.catalog.currentDatabase).locationUri)
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new org.apache.hadoop.fs.Path(dbLoc, t.toLowerCase)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.delete(dir, true)
    }
  }

  /** TOMBSTONE DELETION for persisted artifact families — the missing
    * half of index maintenance (build + upsert existed; takedowns and
    * opt-outs need targeted removal). The design is merge-on-read:
    *
    *  - [[appendDeletes]] records deleted ids in a tiny `<name>_deletes`
    *    table — O(batch), so a takedown is EFFECTIVE immediately without
    *    touching the index body (Spark's managed bucketed tables have no
    *    partition-level overwrite, so an eager purge would rewrite the
    *    whole table per deletion batch).
    *  - [[minusDeletes]] is the read-side anti-join every index reader
    *    applies: the deletes table is broadcast (bounded between
    *    compactions — the maxQueries/maxCandidates contract), so the
    *    cost is a map-side probe on the already-pruned index read.
    *  - The per-family `compact*` jobs fold the tombstones into a staged
    *    rewrite ([[rewriteBucketed]]) and clear them — the amortized
    *    physical purge (takedown compliance: bytes leave disk here), run
    *    on the rollup-compaction cadence, not per delete.
    *
    * Re-adding a previously deleted id requires compacting first — an
    * upsert cannot see the tombstone that would shadow its new row (the
    * same can't-read-what-you-append contract the upserts document).
    */
  private[graft] def appendDeletes(spark: SparkSession, name: String,
      idCol: String, ids: Seq[Long]): Unit = {
    requireIdent(name)
    require(ids.nonEmpty, "empty deletion batch")
    import spark.implicits._
    ids.toDF(idCol).write.mode("append").format("parquet")
      .saveAsTable(s"${name}_deletes")
  }

  /** Anti-join a reader's frame against `<name>_deletes` if it exists. */
  private[graft] def minusDeletes(spark: SparkSession, name: String,
      df: DataFrame, idCol: String): DataFrame =
    if (spark.catalog.tableExists(s"${name}_deletes"))
      df.join(
        broadcast(spark.table(s"${name}_deletes").select(idCol).distinct()),
        Seq(idCol), "left_anti")
    else df

  private[graft] def dropDeletes(spark: SparkSession, name: String): Unit =
    dropManagedTables(spark, Seq(s"${name}_deletes"))

  /** Stage-and-swap rewrite of a bucketed table under its OWN bucket spec
    * (read from the catalog — the [[appendBucketed]] discipline): write
    * the replacement rows to `<table>_stage`, then drop the original and
    * rename the stage into place. The compaction primitive behind every
    * `compact*` job.
    */
  private[graft] def rewriteBucketed(spark: SparkSession, table: String,
      df: DataFrame): Unit = {
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec
    require(spec.nonEmpty, s"table $table has no bucket spec")
    rewriteTable(spark, table, df)
  }

  /** [[rewriteBucketed]] for any managed table: preserves the bucket
    * spec when one exists, plain overwrite otherwise (the SQ/PQ codes
    * tables are unbucketed full-scan artifacts).
    *
    * Publish is a RENAME-SWAP, never drop-then-rename: the live rows are
    * renamed aside to `<table>_old` only after the replacement is fully
    * written, then the stage renames into place and `_old` is dropped.
    * Every crash window leaves a complete copy of the data catalogued —
    * worst case (between the two renames) the live name is briefly absent
    * but both `<table>_old` (previous rows) and `<table>_stage`
    * (replacement rows) are intact and queryable; recovery is renaming
    * either back. The next successful rewrite also self-heals: stale
    * `_stage`/`_old` orphans are dropped up front.
    */
  private[graft] def rewriteTable(spark: SparkSession, table: String,
      df: DataFrame): Unit = {
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec
    val stage = s"${table}_stage"
    val old = s"${table}_old"
    dropManagedTables(spark, Seq(stage, old))
    val w = df.write.mode("overwrite").format(providerOf(spark, table))
    spec.fold(w)(s => w.bucketBy(s.numBuckets, s.bucketColumnNames.head)
        .sortBy(s.sortColumnNames.head))
      .saveAsTable(stage)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $stage RENAME TO $table")
    dropManagedTables(spark, Seq(old))
  }

  /** Ingest-time DATE PARTITIONING of the event stream: one parquet
    * directory per event day (`event_date=YYYY-MM-DD/`). Time-bounded
    * queries — daily totals, rollup windows, retention, sessions over a
    * range — then touch only the matching directories: the date predicate
    * becomes a `PartitionFilters` entry resolved against directory names
    * at planning time, and at 100 TB a 30-day rollup reads 30 days, not
    * the full history. Pair with [[writeBucketed]] when the downstream
    * key is also fixed; partitioning prunes IO by time, bucketing removes
    * the key shuffle.
    */
  def writePartitionedByDay(events: DataFrame, outPath: String,
      filesPerDay: Int = 1): Unit =
    events
      .withColumn("event_date", to_date(col("ts")))
      // cluster by day so small days don't fragment into one file per
      // shuffle partition — but salt WITHIN the day (filesPerDay > 1) when
      // a single day is too big for one write task: hash-partitioning on
      // the date alone would funnel a whole day through one task
      .repartition(col("event_date"), pmod(hash(col("ts")), lit(filesPerDay)))
      .write.mode("overwrite")
      // dynamic overwrite: a repeat ingest replaces ONLY the days present
      // in the incoming batch — the default static mode would truncate the
      // whole directory and silently drop every previously ingested day
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date").parquet(outPath)

  /** Read back a [[writePartitionedByDay]] layout; date predicates on
    * `event_date` prune directories before any file is opened.
    */
  def eventsPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Small-file compaction for a parquet directory: rewrite its contents
    * into ⌈bytes / targetFileBytes⌉ files. Streaming sinks and frequent
    * small ingests fragment a directory into thousands of tiny files,
    * and at scale the scan's file-listing + per-file open cost comes to
    * dominate the read — periodic compaction is standard table
    * maintenance. Publishes through [[SegmentStore.swapIn]]: the rewrite
    * lands in a staging sibling first (the original stays intact and
    * readable throughout), then swaps in with two renames — a crash
    * mid-swap leaves the previous data ([[SegmentStore.resolve]]).
    * Renames are atomic on HDFS and local filesystems; on object stores
    * (s3a) rename is a copy-based client operation — use a
    * manifest-committing table format there.
    * For a [[writePartitionedByDay]] layout, compact each day's directory
    * individually — rewriting the root would flatten the partitioning.
    * Returns the number of files written (0 = empty directory, no-op).
    */
  def compact(spark: SparkSession, dir: String,
      targetFileBytes: Long = 512L << 20): Int = {
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fsys = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fsys.getContentSummary(hPath).getLength
    if (bytes == 0L) return 0
    val nFiles = math.max(1L, math.ceil(bytes.toDouble / targetFileBytes).toLong).toInt
    SegmentStore.swapIn(fsys, hPath) { staging =>
      spark.read.parquet(dir).repartition(nFiles)
        .write.mode("overwrite").parquet(staging.toString)
    }
    nFiles
  }
}
