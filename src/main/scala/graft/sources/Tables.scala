package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet readers for the driver-provided test corpus (TESTDATA.md) plus
  * the unified-transaction views that give the corpus the reference's
  * transaction semantics (FIXTURES.md §C).
  *
  * All readers are plain `spark.read.parquet` — schema travels with the file,
  * filters and column pruning push down to the scan via Catalyst, so callers
  * can `.select`/`.filter` freely without reading whole files.
  */
object Tables {

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` normalized to session-zone TimestampType regardless of how
    * the fixture generation wrote it. The corpus has shipped two physical
    * encodings so far, and this reader is the single place that absorbs
    * either (every downstream operator assumes plain TimestampType):
    *
    *  - INT64 TIMESTAMP(NANOS): Spark's parquet reader rejects it natively;
    *    read as a long (legacy nanosAsLong) and convert with integer
    *    arithmetic (nanos exceed 2^53, so floating-point division would
    *    corrupt them).
    *  - timestamp[us] with isAdjustedToUTC=false: Spark 4.x reads it as
    *    TIMESTAMP_NTZ; cast to TimestampType. Every entrypoint pins the
    *    session timezone to UTC, so the wall-clock values are preserved
    *    bit-for-bit.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType            => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                   => raw
    }
  }

  /** NTZ-safe epoch micros: `unix_micros` rejects TIMESTAMP_NTZ inputs, so
    * route every epoch extraction through a TimestampType cast first — a
    * no-op for TimestampType columns, a session-zone (UTC-pinned)
    * reinterpretation for NTZ ones. Defense in depth for operators that
    * may be handed a frame that did NOT come through [[events]].
    */
  def epochMicros(c: Column): Column = unix_micros(c.cast(TimestampType))

  /** NTZ-safe epoch seconds (see [[epochMicros]]). Numeric inputs are
    * interpreted as epoch seconds and pass through unchanged
    * (long → timestamp → long is the identity).
    */
  def epochSeconds(c: Column): Column = c.cast(TimestampType).cast(LongType)
  def lineitem(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame       = read(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame   = read(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = read(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")

  /** Exact decimal type used when summing monetary doubles: exact decimal
    * arithmetic makes aggregates independent of partitioning / summation
    * order, which both the 1000-executor cluster and the DuckDB oracle need.
    */
  val MoneyExact: DecimalType = DecimalType(38, 6)

  /** Final-output convention for monetary aggregates: exact decimal math
    * internally (order-independent), rounded to 2dp, then surfaced as
    * DOUBLE. Both Spark and the DuckDB oracle derive the identical
    * nearest-double from the identical exact decimal, so outputs are
    * bit-identical across engines — decimal finals are not: the two engines
    * render trailing-zero scale differently (`61.50` vs `61.5`), which is a
    * text-representation divergence, not a value one.
    */
  def moneyOut(c: Column): Column = c.cast(DecimalType(20, 2)).cast(DoubleType)

  /** Unified transaction view over `events` — the primary mapping of the
    * reference's `all_transactions` CTE
    * (reference: backend/app/utils/rule_parser.py:104-110; FIXTURES.md §C):
    * user_id, amount=value, ts, category=event_type,
    * city_tier = json `props.k` % 4 + 1, discriminator transaction_type.
    */
  def transactions(spark: SparkSession, dir: String): DataFrame =
    transactionsWithId(spark, dir).drop("transaction_id")

  /** [[transactions]] plus the source row id — the listing/get-by-id
    * endpoints of the reference key raw transactions on their table id
    * (reference: backend/app/api/transactions.py:7-35). The single source
    * of the column mapping; [[transactions]] derives from it by dropping
    * the id so the segment/analytics paths' view stays id-free (their
    * oracles and outputs never carry it).
    *
    * `city_tier` is `get_json_object(props, '$.k').cast(int) % 4 + 1`,
    * computed as `coalesce(PropsK(props), <that parse>) % 4 + 1`: a `props`
    * of exactly the shape `{"k": n}` ([[PropsK]]: U+0020 spaces only, `n` an
    * integer of at most 9 digits with no leading zero) is read by a byte scan
    * with no JSON parser, and every other text (null, tabs, leading zeros,
    * floats, strings, duplicate or nested keys, broken JSON) goes through
    * the parse unchanged. Every corpus and segbench row has the fast shape.
    * Tier domain (unchanged by the scan): under ANSI mode (Spark's default),
    * a `k` that is not an integer, e.g. `1e2` or `87.0` (which the parse
    * renders as `"100.0"` / `"87.0"`), makes the cast, and so any query over
    * the column, raise `CAST_INVALID_INPUT`; a missing `k` or unparsable
    * `props` is a null tier.
    */
  def transactionsWithId(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id").as("transaction_id"),
      col("user_id"),
      col("value").as("amount"),
      col("ts"),
      col("event_type").as("category"),
      (coalesce(PropsK(col("props")), get_json_object(col("props"), "$.k").cast(IntegerType))
        % 4 + 1).as("city_tier"),
      lit("EVENTS").as("transaction_type"))

  /** Ingest-time materialization of the transaction view: derives
    * `city_tier` from `props` ONCE and writes plain typed columns, so every
    * downstream segment/analytics query scans `city_tier` as a parquet
    * column (with pushdown/pruning) instead of deriving it per row per
    * query. Measured over 1e6 `{"k": n}` rows on a 2-CPU `local[2]` session
    * (one aggregate over the column, warm): the `get_json_object` parse
    * took 830-980 ms, the byte scan that now reads this shape 95-166 ms
    * (reading `props` alone 105-159 ms), the materialized column 66-102 ms.
    * So the parse is no longer paid on the corpus shape; materializing still
    * saves the `props` read, keeps other `props` shapes off the parse, and
    * lets the tier predicate push down to parquet. (Bucketing by
    * `user_id` would additionally pre-shuffle for the segment aggregate,
    * but bucket metadata only survives through a metastore-managed table
    * — `bucketBy(...).saveAsTable` read back via `spark.table` — not a
    * plain parquet path, so it's out of scope for this path-based store.)
    *
    * The driver-contract queries keep reading the raw corpus (the oracle
    * computes the derived column itself); this is the production ingest
    * path a deployment would run first.
    */
  def materializeTransactions(spark: SparkSession, dir: String, outPath: String): Unit =
    transactions(spark, dir).write.mode("overwrite").parquet(outPath)

  /** Read back a [[materializeTransactions]] output: identical schema to
    * [[transactions]], minus the per-query JSON parse.
    */
  def transactionsMaterialized(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)

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

  /** Write a frame as a metastore-managed BUCKETED parquet table: rows are
    * hash-partitioned into `buckets` files per partition by `key` and
    * sorted within each bucket. Joins and aggregates on `key` between
    * tables bucketed the same way then run WITHOUT a shuffle — the
    * pre-shuffle is paid once at write time. This is the co-located-join
    * story at 100 TB: bucket the fact tables on user_id at ingest and every
    * segment aggregate / set-op / enrichment join reads its partition
    * locally. (Bucket metadata lives in the metastore, so the read side
    * must be `spark.table(name)`, not a parquet path — see
    * [[materializeTransactions]] for the path-based alternative.)
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

  /** Two-source unified view (orders ∪ lineitem), the analog of the
    * reference's UPI ∪ CC `UNION ALL` with a discriminator column
    * (reference: backend/app/utils/rule_parser.py:104-110, U1).
    * lineitem rows reach a user via the l_orderkey→orders join
    * (FIXTURES.md §C). The join keys are co-partitioned by the shuffle on
    * l_orderkey/o_orderkey; at 100 TB this is the one necessary shuffle and
    * AQE handles skew.
    */
  def transactionsTwoSource(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val li = lineitem(spark, dir)
    val fromOrders = o.select(
      col("o_custkey").as("user_id"),
      col("o_totalprice").as("amount"),
      col("o_orderdate").as("ts"),
      col("o_orderpriority").as("category"),
      lit("ORDERS").as("transaction_type"))
    val fromLineitem = li
      .join(o.select(col("o_orderkey"), col("o_custkey")), col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_custkey").as("user_id"),
        col("l_extendedprice").as("amount"),
        col("l_shipdate").as("ts"),
        col("l_returnflag").as("category"),
        lit("LINEITEM").as("transaction_type"))
    fromOrders.unionByName(fromLineitem)
  }
}
