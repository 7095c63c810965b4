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
