package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Text-format sources/sinks — JSON Lines and CSV, the formats crawl and
  * vendor data actually arrive in before anything is parquet. Thin by
  * design (Spark's readers/writers are already the right engine); what
  * this module pins is the DISCIPLINE:
  *
  *  - **Schemas are explicit, never inferred.** `inferSchema`/sampling
  *    costs a second full pass over the data at 100 TB and, worse, lets
  *    the SAME file read as different types depending on which rows the
  *    sample saw (the fixture-drift class of bug TablesSpec exists to
  *    catch). Every reader here takes a `StructType` and applies it
  *    verbatim — type errors surface as permissive-mode NULLs in a
  *    `_corrupt_record`-style audit, not as silent schema drift.
  *  - **Row-preserving round-trips are oracle-certified**:
  *    q_source_jsonl_roundtrip / q_source_csv_roundtrip write the
  *    documents corpus out and read it back under the corpus schema, and
  *    the DuckDB oracle answers from the parquet table directly — hash
  *    equality proves the escape/quote/encode cycle loses nothing.
  *
  * Scale shape: both formats split by line, so reads parallelize per
  * file-chunk like parquet (minus column pruning/predicate pushdown —
  * which is why [[Tables.materializeTransactions]]-style conversion to
  * parquet is the first step of every pipeline here; these sources are
  * the INGEST EDGE, not the working format).
  */
object TextFormats {

  /** Write as JSON Lines (one object per row, newline-delimited).
    * `codec` compresses each part file ("gzip", "none"; zstd text
    * output needs the native-hadoop lib — parquet/orc zstd ride
    * zstd-jni and are unaffected); Spark's reader decompresses by
    * file EXTENSION transparently, so [[readJsonl]] needs no flag. The
    * scale caveat to know: gzip/zstd part files are NOT splittable — one
    * task per file on read — so the writer's parallelism (one part per
    * partition) decides read parallelism; repartition before writing
    * compressed landings.
    */
  def writeJsonl(df: DataFrame, path: String, codec: String = "none"): Unit =
    df.write.mode("overwrite").option("compression", codec).json(path)

  /** Read JSON Lines under an EXPLICIT schema. Fields absent from a row
    * read as NULL; malformed lines null out every field (PERMISSIVE) —
    * count them via a NULL-audit on a required column rather than
    * trusting the file.
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** STREAM JSON Lines from a landing directory — the file-based ingest
    * edge: a crawler drops `.json`/`.jsonl` files into `path` and each
    * micro-batch picks up the new ones (Structured Streaming's file
    * source tracks seen files in the checkpoint — exactly-once per
    * file). Same explicit-schema discipline as [[readJsonl]]; compose
    * with the curation module's streaming gates for
    * dedup/quality-at-ingest (StreamingSpec runs the composition
    * end-to-end).
    */
  def streamJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(path)

  /** Write as RFC-4180-style CSV with a header row; fields containing the
    * separator, quote, or newline are quoted and inner quotes doubled —
    * the symmetric reader settings below undo exactly this. CSV cannot
    * natively distinguish NULL from '' (both serialize to an empty
    * field), so NULL is written as the classic `\N` sentinel and the
    * empty string as a quoted empty field — the ONE documented
    * round-trip caveat: a text cell whose literal content is `\N` reads
    * back as NULL (TablesSpec pins this; JSONL has no such ambiguity —
    * its nulls are typed).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("nullValue", "\\N")
      .option("emptyValue", "\"\"")
      .csv(path)

  /** Read CSV under an EXPLICIT schema with the [[writeCsv]]-symmetric
    * quoting/sentinel settings.
    */
  def readCsv(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("nullValue", "\\N")
      .option("emptyValue", "")
      .csv(path)

  /** Write as ORC (zlib default) — the second COLUMNAR interchange
    * format beside parquet: unlike the line formats above it keeps
    * types, NULLs, and nested values natively (no sentinel caveats) and
    * Spark's reader retains column pruning and predicate pushdown, so
    * ORC-landed data can be queried in place before conversion. Still
    * the ingest edge — the engine's working format stays parquet.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Read ORC. The schema is self-describing (footer-typed like
    * parquet); pass one only to assert a contract — mismatches surface
    * as analysis errors, not permissive NULLs.
    */
  def readOrc(spark: SparkSession, path: String,
      schema: StructType = null): DataFrame = {
    val r = spark.read
    (if (schema != null) r.schema(schema) else r).orc(path)
  }
}
