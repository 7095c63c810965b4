package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus snapshot diff — the dataset-versioning audit a training-data
  * pipeline runs between two crawl/curation versions: which documents were
  * added, removed, changed, or carried unchanged. The reference has no
  * versioning surface (its tables are rebuilt in place,
  * backend/create_aggregates.py); this is beyond-parity pipeline tooling.
  *
  * Design-for-scale:
  *  - Each side collapses to (id, 64-bit content hash) BEFORE the join, so
  *    the full-outer shuffle moves 16 bytes/doc, not document text — at
  *    100 TB the diff of two corpus versions shuffles gigabytes, not the
  *    corpora. With both snapshots stored bucketed by `doc_id`
  *    (`Tables.writeBucketed`), the join is zero-shuffle.
  *  - The content hash is `xxhash64`, codegen'd and null-safe (a NULL text
  *    hashes to the seed, so NULL ≡ NULL reads as unchanged — matching the
  *    oracle's `IS NOT DISTINCT FROM` ground truth).
  *  - The verdict column is the only output beyond the id: `added` (id only
  *    in the new snapshot), `removed` (only in the old), `changed` (both,
  *    content differs), `unchanged`.
  *
  * The q_snapshot_diff oracle compares RAW TEXT equality over the same two
  * synthesized snapshots — the stronger claim — so the hash gate doubles as
  * evidence that the 64-bit hash introduces no false verdicts on the
  * corpus.
  */
object Snapshot {

  /** Per-document diff verdict between two snapshots sharing an id column.
    * Pass the column holding document content via `content` (defaults to
    * `text`).
    */
  def diff(oldSnap: DataFrame, newSnap: DataFrame,
      idCol: String = "doc_id", content: String = "text"): DataFrame = {
    def sig(df: DataFrame, tag: String): DataFrame =
      df.select(col(idCol), xxhash64(col(content)).as(s"__h_$tag"))
    val joined = sig(oldSnap, "old")
      .join(sig(newSnap, "new"), Seq(idCol), "full_outer")
    val status: Column = when(col("__h_old").isNull, lit("added"))
      .when(col("__h_new").isNull, lit("removed"))
      .when(col("__h_old") === col("__h_new"), lit("unchanged"))
      .otherwise(lit("changed"))
    joined.select(col(idCol), status.as("status"))
  }

  // ---- Versioned snapshot store: time travel + retention GC -------------
  //
  // Directory layout: base/v=N/ (one immutable parquet dir per published
  // version) + a tiny _LATEST pointer file. A version becomes visible ONLY
  // when the pointer lands (published by SegmentStore.swapIn; a crashed
  // swap rolls back to the previous pointer), so readers never observe a
  // half-written corpus. `v=N` is deliberately partition syntax:
  // `spark.read.parquet(base)` reads ALL versions with a `v` column for
  // cross-version queries, while underscore-prefixed pointer files stay
  // invisible to the scanner. Single-writer cadence (like any OPTIMIZE /
  // publish job); readers need no lock at any scale.

  private val Ptr = "_LATEST"
  private val Log = "_VERSIONS"

  private def fsOf(spark: org.apache.spark.sql.SparkSession, p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp.getFileSystem(spark.sparkContext.hadoopConfiguration), hp)
  }

  private def dirVersions(fsys: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Seq[Long] =
    if (!fsys.exists(base)) Seq.empty
    else fsys.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)

  private def readSmall(fsys: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    graft.sources.SegmentStore.readPublished(fsys, p).map(new String(_, "UTF-8").trim)

  /** Publish a small metadata file (pointer/log) through
    * [[graft.sources.SegmentStore.swapIn]].
    */
  private def swapSmall(fsys: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, name: String, content: String): Unit =
    graft.sources.SegmentStore.publishBytes(fsys, new org.apache.hadoop.fs.Path(base, name),
      content.getBytes("UTF-8"))

  /** Every version that was ever POINTER TARGET: the `_VERSIONS` log (one
    * line per publish), unioned with the live pointer — the log write
    * trails the pointer swap, so a crash between the two can only omit the
    * newest version, which the union restores. Orphan data dirs (crashed
    * before their pointer swap) are never in this set.
    */
  private def publishedVersions(fsys: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, latest: Option[Long]): Set[Long] =
    (readSmall(fsys, new org.apache.hadoop.fs.Path(base, Log)).toSeq
      .flatMap(_.split("\\s+")).filter(_.nonEmpty).map(_.toLong) ++ latest).toSet

  /** Publish `df` as the next snapshot version; returns the version. The
    * data lands fully before the pointer swap, and the next version number
    * skips over any crashed unpublished directory (max over dirs AND
    * pointer), so a retried publish never collides with an orphan.
    */
  def publish(df: DataFrame, base: String): Long = {
    val spark = df.sparkSession
    val (fsys, b) = fsOf(spark, base)
    val next = (dirVersions(fsys, b) ++ latestVersion(spark, base))
      .foldLeft(-1L)(math.max) + 1
    df.write.mode("errorifexists").parquet(s"$base/v=$next")
    swapSmall(fsys, b, Ptr, next.toString)
    // the log trails the pointer: a crash here only omits `next`, and
    // publishedVersions unions the pointer back in
    val published = publishedVersions(fsys, b, Some(next))
    swapSmall(fsys, b, Log, published.toSeq.sorted.mkString("\n"))
    next
  }

  /** The published version readers resolve: the pointer, or the previous
    * pointer if a publish crashed between its two renames.
    */
  def latestVersion(spark: org.apache.spark.sql.SparkSession,
      base: String): Option[Long] = {
    val (fsys, b) = fsOf(spark, base)
    readSmall(fsys, new org.apache.hadoop.fs.Path(b, Ptr)).map(_.toLong)
  }

  /** Read a snapshot: the published latest, or `version` for time travel. */
  def read(spark: org.apache.spark.sql.SparkSession, base: String,
      version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version
      else latestVersion(spark, base).getOrElse(
        sys.error(s"no published snapshot under $base"))
    spark.read.parquet(s"$base/v=$v")
  }

  /** RIGHT-TO-BE-FORGOTTEN — the deletion-request path a stored corpus
    * must support: publish a new version without the given ids, then
    * (optionally) `vacuum` so the erased documents stop being reachable
    * via time travel — GDPR erasure is only complete once old versions
    * are gone, which is why this returns the new version AND the caller
    * controls the vacuum horizon (legal hold vs erasure deadline).
    *
    * Scale shape: one anti-join keyed on the id — the request side is a
    * deletion list (thousands), so it BROADCASTS; the corpus streams scan
    * → write. Rewriting the full snapshot is the honest cost of erasure
    * in immutable storage (same as any table format's DELETE + VACUUM).
    */
  def forget(spark: org.apache.spark.sql.SparkSession, base: String,
      ids: DataFrame, idCol: String = "doc_id"): Long = {
    val current = read(spark, base)
    val keep = current.join(
      org.apache.spark.sql.functions.broadcast(ids.select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")
    publish(keep, base)
  }

  /** Retention GC: keep the newest `keepLast` PUBLISHED versions (always
    * including the pointer target), delete older version dirs and any
    * orphan dirs NEWER than the pointer (crashed, never-published writes).
    * Returns the versions deleted. Time travel reaches exactly what
    * survives — the cost of storing 100 TB × history is the caller's
    * retention dial, same trade as any table-format VACUUM.
    */
  def vacuum(spark: org.apache.spark.sql.SparkSession, base: String,
      keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest version")
    val latest = latestVersion(spark, base).getOrElse(
      sys.error(s"no published snapshot under $base — nothing to vacuum"))
    val (fsys, b) = fsOf(spark, base)
    val dirs = dirVersions(fsys, b)
    val published = publishedVersions(fsys, b, Some(latest))
      .intersect(dirs.toSet) // already-vacuumed log entries don't count
    val keep = published.toSeq.sorted(Ordering[Long].reverse)
      .take(keepLast).toSet + latest
    val doomed = dirs.filterNot(keep).sorted // includes crashed orphans
    doomed.foreach { v =>
      require(fsys.delete(new org.apache.hadoop.fs.Path(b, s"v=$v"), true),
        s"vacuum failed deleting v=$v")
    }
    swapSmall(fsys, b, Log, keep.toSeq.sorted.mkString("\n"))
    doomed
  }
}
