package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED MinHash-LSH near-duplicate index — the incremental-dedup
  * access path at corpus scale.
  *
  * [[Dedup.crossNgramJaccardPairs]] screens a batch against a seen corpus
  * but re-shingles and re-indexes the SEEN side on every call: at 100 TB
  * that makes each daily crawl increment cost O(corpus), which is exactly
  * the shape [[Similarity.writeAnnIndex]] eliminates for embeddings. This
  * is the lexical analog: the seen corpus is shingled, minhash-signed
  * (native [[MinHash]] expression, one pass per document) and banded ONCE
  * at build time into two bucketed tables; each incoming batch then pays
  * only O(batch) signing plus a band-bucket join against the persisted
  * band table, and exact-Jaccard verification reads ONLY the candidate
  * documents' stored shingle sets (driver-side literal id list — the
  * [[Similarity.annSearchIndexed]] probe pattern — pushed into the
  * parquet scan as an In filter, so the doc_id-sorted layout's row-group
  * stats skip everything but the candidates instead of scanning the
  * index).
  *
  * Tables (all managed, dropped together; torn builds are never queryable
  * because `_meta` — which readers resolve first — is published LAST):
  *  - `<name>_sets`  (doc_id, ng): each seen document's distinct-shingle
  *    set, bucketed+sorted by doc_id (the verification read).
  *  - `<name>_bands` (bucket, band, doc_id): LSH band keys, bucketed by
  *    the band-bucket hash (the candidate-lookup read).
  *  - `<name>_meta`  (num_hashes, bands): the banding geometry. Batch-side
  *    banding MUST replay the build geometry or lookups silently miss —
  *    readers take it from here, never from call-site parameters.
  *
  * Results are EXACT with respect to the banding's candidate recall: every
  * emitted (batch_doc, seen_doc, jaccard) is a true exact-Jaccard pair ≥
  * threshold (no estimation — candidates are verified on full shingle
  * sets), and with the high-recall geometry (64 hashes × 32 bands:
  * P(candidate | j=0.5) ≥ 0.9999) the pair set equals the exhaustive
  * cross-join answer, which is what the DuckDB oracle replays.
  *
  * Same maintenance trade as the ANN index: UPSERT appends new documents
  * under the tables' own bucket specs (O(batch), no rebuild); the banding
  * geometry is frozen at build time. Screen-then-upsert is the standing
  * ingest loop: dedup today's crawl against everything seen, then fold the
  * survivors in.
  */
object MinhashIndex {

  /** Build the index over the seen corpus. Geometry defaults to the
    * high-recall configuration q_dedup_minhash_lsh pins against the exact
    * oracle (64 minima in 32 bands of 2).
    */
  def write(docs: DataFrame, name: String, numHashes: Int = 64,
      bands: Int = 32, buckets: Int = 8, textCol: String = "text"): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    drop(spark, name)
    try {
      val sets = Dedup.ngramSets(docs, textCol)
      graft.sources.ManagedTables.writeBucketed(
        sets, s"${name}_sets", "doc_id", buckets)
      // re-read the persisted sets so banding signs exactly the rows the
      // verification read will serve (one shingling pass, not two)
      val stored = spark.table(s"${name}_sets")
      graft.sources.ManagedTables.writeBucketed(
        Dedup.minhashBandKeys(stored, numHashes, bands)
          .select(col("bucket"), col("band"), col("doc_id")),
        s"${name}_bands", "bucket", buckets)
      import spark.implicits._
      Seq((numHashes, bands)).toDF("num_hashes", "bands")
        .write.mode("overwrite").format("parquet").saveAsTable(s"${name}_meta")
    } catch {
      case e: Throwable => drop(spark, name); throw e
    }
  }

  /** Drop all three index tables AND their directories (crash-surviving
    * stale dirs included — [[graft.sources.ManagedTables.dropManagedTables]]). */
  def drop(spark: SparkSession, name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_meta", s"${name}_bands", s"${name}_sets",
        s"${name}_deletes"))

  /** TARGETED DELETION (takedowns, opt-outs): O(batch) tombstone append;
    * [[screen]] anti-joins the broadcast tombstones at candidate
    * generation, so deleted documents stop matching immediately;
    * [[compact]] is the amortized physical purge. Equality with an index
    * rebuilt without the deleted docs is unconditional (banding is
    * data-independent per document — no trained state), and
    * hash-certified by q_dedup_minhash_deleted (the upsert gate's
    * mirror).
    */
  def deleteIds(spark: SparkSession, name: String, ids: Seq[Long]): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    graft.sources.ManagedTables.appendDeletes(spark, name, "doc_id", ids)
  }

  /** Fold tombstones into BOTH index tables (stage-and-swap rewrites
    * under their own bucket specs) and clear them. Geometry (`_meta`) is
    * untouched.
    */
  def compact(spark: SparkSession, name: String): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    if (spark.catalog.tableExists(s"${name}_deletes")) {
      Seq(s"${name}_sets", s"${name}_bands").foreach { t =>
        graft.sources.ManagedTables.rewriteBucketed(spark, t,
          graft.sources.ManagedTables.minusDeletes(spark, name, spark.table(t),
            "doc_id"))
      }
      graft.sources.ManagedTables.dropDeletes(spark, name)
    }
  }

  /** Fold a batch of NEW documents into the index: shingle + band the
    * batch under the index's frozen geometry and APPEND to both tables
    * under their own bucket specs — O(batch), never O(corpus). Contract:
    * batch doc_ids must be new (dedup upstream; an append cannot see the
    * table it appends to without scanning it).
    */
  def upsert(spark: SparkSession, name: String, batch: DataFrame,
      textCol: String = "text"): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val (numHashes, bands) = geometry(spark, name)
    // shingle the batch ONCE (lazy reuse would re-run the tokenize +
    // shingle scan per append), then overlap the two independent appends
    val sets = Dedup.ngramSets(batch, textCol).localCheckpoint(true)
    graft.Par.run(Seq(
      () => appendBucketed(spark, s"${name}_sets", sets),
      () => appendBucketed(spark, s"${name}_bands",
        Dedup.minhashBandKeys(sets, numHashes, bands)
          .select(col("bucket"), col("band"), col("doc_id")))))
  }

  /** Screen a batch against the index: exact-Jaccard pairs
    * (batch_doc, seen_doc, jaccard) ≥ threshold, the
    * [[Dedup.crossNgramJaccardPairs]] answer shape.
    *
    * Cost anatomy at scale: the batch is shingled and signed once
    * (O(batch)); its band keys BROADCAST against the persisted band table
    * (map-side join, no index shuffle); the surviving candidate pairs are
    * collected driver-side (bounded by `maxCandidates` — the
    * [[Similarity.annSearchIndexed]] maxQueries contract) so the
    * verification read of `<name>_sets` carries a LITERAL doc_id IN
    * predicate pushed to the parquet scan — the doc_id-sorted layout's
    * row-group min/max stats skip everything but the candidates, instead
    * of scanning the corpus's shingle sets (BucketedSpec pins the
    * PushedFilters shape).
    */
  def screen(spark: SparkSession, name: String, batch: DataFrame,
      threshold: Double, textCol: String = "text",
      maxCandidates: Int = 65536): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val (numHashes, bands) = geometry(spark, name)

    val batchSets = Dedup.ngramSets(batch, textCol)
      .localCheckpoint(true) // shingle once: banding + verify both read it
    val batchBands = Dedup.minhashBandKeys(batchSets, numHashes, bands)

    val idx = graft.sources.ManagedTables.minusDeletes(spark, name,
      spark.table(s"${name}_bands"), "doc_id")
    val cand = idx.join(
        broadcast(batchBands.withColumnRenamed("doc_id", "batch_doc")),
        Seq("band", "bucket"))
      .select(col("batch_doc"), col("doc_id").as("seen_doc"))
      .distinct()
      .limit(maxCandidates + 1)
      .collect()
    require(cand.length <= maxCandidates,
      s"minhash screen produced more than $maxCandidates candidate pairs; " +
        "raise maxCandidates or screen a smaller batch")

    import spark.implicits._
    if (cand.isEmpty)
      // keep the empty answer schema-identical to the populated one
      return spark.emptyDataset[(Long, Long, Double)]
        .toDF("batch_doc", "seen_doc", "jaccard")
    val candDf = cand.map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("batch_doc", "seen_doc")
    val seenIds = cand.map(_.getLong(1)).distinct.toSeq
    val seenSets = spark.table(s"${name}_sets")
      .filter(col("doc_id").isin(seenIds: _*))
      .select(col("doc_id").as("seen_doc"), col("ng").as("ng_b"))
    val ba = batchSets.select(col("doc_id").as("batch_doc"), col("ng").as("ng_a"))

    broadcast(candDf).join(ba, "batch_doc").join(seenSets, "seen_doc")
      .withColumn("common", size(array_intersect(col("ng_a"), col("ng_b"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("ng_a")) + size(col("ng_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("batch_doc", "seen_doc", "jaccard")
  }

  private[graft] def geometry(spark: SparkSession, name: String): (Int, Int) = {
    val m = spark.table(s"${name}_meta").first()
    (m.getAs[Int]("num_hashes"), m.getAs[Int]("bands"))
  }

  private def appendBucketed(spark: SparkSession, table: String,
      df: DataFrame): Unit =
    graft.sources.ManagedTables.appendBucketed(spark, table, df)
}
