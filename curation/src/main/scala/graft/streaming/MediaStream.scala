package graft.streaming

import graft.functions.{Dedup, Multimodal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming MEDIA ingest against a persisted image-signature table
  * ([[graft.functions.Multimodal.writePhashTable]]) — the third
  * modality's gate, completing the set: exact/lexical text
  * ([[DocsStream]]), embeddings ([[EmbedStream]]), and images all dedup
  * AS THEY ARRIVE against the same artifact their batch path uses.
  */
object MediaStream {

  /** Streaming perceptual-dedup gate: drop arriving images whose dHash
    * sits within `maxHamming` bits of anything previously arrived, fold
    * every arrival's signature into the table. Per micro-batch, an
    * arriving image drops iff (a) its signature pairs with a stored one
    * ([[graft.functions.Multimodal.phashScreen]]: batch bands broadcast
    * against ONE scan of 16-byte signature rows — the seen corpus is
    * never re-decoded) or (b) with a lower-id sibling of its own batch.
    * ALL arrivals' signatures append (dropped images too — the
    * keep-any-earlier-neighbor chain rule of the sibling gates). Rows
    * whose bytes don't decode PASS THROUGH unsigned and unstored: a
    * dedup gate drops only what it can positively match, and a signature
    * of undecodable bytes would be noise.
    *
    * Idempotent under failure re-runs (the
    * [[DocsStream.minhashGateBatch]] discipline): output partition
    * overwrites itself, screen excludes the current batch's ids, append
    * subtracts already-present ids via the bucketed table's pruned id
    * probe.
    */
  def phashGateSink(media: DataFrame, sigTable: String, outDir: String,
      maxHamming: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        phashGateBatch(batch.toDF(), sigTable, outDir, id, maxHamming)
    }

  /** One [[phashGateSink]] trigger — exposed for the retry contract test. */
  private[graft] def phashGateBatch(batch: DataFrame, sigTable: String,
      outDir: String, id: Long, maxHamming: Int): Unit = {
    val b = batch.persist()
    try {
      val spark = b.sparkSession
      import spark.implicits._
      val batchIds = b.select(col("doc_id")).distinct()
        .collect().map(_.getLong(0)).toSeq
      // decode + sign once; both screens and the append read this
      val sigs = Multimodal.imageDhash(
          b.select(col("doc_id"), col("media_type"), col("content"))
            .as[Multimodal.MediaRow])
        .toDF().select(col("doc_id"), col("dhash"))
        .localCheckpoint(true)
      // (a) near-dup of the stored corpus (current batch's retry-published
      // ids excluded — siblings are rule (b))
      val stored = spark.table(sigTable)
        .filter(if (batchIds.isEmpty) lit(true)
          else !col("doc_id").isin(batchIds: _*))
      val cross = Dedup.bandedHammingPairsAgainst(
          sigs.select(col("doc_id"), col("dhash").as("sig")),
          stored.select(col("doc_id"), col("dhash").as("sig")), maxHamming)
        .select(col("batch_doc").as("doc_id"))
      // (b) lower-id sibling within the batch
      val within = Multimodal.phashNearDups(sigs, maxHamming)
        .select(col("doc_b").as("doc_id"))
      val out = b.join(cross.union(within).distinct(),
        Seq("doc_id"), "left_anti").persist()
      try {
        (if (out.isEmpty) out.repartition(1) else out)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      } finally { out.unpersist(); () }
      // fold every SIGNED arrival in, minus ids a failed attempt already
      // published
      val present =
        if (batchIds.isEmpty) Set.empty[Long]
        else spark.table(sigTable)
          .filter(col("doc_id").isin(batchIds: _*))
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val novel =
        if (present.isEmpty) sigs
        else sigs.filter(!col("doc_id").isin(present.toSeq: _*))
      if (!novel.isEmpty)
        graft.sources.ManagedTables.appendBucketed(spark, sigTable, novel)
    } finally { b.unpersist(); () }
  }

  /** Streaming VIDEO-dedup gate — the fourth modality's arm: drop
    * arriving animations whose sampled frames majority-match anything
    * previously arrived ([[graft.functions.Multimodal.videoNearDupsAgainst]]
    * against the persisted per-frame signature table), fold every signed
    * arrival's frame signatures in. Same drop/keep/idempotency contract
    * as [[phashGateSink]]: stored-corpus match or lower-id batch sibling
    * drops; undecodable (or non-GIF) rows pass through unsigned.
    */
  def videoGateSink(media: DataFrame, sigTable: String, outDir: String,
      maxHamming: Int = 3, minMatchFrac: Double = 0.5, k: Int = 4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    media.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        videoGateBatch(batch.toDF(), sigTable, outDir, id, maxHamming,
          minMatchFrac, k)
    }

  /** One [[videoGateSink]] trigger — exposed for the retry contract test. */
  private[graft] def videoGateBatch(batch: DataFrame, sigTable: String,
      outDir: String, id: Long, maxHamming: Int, minMatchFrac: Double,
      k: Int): Unit = {
    val b = batch.persist()
    try {
      val spark = b.sparkSession
      import spark.implicits._
      val batchIds = b.select(col("doc_id")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val sigs = Multimodal.videoFrameDhash(
          b.select(col("doc_id"), col("media_type"), col("content"))
            .as[Multimodal.MediaRow], k)
        .toDF().select(col("doc_id"), col("slot"), col("dhash"))
        .localCheckpoint(true)
      val stored = spark.table(sigTable)
        .filter(if (batchIds.isEmpty) lit(true)
          else !col("doc_id").isin(batchIds: _*))
      val cross = Multimodal.videoNearDupsAgainst(sigs, stored,
          maxHamming, minMatchFrac)
        .select(col("batch_doc").as("doc_id"))
      val within = Multimodal.videoNearDups(sigs, maxHamming, minMatchFrac)
        .select(col("doc_b").as("doc_id"))
      val out = b.join(cross.union(within).distinct(),
        Seq("doc_id"), "left_anti").persist()
      try {
        (if (out.isEmpty) out.repartition(1) else out)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
      } finally { out.unpersist(); () }
      val present =
        if (batchIds.isEmpty) Set.empty[Long]
        else spark.table(sigTable)
          .filter(col("doc_id").isin(batchIds: _*))
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val novel =
        if (present.isEmpty) sigs
        else sigs.filter(!col("doc_id").isin(present.toSeq: _*))
      if (!novel.isEmpty)
        graft.sources.ManagedTables.appendBucketed(spark, sigTable, novel)
    } finally { b.unpersist(); () }
  }
}
