package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TAKEDOWN ORCHESTRATOR — one deletion batch reaching EVERY registered
  * artifact. A real opt-out/takedown pipeline does not delete from "the
  * corpus": the removed documents also live on in the cluster table, the
  * ANN/SQ/PQ/IVFADC indexes, the BM25 postings, the n-gram LM counts, the
  * perceptual-hash tables, the boilerplate line-df state, and the eval
  * ground truth — and MISSING ONE means the content is still findable.
  * `deleteEverywhere` takes one id batch and a registry of the catalog's
  * artifacts and delegates to each family's `deleteFrom*` surface
  * (reference: the reference app has no deletion story at all — this is
  * the 100 TB-pipeline requirement built Spark-first; family mechanics
  * documented at [[TextAnalysis.deleteFromSearchIndex]],
  * [[MinhashIndex.deleteIds]], [[Similarity.deleteFromAnnIndex]],
  * [[Similarity.deleteFromSqIndex]], [[Similarity.deleteFromPqIndex]],
  * [[Similarity.deleteFromIvfPqResIndex]],
  * [[Similarity.deleteFromGroundTruth]], [[Dedup.deleteFromClusterTable]],
  * [[Dedup.deleteFromLineDfTable]], [[TextAnalysis.deleteFromLmTable]],
  * [[Multimodal.deleteFromPhashTable]]). [[auditRegistry]] is the
  * completeness check: a catalog sweep naming every suffix-convention
  * artifact family a given registry MISSES — an omitted artifact must be
  * a loud audit row, never silent retention.
  *
  * IDEMPOTENT RE-RUN CONTRACT: every batch carries a caller-chosen
  * `batchId`, and each artifact records applied batches in a
  * `<name>_takedowns` ledger TOGETHER WITH A CONTENT HASH of the batch's
  * id set. Re-running a batch (retry after a partial failure, an
  * at-least-once queue) skips artifacts that already applied it — but
  * ONLY when the incoming ids hash-match the recorded ones: a "retry"
  * carrying a DIFFERENT id set under a reused batchId (a corrected legal
  * request, or a source rate limit splitting one request batch across
  * two stream triggers) fails loudly instead of silently dropping the
  * new ids — silent non-deletion is the one unacceptable failure in a
  * compliance path. The skip is load-bearing for the SUBTRACTIVE
  * families (LM count-unlearning and line-df partials would
  * double-subtract; tombstone families would merely accumulate duplicate
  * rows). The ledger row is written AFTER a successful apply, so a crash
  * between the two re-applies that artifact on retry: exact for
  * tombstone families (reads dedupe), and for the subtractive families
  * the documented recovery is a rebuild — the torn window is one small
  * write, not the batch. Partial failure: artifacts are applied in
  * registry order and the first failure propagates; the completed prefix
  * is ledger-recorded, so the retry resumes where it failed.
  *
  * Scale shape: the orchestrator adds NOTHING corpus-scale of its own —
  * each family's delete is the O(batch) tombstone append / negative
  * partial / scoped recompute it already was (SCALE.md delprobe), and
  * the ledger probe is a read of a KB-scale table per artifact.
  */
object Takedown {

  /** One registered artifact. `name` is the family's table-name prefix
    * (the same name its `write*` took); the content-dependent families
    * carry the frames their delete surfaces need — the cluster table its
    * pair relation (to re-cluster touched components), the LM and
    * line-df families their deleted documents' text (count-unlearning
    * subtracts the exact occurrences; ids alone cannot reconstruct them
    * once the corpus row is gone, so the caller passes the rows being
    * taken down).
    */
  sealed trait Artifact {
    def name: String
    private[graft] def tag: String
  }
  /** BM25 search index ([[TextAnalysis.writeSearchIndex]]). */
  final case class SearchIndex(name: String) extends Artifact {
    private[graft] def tag = "bm25"
  }
  /** MinHash-LSH dedup index ([[MinhashIndex.write]]). */
  final case class MinhashLsh(name: String) extends Artifact {
    private[graft] def tag = "minhash"
  }
  /** Trained ANN (IVF-flat) index ([[Similarity.writeAnnIndex]]). */
  final case class AnnIndex(name: String) extends Artifact {
    private[graft] def tag = "ann"
  }
  /** Scalar-quantized index ([[Similarity.writeSqIndex]]) — the codes
    * table is vec-keyed persisted state like any index row. */
  final case class SqIndex(name: String) extends Artifact {
    private[graft] def tag = "sq"
  }
  /** Product-quantized index ([[Similarity.writePqIndex]]). */
  final case class PqIndex(name: String) extends Artifact {
    private[graft] def tag = "pq"
  }
  /** True-IVFADC residual index ([[Similarity.writeIvfPqResIndex]]). */
  final case class IvfPqResIndex(name: String) extends Artifact {
    private[graft] def tag = "ivfpqres"
  }
  /** Persisted substring-anchor index ([[Dedup.writeSubstringIndex]]) —
    * both payload tables are doc-keyed. */
  final case class SubstringIndex(name: String) extends Artifact {
    private[graft] def tag = "substr"
  }
  /** Persisted eval ground truth ([[Similarity.writeGroundTruth]]) —
    * doc-keyed on BOTH sides (query_id and neighbor_id). */
  final case class GroundTruth(name: String) extends Artifact {
    private[graft] def tag = "gtruth"
  }
  /** Persisted crawl-frontier seen-set ([[TextAnalysis.writeFrontierTable]])
    * — canonical URLs keyed by their first document. */
  final case class FrontierTable(name: String) extends Artifact {
    private[graft] def tag = "frontier"
  }
  /** Binary-quantization sign-word index ([[Similarity.writeBqIndex]]) —
    * a retained sign word is re-findable content (Hamming search reaches
    * the doc), so the family registers like every other index (round-16,
    * the r14 "MISSING ONE" lesson applied to the newest artifact). */
  final case class BqIndex(name: String) extends Artifact {
    private[graft] def tag = "bq"
  }
  /** Raw-vector rescore table ([[Similarity.writeVecTable]]) — holds the
    * vectors THEMSELVES, the most literally re-findable artifact. */
  final case class VecTable(name: String) extends Artifact {
    private[graft] def tag = "vec"
  }
  /** Perceptual-hash signature table — image or video
    * ([[Multimodal.writePhashTable]] / `writeVideoSignatureTable`). */
  final case class PhashTable(name: String) extends Artifact {
    private[graft] def tag = "phash"
  }
  /** Persisted duplicate-cluster table ([[Dedup.writeClusterTable]]);
    * `pairs` is the similarity-pair relation for the scoped re-cluster. */
  final case class ClusterTable(name: String, pairs: DataFrame)
      extends Artifact {
    private[graft] def tag = "clusters"
  }
  /** Bigram-LM count tables ([[TextAnalysis.writeLmTable]]);
    * `deletedDocs` must be exactly the (doc_id, text) rows being taken
    * down. */
  final case class LmTable(name: String, deletedDocs: DataFrame)
      extends Artifact {
    private[graft] def tag = "lm"
  }
  /** DSIR importance model ([[Sampling.writeDsirModel]]) — per-bucket
    * aggregate counts, nothing re-findable, but a deleted document's
    * bigrams still steer selection weights (the LM influence story), so
    * the family unlearns via [[Sampling.deleteFromDsirModel]].
    * `deletedDocs` must be the fit documents AS INGESTED; `side` names
    * which fit corpus ("raw" or "target") they belonged to. */
  final case class DsirModel(name: String, deletedDocs: DataFrame,
      side: String = "raw", textCol: String = "text") extends Artifact {
    private[graft] def tag = "dsir"
  }
  /** Incremental boilerplate line-df state ([[Dedup.writeLineDfTable]]);
    * `deletedDocs` must be the documents AS INGESTED (subtract what was
    * added — [[Dedup.deleteFromLineDfTable]]'s contract). */
  final case class LineDf(name: String, deletedDocs: DataFrame,
      lineSep: String = "\n", textCol: String = "text",
      sourceCol: String = "source") extends Artifact {
    private[graft] def tag = "linedf"
  }

  /** The families whose delete is a SUBTRACTIVE count-unlearn rather
    * than a tombstone/recompute: a replayed batch would double-subtract,
    * so their ledger rows are retained forever by [[compactLedgers]]
    * (legal-process cadence keeps them KB-scale).
    */
  private def subtractive(a: Artifact): Boolean = a match {
    case LmTable(_, _) | LineDf(_, _, _, _, _) | DsirModel(_, _, _, _) => true
    case _ => false
  }

  /** Apply one takedown batch to every registered artifact. `ids` is
    * canonicalized (distinct, sorted) so the ledger's content hash and
    * every family delete see the same batch regardless of caller
    * ordering. Returns the per-artifact report `(family, name, applied)`
    * — `applied = false` means the ledger showed this batch (same id
    * set) already reached that artifact and the delete was skipped (the
    * idempotent-retry path). A reused batchId with DIFFERENT ids throws.
    */
  def deleteEverywhere(spark: SparkSession, batchId: String, ids: Seq[Long],
      registry: Seq[Artifact]): Seq[(String, String, Boolean)] = {
    require(batchId.nonEmpty, "batchId must be non-empty")
    require(ids.nonEmpty, "empty deletion batch")
    require(registry.nonEmpty, "empty artifact registry")
    val keys = registry.map(a => (a.tag, a.name))
    require(keys.distinct.size == keys.size,
      s"duplicate artifacts in registry: $keys")
    val batch = ids.distinct.sorted
    val hash = idsHash(batch)
    registry.foreach(a => graft.sources.ManagedTables.requireIdent(a.name))
    // pre-probe every artifact's ledger CONCURRENTLY (pure reads of
    // per-artifact tables; each ledger is only written by its own apply
    // below, so probing up front is equivalent to probing just-in-time) —
    // the APPLIES stay strictly sequential in registry order (the
    // partial-failure resume contract)
    val probed = graft.Par.run(registry.map(a =>
      () => alreadyApplied(spark, a.name, a.tag, batchId, hash)))
    registry.zip(probed).map { case (a, done) =>
      if (!done) {
        a match {
          case SearchIndex(n) =>
            TextAnalysis.deleteFromSearchIndex(spark, n, batch)
          case MinhashLsh(n) => MinhashIndex.deleteIds(spark, n, batch)
          case AnnIndex(n) => Similarity.deleteFromAnnIndex(spark, n, batch)
          case SqIndex(n) => Similarity.deleteFromSqIndex(spark, n, batch)
          case PqIndex(n) => Similarity.deleteFromPqIndex(spark, n, batch)
          case IvfPqResIndex(n) =>
            Similarity.deleteFromIvfPqResIndex(spark, n, batch)
          case SubstringIndex(n) =>
            Dedup.deleteFromSubstringIndex(spark, n, batch)
          case GroundTruth(n) =>
            Similarity.deleteFromGroundTruth(spark, n, batch)
          case FrontierTable(n) =>
            TextAnalysis.deleteFromFrontierTable(spark, n, batch)
          case BqIndex(n) => Similarity.deleteFromBqIndex(spark, n, batch)
          case VecTable(n) => Similarity.deleteFromVecTable(spark, n, batch)
          case PhashTable(n) => Multimodal.deleteFromPhashTable(spark, n, batch)
          case ClusterTable(n, pairs) =>
            Dedup.deleteFromClusterTable(spark, n, batch, pairs)
          case LmTable(n, docs) =>
            TextAnalysis.deleteFromLmTable(spark, n, docs)
          case DsirModel(n, docs, side, tc) =>
            Sampling.deleteFromDsirModel(spark, n, docs, side, tc)
          case LineDf(n, docs, sep, tc, sc) =>
            Dedup.deleteFromLineDfTable(spark, n, docs, sep, tc, sc)
        }
        recordApplied(spark, a.name, a.tag, batchId, batch.size.toLong, hash)
      }
      (a.tag, a.name, !done)
    }
  }

  /** The amortized PHYSICAL purge across a registry: fold every
    * tombstone-family artifact's `_deletes` into its tables (bytes leave
    * disk here — the compliance end-state) on the compaction cadence,
    * one call. ClusterTable, LmTable, and LineDf are no-ops by design:
    * their deletes are exact in-place rewrites / negative partials
    * already (no tombstones to fold).
    */
  def compactEverywhere(spark: SparkSession,
      registry: Seq[Artifact]): Unit =
    registry.foreach {
      case SearchIndex(n) => TextAnalysis.compactSearchIndex(spark, n)
      case MinhashLsh(n) => MinhashIndex.compact(spark, n)
      case AnnIndex(n) => Similarity.compactAnnIndex(spark, n)
      case SqIndex(n) => Similarity.compactSqIndex(spark, n)
      case PqIndex(n) => Similarity.compactPqIndex(spark, n)
      case IvfPqResIndex(n) => Similarity.compactIvfPqResIndex(spark, n)
      case SubstringIndex(n) => Dedup.compactSubstringIndex(spark, n)
      case GroundTruth(n) => Similarity.compactGroundTruth(spark, n)
      case FrontierTable(n) => TextAnalysis.compactFrontierTable(spark, n)
      case BqIndex(n) => Similarity.compactBqIndex(spark, n)
      case VecTable(n) => Similarity.compactVecTable(spark, n)
      case PhashTable(n) => Multimodal.compactPhashTable(spark, n)
      case ClusterTable(_, _) | LmTable(_, _) | LineDf(_, _, _, _, _) |
          DsirModel(_, _, _, _) => ()
    }

  /** COMPLIANCE AUDIT: per artifact, how many LIVE rows (post-tombstone
    * reads — what any consumer can still see) reference the given ids.
    * The number a takedown report quotes; every row must be 0 after
    * [[deleteEverywhere]]. One pruned read per artifact, `ids` joined
    * as a broadcast-scale frame. The aggregate-count families (LM,
    * line-df) hold no per-doc rows — their residue is 0 by construction
    * once the unlearn ran (gated by the rebuild-minus-deleted hash
    * equality of q_text_bigram_deleted / q_takedown_quantized).
    */
  def residualReferences(spark: SparkSession, ids: Seq[Long],
      registry: Seq[Artifact]): Seq[(String, String, Long)] = {
    require(ids.nonEmpty, "empty audit batch")
    import spark.implicits._
    val idsDf = ids.toDF("__id")
    def residual(df: DataFrame, idCol: String): Long =
      df.join(org.apache.spark.sql.functions.broadcast(idsDf),
        col(idCol) === col("__id")).count()
    def residualCodes(nm: String): Long = residual(
      graft.sources.ManagedTables.minusDeletes(spark, nm,
        spark.table(s"${nm}_codes"), "vec_id"), "vec_id")
    // per-artifact residual counts are independent pruned reads — overlap
    // them (guide §2.6); Par returns in registry order
    graft.Par.run(registry.map { a => () =>
      val n = a match {
        case SearchIndex(nm) => residual(
          graft.sources.ManagedTables.minusDeletes(spark, nm,
            spark.table(s"${nm}_postings"), "doc_id"), "doc_id")
        case MinhashLsh(nm) => residual(
          graft.sources.ManagedTables.minusDeletes(spark, nm,
            spark.table(s"${nm}_sets"), "doc_id"), "doc_id")
        case AnnIndex(nm) => residual(
          graft.sources.ManagedTables.minusDeletes(spark, nm,
            spark.table(s"${nm}_assignments"), "vec_id"), "vec_id")
        case SqIndex(nm) => residualCodes(nm)
        case PqIndex(nm) => residualCodes(nm)
        case IvfPqResIndex(nm) => residualCodes(nm)
        case SubstringIndex(nm) => residual(
          graft.sources.ManagedTables.minusDeletes(spark, nm,
            spark.table(s"${nm}_winhash"), "doc_id"), "doc_id")
        case GroundTruth(nm) =>
          // a truth row references an id on EITHER side; the live read
          // already dropped tombstoned rows, so any hit here is leakage
          Similarity.liveGroundTruth(spark, nm)
            .join(org.apache.spark.sql.functions.broadcast(idsDf),
              col("query_id") === col("__id") ||
                col("neighbor_id") === col("__id"), "left_semi")
            .count()
        case FrontierTable(nm) => residual(
          graft.sources.ManagedTables.minusDeletes(spark, s"${nm}_frontier",
            spark.table(s"${nm}_frontier"), "first_doc"), "first_doc")
        case BqIndex(nm) => residual(
          graft.sources.ManagedTables.minusDeletes(spark, nm,
            spark.table(s"${nm}_words"), "vec_id"), "vec_id")
        case VecTable(nm) => residual(
          graft.sources.ManagedTables.minusDeletes(spark, nm,
            spark.table(s"${nm}_vectors"), "vec_id"), "vec_id")
        case PhashTable(nm) => residual(
          graft.sources.ManagedTables.minusDeletes(spark, nm,
            spark.table(nm), "doc_id"), "doc_id")
        case ClusterTable(nm, _) =>
          residual(spark.table(s"${nm}_clusters"), "doc_id")
        case LmTable(nm, _) =>
          // count-unlearning leaves no per-doc rows; residual = 0 by
          // construction once deleteFromLmTable ran
          val _ = nm; 0L
        case LineDf(nm, _, _, _, _) =>
          // same aggregate-count shape: (src, line, cnt) partials carry
          // no doc ids; the unlearn zeroed the deleted docs' counts
          val _ = nm; 0L
        case DsirModel(nm, _, _, _) =>
          // per-bucket aggregate counts only; residual = 0 by
          // construction once deleteFromDsirModel re-quantized
          val _ = nm; 0L
      }
      (a.tag, a.name, n)
    })
  }

  /** REGISTRY-COMPLETENESS AUDIT — the check [[residualReferences]]
    * cannot make: that audit sees only what the caller registered, so an
    * artifact OMITTED from the registry is invisible to the compliance
    * number it quotes. This sweeps the session catalog for the managed
    * doc/vec-keyed artifact families by their table-suffix conventions
    * (`_postings` → bm25, `_sets` → minhash, `_assignments` → ann,
    * `_codes`+`_params` → sq, `_codes`+`_centroids` → ivfpqres,
    * `_codes`+`_codebooks` → pq, `_clusters` → clusters,
    * `_model`+`_ctx` → lm, `_winhash` → substr, `_frontier` → frontier,
    * `_words` → bq, `_vectors` → vec, `_linedf` → linedf,
    * `_truth` → gtruth, `_ratios`+`_params` → dsir) and
    * returns every (family, name) found in the catalog but ABSENT from
    * the registry — loud rows, not silent retention. Callers gate with
    * `require(auditRegistry(...).isEmpty, ...)` before trusting a
    * deleteEverywhere report. Phash tables are bare names (no suffix)
    * and cannot be swept by convention — register them explicitly; the
    * limit is documented here and in [[PhashTable]]'s family scaladoc.
    * Cost: one catalog listing (table NAMES only — no data is read).
    */
  def auditRegistry(spark: SparkSession,
      registry: Seq[Artifact]): Seq[(String, String)] = {
    val names = spark.sessionState.catalog
      .listTables(spark.catalog.currentDatabase).map(_.table.toLowerCase)
      .toSet
    def base(suffix: String): Seq[String] =
      names.filter(_.endsWith(suffix)).map(_.dropRight(suffix.length))
        .filter(_.nonEmpty).toSeq
    val found: Seq[(String, String)] =
      base("_postings").map(("bm25", _)) ++
        base("_sets").map(("minhash", _)) ++
        base("_assignments").map(("ann", _)) ++
        base("_codes").flatMap { b =>
          if (names(s"${b}_params")) Some(("sq", b))
          else if (names(s"${b}_centroids") && names(s"${b}_codebooks"))
            Some(("ivfpqres", b))
          else if (names(s"${b}_codebooks")) Some(("pq", b))
          else None
        } ++
        base("_clusters").map(("clusters", _)) ++
        base("_model").filter(b => names(s"${b}_ctx")).map(("lm", _)) ++
        base("_winhash").map(("substr", _)) ++
        base("_frontier").map(("frontier", _)) ++
        base("_words").map(("bq", _)) ++
        base("_vectors").map(("vec", _)) ++
        base("_linedf").map(("linedf", _)) ++
        base("_truth").map(("gtruth", _)) ++
        base("_ratios").filter(b => names(s"${b}_params"))
          .map(("dsir", _))
    val registered = registry
      .map(a => (a.tag, a.name.toLowerCase)).toSet
    found.filterNot(registered).sorted
  }

  /** Fold the takedown LEDGERS on the [[compactEverywhere]] cadence —
    * the retention story for the one table family that otherwise grows
    * append-only forever: batch ids are only needed for retry
    * idempotency within the at-least-once delivery window, so ledger
    * rows of TOMBSTONE/recompute families whose batch_id is outside
    * `retainBatches` are dropped (a replay of a compacted-away batch is
    * then re-applied HARMLESSLY: tombstone reads dedupe, the search-index
    * delete re-derives nothing once the doclens rows are gone, the
    * cluster recompute of absent ids is a no-op — TakedownSpec pins it).
    * The SUBTRACTIVE families (LM, line-df) retain ALL rows by design: a
    * replayed batch there would double-subtract, and their ledgers grow
    * at legal-process cadence — KB-scale per decade, the safe side of
    * the trade. One stage-and-swap rewrite per KB-scale ledger.
    */
  def compactLedgers(spark: SparkSession, registry: Seq[Artifact],
      retainBatches: Seq[String]): Unit = {
    val skip = registry.filter(subtractive).map(_.name).toSet
    registry.filterNot(a => skip(a.name)).map(_.name).distinct.foreach { n =>
      graft.sources.ManagedTables.requireIdent(n)
      if (spark.catalog.tableExists(s"${n}_takedowns")) {
        import spark.implicits._
        val retain = retainBatches.toDF("__keep_id")
        graft.sources.ManagedTables.rewriteTable(spark, s"${n}_takedowns",
          spark.table(s"${n}_takedowns")
            .join(broadcast(retain), col("batch_id") === col("__keep_id"),
              "left_semi"))
      }
    }
  }

  /** Drop an artifact's takedown ledger — pair with the family's own
    * `drop*` when retiring the artifact. */
  def dropLedger(spark: SparkSession, name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(spark, Seq(s"${name}_takedowns"))

  /** Content hash of a canonicalized id batch — the ledger's replay
    * validator (MD5 over the sorted distinct ids; collision-finding an
    * id list is not a takedown threat model). */
  private[graft] def idsHash(sortedIds: Seq[Long]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(sortedIds.mkString(",")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Ledger probe: false = not yet applied; true = applied with the SAME
    * id set (skip). A recorded row under this batchId whose ids hash
    * differs throws — the silent-non-deletion guard (a split stream
    * trigger or a "corrected" batch reusing the id must be renamed, or
    * the first fragment's partial apply would swallow the rest). Ledgers
    * written before the hash column existed (legacy schema) fall back to
    * batch_id-only skip — documented weaker idempotency, never an error.
    */
  private def alreadyApplied(spark: SparkSession, name: String, tag: String,
      batchId: String, hash: String): Boolean =
    spark.catalog.tableExists(s"${name}_takedowns") && {
      val t = spark.table(s"${name}_takedowns")
      val rows = t
        .filter(col("batch_id") === batchId && col("family") === tag)
      if (!t.columns.contains("ids_hash")) !rows.isEmpty
      else {
        val hashes = rows.select("ids_hash")
          .collect().map(_.getString(0)).distinct
        if (hashes.isEmpty) false
        else if (hashes.sameElements(Array(hash))) true
        else throw new IllegalStateException(
          s"takedown batch '$batchId' was already applied to $tag/$name " +
            s"with a DIFFERENT id set (ledger ${hashes.mkString(",")} vs " +
            s"incoming $hash) — a reused batchId must carry identical ids; " +
            "issue the new/remaining ids under a fresh batchId")
      }
    }

  private def recordApplied(spark: SparkSession, name: String, tag: String,
      batchId: String, nIds: Long, hash: String): Unit = {
    import spark.implicits._
    val legacy = spark.catalog.tableExists(s"${name}_takedowns") &&
      !spark.table(s"${name}_takedowns").columns.contains("ids_hash")
    val row =
      if (legacy) Seq((batchId, tag, nIds)).toDF("batch_id", "family", "n_ids")
      else Seq((batchId, tag, nIds, hash))
        .toDF("batch_id", "family", "n_ids", "ids_hash")
    row.write.mode("append").format("parquet")
      .saveAsTable(s"${name}_takedowns")
  }
}
