package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`) — the
  * beyond-parity ANN operators (SURVEY §7.2 step 10).
  *
  * Scale shape: the query set is small and broadcast; the corpus streams
  * once per top-k run. Scores are computed with `zip_with` + left-fold
  * `aggregate` — a fixed evaluation order, so doubles are bit-deterministic
  * regardless of partitioning.
  */
object Similarity {

  /** Dot product of two equal-length double arrays — native fused-loop
    * expression (see [[VectorOps]]), left-to-right accumulation so doubles
    * are bit-deterministic under any partitioning.
    */
  def dot(a: Column, b: Column): Column = VectorOps.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two double arrays. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Engine-portable deterministic id mix used to pick training samples.
    * The naive `ORDER BY vec_id LIMIT n` takes the LOWEST ids — at corpus
    * scale ids correlate with crawl order/domain, so centroids would train
    * on one biased slice and recall quietly degrades. Ordering by this
    * Lehmer-style mix instead scatters the sample uniformly across the id
    * space while staying fully deterministic AND replayable verbatim in
    * the DuckDB oracle (plain modular arithmetic, no overflow: the reduced
    * id < 2^31 times the multiplier < 2^31 stays under 2^62). The same SQL
    * string is spliced into both engines' plans so they cannot drift.
    */
  private[graft] def sampleHashSql(idCol: String): String =
    s"(($idCol % 2147483647) * 1103515245 + 12345) % 2147483647"

  /** The unbiased deterministic training sample: `sampleSize` rows in
    * id-mix order (ties broken by id), re-sorted to vec_id order so the
    * fit's fold arithmetic keeps its pinned order.
    */
  private def hashSample(nv: DataFrame, sampleSize: Int): Array[(Long, Array[Double])] =
    nv.orderBy(expr(sampleHashSql("vec_id")), col("vec_id")).limit(sampleSize)
      .collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Double]]("v").toArray))
      .sortBy(_._1)

  private def asDouble(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** L2-normalize once at the source: pair scoring then needs a single dot
    * per pair instead of dot + two norms — the dominant cost when candidate
    * pairs outnumber vectors by orders of magnitude.
    */
  private[functions] def normalized(df: DataFrame): DataFrame =
    normalizedWith(df)

  /** [[normalized]] carrying extra metadata columns through the projection
    * (no join-back: attributes ride the same scan).
    */
  private def normalizedWith(df: DataFrame, extra: String*): DataFrame =
    df.select(col("vec_id") +:
        col("embedding").cast("array<double>").as("v") +:
        extra.map(col): _*)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0)
      .select(col("vec_id") +:
        // native kernel, NOT transform(x / nrm): one HOF here would pin
        // the whole fused scan stage (dots + probe ranks included) in
        // interpreted eval — see VectorDivExpr; bit-equal arithmetic
        VectorOps.vectorDiv(col("v"), col("nrm")).as("v") +:
        extra.map(col): _*)

  /** SCALAR (int8) quantization top-k — the 4×-compression counterpart of
    * PQ: every dimension quantizes independently to one of `levels` codes
    * between the corpus per-dimension min and max, and search scores
    * queries against the DEQUANTIZED codes. Training is ONE exact min/max
    * aggregate — a selection, not a sum, so it is order-free and
    * engine-exact with no k-means loop at all; the SQ-vs-PQ trade is
    * higher fidelity per dimension at lower compression. Encode and
    * decode are scan-side projections against literal min/span arrays
    * (dim-bounded driver collect, the centroid-literal pattern); the only
    * exchange is the final per-query top-k window. At 100 TB the int8
    * codes table is what memory-resident exhaustive search reads — 4×
    * smaller than float32, with none of PQ's subspace distortion.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      levels: Int = 256): DataFrame = {
    val nv = normalized(corpus)
    val (mins, spans) = sqStats(nv)
    val L = (levels - 1).toDouble
    // typedLit, NOT array(lit...): CreateArray re-materializes the 64-slot
    // array per evaluated element, turning the projection quadratic in dim
    val minsLit = typedLit(mins.toIndexedSeq)
    val spansLit = typedLit(spans.toIndexedSeq)
    // decode ONCE per corpus row, BEFORE the query fan-out: the decoded
    // array is query-independent, so evaluating it per (query, vector)
    // pair would multiply the dequantization work by |queries|
    val decoded = sqEncodeWith(nv, minsLit, spansLit, levels)
      .select(col("vec_id"),
        transform(col("code"), (c, i) =>
          element_at(minsLit, i + 1) +
            c.cast("double") / lit(L) * element_at(spansLit, i + 1)).as("dv"))
    val q = normalized(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = decoded
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("dv")).as("score"))
    topKPerQuery(scored, k)
  }

  /** The (vec_id, code ARRAY<INT>) SQ codes table — the artifact a
    * persisted scalar-quantized index stores (the probe half of
    * [[sqTopK]], exposed like [[pqEncode]] so footprint probes can
    * measure the codes-vs-floats claim on real parquet bytes).
    */
  def sqEncode(corpus: DataFrame, levels: Int = 256): DataFrame = {
    val nv = normalized(corpus)
    val (mins, spans) = sqStats(nv)
    sqEncodeWith(nv, typedLit(mins.toIndexedSeq),
      typedLit(spans.toIndexedSeq), levels)
  }

  /** Per-dimension (min, max−min) over the normalized corpus — one exact
    * selection aggregate, dim-bounded driver collect.
    */
  private def sqStats(nv: DataFrame): (Array[Double], Array[Double]) = {
    val stats = nv
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy("d").collect()
    (stats.map(_.getDouble(1)), stats.map(r => r.getDouble(2) - r.getDouble(1)))
  }

  private def sqEncodeWith(nv: DataFrame, minsLit: Column, spansLit: Column,
      levels: Int): DataFrame = {
    require(levels >= 2 && levels <= 65536, "levels in [2, 65536]")
    val L = (levels - 1).toDouble
    nv.select(col("vec_id"),
      transform(col("v"), (x, i) => {
        val sp = element_at(spansLit, i + 1)
        when(sp > 0,
          round((x - element_at(minsLit, i + 1)) / sp * lit(L)).cast("int"))
          .otherwise(lit(0))
      }).as("code"))
  }

  /** Persist a SCALAR-QUANTIZED index: the per-dimension (min, span,
    * levels) parameter table plus the int8-level codes table — train +
    * encode once at ingest; search reads ONLY the ~4×-smaller codes table
    * (the measured sqsize point in SCALE.md) and never rescans or
    * re-encodes the float corpus. Same two-table publish discipline as
    * [[writePqIndex]]: params first, any failure drops both.
    */
  def writeSqIndex(corpus: DataFrame, name: String, levels: Int = 256): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val spark = corpus.sparkSession
    dropSqIndex(spark, name)
    val nv = normalized(corpus)
    val (mins, spans) = sqStats(nv)
    try {
      import spark.implicits._
      mins.indices.map(d => (d, mins(d), spans(d), levels)).toSeq
        .toDF("d", "mn", "span", "levels")
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${name}_params")
      sqEncodeWith(nv, typedLit(mins.toIndexedSeq),
          typedLit(spans.toIndexedSeq), levels)
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${name}_codes")
    } catch {
      case e: Throwable => dropSqIndex(spark, name); throw e
    }
  }

  def dropSqIndex(spark: org.apache.spark.sql.SparkSession, name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_params", s"${name}_codes", s"${name}_deletes"))

  /** TARGETED DELETION from the SQ8 index — codes are row-independent,
    * so the tombstone/anti-join/compact machinery applies unchanged
    * (the [[deleteFromAnnIndex]] family; BucketedSpec pins tombstoned ≡
    * compacted ≡ never-present per code family). Quantizer params are
    * untouched (frozen-fit maintenance trade, as with upsert).
    */
  def deleteFromSqIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long]): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    graft.sources.ManagedTables.appendDeletes(spark, name, "vec_id", ids)
  }

  def compactSqIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = compactCodesTable(spark, name)

  /** [[sqTopK]] over a [[writeSqIndex]] index — identical results for the
    * same corpus and levels (BucketedSpec asserts both); the params table
    * loads driver-side (dim-bounded) and the scan touches only codes.
    */
  def sqSearchIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
      queries: DataFrame, k: Int): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    val pr = spark.table(s"${name}_params").orderBy("d").collect()
    require(pr.nonEmpty, s"SQ index $name has no params")
    val mins = pr.map(_.getDouble(1)).toIndexedSeq
    val spans = pr.map(_.getDouble(2)).toIndexedSeq
    val L = (pr.head.getInt(3) - 1).toDouble
    val minsLit = typedLit(mins)
    val spansLit = typedLit(spans)
    val decoded = graft.sources.ManagedTables.minusDeletes(spark, name,
      spark.table(s"${name}_codes"), "vec_id").select(col("vec_id"),
      transform(col("code"), (c, i) =>
        element_at(minsLit, i + 1) +
          c.cast("double") / lit(L) * element_at(spansLit, i + 1)).as("dv"))
    val q = normalized(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    topKPerQuery(decoded
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("dv")).as("score")), k)
  }

  /** Metadata-FILTERED exact top-k: each query retrieves only corpus
    * vectors sharing its `attrCol` value — category-scoped retrieval, the
    * filtered-search mode vector stores advertise (language- or
    * domain-restricted neighbor lookup in a curation pipeline). The
    * attribute equality makes the scoring join a hash EQUI-join on the
    * attribute instead of brute force's broadcast fan-out over the whole
    * corpus: at 100 TB each query's candidate set is its category's
    * partition, and the filter prunes at the scan (predicate pushdown on
    * the attribute column), not after scoring.
    */
  def attributeFilteredTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      attrCol: String): DataFrame = {
    val c = normalizedWith(corpus, attrCol)
    val q = normalizedWith(queries, attrCol)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col(attrCol))
    val scored = c.join(broadcast(q), Seq(attrCol))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("score"))
    topKPerQuery(scored, k)
  }

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * `queries` is expected to be small (it is broadcast); the corpus side
    * streams through one scan — no shuffle until the final per-query top-k.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = normalized(corpus)
    val q = normalized(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("score"))
    topKPerQuery(scored, k)
  }

  /** IVF-style approximate top-k: corpus and queries are assigned to
    * sign-bit buckets over the leading dimensions (a deterministic coarse
    * quantizer); each query only scores its own bucket's vectors, probing
    * `probeBits` single-bit flips of its bucket key for recall. At 100 TB
    * the bucketed join replaces the broadcast fan-out with a shuffle on
    * bucket keys, and per-bucket candidate lists stay small.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      signBits: Int = 8, probeBits: Int = 2): DataFrame = {
    require(signBits <= 16)
    def bucketOf(v: Column): Column = VectorOps.signBucket(v, 0, signBits)

    val c = normalized(corpus).withColumn("bucket", bucketOf(col("v")))
    // each query probes its bucket plus single-bit neighbors (multi-probe)
    val probes = array((lit(0) +: (0 until probeBits).map(b => lit(1 << b))): _*)
    val q = normalized(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
      .withColumn("qbucket", bucketOf(col("qv")))
      .select(col("query_id"), col("qv"),
        explode(transform(probes, m => col("qbucket").bitwiseXOR(m))).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("score"))
      // multi-probe can reach the same (query, neighbor) via ≤1 bucket only
      // (buckets partition the corpus), so no dedup needed before ranking
    topKPerQuery(scored, k)
  }

  /** IVF with a TRAINED coarse quantizer: spherical k-means centroids fit
    * on a deterministic corpus sample, then the classic IVF shape — every
    * corpus vector is assigned to its best centroid as a scan-side
    * projection (no join, no shuffle: the centroid table is a few KB of
    * literals baked into the plan), queries probe their `nprobe` best
    * centroids, and only those cells are scored.
    *
    * This is the standard fix for [[ivfTopK]]'s documented weakness: sign
    * buckets mirror data structure, so on an unstructured corpus they have
    * ~0 recall at any useful probe cost (SCALE.md measured 0.030), while
    * k-means cells always partition the data into balanced,
    * centroid-ranked regions — recall then degrades gracefully with
    * `nprobe/centroids` (the scanned corpus fraction) instead of
    * collapsing. Sign-bit IVF remains the zero-training fallback.
    *
    * Everything is deterministic and engine-replayable: the sample is
    * `sampleSize` vectors in [[sampleHashSql]] id-mix order (unbiased in
    * id space), init centroids are the `centroids` lowest-id members of
    * that sample, Lloyd assignment breaks ties toward the lowest centroid id,
    * means fold members in vec_id order, and each mean is L2-renormalized
    * (empty or zero-norm cells keep their previous centroid). The DuckDB
    * oracle replays the whole fit bit-for-bit with fold-left list_reduce
    * arithmetic.
    *
    * Training cost is deliberately driver-side: `sampleSize` vectors
    * (bounded, default 256 × 64 doubles ≈ 128 KB) and a few Lloyd rounds
    * over k·sample dots — microseconds next to one corpus scan, with no
    * iterative Spark jobs and a guaranteed fold order. At 100 TB nothing
    * changes: the sample read is a pushed-down `ORDER BY <id-mix> LIMIT n`
    * (TakeOrderedAndProject — one scan, top-n per partition, tiny merge),
    * and the expensive stages (assignment, scoring) stay distributed.
    */
  def ivfTrainedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: Int = 8, nprobe: Int = 4,
      sampleSize: Int = 256, iters: Int = 2): DataFrame = {
    val c = normalized(corpus)
    val cents = trainCentroids(c, centroids, sampleSize, iters)
    def scoresOf(v: Column): Column = centroidScores(cents)(v)

    // corpus side: argmax over the literal centroid scores — a projection,
    // evaluated inside the scan stage (ties go to the first/lowest cid,
    // matching the training rule)
    val assigned = assignToCentroids(c, cents).withColumnRenamed("cluster", "bucket")

    // query side: top-nprobe centroids per query (query set is small; the
    // window shuffle is on the tiny side only)
    val qw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cscore").desc, col("cid"))
    val probes = normalized(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        posexplode(scoresOf(col("v"))).as(Seq("cid", "cscore")))
      .withColumn("rn", row_number().over(qw))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("cid").as("bucket"))

    val scored = assigned.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("score"))
    topKPerQuery(scored, k)
  }

  /** Materialize a TRAINED ANN INDEX: the k-means fit of [[ivfTrainedTopK]]
    * persisted as two managed tables — `<name>_centroids` (cid, cv: a few
    * KB) and `<name>_assignments` (bucket=cell id, vec_id, v: the
    * L2-normalized corpus, BUCKETED by cell). [[ivfTrainedTopK]] retrains
    * and re-assigns the corpus on every call — fine for one-shot batch, the
    * wrong access path for interactive search at 100 TB, where the corpus
    * scan + assignment must be paid ONCE at build time (the
    * [[TextAnalysis.writeSearchIndex]] pattern). Queries then read only
    * their probed cells' buckets (`SelectedBucketsCount` in the plan), so
    * per-query cost scales with nprobe/centroids of the corpus, not the
    * corpus. Rebuild = rerun (overwrite both tables).
    *
    * Publish order mirrors the BM25 index: centroids first (one small
    * write), assignments second, and any failure drops both tables — a torn
    * two-table index must never look queryable.
    */
  def writeAnnIndex(corpus: DataFrame, name: String, centroids: Int = 8,
      sampleSize: Int = 256, iters: Int = 2, buckets: Int = 8,
      format: String = "parquet"): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val spark = corpus.sparkSession
    dropAnnIndex(spark, name)
    val c = normalized(corpus)
    val cents = trainCentroids(c, centroids, sampleSize, iters)
    try {
      import spark.implicits._
      // format is a STORAGE choice only (round-17: proves the index layer
      // is not parquet-hardwired — ORC round-trips with hash-unchanged
      // search results, BucketedSpec): bucket spec, pruning, and every
      // maintenance path (append/rewrite read the catalog provider) are
      // format-agnostic.
      cents.zipWithIndex
        .map { case (cv, cid) => (cid, cv.toSeq) }.toSeq
        .toDF("cid", "cv")
        .write.mode("overwrite").format(format).saveAsTable(s"${name}_centroids")
      graft.sources.ManagedTables.writeBucketed(
        assignToCentroids(c, cents)
          .select(col("cluster").as("bucket"), col("vec_id"), col("v")),
        s"${name}_assignments", "bucket", buckets, format)
    } catch {
      case e: Throwable => dropAnnIndex(spark, name); throw e
    }
  }

  /** Drop both ANN index tables AND their directories (crash-surviving
    * stale dirs included — see [[graft.sources.ManagedTables.dropManagedTables]]).
    */
  def dropAnnIndex(spark: org.apache.spark.sql.SparkSession, name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_centroids", s"${name}_assignments",
        s"${name}_deletes"))

  /** TARGETED DELETION from a [[writeAnnIndex]] index (takedowns,
    * opt-outs): O(batch) tombstone append — every indexed reader
    * ([[annSearchIndexed]], [[knnGraphIndexed]]) anti-joins the
    * broadcast tombstone set, so the deletion is effective immediately;
    * [[compactAnnIndex]] is the amortized physical purge. The
    * full-rebuild-minus-deleted equality is hash-certified by
    * q_sim_topk_ivf_deleted (the upsert gate's mirror: clones of the
    * query vectors are upserted then deleted, and the search must answer
    * exactly as if they never existed).
    */
  def deleteFromAnnIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long]): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    graft.sources.ManagedTables.appendDeletes(spark, name, "vec_id", ids)
  }

  /** Fold tombstones into the assignments table (stage-and-swap rewrite
    * under its own bucket spec) and clear them — the compaction half of
    * [[deleteFromAnnIndex]]. The quantizer is untouched (deletion never
    * moves centroids; drift is the rebuild cadence's concern).
    */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    if (spark.catalog.tableExists(s"${name}_deletes")) {
      graft.sources.ManagedTables.rewriteBucketed(spark, s"${name}_assignments",
        graft.sources.ManagedTables.minusDeletes(spark, name,
          spark.table(s"${name}_assignments"), "vec_id"))
      graft.sources.ManagedTables.dropDeletes(spark, name)
    }
  }

  /** INCREMENTAL index maintenance: add a batch of NEW vectors to a
    * [[writeAnnIndex]] index without retraining or touching the existing
    * assignments — the streaming-embedding-ingest path. A full rebuild
    * re-scans and re-assigns the whole corpus; at 100 TB that makes index
    * freshness cost O(corpus) per batch, where this is O(batch): the batch
    * is normalized, assigned against the PERSISTED centroids (a few KB,
    * read once driver-side, baked into the batch's scan as literals —
    * exactly the [[ivfTrainedTopK]] assignment projection), and APPENDED
    * into the bucketed assignments table under the table's own bucket
    * spec, so bucket pruning keeps working on the grown index.
    *
    * The quantizer is intentionally FROZEN (the standard IVF maintenance
    * trade): cells drift as the distribution moves, recall degrades
    * gracefully, and a periodic [[writeAnnIndex]] rebuild re-centers —
    * the rollup-upsert-vs-recompute pattern ([[graft.operators.Rollups]]).
    * Search results over initial ∪ batches are therefore bit-identical to
    * a single build over the union whenever the union's training sample
    * (the `sampleSize` smallest [[sampleHashSql]] id-mix values) is
    * contained in the initial corpus (BucketedSpec pins this equivalence
    * on a fixture constructed to satisfy the containment).
    *
    * Contract: batch vec_ids must be new — an id re-sent arrives as a
    * duplicate row (dedup upstream; the append cannot see the table it
    * appends to without scanning it).
    */
  def upsertAnnIndex(spark: org.apache.spark.sql.SparkSession, name: String,
      batch: DataFrame): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val cents = spark.table(s"${name}_centroids").orderBy("cid").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    require(cents.nonEmpty, s"ANN index $name has no centroids")
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        s"${name}_assignments"))
      .bucketSpec
      .getOrElse(throw new IllegalStateException(
        s"ANN index $name assignments table has no bucket spec"))
    assignToCentroids(normalized(batch), cents)
      .select(col("cluster").as("bucket"), col("vec_id"), col("v"))
      .write.mode("append").format("parquet")
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head)
      .sortBy(spec.sortColumnNames.head)
      .saveAsTable(s"${name}_assignments")
  }

  /** Trained-IVF top-k over a [[writeAnnIndex]] index — same results as
    * [[ivfTrainedTopK]] with the same fit parameters (BucketedSpec asserts
    * both), but the corpus is never scanned or re-assigned: the probed
    * cells are computed DRIVER-side from the persisted centroids (the query
    * set is small and bounded — the same contract under which every other
    * ANN path broadcasts it), so the assignments read carries a LITERAL
    * bucket-IN predicate, which is what turns into bucket pruning
    * (`SelectedBucketsCount`) instead of a full index scan.
    *
    * Determinism: the driver normalizes queries and scores centroids with
    * the same left-to-right fold as [[VectorOps.dotProduct]] and
    * [[trainCentroids]], so the probe choice is bit-identical to the
    * all-Spark plan and to the DuckDB oracle's fold-left replay.
    *
    * `maxQueries` is a SWITCH, not a cap (round-16: it used to throw):
    * at or below it, probe selection runs driver-side as described —
    * every oracle-gated query stays on this bit-pinned path. ABOVE it,
    * the whole query frame stays distributed: probe selection runs
    * scan-side via [[withProbeCells]] (the identical score/tie rule the
    * graph builds use), the probed-cell set — bounded by the CENTROID
    * count, never the query count — is still a tiny control read that
    * keeps the literal bucket-IN pruning, and the candidate join keys
    * on `bucket` itself so the bucketed side arrives exchange-free and
    * PRUNED. Parallelism of that join is the index's file-bucket count
    * — size `buckets` ≈ executor slots at [[writeAnnIndex]] time (the
    * annbatch probe measured the violation: 8 buckets serialized 32
    * cores to 395 s where 32 buckets ran 214 s). A salted join was
    * measured and rejected here — it demotes the bucketed scan and
    * silently reads the whole index (SCALE.md round-16).
    */
  def annSearchIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
      queries: DataFrame, k: Int, nprobe: Int = 4,
      maxQueries: Int = 65536): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    val cents = spark.table(s"${name}_centroids").orderBy("cid").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    require(cents.nonEmpty, s"ANN index $name has no centroids")

    val rawQ = asDouble(queries).limit(maxQueries + 1).collect()
    if (rawQ.length <= maxQueries) {
      // driver-side normalize + probe selection, same arithmetic and tie
      // rules as the Spark/oracle sides: left-fold dot, zero-norm queries
      // dropped, top-nprobe cells by (score desc, cid asc)
      val probeRows = rawQ.iterator.flatMap { r =>
        val id = r.getLong(0)
        val v = r.getAs[scala.collection.Seq[Double]]("v").toArray
        val nrm = math.sqrt(dotD(v, v))
        if (nrm > 0) {
          val qv = v.map(_ / nrm)
          cents.zipWithIndex
            .map { case (cv, cid) => (dotD(qv, cv), cid) }
            .sortBy { case (s, cid) => (-s, cid) }
            .take(nprobe)
            .map { case (_, cid) => (id, qv.toSeq, cid) }
        } else Nil
      }.toSeq

      import spark.implicits._
      val probes = probeRows.toDF("query_id", "qv", "bucket")
      val cells = probeRows.map(_._3).distinct.sorted
      val assigned = graft.sources.ManagedTables.minusDeletes(spark, name,
        spark.table(s"${name}_assignments")
          .filter(col("bucket").isin(cells.map(Integer.valueOf): _*)),
        "vec_id")
      val scored = assigned.join(broadcast(probes), Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          dot(col("qv"), col("v")).as("score"))
      topKPerQuery(scored, k)
    } else {
      // DISTRIBUTED arm: the query frame never lands on the driver
      val probed = withProbeCells(normalized(queries), cents, nprobe)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          explode(col("__probes")).as("bucket"))
      val cells = probed.select("bucket").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      val assigned = graft.sources.ManagedTables.minusDeletes(spark, name,
        spark.table(s"${name}_assignments")
          .filter(col("bucket").isin(cells.map(Integer.valueOf): _*)),
        "vec_id")
      // The candidate join keys on `bucket` ITSELF — the column the
      // assignments table is bucketed by — so the bucketed side stays
      // exchange-free AND keeps its literal-IN bucket pruning. A salted
      // variant was measured and REJECTED here: joining on
      // (bucket, salt) makes the bucketing useless to the planner,
      // Spark's DisableUnnecessaryBucketedScan demotes the scan, and
      // bucket pruning silently disappears — a full index read at
      // 100 TB costs more than the per-bucket skew the salt would fix.
      // Per-bucket product parallelism therefore comes from the index's
      // bucket count (size `buckets` ≥ cores at writeAnnIndex time);
      // AQE absorbs residual imbalance on the shuffled probe side, and
      // Catalyst is free to broadcast the probe frame only when its
      // MEASURED (checkpoint/shuffle-stat) size is genuinely small.
      val scored = assigned.join(probed, Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          dot(col("qv"), col("v")).as("score"))
      topKPerQuery(scored, k)
    }
  }

  /** Two-stage HYBRID retrieval, stage 2: rerank a small lexical candidate
    * set (e.g. [[TextAnalysis.bm25Search]] top-N) by embedding cosine to a
    * single query vector — the classic retrieve-then-rerank stack, where a
    * cheap corpus-wide lexical pass bounds the candidate set and the dense
    * scorer only touches N rows.
    *
    * Scale shape: the candidate set (N ≈ 50) BROADCASTS into a join against
    * the normalized corpus — the corpus streams one scan, nothing shuffles
    * on its size — and the single query vector rides in as a broadcast
    * 1-row cross join. The final top-k is orderBy+limit
    * (TakeOrderedAndProject) with the rank window over k rows only, the
    * [[TextAnalysis.bm25Search]] pattern. At 100 TB stage 2 costs one
    * filtered corpus scan; with the corpus stored as a
    * [[writeAnnIndex]]-style bucketed table keyed on the id, it collapses
    * to N bucket-pruned point reads.
    *
    * Candidates keep their stage-1 rank (`bm25_rank`) beside the cosine and
    * the final `rank`, so downstream blending/debugging sees both orders.
    * Documents whose embedding is missing or zero-norm drop out (no cosine
    * exists for them) — matching the oracle's inner join against the
    * normalized-embedding CTE.
    */
  def rerankCandidates(candidates: DataFrame, corpus: DataFrame,
      queryVec: DataFrame, k: Int, idCol: String = "doc_id"): DataFrame = {
    val c = normalized(corpus)
    val q = normalized(queryVec).select(col("v").as("qv")).limit(1)
    val cand = candidates.select(col(idCol), col("rank").as("bm25_rank"))
    val scored = c.join(broadcast(cand), col("vec_id") === col(idCol))
      .crossJoin(broadcast(q))
      .select(col(idCol), col("bm25_rank"), dot(col("qv"), col("v")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cosine").desc, col(idCol))
    scored.orderBy(col("cosine").desc, col(idCol)).limit(k)
      .withColumn("rank", row_number().over(w))
      .select(idCol, "bm25_rank", "cosine", "rank")
  }

  /** RECIPROCAL-RANK FUSION — the standard score-free hybrid-retrieval
    * combiner (Cormack et al., SIGIR 2009; the fusion Elasticsearch/
    * OpenSearch/Vespa ship as their BM25+vector "hybrid" mode): each arm
    * contributes `1 / (kConst + rank)` for every item it ranked, absent
    * arms contribute 0, and items order by the fused sum. Rank-based
    * fusion needs NO score calibration between arms — a BM25 score and a
    * cosine live on incomparable scales, which is exactly why
    * [[rerankCandidates]] (one arm re-SCORES the other's candidates) and
    * this (arms stay independent and only RANKS meet) are different
    * operators: RRF keeps an item that only one arm saw, rerank drops it.
    *
    * Determinism: the fused score folds arm terms LEFT-NESTED IN ARM
    * ORDER — `(t1 + t2) + t3`, never a commuted or tree-shaped sum — so
    * the IEEE result is bit-identical on any partitioning and the DuckDB
    * oracle replays the same expression shape. Each term is one IEEE
    * division of literals; ties in the fused double (same rank multiset)
    * break by id ascending.
    *
    * Scale shape: every arm is already a top-N candidate list
    * (evaluation-sized — KB, not corpus), so the full-outer join chain
    * and the final rank are driver-trivial no matter the corpus size
    * behind the arms; the corpus-scale work happened INSIDE each arm
    * (bm25's df-bounded postings, ANN's probed cells). For multi-query
    * fusion pass the query id in `keyCols` and it becomes the rank
    * window's partition — still |queries|·N rows.
    */
  def rrfFuse(arms: Seq[(String, DataFrame)], k: Int, kConst: Int = 60,
      keyCols: Seq[String] = Seq("doc_id")): DataFrame = {
    require(arms.size >= 2, "RRF needs at least two arms")
    require(arms.map(_._1).distinct.size == arms.size,
      s"duplicate arm names: ${arms.map(_._1)}")
    require(kConst > 0, "kConst must be positive")
    val idCols = keyCols.map(col)
    val renamed = arms.map { case (nm, df) =>
      df.select(idCols :+ col("rank").cast("int").as(s"${nm}_rank"): _*)
    }
    val joined = renamed.reduce((a, b) => a.join(b, keyCols, "full_outer"))
    val fused = arms.map { case (nm, _) =>
      coalesce(
        lit(1.0) / (lit(kConst.toDouble) + col(s"${nm}_rank").cast("double")),
        lit(0.0))
    }.reduceLeft(_ + _)
    val itemCol = col(keyCols.last)
    val partCols = keyCols.dropRight(1).map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols: _*)
      .orderBy(col("rrf_score").desc, itemCol)
    val scored = joined.withColumn("rrf_score", fused)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    scored.select((keyCols.map(col) ++
      arms.map { case (nm, _) => col(s"${nm}_rank") } ++
      Seq(col("rrf_score"), col("rank"))): _*)
  }

  /** PRODUCT QUANTIZATION top-k (FAISS IndexPQ semantics): vectors
    * compress to `m` sub-codes — the 64-dim float corpus (256 B/vector)
    * becomes m=8 bytes-ish of codes, a 32× memory cut — and search scans
    * CODES with per-query lookup tables instead of raw floats. This is
    * the memory-bound regime's answer at 100 TB: the codes table fits
    * where the vectors don't, the scan reads m ints per row, and each
    * row's approximate score is m table lookups + adds instead of a
    * 64-mult dot product.
    *
    *  - TRAIN (driver-side, bounded sample like [[trainCentroids]]): the
    *    vector space splits into `m` equal sub-spaces; each gets its own
    *    `ksub`-centroid plain k-means (min-L2 assignment, ties to the
    *    lowest code; means fold members in vec_id order; empty cells keep
    *    their previous centroid) — all fold-left arithmetic, fully
    *    engine-replayable.
    *  - ENCODE (distributed, scan-side projection like
    *    [[assignToCentroids]]): per sub-space argmin distance over the
    *    literal codebook → `codes: array<int>`.
    *  - SEARCH (asymmetric distance computation): per query the driver
    *    precomputes LUT[m][k] = dot(q_sub_m, codebook_m[k]); the corpus
    *    codes stream once and each row folds its m lookups left — the
    *    approximate cosine. Exact on the quantized corpus, approximate on
    *    the original; measure with [[recallAtK]].
    *
    * The DuckDB oracle replays the per-subspace fits, the corpus encode,
    * and the LUT-equivalent sub-dot sums bit-for-bit.
    *
    * Default m=16/ksub=32 is tuned against the measured recall@10 gate
    * (BucketedSpec real-corpus floors): on 64-dim embeddings it roughly
    * doubles recall vs the maximum-compression m=8/ksub=16 point while
    * still cutting vector storage 16× (16 byte-codes vs 256 float bytes).
    * Pass m/ksub explicitly to trade recall for compression.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 16, ksub: Int = 32, sampleSize: Int = 256, iters: Int = 2,
      maxQueries: Int = 65536): DataFrame = {
    val c = normalized(corpus)
    val books = trainPqCodebooks(c, m, ksub, sampleSize, iters)
    val codes = pqEncode(c, books)

    // maxQueries is a SWITCH, not a cap (round-17; it used to throw): at
    // or below it the LUTs build driver-side (bit-pinned oracle path);
    // above, they build scan-side from broadcast codebooks and the flat
    // product runs as an explicit cartesian — flat PQ's honest cost model.
    val rawQ = asDouble(queries).limit(maxQueries + 1).collect()
    if (rawQ.length <= maxQueries) {
      val spark = corpus.sparkSession
      import spark.implicits._
      val luts = adcLutRows(rawQ, books, m, ksub).toDF("query_id", "lut")
      topKPerQuery(adcScoresFlat(codes, luts, m, ksub), k)
    } else topKPerQuery(
      adcScoresFlatDist(codes, adcLutsDistributed(queries, books), m, ksub), k)
  }

  /** Per-subspace plain-k-means codebooks over a `sampleSize`-vector
    * [[sampleHashSql]] id-mix sample — `books(m)(code)` is a subDim-vector.
    * Deterministic: no RNG, fixed rounds, fold-left distances/means in
    * pinned orders (the [[trainCentroids]] discipline, L2 flavor).
    */
  private[graft] def trainPqCodebooks(nv: DataFrame, m: Int, ksub: Int,
      sampleSize: Int, iters: Int): Array[Array[Array[Double]]] =
    trainPqCodebooksOn(hashSample(nv, sampleSize).map(_._2), m, ksub, iters)

  /** PQ codebooks trained on RESIDUALS to the trained coarse centroids —
    * the true-IVFADC fit (Jégou et al. 2011): each sample vector is
    * assigned to its best centroid (argmax dot, ties to the lowest cid —
    * the [[assignToCentroids]] rule) and the codebooks quantize `v - c`.
    * Residuals concentrate near 0 once the coarse quantizer has absorbed
    * the cell mean, so the same m·ksub code budget spends its resolution
    * on the fine structure — measurably better recall at identical bits
    * (BucketedSpec pins residual ≥ raw on the real corpus).
    */
  private[graft] def trainPqResidualCodebooks(nv: DataFrame,
      cents: Array[Array[Double]], m: Int, ksub: Int,
      sampleSize: Int, iters: Int): Array[Array[Array[Double]]] = {
    val residuals = hashSample(nv, sampleSize).map { case (_, v) =>
      var best = 0; var bestScore = 0.0
      var cid = 0
      while (cid < cents.length) {
        var acc = 0.0; var i = 0
        while (i < v.length) { acc += v(i) * cents(cid)(i); i += 1 }
        if (cid == 0 || acc > bestScore) { best = cid; bestScore = acc }
        cid += 1
      }
      Array.tabulate(v.length)(i => v(i) - cents(best)(i))
    }
    trainPqCodebooksOn(residuals, m, ksub, iters)
  }

  private def trainPqCodebooksOn(sample: Array[Array[Double]], m: Int,
      ksub: Int, iters: Int): Array[Array[Array[Double]]] = {
    require(sample.length >= ksub,
      s"corpus sample ${sample.length} smaller than sub-codebook size $ksub")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m sub-spaces")
    val subDim = dim / m

    def distTo(x: Array[Double], c: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < x.length) { val d = x(i) - c(i); acc += d * d; i += 1 }
      acc
    }

    Array.tabulate(m) { mm =>
      val subs = sample.map(v => v.slice(mm * subDim, (mm + 1) * subDim))
      var cents = subs.take(ksub).map(_.clone())
      for (_ <- 1 to iters) {
        // min-L2 assignment, strict < keeps the LOWEST code on ties
        val assign = subs.map { x =>
          var best = 0; var bestD = distTo(x, cents(0))
          var kk = 1
          while (kk < ksub) {
            val d = distTo(x, cents(kk))
            if (d < bestD) { best = kk; bestD = d }
            kk += 1
          }
          best
        }
        cents = Array.tabulate(ksub) { kk =>
          val members = subs.indices.filter(assign(_) == kk).map(subs)
          if (members.isEmpty) cents(kk)
          else Array.tabulate(subDim) { i =>
            var acc = 0.0
            members.foreach(v => acc += v(i))
            acc / members.length
          }
        }
      }
      cents
    }
  }

  /** The `codes` column: per sub-space argmin L2 distance over the
    * BROADCAST codebooks — ONE native [[VectorOps.PqCodesExpr]] node
    * (round-17: the literal HOF form below was m·ksub interpreted
    * aggregate/zip_with sub-distances per row — 512 at the defaults —
    * dragging every index-build scan out of whole-stage codegen; the
    * same arithmetic now runs as a static-call kernel,
    * [[pqCodesHof]] retained as the forced-rule equality surface).
    */
  private def pqCodes(books: Array[Array[Array[Double]]], nv: DataFrame,
      v: Column = col("v")): Column =
    VectorOps.pqCodesCol(v, nv.sparkSession.sparkContext.broadcast(
      VectorOps.BroadcastBooks(books)))

  /** The literal higher-order-function encode — retained as the
    * equality-spec surface for [[pqCodes]]'s native kernel (BucketedSpec
    * pins code-for-code equality incl. the short-vector NULL contract),
    * no longer dispatched on any path.
    */
  private[graft] def pqCodesHof(books: Array[Array[Array[Double]]],
      v: Column = col("v")): Column = {
    val m = books.length
    val subDim = books(0)(0).length
    def subDist(mm: Int, kk: Int): Column =
      aggregate(
        zip_with(slice(v, mm * subDim + 1, subDim),
          array(books(mm)(kk).map(lit).toIndexedSeq: _*),
          (x, cc) => (x - cc) * (x - cc)),
        lit(0.0), (acc, x) => acc + x)
    val codeCols = (0 until m).map { mm =>
      val dists = array((0 until books(mm).length).map(kk => subDist(mm, kk)): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    array(codeCols: _*)
  }

  /** PQ codes of the normalized corpus: a scan-side projection, no join,
    * no shuffle (the [[assignToCentroids]] shape, m times).
    */
  private[graft] def pqEncode(nv: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame =
    nv.select(col("vec_id"), pqCodes(books, nv).as("codes"))

  /** Driver-side dot product — the probe-selection arithmetic every
    * IVF/PQ path shares (centroid ranking, ADC LUT entries).
    */
  private def dotD(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** The m·ksub ADC lookup table of one normalized query against `books`:
    * entry i = dot(q's sub-vector for subspace i/ksub, codeword i%ksub).
    */
  private def adcLut(qv: Array[Double], books: Array[Array[Array[Double]]],
      m: Int, ksub: Int): Seq[Double] = {
    val subDim = books(0)(0).length
    Array.tabulate(m * ksub) { i =>
      dotD(qv.slice((i / ksub) * subDim, (i / ksub + 1) * subDim),
        books(i / ksub)(i % ksub))
    }.toSeq
  }

  /** Driver-side probe selection shared by EVERY IVF×PQ search path
    * (one-shot raw, one-shot residual, and the indexed residual search —
    * one definition, so probe ranking / tie-breaking / LUT indexing can
    * never drift between the one-shot and indexed paths the oracles
    * certify as equal): normalize each query, build its m·ksub ADC LUT
    * against `books`, rank cells by dot(q, centroid) (desc, ties by cid
    * asc), and emit one row per probed cell — (query_id, cell, lut, base)
    * where base = dot(q, c_cell), the constant term of the residual
    * decomposition (raw-PQ callers drop it). Zero-norm queries emit
    * nothing: no direction to search.
    */
  private def adcProbeRows(rawQ: Array[org.apache.spark.sql.Row],
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      m: Int, ksub: Int, nprobe: Int): Seq[(Long, Int, Seq[Double], Double)] = {
    rawQ.toSeq.flatMap { r =>
      val id = r.getLong(0)
      val v = r.getAs[scala.collection.Seq[Double]]("v").toArray
      val nrm = math.sqrt(dotD(v, v))
      if (nrm > 0) {
        val qv = v.map(_ / nrm)
        val lut = adcLut(qv, books, m, ksub)
        cents.zipWithIndex
          .map { case (cv, cid) => (dotD(qv, cv), cid) }
          .sortBy { case (s, cid) => (-s, cid) }
          .take(nprobe)
          .map { case (base, cid) => (id, cid, lut, base) }
      } else Nil
    }
  }

  /** The ADC scoring select shared by the PQ-coded search paths:
    * candidates join their broadcast probes on the cell, self-matches
    * drop, and the score is the LUT fold over the codes — plus the
    * per-(query, cell) base term when the codes are cell residuals.
    */
  private def adcScores(enc: DataFrame, probes: DataFrame,
      m: Int, ksub: Int, withBase: Boolean,
      broadcastProbes: Boolean = true): DataFrame = {
    val fold = adcFold(m, ksub)
    // Driver arms broadcast their (bounded, ≤maxQueries-row) probe frame;
    // the distributed arms join plain — probes arrive via shuffle keyed on
    // the SAME bucket column the IVFADC codes table is bucketed by, so the
    // coded side stays exchange-free and keeps its literal-IN pruning (the
    // annSearchIndexed candidate-join shape; a salted or broadcast pick at
    // unbounded query count was measured into the ground in SCALE.md r16).
    enc.join(if (broadcastProbes) broadcast(probes) else probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (if (withBase) col("base") + fold else fold).as("score"))
  }

  /** DISTRIBUTED probe/LUT frame — the scan-side twin of [[adcProbeRows]]
    * for query sets above the `maxQueries` switch: the query frame never
    * lands on the driver. Probe selection runs via [[withProbeCells]]
    * (identical score/tie rule), the ADC LUT computes per query row via
    * [[VectorOps.adcLut]] against broadcast codebooks (bit-equal fold),
    * and `base` — the residual paths' per-(query, cell) constant
    * dot(q, c_cell) — computes from the literal centroid table with the
    * same left-fold dot the driver arm uses. Raw-PQ callers drop `base`.
    * One row per (query, probed cell): (query_id, bucket, lut, base).
    */
  private def adcProbesDistributed(queries: DataFrame,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      nprobe: Int): DataFrame = {
    val bc = queries.sparkSession.sparkContext.broadcast(
      VectorOps.BroadcastBooks(books))
    val centsLit = typedLit(cents.map(_.toIndexedSeq).toIndexedSeq)
    withProbeCells(normalized(queries), cents, nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        VectorOps.adcLut(col("v"), bc).as("lut"),
        explode(col("__probes")).as("bucket"))
      .withColumn("base", dot(col("qv"), element_at(centsLit, col("bucket") + 1)))
      .drop("qv")
      // The exchange is LOAD-BEARING, not a tuning knob: without it
      // CollapseProject inlines the LUT expression into the post-join
      // score fold and the m·ksub-entry table recomputes PER CANDIDATE
      // row instead of per probe row — measured round-17 as the 70k-query
      // pqbatch probe pinning ONE core inside adcLutKernel beneath the
      // top-k sort (the join side also arrives pre-partitioned on the
      // bucket key, and a limit()-truncated query frame stops serializing
      // the whole probe build into its single inherited partition).
      .repartition(col("bucket"))
  }

  /** DISTRIBUTED flat-LUT frame — [[adcLutRows]]'s scan-side twin for the
    * non-IVF PQ paths above the `maxQueries` switch: (query_id, lut), one
    * row per non-zero-norm query, LUT bit-equal to the driver build.
    */
  private def adcLutsDistributed(queries: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val bc = queries.sparkSession.sparkContext.broadcast(
      VectorOps.BroadcastBooks(books))
    normalized(queries).select(col("vec_id").as("query_id"),
      VectorOps.adcLut(col("v"), bc).as("lut"))
      // load-bearing exchange — see adcProbesDistributed: stops
      // CollapseProject from re-deriving the LUT per cartesian pair and
      // re-spreads a limit()-collapsed query frame
      .repartition(col("query_id"))
  }

  /** DISTRIBUTED flat ADC scoring — [[adcScoresFlat]] without the
    * broadcast: flat PQ semantics score EVERY (query, candidate) pair, so
    * above the switch the join is an explicit cartesian (that product IS
    * the flat-PQ cost model — the IVF variants are the scale path when
    * pruning is wanted); neither side lands on the driver and parallelism
    * is the partition product. Self-matches drop.
    */
  private def adcScoresFlatDist(codes: DataFrame, luts: DataFrame,
      m: Int, ksub: Int): DataFrame =
    codes.crossJoin(luts)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcFold(m, ksub).as("score"))

  /** The scan-side ADC fold: Σ_m lut[m·ksub + code_m] over a row's codes
    * against its query's `lut` — ONE shared definition so no path can
    * drift off-by-one alone. Round-17: a native codegen'd
    * [[VectorOps.AdcFoldExpr]] (the HOF rendering was two nested
    * higher-order functions on the hottest row count in the PQ family —
    * interpreted eval made the 70k-query pqbatch probe unfinishable;
    * [[adcFoldHof]] retained as the equality-spec surface).
    */
  private def adcFold(m: Int, ksub: Int): Column =
    VectorOps.adcFold(col("codes"), col("lut"), m, ksub)

  /** The HOF fold — the forced-rule equality surface for [[adcFold]]'s
    * native kernel (BucketedSpec pins score-for-score equality incl. the
    * NULL contracts), no longer dispatched on any path.
    */
  private[graft] def adcFoldHof(m: Int, ksub: Int): Column =
    aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (code, mm) => element_at(col("lut"),
          (mm * ksub + code + 1).cast("int"))),
      lit(0.0), (acc, x) => acc + x)

  /** Per-query flat-ADC LUT rows (query_id, lut) — the non-IVF siblings'
    * probe-selection analog, shared by the one-shot and indexed PQ paths.
    */
  private def adcLutRows(rawQ: Array[org.apache.spark.sql.Row],
      books: Array[Array[Array[Double]]], m: Int,
      ksub: Int): Seq[(Long, Seq[Double])] =
    rawQ.toSeq.flatMap { r =>
      val id = r.getLong(0)
      val v = r.getAs[scala.collection.Seq[Double]]("v").toArray
      val nrm = math.sqrt(dotD(v, v))
      if (nrm > 0) Some((id, adcLut(v.map(_ / nrm), books, m, ksub))) else None
    }

  /** Flat ADC scoring — every (query, candidate) pair, scored from codes
    * only; self-matches drop.
    */
  private def adcScoresFlat(codes: DataFrame, luts: DataFrame,
      m: Int, ksub: Int): DataFrame =
    codes.join(broadcast(luts), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcFold(m, ksub).as("score"))

  /** IVF + PQ composed — the production ANN shape at 100 TB: the trained
    * coarse quantizer prunes the search to `nprobe` of `centroids` cells
    * ([[ivfTrainedTopK]]), and WITHIN the probed cells rows are scored
    * from their PQ codes via per-query lookup tables ([[pqTopK]]) instead
    * of raw floats. Cost per query: nprobe/centroids of the corpus read as
    * m-int code rows — both the IO fraction and the per-row arithmetic
    * drop at once. Both quantizers train on the same deterministic sample;
    * codes quantize the RAW (normalized) vectors, not cell residuals —
    * the ScaNN-style variant of FAISS's IVFPQ, which keeps the encode a
    * cell-independent projection (residual codes couple every code to its
    * cell assignment and force re-encoding on any re-centering).
    * [[ivfPqResidualTopK]] is the true-IVFADC sibling that accepts that
    * coupling for measurably better recall at identical bits.
    * Approximation quality is measurable with [[recallAtK]].
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: Int = 8, nprobe: Int = 4, m: Int = 16, ksub: Int = 32,
      sampleSize: Int = 256, iters: Int = 2,
      maxQueries: Int = 65536): DataFrame = {
    val c = normalized(corpus)
    val cents = trainCentroids(c, centroids, sampleSize, iters)
    val books = trainPqCodebooks(c, m, ksub, sampleSize, iters)
    // one corpus scan projects BOTH the cell and the codes
    val enc = assignToCentroids(c, cents)
      .select(col("vec_id"), col("cluster").as("bucket"),
        pqCodes(books, c).as("codes"))

    // driver-side probe selection + LUTs at or below the maxQueries
    // SWITCH, same arithmetic as the oracle's qp CTE and the pqTopK LUTs
    // (the annSearchIndexed contract); above it the probe/LUT frame stays
    // distributed — withProbeCells + scan-side LUTs, plain bucket join
    val rawQ = asDouble(queries).limit(maxQueries + 1).collect()
    if (rawQ.length <= maxQueries) {
      val spark = corpus.sparkSession
      import spark.implicits._
      val probes = adcProbeRows(rawQ, cents, books, m, ksub, nprobe)
        .map { case (id, cid, lut, _) => (id, cid, lut) } // raw codes: no base
        .toDF("query_id", "bucket", "lut")
      topKPerQuery(adcScores(enc, probes, m, ksub, withBase = false), k)
    } else {
      val probes = adcProbesDistributed(queries, cents, books, nprobe).drop("base")
      topKPerQuery(adcScores(enc, probes, m, ksub, withBase = false,
        broadcastProbes = false), k)
    }
  }

  /** TRUE IVFADC — [[ivfPqTopK]] with RESIDUAL encoding (Jégou et al.
    * 2011, "Product quantization for nearest neighbor search" §IV):
    * codes quantize `v - centroid(cell(v))` instead of the raw vector,
    * and the score decomposes exactly as
    * `dot(q, v) ≈ dot(q, c_cell) + Σ_m dot(q_m, book_m[code_m])`.
    * The first term is a per-(query, probed-cell) constant computed
    * driver-side during probe selection (it is already the probe-ranking
    * score), so the scan-side arithmetic is IDENTICAL to the raw variant —
    * one LUT fold plus one add. Residuals concentrate near zero once the
    * coarse quantizer absorbs the cell mean, so the same m·ksub bits
    * resolve finer structure: recall is measurably higher at identical
    * index size (BucketedSpec pins residual ≥ raw on the real corpus;
    * q_sim_recall_ivfpq_res certifies the numbers). The cost is the
    * FAISS-style coupling: every code is relative to its cell, so
    * re-centering forces a re-encode — the one-shot fit here re-trains
    * both quantizers per call, which keeps that coupling internal.
    */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroids: Int = 8, nprobe: Int = 4, m: Int = 16, ksub: Int = 32,
      sampleSize: Int = 256, iters: Int = 2,
      maxQueries: Int = 65536): DataFrame = {
    val c = normalized(corpus)
    val cents = trainCentroids(c, centroids, sampleSize, iters)
    val books = trainPqResidualCodebooks(c, cents, m, ksub, sampleSize, iters)
    // one corpus scan projects the cell, the residual, and its codes;
    // typedLit (not array(lit...)) so the centroid table is a single
    // literal, not a per-row re-materialized CreateArray
    val centsLit = typedLit(cents.map(_.toIndexedSeq).toIndexedSeq)
    val enc = assignToCentroids(c, cents)
      .withColumn("rv", zip_with(col("v"),
        element_at(centsLit, col("cluster") + 1), (x, cc) => x - cc))
      .select(col("vec_id"), col("cluster").as("bucket"),
        pqCodes(books, c, col("rv")).as("codes"))

    // probe rows carry the per-cell base term dot(q, c_cell) — the same
    // double the probe ranking already computed. maxQueries is a SWITCH:
    // above it the probe/LUT/base frame computes scan-side
    // (adcProbesDistributed — identical fold, tie, and base arithmetic)
    // and joins the encoded corpus plain on the cell key.
    val rawQ = asDouble(queries).limit(maxQueries + 1).collect()
    if (rawQ.length <= maxQueries) {
      val spark = corpus.sparkSession
      import spark.implicits._
      val probes = adcProbeRows(rawQ, cents, books, m, ksub, nprobe)
        .toDF("query_id", "bucket", "lut", "base")
      topKPerQuery(adcScores(enc, probes, m, ksub, withBase = true), k)
    } else {
      val probes = adcProbesDistributed(queries, cents, books, nprobe)
      topKPerQuery(adcScores(enc, probes, m, ksub, withBase = true,
        broadcastProbes = false), k)
    }
  }

  /** Materialize a PQ INDEX: the per-subspace codebooks (`<name>_codebooks`:
    * m·ksub rows of subDim-vectors, KBs) and the encoded corpus
    * (`<name>_codes`: vec_id + m ints per vector — the ~30× smaller table
    * the ADC scan reads). [[pqTopK]] retrains and re-encodes per call; at
    * 100 TB train+encode is paid ONCE here and every search streams the
    * codes table only (the [[writeAnnIndex]] publish discipline: codebooks
    * first, codes second, any failure drops both).
    */
  def writePqIndex(corpus: DataFrame, name: String, m: Int = 16,
      ksub: Int = 32, sampleSize: Int = 256, iters: Int = 2): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val spark = corpus.sparkSession
    dropPqIndex(spark, name)
    val c = normalized(corpus)
    val books = trainPqCodebooks(c, m, ksub, sampleSize, iters)
    try {
      import spark.implicits._
      books.zipWithIndex.flatMap { case (cb, mm) =>
        cb.zipWithIndex.map { case (cv, code) => (mm, code, cv.toSeq) }
      }.toSeq.toDF("m", "code", "cv")
        .write.mode("overwrite").format("parquet").saveAsTable(s"${name}_codebooks")
      pqEncode(c, books)
        .write.mode("overwrite").format("parquet").saveAsTable(s"${name}_codes")
    } catch {
      case e: Throwable => dropPqIndex(spark, name); throw e
    }
  }

  def dropPqIndex(spark: org.apache.spark.sql.SparkSession, name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_codebooks", s"${name}_codes", s"${name}_deletes"))

  /** TARGETED DELETION from the PQ index ([[deleteFromSqIndex]]'s
    * contract; codebooks are untouched — the frozen-fit trade). */
  def deleteFromPqIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long]): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    graft.sources.ManagedTables.appendDeletes(spark, name, "vec_id", ids)
  }

  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = compactCodesTable(spark, name)

  /** The shared codes-table compaction: stage-and-swap rewrite minus the
    * tombstones (bucket spec preserved when the table has one — the
    * IVFADC codes are cell-bucketed, SQ/PQ codes are flat), then clear.
    */
  private def compactCodesTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    if (spark.catalog.tableExists(s"${name}_deletes")) {
      graft.sources.ManagedTables.rewriteTable(spark, s"${name}_codes",
        graft.sources.ManagedTables.minusDeletes(spark, name,
          spark.table(s"${name}_codes"), "vec_id"))
      graft.sources.ManagedTables.dropDeletes(spark, name)
    }
  }

  /** ADC top-k over a [[writePqIndex]] index — same results as [[pqTopK]]
    * with the same fit parameters (BucketedSpec asserts both), but the
    * corpus is never rescanned or re-encoded: codebooks load driver-side
    * (KBs), per-query LUTs compute with the same fold arithmetic, and the
    * scan touches only the codes table.
    */
  def pqSearchIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
      queries: DataFrame, k: Int, maxQueries: Int = 65536): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    val cbRows = spark.table(s"${name}_codebooks").orderBy("m", "code").collect()
    require(cbRows.nonEmpty, s"PQ index $name has no codebooks")
    val m = cbRows.map(_.getInt(0)).max + 1
    val ksub = cbRows.map(_.getInt(1)).max + 1
    val books = Array.tabulate(m, ksub) { (mm, code) =>
      cbRows(mm * ksub + code).getAs[scala.collection.Seq[Double]]("cv").toArray
    }
    val live = graft.sources.ManagedTables.minusDeletes(spark, name,
      spark.table(s"${name}_codes"), "vec_id")
    // maxQueries is a SWITCH (round-17): above it the LUT frame computes
    // scan-side from broadcast codebooks and the flat product is an
    // explicit cartesian over the codes table — the pqTopK contract.
    val rawQ = asDouble(queries).limit(maxQueries + 1).collect()
    if (rawQ.length <= maxQueries) {
      import spark.implicits._
      val luts = adcLutRows(rawQ, books, m, ksub).toDF("query_id", "lut")
      topKPerQuery(adcScoresFlat(live, luts, m, ksub), k)
    } else topKPerQuery(
      adcScoresFlatDist(live, adcLutsDistributed(queries, books), m, ksub), k)
  }

  /** Materialize a TRUE-IVFADC index ([[ivfPqResidualTopK]]'s fit, paid
    * once): `<name>_centroids` (the coarse quantizer, KBs),
    * `<name>_codebooks` (the RESIDUAL sub-codebooks, KBs), and
    * `<name>_codes` (bucket, vec_id, codes) — the encoded corpus BUCKETED
    * BY CELL, so an indexed search reads only its probed cells' buckets
    * of an m-int-per-vector table: the production ANN access shape where
    * both the IO fraction (nprobe/centroids) and the bytes-per-row
    * (codes, not floats) drop at once. The residual coupling (every code
    * is relative to its cell's centroid) lives entirely inside the index:
    * a rebuild re-trains and re-encodes together, so readers can never
    * mix generations. Publish order: centroids, codebooks, codes — any
    * failure drops all three (the [[writeAnnIndex]] torn-build
    * discipline).
    */
  def writeIvfPqResIndex(corpus: DataFrame, name: String, centroids: Int = 8,
      m: Int = 16, ksub: Int = 32, sampleSize: Int = 256, iters: Int = 2,
      buckets: Int = 8): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val spark = corpus.sparkSession
    dropIvfPqResIndex(spark, name)
    val c = normalized(corpus)
    val cents = trainCentroids(c, centroids, sampleSize, iters)
    val books = trainPqResidualCodebooks(c, cents, m, ksub, sampleSize, iters)
    try {
      import spark.implicits._
      cents.zipWithIndex
        .map { case (cv, cid) => (cid, cv.toSeq) }.toSeq
        .toDF("cid", "cv")
        .write.mode("overwrite").format("parquet").saveAsTable(s"${name}_centroids")
      books.zipWithIndex.flatMap { case (cb, mm) =>
        cb.zipWithIndex.map { case (cv, code) => (mm, code, cv.toSeq) }
      }.toSeq.toDF("m", "code", "cv")
        .write.mode("overwrite").format("parquet").saveAsTable(s"${name}_codebooks")
      val centsLit = typedLit(cents.map(_.toIndexedSeq).toIndexedSeq)
      graft.sources.ManagedTables.writeBucketed(
        assignToCentroids(c, cents)
          .withColumn("rv", zip_with(col("v"),
            element_at(centsLit, col("cluster") + 1), (x, cc) => x - cc))
          .select(col("cluster").as("bucket"), col("vec_id"),
            pqCodes(books, c, col("rv")).as("codes")),
        s"${name}_codes", "bucket", buckets)
    } catch {
      case e: Throwable => dropIvfPqResIndex(spark, name); throw e
    }
  }

  def dropIvfPqResIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(spark,
      Seq(s"${name}_centroids", s"${name}_codebooks", s"${name}_codes",
        s"${name}_deletes"))

  /** TARGETED DELETION from the IVFADC index ([[deleteFromSqIndex]]'s
    * contract; coarse quantizer and residual codebooks untouched). */
  def deleteFromIvfPqResIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long]): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    graft.sources.ManagedTables.appendDeletes(spark, name, "vec_id", ids)
  }

  def compactIvfPqResIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = compactCodesTable(spark, name)

  /** Search a [[writeIvfPqResIndex]] index — same answers as
    * [[ivfPqResidualTopK]] at the same fit parameters (the oracle and
    * BucketedSpec both pin the equality), but train+encode were paid at
    * build time: centroids and codebooks load driver-side (KBs), probe
    * selection computes the per-(query, cell) base terms and the ADC
    * LUTs with the same fold arithmetic, and the scan reads ONLY the
    * probed cells' buckets of the codes table (a literal bucket-IN
    * predicate → bucket pruning, the [[annSearchIndexed]] shape).
    */
  def ivfPqResSearchIndexed(spark: org.apache.spark.sql.SparkSession,
      name: String, queries: DataFrame, k: Int, nprobe: Int = 4,
      maxQueries: Int = 65536): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    val cents = spark.table(s"${name}_centroids").orderBy("cid").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    require(cents.nonEmpty, s"IVFADC index $name has no centroids")
    val cbRows = spark.table(s"${name}_codebooks").orderBy("m", "code").collect()
    require(cbRows.nonEmpty, s"IVFADC index $name has no codebooks")
    val m = cbRows.map(_.getInt(0)).max + 1
    val ksub = cbRows.map(_.getInt(1)).max + 1
    val books = Array.tabulate(m, ksub) { (mm, code) =>
      cbRows(mm * ksub + code).getAs[scala.collection.Seq[Double]]("cv").toArray
    }

    // maxQueries is a SWITCH (round-17, the annSearchIndexed shape): at
    // or below it, probe selection + LUTs + base terms run driver-side —
    // the bit-pinned oracle path. Above it the query frame stays
    // distributed; the probed-cell set — bounded by the CENTROID count,
    // never the query count — is still a tiny control read that keeps the
    // literal bucket-IN pruning, and the candidate join keys on `bucket`
    // itself so the bucketed codes side arrives exchange-free and PRUNED.
    val rawQ = asDouble(queries).limit(maxQueries + 1).collect()
    def pruned(cells: Seq[Int]): DataFrame =
      graft.sources.ManagedTables.minusDeletes(spark, name,
        spark.table(s"${name}_codes")
          .filter(col("bucket").isin(cells.map(Integer.valueOf): _*)),
        "vec_id")
    if (rawQ.length <= maxQueries) {
      val probeRows = adcProbeRows(rawQ, cents, books, m, ksub, nprobe)
      import spark.implicits._
      val probes = probeRows.toDF("query_id", "bucket", "lut", "base")
      val enc = pruned(probeRows.map(_._2).distinct.sorted)
      topKPerQuery(adcScores(enc, probes, m, ksub, withBase = true), k)
    } else {
      val probes = adcProbesDistributed(queries, cents, books, nprobe)
      val cells = probes.select("bucket").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      topKPerQuery(adcScores(pruned(cells), probes, m, ksub, withBase = true,
        broadcastProbes = false), k)
    }
  }

  /** k-NN GRAPH over the whole corpus — the artifact SemDeDup-style
    * semantic dedup, graph clustering, and hard-negative mining all
    * consume: for EVERY vector, its k nearest neighbors under the
    * trained coarse quantizer's probe pruning (each vector searches only
    * its own `nprobe` closest cells). Unlike the query-path searches
    * there is NO driver-side query collect — the corpus is both sides,
    * so probe selection happens as a SCAN-SIDE projection (rank the
    * literal centroid table per row with the training tie rule — score
    * desc, cid asc — and keep nprobe cell ids), and both sides of the
    * cell join stream: build cost is Σ_cell |members|·|probers| pair
    * scores, the bucketed candidate-generation shape, never corpus². At
    * production scale the centroid count grows ~√N, which keeps both the
    * per-cell quadratic and the join-key cardinality in check; the
    * 8-cell default is the test-corpus fit. Self-edges drop (a vector's
    * own cell is always its first probe, so it does meet itself).
    *
    * Output: (query_id, neighbor_id, rank, score) — up to k rows per
    * vector, exact cosine on the candidates.
    */
  def knnGraph(corpus: DataFrame, k: Int, centroids: Int = 8,
      nprobe: Int = 4, sampleSize: Int = 256, iters: Int = 2): DataFrame = {
    val c = normalized(corpus)
    val cents = trainCentroids(c, centroids, sampleSize, iters)
    val members = assignToCentroids(c, cents)
      .select(col("vec_id"), col("cluster").as("bucket"), col("v"))
    val probed = withProbeCells(c, cents, nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(col("__probes")).as("bucket"))
    knnScore(probed, members, k)
  }

  /** [[knnGraph]] over a persisted [[writeAnnIndex]] index — same edges
    * as the one-shot build at the same fit parameters
    * (q_sim_knn_graph_indexed shares q_sim_knn_graph's oracle: hash
    * equality certifies write→read fidelity), but the k-means fit and
    * the corpus assignment — the expensive half at 100 TB — were paid
    * once at build time: both sides of the cell join are READS of the
    * bucketed assignments table, and probe selection ranks the
    * driver-loaded centroid literals scan-side over the stored rows.
    * The index artifact search, SemDeDup, and the graph build now share.
    */
  def knnGraphIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
      k: Int, nprobe: Int = 4): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    val cents = spark.table(s"${name}_centroids").orderBy("cid").collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    require(cents.nonEmpty, s"ANN index $name has no centroids")
    val live = graft.sources.ManagedTables.minusDeletes(spark, name,
      spark.table(s"${name}_assignments"), "vec_id")
    val members = live.select(col("vec_id"), col("bucket"), col("v"))
    val probed = withProbeCells(live, cents, nprobe)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(col("__probes")).as("bucket"))
    knnScore(probed, members, k)
  }

  /** Scan-side probe-cell selection shared by the one-shot and indexed
    * graph builds: attach `__probes` = the nprobe probe-cell ids of each
    * row's `v`, ranked with the training tie rule (score desc, cid asc)
    * — no window, no shuffle. Below [[twoLevelThreshold]] cells, one
    * flat comparator rank over all cells; at and above it, the
    * two-level form, DataFrame-LEVEL so the super ranking materializes
    * ONCE per row: codegen's subexpression elimination excludes CaseWhen
    * branches, so an expression-shaped variant re-evaluated the
    * super-rank inside every branch CONDITION — S sorts + S·√cells dots
    * per row — and measured +4 s on the x30 graph ladder (the __sid
    * idiom of [[assignTwoLevel]], applied to probes).
    */
  private def withProbeCells(df: DataFrame, cents: Array[Array[Double]],
      nprobe: Int): DataFrame =
    if (cents.length < twoLevelThreshold) {
      // the negated-score-struct sort_array idiom of the two-level arm,
      // NOT zip_with + a comparator lambda: both are higher-order
      // functions, unsupported by whole-stage codegen, and one HOF drags
      // the entire probe projection into interpreted eval (the 25×
      // penalty the r14 assign ladder measured). Natural struct order
      // (negs asc, cid asc) IS the probe tie rule (score desc, cid asc).
      val ranked = sort_array(
        scoredChildren(cents, cents.indices.toArray)(col("v")))
      df.withColumn("__probes", slice(ranked, 1, nprobe).getField("cid"))
    } else probesBroadcast(df, cents, nprobe)

  /** The folded-literal two-level probe form — retained as a FORCED-RULE
    * surface for the equivalence spec and the plan-size A/B (`Stress
    * assignplan`), no longer dispatched: the broadcast form beats it at
    * every cell count (see the dispatch note above [[twoLevelThreshold]]).
    */
  private[graft] def probesTwoLevelLiteral(df: DataFrame,
      cents: Array[Array[Double]], nprobe: Int): DataFrame = {
    val h = superQuantizer(cents)
    val probeSupers = probeSupersFor(h, nprobe)
    val sRanked = sort_array(array(h.supers.indices.map { i =>
      struct((-dot(col("v"),
          array(h.supers(i).map(lit).toIndexedSeq: _*))).as("negs"),
        lit(i).as("sid"))
    }.toIndexedSeq: _*))
    val branches = h.children.indices.map { i =>
      when(array_contains(col("__picked"), lit(i)),
        scoredChildren(cents, h.children(i))(col("v")))
        .otherwise(emptyScored)
    }
    df.withColumn("__picked",
        slice(sRanked, 1, probeSupers).getField("sid"))
      .withColumn("__probes",
        slice(sort_array(concat(branches: _*)), 1, nprobe).getField("cid"))
      .drop("__picked")
  }

  /** The broadcast two-level probe form (every ≥[[twoLevelThreshold]]
    * path): the identical rule as ONE [[CellProbeExpr]] node —
    * BucketedSpec pins probe-for-probe equality with the literal form
    * on shared fixtures. */
  private[graft] def probesBroadcast(df: DataFrame,
      cents: Array[Array[Double]], nprobe: Int): DataFrame = {
    val h = superQuantizer(cents)
    val bc = df.sparkSession.sparkContext.broadcast(
      VectorOps.BroadcastHierarchy(h.supers, h.children,
        h.children.map(_.map(cents(_)))))
    df.withColumn("__probes",
      VectorOps.cellProbe(col("v"), bc, probeSupersFor(h, nprobe), nprobe))
  }

  /** Worst-case probe coverage: enough top supers that even the
    * smallest-child-count supers cover `nprobe` cells, plus one — the
    * rule both two-level probe forms share. */
  private def probeSupersFor(h: CoarseHierarchy, nprobe: Int): Int = {
    val sizes = h.children.map(_.length).sorted
    var cum = 0; var p = 0
    while (p < sizes.length && cum < nprobe) { cum += sizes(p); p += 1 }
    math.min(h.supers.length, p + 1)
  }

  /** The graph scoring tail shared by both builds: cell join, self-edge
    * drop, exact cosine, top-k window.
    */
  private def knnScore(probed: DataFrame, members: DataFrame,
      k: Int): DataFrame =
    topKPerQuery(probed.join(members, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("score")), k)

  /** Cell-count policy for corpus-scale graph builds: cells ∝ N^(2/3),
    * floor 8 (a 500-vector corpus gets 16 cells where the √(N/8) rule
    * gave 8; a 15k corpus gets 152 where it gave 43). The √N rule makes
    * per-cell membership ∝ √N,
    * so the k-NN graph's candidate volume N·nprobe·(N/cells) grows as
    * N^1.5 — the measured x10→x30 ladder exponent 1.39 (SCALE.md
    * round-12). Growing cells as N^(2/3) instead caps per-cell
    * membership at ∝ N^(1/3), cutting candidates to N^(4/3); the finer
    * partition probes a smaller corpus fraction per vector, so builds
    * using this policy bump nprobe (2 → 3 here) to hold the measured
    * recall floor — on clustered corpora, the regime where IVF pruning
    * works at all (BucketedSpec "knn graph: N^(2/3) cell policy").
    *
    * Asymptote note for the scan-side assignment: scoring every row
    * against a literal centroid array costs N·cells flops, which under
    * this policy would be N^(5/3). That term is now BOUNDED: at
    * [[twoLevelThreshold]]+ cells, assignment and probe selection route
    * through [[superQuantizer]]'s two-level rule (√cells super-cells,
    * then only that super's children), so the per-row cost is ~2·√cells
    * dots and the assignment term is N^(4/3) — the same order as the
    * candidate volume, no remaining named superlinear above it. The
    * cell-count rule and the candidate math are unchanged (Stress
    * `assignladder` measures the exponent drop; BucketedSpec pins the
    * recall floor and indexed≡one-shot fidelity on the two-level path).
    */
  def cellsFor(n: Long): Int = {
    require(n > 0, "corpus size must be positive")
    math.max(8, math.round(math.cbrt(n.toDouble * n.toDouble) / 4.0).toInt)
  }

  /** IVF cell-balance report — the operational health metric of a trained
    * index: per cell, member count, id range, and corpus share. Probe cost
    * is `share` summed over probed cells, so a skewed fit (one cell
    * holding half the corpus) silently turns "nprobe=3 of 8" into "half a
    * brute-force scan"; this makes that drift a queryable number (re-fit
    * when max share crosses a threshold — the rebuild cadence signal).
    * ONE corpus scan + one tiny aggregate exchange; the corpus total is
    * derived from the grouped result itself (an unpartitioned window over
    * ≤`centroids` rows — integer-exact, so the shares are bit-identical
    * divisions on every engine), never a second scan of the assignments.
    */
  def cellStats(corpus: DataFrame, centroids: Int = 8,
      sampleSize: Int = 256, iters: Int = 2): DataFrame = {
    val c = normalized(corpus)
    val cents = trainCentroids(c, centroids, sampleSize, iters)
    val grouped = assignToCentroids(c, cents).groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    grouped
      .select(col("cluster"), col("n_members"), col("min_vec"), col("max_vec"),
        (col("n_members").cast("double") /
          sum(col("n_members")).over(w).cast("double")).as("share"))
  }

  /** CENTROID-OCCUPANCY DRIFT — the index-lifecycle policy check between
    * [[writeAnnIndex]] and a re-train: an IVF quantizer fit on last
    * month's corpus serves new data only as long as new vectors OCCUPY
    * its cells roughly the way the training distribution did; when a new
    * batch piles into few cells (domain shift, a new language, an
    * embedding-model change) probe-time candidate lists skew and recall
    * quietly sags. Per cell: indexed vs batch member counts, occupancy
    * shares (one IEEE division each), `shift = share_batch −
    * share_indexed`, and the `drifted` verdict at `tol` — the row set a
    * retrain trigger thresholds on (e.g. "retrain when any |shift| >
    * 0.05" or on the count of drifted cells). Occupancy counts are
    * INTEGERS, which is what keeps the whole report engine-replayable —
    * a mean-distance drift statistic would need an unordered
    * corpus-scale float sum no two engines fold alike.
    *
    * Scale shape: the fit is the usual bounded-sample driver fold
    * ([[trainCentroids]]); both assignments are scan-side literal/
    * broadcast projections ([[assignToCentroids]] — no join, no
    * shuffle); the only exchange is two |cells|-group aggregates. Cells
    * with zero members on either side stay rows (a batch abandoning a
    * cell is drift too). Zero-norm vectors drop on both sides, the
    * family's normalization contract.
    */
  def centroidDrift(indexed: DataFrame, batch: DataFrame, centroids: Int = 8,
      sampleSize: Int = 256, iters: Int = 2, tol: Double = 0.05): DataFrame = {
    val ci = normalized(indexed)
    val cents = trainCentroids(ci, centroids, sampleSize, iters)
    val ia = assignToCentroids(ci, cents)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_indexed"))
    val ba = assignToCentroids(normalized(batch), cents)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_batch"))
    occupancyReport(indexed.sparkSession, cents.length, ia, ba, tol)
  }

  /** [[centroidDrift]] against a PERSISTED index's FROZEN quantizer —
    * the deployed form: indexed occupancy comes from the live (post-
    * tombstone) `_assignments` read, the batch assigns scan-side under
    * the stored centroid literals, no retrain anywhere. This is the
    * monitor a pipeline runs on every ingest slice
    * ([[graft.streaming.EmbedStream.driftMonitorSink]] is its streaming
    * face): persistent `drifted` rows are the rebuild trigger.
    */
  def centroidDriftIndexed(spark: org.apache.spark.sql.SparkSession,
      indexName: String,
      batch: DataFrame, tol: Double = 0.05): DataFrame = {
    val cents = spark.table(s"${indexName}_centroids").orderBy("cid")
      .collect().map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    require(cents.nonEmpty, s"ANN index $indexName has no centroids")
    val live = graft.sources.ManagedTables.minusDeletes(spark, indexName,
      spark.table(s"${indexName}_assignments"), "vec_id")
    val ia = live.groupBy(col("bucket").as("cluster"))
      .agg(count(lit(1)).as("n_indexed"))
    val ba = assignBatch(batch, cents)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n_batch"))
    occupancyReport(spark, cents.length, ia, ba, tol)
  }

  /** DIVERSITY SELECTION — greedy farthest-point traversal (the k-center
    * / coreset-seeding heuristic): pick the lowest-id vector, then k−1
    * times the vector whose maximum cosine to ANYTHING already selected
    * is smallest (the most novel remaining vector, ties to the lowest
    * id). The selection a pipeline uses to seed a diverse eval set, pick
    * annotation exemplars, or initialize quantizers far apart — the
    * OPPOSITE selection pressure of near-dup removal (which deletes the
    * redundant; this COLLECTS the spread).
    *
    * Output: one row per pick in selection order — `sel_rank`, `vec_id`,
    * and `nearest_sel_cos`, the pick's max cosine to the earlier picks
    * (NULL for the seed row); the column is the coverage radius curve —
    * reading it top-down shows how fast the corpus's diversity
    * exhausts.
    *
    * Scale shape: k corpus scans, each a scan-side projection against
    * the ≤k selected vectors as PLAN LITERALS (the trainCentroids
    * discipline — selection state is KBs on the driver, the corpus
    * never shuffles; the per-iteration argmin is one TakeOrdered). The
    * inherently sequential part is k driver steps, never a corpus-sized
    * loop — `k ≤ 64` enforced loudly. Greedy farthest-first carries the
    * classic 2-approximation guarantee for the k-center objective.
    * Deterministic: exact IEEE dots (greatest() is order-free: max of
    * doubles is associative and exact), id tiebreaks, no RNG.
    */
  def diversitySelect(corpus: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 64,
      "diversitySelect runs k sequential corpus scans — k must be 1..64")
    val spark = corpus.sparkSession
    import spark.implicits._
    val nv = normalized(corpus).select(col("vec_id"), col("v"))
    val first = nv.orderBy(col("vec_id")).limit(1)
      .collect().headOption.getOrElse(
        throw new IllegalArgumentException(
          "diversitySelect: no nonzero-norm vectors"))
    def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getAs[scala.collection.Seq[Double]]("v").toArray
    val picks = scala.collection.mutable.ArrayBuffer[
      (Long, Array[Double], Option[Double])](
      (first.getLong(0), vecOf(first), None))
    while (picks.size < k) {
      val maxcos = picks.map { case (_, v, _) =>
        dot(col("v"), array(v.map(lit).toIndexedSeq: _*))
      }.reduceLeft(greatest(_, _))
      val ids: Seq[Long] = picks.map(_._1).toSeq
      val next: Array[org.apache.spark.sql.Row] =
        nv.filter(!col("vec_id").isin(ids: _*))
          .select(col("vec_id"), col("v"), maxcos.as("__mc"))
          .orderBy(col("__mc").asc, col("vec_id").asc).limit(1)
          .collect()
      if (next.isEmpty) return picksDf(spark, picks.toSeq) // corpus < k rows
      val r = next(0)
      picks += ((r.getLong(0), vecOf(r), Some(r.getDouble(2))))
    }
    picksDf(spark, picks.toSeq)
  }

  private def picksDf(spark: org.apache.spark.sql.SparkSession,
      picks: Seq[(Long, Array[Double], Option[Double])]): DataFrame = {
    import spark.implicits._
    picks.zipWithIndex
      .map { case ((id, _, mc), i) => (i + 1, id, mc) }
      .toDF("sel_rank", "vec_id", "nearest_sel_cos")
  }

  /** Shared report tail of the drift family: per cell 0..`cellCount`−1,
    * counts, shares (one IEEE division each), shift, verdict. */
  private def occupancyReport(spark: org.apache.spark.sql.SparkSession,
      cellCount: Int,
      ia: DataFrame, ba: DataFrame, tol: Double): DataFrame = {
    require(tol > 0.0, "tol must be positive")
    import spark.implicits._
    val cells = (0 until cellCount).map(_.toLong).toDF("cluster")
      .select(col("cluster").cast("int").as("cluster"))
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val joined = cells
      .join(ia, Seq("cluster"), "left").join(ba, Seq("cluster"), "left")
      .na.fill(0L, Seq("n_indexed", "n_batch"))
      .withColumn("__ni", sum(col("n_indexed")).over(w))
      .withColumn("__nb", sum(col("n_batch")).over(w))
    val shareI = when(col("__ni") > 0,
      col("n_indexed").cast("double") / col("__ni").cast("double"))
      .otherwise(lit(0.0))
    val shareB = when(col("__nb") > 0,
      col("n_batch").cast("double") / col("__nb").cast("double"))
      .otherwise(lit(0.0))
    joined
      .withColumn("share_indexed", shareI)
      .withColumn("share_batch", shareB)
      .withColumn("shift", col("share_batch") - col("share_indexed"))
      .select(col("cluster"), col("n_indexed"), col("n_batch"),
        col("share_indexed"), col("share_batch"), col("shift"),
        (abs(col("shift")) > tol).as("drifted"))
  }

  /** Recall@k of an approximate top-k result against the exact one — the
    * "measure, don't guess" evaluation operator for every ANN path here:
    * an IVF configuration claim (centroids/nprobe) is only as good as its
    * measured recall, and this makes recall a first-class queryable number
    * instead of a notebook anecdote. Per query: how many of the EXACT
    * top-k neighbors the approximate path found, and the fraction.
    *
    * Both inputs are `(query_id, neighbor_id, rank, score)` frames of at
    * most k rows per query (k × |queries| — evaluation-sized, not
    * corpus-sized; every join here is broadcast-bounded by the query
    * set). Queries the exact path dropped (zero-norm) drop here too.
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val hits = exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / lit(k.toDouble))
          .as("recall"))
  }

  /** PERSIST the brute-force exact top-k ground truth for an evaluation
    * query set — the artifact discipline applied to ANN evaluation. The
    * recall/eval family ([[recallAtK]], [[retrievalEval]]) needs the
    * EXACT neighbors of a fixed query set, and brute force against the
    * corpus is by far the most expensive stage of every recall query
    * (the r12 bench's #1/#2/#4 rows were recall queries recomputing it
    * per run). At 100 TB the ground truth of a pinned eval set changes
    * only when the corpus or the eval set changes — so it is a build
    * artifact, not a per-consumer recompute: every quantizer
    * configuration sweep (nprobe × m × ksub × centroids) re-reads the
    * SAME few-thousand-row table instead of re-scanning the corpus per
    * configuration. Bucketed by query_id so eval joins are
    * shuffle-free on the truth side. Rebuild = rerun (overwrite).
    */
  def writeGroundTruth(corpus: DataFrame, queries: DataFrame, k: Int,
      name: String, buckets: Int = 8): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    dropGroundTruth(corpus.sparkSession, name)
    graft.sources.ManagedTables.writeBucketed(
      bruteForceTopK(corpus, queries, k), s"${name}_truth", "query_id",
      buckets)
  }

  /** Drop a [[writeGroundTruth]] table (stale-dir-surviving drop). */
  def dropGroundTruth(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_truth", s"${name}_deletes"))

  /** TARGETED DELETION from a ground-truth table — the truth rows are
    * doc-keyed persisted artifact state like any index (a deleted corpus
    * vector must stop being FINDABLE here too, and an eval query drawn
    * from the corpus must stop being referenced as a query): O(batch)
    * tombstone append; [[liveGroundTruth]] drops every row the ids touch
    * on EITHER side (query_id or neighbor_id). Semantics caveat, by
    * design: the surviving rows are the old truth MINUS the deleted ids,
    * not a fresh brute-force top-k — per-query lists can hold fewer than
    * k rows until [[writeGroundTruth]] is rerun (recall read against a
    * tombstoned truth is a compliance state, not an eval-freshness
    * state; TakedownSpec pins both the zero-residual audit and the
    * shrunken-list shape).
    */
  def deleteFromGroundTruth(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long]): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    graft.sources.ManagedTables.appendDeletes(spark, name, "vec_id", ids)
  }

  /** The post-tombstone ground-truth read every consumer sees: rows whose
    * query_id OR neighbor_id is tombstoned are gone (two broadcast
    * anti-joins against the KB-scale deletes table — map-side probes on
    * the pruned truth read).
    */
  private[graft] def liveGroundTruth(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame = {
    val t = spark.table(s"${name}_truth")
    if (!spark.catalog.tableExists(s"${name}_deletes")) t
    else {
      val del = broadcast(
        spark.table(s"${name}_deletes").select("vec_id").distinct())
      t.join(del, t("query_id") === del("vec_id"), "left_anti")
        .join(del, t("neighbor_id") === del("vec_id"), "left_anti")
    }
  }

  /** Fold ground-truth tombstones into a stage-and-swap rewrite (under
    * the table's own query_id bucket spec) and clear them — the
    * amortized physical purge ([[compactSqIndex]]'s contract).
    */
  def compactGroundTruth(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    if (spark.catalog.tableExists(s"${name}_deletes")) {
      graft.sources.ManagedTables.rewriteBucketed(spark, s"${name}_truth",
        liveGroundTruth(spark, name))
      graft.sources.ManagedTables.dropDeletes(spark, name)
    }
  }

  /** [[recallAtK]] against a PERSISTED [[writeGroundTruth]] table — same
    * numbers as the one-shot evaluation at the same (corpus, queries, k)
    * (the q_sim_recall_*_indexed queries share the one-shot oracles:
    * hash equality certifies write→read fidelity), but the brute-force
    * corpus scan was paid once at build time; the eval itself is joins
    * over k×|queries| rows on both sides.
    */
  def recallAtKIndexed(spark: org.apache.spark.sql.SparkSession,
      name: String, approx: DataFrame, k: Int): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    recallAtK(approx, liveGroundTruth(spark, name), k)
  }

  /** Dot scores of a vector against every trained centroid, as an array of
    * literal-folded expressions — a few KB of constants baked into the plan,
    * so assignment is a scan-side projection (no join, no shuffle).
    */
  private[functions] def centroidScores(cents: Array[Array[Double]])(v: Column): Column =
    array(cents.map(cv => dot(v, array(cv.map(lit).toIndexedSeq: _*))).toIndexedSeq: _*)

  /** Two-level coarse-assignment threshold. Below this cell count the
    * flat argmax over all centroid literals wins (and every oracle-gated
    * query, at 8 cells, stays on the bit-pinned flat path); at or above
    * it, corpus-side assignment and probe selection route through
    * [[superQuantizer]]'s two-level rule, bounding the per-row flop cost
    * at ~2·√cells dots instead of `cells`. Under the [[cellsFor]]
    * N^(2/3) policy that turns the corpus-assignment term from N·cells =
    * N^(5/3) into N·√cells = N^(4/3) — the "going hierarchical" move the
    * cellsFor scaladoc names, as a pure assignment-side refactor: the
    * cell-count rule and the candidate math are unchanged. At and above
    * this threshold the centroid payload also moves OUT of the plan into
    * a broadcast hierarchy — [[assignBroadcast]] / [[probesBroadcast]],
    * the same two-level rule as ONE [[CellProbeExpr]] node (see the
    * measured A/B note below).
    */
  private[graft] val twoLevelThreshold = 64

  /** Above [[twoLevelThreshold]] the centroid payload now ALWAYS moves
    * out of the plan into a broadcast ([[CellProbeExpr]]): the measured
    * A/B (`Stress assignplan`, SCALE.md round-15) shows the folded-
    * literal two-level form loses at EVERY cell count — its plan grows
    * as cells·dim doubles (184 KB of plan at 64 cells, 2.0 MB at 855)
    * and the per-job analysis/codegen of that tree dominates end-to-end
    * time (3.0 s vs 0.28 s at 64 cells, 407 s vs 2.5 s at 855; the
    * literal form OOMs an 8 GB driver at 855). The broadcast plan is
    * ONE expression node (~0.8 KB) regardless of cells, the payload
    * ships once per executor as a TorrentBroadcast, and the kernel is a
    * static call inside whole-stage codegen. The flat <threshold paths
    * (every 8-cell oracle query) stay folded-literal — at that size the
    * constant-folded plan IS the fastest form and the hashes are
    * bit-pinned on it. The literal two-level forms ([[assignTwoLevel]],
    * [[probesTwoLevelLiteral]]) are retained as forced-rule surfaces
    * for the equivalence spec and the ladder A/B.
    */

  /** Build + broadcast the [[CellProbeExpr]] payload from trained
    * centroids — one driver-side [[superQuantizer]] derivation, shipped
    * once per executor. */
  private def hierBroadcast(spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]]): org.apache.spark.broadcast.Broadcast[
        VectorOps.BroadcastHierarchy] = {
    val h = superQuantizer(cents)
    spark.sparkContext.broadcast(VectorOps.BroadcastHierarchy(
      h.supers, h.children, h.children.map(_.map(cents(_)))))
  }

  /** Two-level assignment via the broadcast kernel — same rule, same
    * ties as [[assignTwoLevel]] (BucketedSpec pins the equality); the
    * n=1, probeSupers=1 probe IS the hierarchical argmax. */
  private[graft] def assignBroadcast(nv: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val bc = hierBroadcast(nv.sparkSession, cents)
    nv.withColumn("cluster",
      element_at(VectorOps.cellProbe(col("v"), bc, 1, 1), 1))
  }

  /** A two-level coarse quantizer derived DETERMINISTICALLY from the
    * trained centroids: ~√cells super-centroids fit by the same local
    * Lloyd discipline as [[trainCentroids]] (init = first √cells
    * centroids in cid order, 2 rounds, ties to the lowest sid, L2-
    * renormalized means, empty supers keep their init), then each cell
    * files under its best super. Supers that end up with no children are
    * dropped (their cells all filed elsewhere), so every cell appears in
    * exactly one child list and candidate arrays are never empty.
    * Because the hierarchy is a pure function of the centroid array,
    * build, upsert, indexed reads, and one-shot builds all derive the
    * SAME rule from the same stored centroids — no extra artifact.
    */
  private[functions] final case class CoarseHierarchy(
      supers: Array[Array[Double]], children: Array[Array[Int]])

  private[functions] def superQuantizer(
      cents: Array[Array[Double]]): CoarseHierarchy = {
    val n = cents.length
    val s0 = math.max(2, math.round(math.sqrt(n.toDouble)).toInt)
    def assignAll(su: Array[Array[Double]]): Array[Int] =
      cents.map { cv =>
        var best = 0; var bs = dotD(cv, su(0)); var i = 1
        while (i < su.length) {
          val sc = dotD(cv, su(i)); if (sc > bs) { best = i; bs = sc }; i += 1
        }
        best
      }
    var sup = Array.tabulate(s0)(cents(_).clone)
    for (_ <- 1 to 2) {
      val a = assignAll(sup)
      sup = Array.tabulate(s0) { sid =>
        val mem = cents.indices.filter(a(_) == sid)
        if (mem.isEmpty) sup(sid)
        else {
          val dim = sup(sid).length
          val mean = Array.tabulate(dim) { d =>
            var acc = 0.0; mem.foreach(i => acc += cents(i)(d)); acc / mem.length
          }
          var ss = 0.0; var i = 0
          while (i < dim) { ss += mean(i) * mean(i); i += 1 }
          val nrm = math.sqrt(ss)
          if (nrm > 0) mean.map(_ / nrm) else sup(sid)
        }
      }
    }
    val fin = assignAll(sup)
    val keep = (0 until s0).filter(sid => fin.contains(sid))
    CoarseHierarchy(
      keep.map(sup(_)).toArray,
      keep.map(sid => cents.indices.filter(fin(_) == sid).toArray).toArray)
  }

  /** One super's children scored against the row vector, as a struct
    * array `array<struct<negs,cid>>` whose NATURAL ascending order
    * (negated score asc = score desc, then cid asc under Double.compare)
    * is exactly the probe tie rule — so `sort_array` ranks it with no
    * comparator lambda. That matters: a lambda makes the expression a
    * higher-order function, which is unsupported by whole-stage codegen
    * and drags the ENTIRE projection into interpreted eval (the first
    * cut of this path did that — and an element_at into a nested
    * centroid-table literal besides — and lost 25× to it; measured in
    * the round-14 assign ladder). Every node here (CreateArray,
    * CreateStruct, dot, CaseWhen, SortArray, Slice) participates in
    * codegen, and the array is built ONLY inside the lazy CASE branch
    * for its super, so per row just the selected supers' children are
    * ever scored.
    */
  private def scoredChildren(cents: Array[Array[Double]],
      children: Array[Int])(v: Column): Column =
    array(children.map { cid =>
      struct((-dot(v, array(cents(cid).map(lit).toIndexedSeq: _*))).as("negs"),
        lit(cid).as("cid"))
    }.toIndexedSeq: _*)

  /** A foldable empty `array<struct<negs,cid>>` — the `otherwise` arm of
    * unselected supers (constant-folded to a literal, zero per-row cost).
    */
  private def emptyScored: Column =
    slice(array(struct(lit(0.0).as("negs"), lit(0).as("cid"))), 1, 0)

  /** Normalized corpus with each vector's best trained centroid as an int
    * `cluster` column (argmax dot, ties to the lowest cid — the training
    * rule). Shared by trained-IVF search and semantic dedup. At
    * [[twoLevelThreshold]]+ cells the argmax goes two-level (nearest
    * super-cell, then that super's children — ties to the lowest cid
    * within the children); below it, flat over all cells.
    */
  private[functions] def assignToCentroids(nv: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    if (cents.length < twoLevelThreshold) assignFlat(nv, cents)
    else assignBroadcast(nv, cents)

  private[graft] def assignFlat(nv: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    nv.withColumn("scores", centroidScores(cents)(col("v")))
      .withColumn("cluster",
        (array_position(col("scores"), array_max(col("scores"))) - 1).cast("int"))
      .drop("scores")

  /** Two-level scan-side assignment: argmax super (ties to the lowest
    * sid — first-max over the materialized super-score column, the flat
    * path's own idiom), then a lazy CASE branch per super whose body is
    * the flat argmax over ONLY that super's children (ties to the lowest
    * cid: child lists are cid-ascending and array_position returns the
    * FIRST max). Per row: √cells super dots + one super's ~√cells child
    * dots — never all `cells` — and every node is codegen-able (no
    * higher-order functions: see [[scoredChildren]] for why that is
    * load-bearing).
    */
  private[graft] def assignTwoLevel(nv: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val h = superQuantizer(cents)
    val branches = h.children.indices.map { i =>
      val ch = h.children(i)
      val scores = array(ch.map(cid =>
        dot(col("v"), array(cents(cid).map(lit).toIndexedSeq: _*))).toIndexedSeq: _*)
      (col("__sid") === lit(i),
        element_at(array(ch.map(lit(_)).toIndexedSeq: _*),
          array_position(scores, array_max(scores)).cast("int")))
    }
    val caseChain = branches.tail
      .foldLeft(when(branches.head._1, branches.head._2)) {
        case (acc, (c, e)) => acc.when(c, e)
      }
    nv.withColumn("__ss", centroidScores(h.supers)(col("v")))
      .withColumn("__sid",
        (array_position(col("__ss"), array_max(col("__ss"))) - 1).cast("int"))
      .withColumn("cluster", caseChain.cast("int"))
      .drop("__ss", "__sid")
  }

  /** Stress-probe surface: the corpus-assignment stage ALONE under a
    * FORCED rule (flat N·cells vs two-level N·~2√cells), so the ladder
    * can measure the exponent drop the two-level refactor buys without
    * the candidate-join term mixed in (`Stress ladder <sf> assign ...`).
    */
  private[graft] def assignProbe(corpus: DataFrame, cells: Int,
      twoLevel: Boolean, sampleSize: Int = 256, iters: Int = 2): DataFrame = {
    val c = normalized(corpus)
    val cents = trainCentroids(c, cells, sampleSize, iters)
    if (twoLevel) assignTwoLevel(c, cents) else assignFlat(c, cents)
  }

  /** [[assignProbe]]'s broadcast arm — the dispatched ≥threshold form
    * under a FORCED rule, so the ladder can A/B it against the literal
    * two-level arm at the same cell counts (`Stress ladder <sf>
    * assign ...` / `Stress assignplan`). */
  private[graft] def assignProbeBcast(corpus: DataFrame, cells: Int,
      sampleSize: Int = 256, iters: Int = 2): DataFrame = {
    val c = normalized(corpus)
    assignBroadcast(c, trainCentroids(c, cells, sampleSize, iters))
  }

  /** Normalize an embedding frame and assign it under LITERAL centroids —
    * the frozen-quantizer batch projection shared by index upsert and the
    * streaming semantic gate: (vec_id, v normalized, cluster), no join,
    * no shuffle.
    */
  private[graft] def assignBatch(batch: DataFrame,
      cents: Array[Array[Double]]): DataFrame =
    assignToCentroids(normalized(batch), cents)

  /** Spherical k-means on a `sampleSize`-vector [[sampleHashSql]] id-mix
    * sample of the normalized corpus. Deterministic by construction — no
    * RNG, fixed iteration count, fold-left arithmetic in pinned orders
    * (see [[ivfTrainedTopK]]).
    */
  private[graft] def trainCentroids(nv: DataFrame, k: Int,
      sampleSize: Int, iters: Int): Array[Array[Double]] = {
    val sample = hashSample(nv, sampleSize)
    require(sample.length >= k,
      s"corpus sample ${sample.length} smaller than centroid count $k")


    var cents = sample.take(k).map(_._2)
    for (_ <- 1 to iters) {
      // assignment: best dot, ties to the lowest cid
      val assign = sample.map { case (_, v) =>
        var best = 0; var bestScore = dotD(v, cents(0))
        var cid = 1
        while (cid < k) {
          val s = dotD(v, cents(cid))
          if (s > bestScore) { best = cid; bestScore = s }
          cid += 1
        }
        best
      }
      cents = Array.tabulate(k) { cid =>
        val members = sample.indices.filter(assign(_) == cid).map(i => sample(i)._2)
        if (members.isEmpty) cents(cid)
        else {
          val dim = cents(cid).length
          // element-wise mean, folding members in vec_id order
          val mean = Array.tabulate(dim) { i =>
            var acc = 0.0
            members.foreach(v => acc += v(i))
            acc / members.length
          }
          var ss = 0.0
          var i = 0
          while (i < dim) { ss += mean(i) * mean(i); i += 1 }
          val nrm = math.sqrt(ss)
          if (nrm > 0) mean.map(_ / nrm) else cents(cid)
        }
      }
    }
    cents
  }

  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score")
  }

  /** EXACT-RESCORING REFINE — the second stage of two-stage retrieval
    * (FAISS `IndexRefineFlat` semantics): a cheap coarse stage produces a
    * per-query SHORTLIST (`candidates`: query_id, neighbor_id, rank), and
    * only those shortlist vectors are re-scored with the exact full-dim
    * cosine; the final top-k is exact ON THE SHORTLIST. Compression error
    * then affects only which candidates make the shortlist, never their
    * final order — recall@k of a refined stack is bounded below by the
    * coarse stack's recall@shortlist, which is far easier to keep high.
    *
    * Scale shape: the shortlist is |queries|·shortlist rows — evaluation-
    * sized, broadcast — so the raw-vector side is ONE corpus scan joined by
    * a broadcast hash join on vec_id (with the corpus stored as a
    * [[writeAnnIndex]]-style id-bucketed table this collapses to bucket-
    * pruned point reads); the coarse stage never touches raw floats. The
    * only exchange is the final per-query top-k window on evaluation-sized
    * rows. Candidates keep their stage-1 rank (`coarse_rank`) beside the
    * exact cosine so downstream debugging sees both orders (the
    * [[rerankCandidates]] convention).
    */
  def refineExact(candidates: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val c = normalized(corpus)
    val q = normalized(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val cand = candidates.select(col("query_id"), col("neighbor_id"),
      col("rank").as("coarse_rank"))
    val scored = c.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("coarse_rank"),
        dot(col("qv"), col("v")).as("score"))
    refineOrder(scored, k)
  }

  /** Shared final ordering of a rescored shortlist — exact top-k keeping
    * both ranks.
    */
  private def refineOrder(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "coarse_rank", "rank", "score")
  }

  /** Persist the RAW-VECTOR side of two-stage retrieval: the L2-normalized
    * vectors as a vec_id-BUCKETED table — the point-read artifact
    * [[refineExact]]'s scale story promises. One table serves every refine
    * consumer (SQ8/PQ/IVFADC shortlists all rescore from it), the
    * complement of the codes/cells tables the coarse stages persist.
    */
  def writeVecTable(corpus: DataFrame, name: String, buckets: Int = 16): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val spark = corpus.sparkSession
    dropVecTable(spark, name)
    try graft.sources.ManagedTables.writeBucketed(
      normalized(corpus).select(col("vec_id"), col("v")),
      s"${name}_vectors", "vec_id", buckets)
    catch { case e: Throwable => dropVecTable(spark, name); throw e }
  }

  def dropVecTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_vectors", s"${name}_deletes"))

  /** FULLY-PERSISTED two-stage search — both stages read stored artifacts
    * and neither touches the original corpus frame: the ADC shortlist
    * comes from the [[writeSqIndex]] codes table (the 4×-smaller scan),
    * and the exact rescore reads the [[writeVecTable]] raw vectors with a
    * shortlist-id IN filter, so the bucketed scan PRUNES to the shortlist
    * ids' buckets (`SelectedBucketsCount`, pinned in BucketedSpec) — the
    * promised point reads. The shortlist itself is collected driver-side
    * to make the ids literal: |queries|·shortlist rows, evaluation-sized
    * by the same contract that bounds the centroid/query collects.
    */
  def sqRefinedSearchIndexed(spark: org.apache.spark.sql.SparkSession,
      sqName: String, vecName: String, queries: DataFrame, k: Int,
      shortlist: Int = 40): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    graft.sources.ManagedTables.requireIdent(vecName)
    val spark2 = spark
    import spark2.implicits._
    val cand = sqSearchIndexed(spark, sqName, queries, shortlist)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val ids = cand.map(_._2).distinct.toSeq
    val candDf = cand.toSeq.toDF("query_id", "neighbor_id", "coarse_rank")
    val vt = graft.sources.ManagedTables.minusDeletes(spark, vecName,
      spark.table(s"${vecName}_vectors"), "vec_id")
      .filter(col("vec_id").isin(ids: _*))
    val q = normalized(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    refineOrder(
      vt.join(broadcast(candDf), col("vec_id") === col("neighbor_id"))
        .join(broadcast(q), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("coarse_rank"),
          dot(col("qv"), col("v")).as("score")), k)
  }

  /** SQ8 shortlist → exact refine: the memory-bound scan stays on the 4×-
    * smaller int8 codes ([[sqTopK]] at `shortlist`), and only
    * |queries|·shortlist raw vectors are read back for exact rescoring.
    * The production shape when codes fit in memory and raw vectors live in
    * (bucketed) storage.
    */
  def sqRefinedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int = 40, levels: Int = 256): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    refineExact(sqTopK(corpus, queries, shortlist, levels), corpus, queries, k)
  }

  /** BINARY QUANTIZATION top-k — the 1-bit end of the compression curve
    * (SQ8 holds 8 bits/dim, PQ ~1–4, this is 1): each normalized vector
    * collapses to its SIGN BITS packed into `ceil(dims/32)` 32-bit
    * words (any production width — 384/768/1536 — fits), and
    * candidate ranking is HAMMING DISTANCE — `bit_count(xor)` per word,
    * two integer ops per pair instead of a 64-multiply dot. The memory
    * story at 100 TB: 8 bytes/vector (32× under raw floats), and the
    * distance is exact INTEGER arithmetic — which is also why the whole
    * path replays bit-for-bit in any engine (no quantizer training, no
    * float accumulation anywhere before the refine stage). Sign bits
    * keep the angular structure Nearest-neighbor-wise (the classic
    * SimHash/LSH cosine sketch); ranking quality is recovered by the
    * standard [[refineExact]] rescore over the shortlist
    * ([[bqRefinedTopK]] — the production two-stage BQ stack every
    * vector store ships as "binary quantization with rescoring").
    * Hamming ties (common with integer distances) break by neighbor id.
    */
  def bqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dims: Int = 64): DataFrame = {
    val c = withSignWords(normalized(corpus), dims)
    val q = withSignWords(normalized(queries), dims)
      .select(col("vec_id").as("query_id"), col("__bw").as("__qw"))
    val ham = hammingSum(col("__bw"), col("__qw"), signWordCount(dims))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-ham).cast("double").as("score"))
    topKPerQuery(scored, k)
  }

  /** Two-stage BQ: Hamming shortlist → exact rescore ([[refineExact]]).
    * Quantization error then only costs shortlist membership, never
    * final-order placement — the [[sqRefinedTopK]] discipline at 1 bit.
    */
  def bqRefinedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int = 40, dims: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    refineExact(bqTopK(corpus, queries, shortlist, dims),
      corpus, queries, k)
  }

  /** Persist the BQ sign-word table — `ceil(dims/32)` 32-bit words per
    * vector as an array column (dims/8 payload bytes: 8 for 64-d, 48 for
    * 384-d, 192 for 1536-d — always 32× under the raw floats), the
    * artifact whose WHOLE point is that it fits where vectors do not.
    * Row-independent like the SQ/PQ codes tables: deletion/compaction
    * ride the shared codes-table machinery if ever needed; the search
    * path is a full scan of word arrays + one `bit_count(xor)` per word
    * per pair.
    */
  def writeBqIndex(corpus: DataFrame, name: String, dims: Int = 64): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val spark = corpus.sparkSession
    dropBqIndex(spark, name)
    try withSignWords(normalized(corpus), dims)
      .select(col("vec_id"), col("__bw").as("words"))
      .write.mode("overwrite").format("parquet").saveAsTable(s"${name}_words")
    catch { case e: Throwable => dropBqIndex(spark, name); throw e }
  }

  def dropBqIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_words", s"${name}_deletes"))

  /** TARGETED DELETION from the BQ sign-word index — `_words` rows are
    * vec-keyed and row-independent, so the tombstone/anti-join/compact
    * machinery applies unchanged (the [[deleteFromSqIndex]] family;
    * round-16: a sign word IS re-findable content — Hamming search over
    * a retained word reaches the doc — so the BQ family joins the
    * takedown registry like every other index).
    */
  def deleteFromBqIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long]): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    graft.sources.ManagedTables.appendDeletes(spark, name, "vec_id", ids)
  }

  def compactBqIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    if (spark.catalog.tableExists(s"${name}_deletes")) {
      graft.sources.ManagedTables.rewriteTable(spark, s"${name}_words",
        graft.sources.ManagedTables.minusDeletes(spark, name,
          spark.table(s"${name}_words"), "vec_id"))
      graft.sources.ManagedTables.dropDeletes(spark, name)
    }
  }

  /** TARGETED DELETION from a [[writeVecTable]] raw-vector table — the
    * most literally re-findable artifact of all (it holds the vectors
    * themselves); tombstone on vec_id, compact folds into the bucketed
    * table under its own spec (the [[compactAnnIndex]] shape).
    */
  def deleteFromVecTable(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long]): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    graft.sources.ManagedTables.appendDeletes(spark, name, "vec_id", ids)
  }

  def compactVecTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    if (spark.catalog.tableExists(s"${name}_deletes")) {
      graft.sources.ManagedTables.rewriteBucketed(spark, s"${name}_vectors",
        graft.sources.ManagedTables.minusDeletes(spark, name,
          spark.table(s"${name}_vectors"), "vec_id"))
      graft.sources.ManagedTables.dropDeletes(spark, name)
    }
  }

  /** FULLY-PERSISTED two-stage BQ search ([[sqRefinedSearchIndexed]]'s
    * shape at 1 bit): the Hamming shortlist scans the stored words
    * table, the exact rescore reads the [[writeVecTable]] raw vectors
    * bucket-pruned by the shortlist ids. SAME result as
    * [[bqRefinedTopK]] — the gated write→read fidelity claim.
    */
  def bqRefinedSearchIndexed(spark: org.apache.spark.sql.SparkSession,
      bqName: String, vecName: String, queries: DataFrame, k: Int,
      shortlist: Int = 40, dims: Int = 64): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    graft.sources.ManagedTables.requireIdent(vecName)
    val spark2 = spark
    import spark2.implicits._
    val q = withSignWords(normalized(queries), dims)
      .select(col("vec_id").as("query_id"), col("__bw").as("__qw"))
    val ham = hammingSum(col("words"), col("__qw"), signWordCount(dims))
    val scored = graft.sources.ManagedTables.minusDeletes(spark, bqName,
        spark.table(s"${bqName}_words"), "vec_id")
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (-ham).cast("double").as("score"))
    val cand = topKPerQuery(scored, shortlist)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val ids = cand.map(_._2).distinct.toSeq
    val candDf = cand.toSeq.toDF("query_id", "neighbor_id", "coarse_rank")
    val vt = graft.sources.ManagedTables.minusDeletes(spark, vecName,
      spark.table(s"${vecName}_vectors"), "vec_id")
      .filter(col("vec_id").isin(ids: _*))
    val qv = normalized(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    refineOrder(
      vt.join(broadcast(candDf), col("vec_id") === col("neighbor_id"))
        .join(broadcast(qv), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("coarse_rank"),
          dot(col("qv"), col("v")).as("score")), k)
  }

  /** Number of 32-bit sign words that cover `dims` packed dimensions. */
  private def signWordCount(dims: Int): Int = (dims + 31) / 32

  /** Sign-bit packing of the leading `dims` normalized components into
    * `ceil(dims/32)` words held as ONE array<bigint> column `__bw` — 32
    * bits max per word so the largest addend is 2^31 and every rendered
    * literal and word stays positive in any BIGINT engine. Any dims ≥ 2
    * works (round-16: the former two-word form hardwired dims ≤ 64,
    * which no production embedding width — 384/768/1536 — satisfies);
    * dims = 64 packs bit-identically to the old (b0, b1) pair, so every
    * existing BQ hash is unchanged. Missing components (vectors shorter
    * than `dims`) read as 0-bits on both engines.
    */
  private def withSignWords(nv: DataFrame, dims: Int): DataFrame = {
    require(dims >= 2, s"dims must be >= 2, got $dims")
    val nWords = signWordCount(dims)
    def pack(w: Int): Column = {
      val lo = w * 32
      val hi = math.min(lo + 32, dims)
      (lo until hi).map(i =>
        when(element_at(col("v"), i + 1) > 0.0, lit(1L << (i - lo)))
          .otherwise(lit(0L))).reduceLeft(_ + _)
    }
    nv.withColumn("__bw", array((0 until nWords).map(pack): _*))
  }

  /** Per-word Hamming distance between two sign-word arrays, UNROLLED —
    * `element_at` + `bit_count` + `xor` stay inside whole-stage codegen,
    * where a higher-order `aggregate()` lambda would not (the round-15
    * de-HOF lesson from the flat probe path).
    */
  private def hammingSum(a: Column, b: Column, nWords: Int): Column =
    (0 until nWords).map(w =>
      bit_count(element_at(a, w + 1).bitwiseXOR(element_at(b, w + 1))))
      .reduceLeft(_ + _)

  /** True-IVFADC shortlist → exact refine — the full production retrieval
    * stack (FAISS `IndexIVFPQ` + `IndexRefineFlat`): cell pruning bounds
    * the candidate set, residual-PQ ADC scores it from codes alone, and
    * only the 4k-deep shortlist touches raw vectors for the exact final
    * order. Refine is exactly what ADC quantization needs (unlike
    * IVF-Flat, whose candidate scores are already exact — refining it
    * would recompute the same ranking): ADC distortion now only costs
    * shortlist membership, never final-order placement.
    */
  def ivfAdcRefinedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int = 40, centroids: Int = 8, nprobe: Int = 4,
      m: Int = 16, ksub: Int = 32, sampleSize: Int = 256,
      iters: Int = 2): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    refineExact(
      ivfPqResidualTopK(corpus, queries, shortlist, centroids, nprobe,
        m, ksub, sampleSize, iters),
      corpus, queries, k)
  }

  /** MATRYOSHKA (prefix-dimension) shortlist → exact refine — the MRL
    * retrieval pattern (Kusupati et al. 2022): coarse scores use only the
    * FIRST `prefixDims` components of the already-normalized vectors (a
    * `slice` projection — 4× less arithmetic and bandwidth at 16 of 64
    * dims), then the shortlist re-scores with the full dimension. Unlike
    * SQ/PQ this needs NO training pass at all; it works exactly when the
    * embedding model front-loads information into the leading dimensions
    * (true of MRL-trained models; on the synthetic corpus the prefix is
    * just an unbiased low-rank projection).
    */
  def mrlRefinedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      prefixDims: Int = 16, shortlist: Int = 40): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val c = normalized(corpus)
      .select(col("vec_id"), slice(col("v"), 1, prefixDims).as("pv"))
    val q = normalized(queries)
      .select(col("vec_id").as("query_id"),
        slice(col("v"), 1, prefixDims).as("qp"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qp"), col("pv")).as("score"))
    refineExact(topKPerQuery(scored, shortlist), corpus, queries, k)
  }

  /** RETRIEVAL EVALUATION — MRR and precision@k of any ranked result
    * frame against label relevance (neighbor relevant ⟺ it shares the
    * anchor's label): the eval half a retrieval pipeline needs beside
    * [[recallAtK]]'s ground-truth-overlap certificate. Per query:
    * `n_relevant` (exact count), `precision` (= n_relevant/k, one IEEE
    * division), `mrr` (1/rank of the FIRST relevant hit, 0.0 when none —
    * exact rational, so bit-identical in any engine; deliberately no
    * log-discounted NDCG in the oracle-gated surface: `ln` is not
    * correctly-rounded IEEE and would drift between engines' libm).
    * Queries or neighbors with NULL labels contribute no relevance.
    * Evaluation-sized throughout: |queries|·k rows joined against a
    * broadcast label projection.
    */
  def retrievalEval(results: DataFrame, corpus: DataFrame, k: Int,
      labelCol: String = "label"): DataFrame = {
    val labels = corpus.select(col("vec_id"), col(labelCol))
    val ql = labels.select(col("vec_id").as("query_id"),
      col(labelCol).as("__ql"))
    val nl = labels.select(col("vec_id").as("neighbor_id"),
      col(labelCol).as("__nl"))
    results.select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(broadcast(ql), Seq("query_id"), "left")
      .join(broadcast(nl), Seq("neighbor_id"), "left")
      .withColumn("__rel", col("__ql").isNotNull && col("__ql") === col("__nl"))
      .groupBy("query_id")
      .agg(
        count(lit(1)).as("n_retrieved"),
        sum(when(col("__rel"), 1L).otherwise(0L)).as("n_relevant"),
        min(when(col("__rel"), col("rank"))).as("__first"))
      .select(col("query_id"), col("n_retrieved"), col("n_relevant"),
        (col("n_relevant").cast("double") / lit(k.toDouble))
          .as("precision_at_k"),
        coalesce(lit(1.0) / col("__first").cast("double"), lit(0.0))
          .as("mrr"))
  }

  /** The nDCG@k rank-discount weights `1 / log2(r + 1)` for r = 1..k and
    * their left-fold prefix sums (the ideal-DCG table), computed ONCE on
    * the driver and baked into BOTH engines as literals — the
    * [[retrievalEval]] scaladoc's libm objection (log2 is not
    * correctly-rounded IEEE, so a runtime `log` call could drift between
    * engines) dissolves when neither engine ever calls log: the weights
    * are plan constants rendered from the same Scala doubles.
    */
  private[graft] def ndcgWeights(k: Int): (Seq[Double], Seq[Double]) = {
    val w = (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
    (w, w.scanLeft(0.0)(_ + _).tail)
  }

  /** nDCG@k retrieval evaluation — the graded-position metric beside
    * [[retrievalEval]]'s precision/MRR: per query,
    * `DCG = Σ_r rel_r · w_r` over the retrieved ranks (binary label-match
    * relevance, [[retrievalEval]]'s rule) and
    * `nDCG = DCG / IDCG(min(R, k))` where R is the TOTAL number of
    * relevant items in the CORPUS for the query's label (self excluded) —
    * the standard trec_eval / sklearn normalization (round-16 fix: the
    * first cut normalized by relevant-in-the-retrieved-LIST, so a ranking
    * that found 1 of many relevant docs at rank 1 scored a flattering
    * 1.0; `n_rel_total` now rides in the output so the denominator is
    * auditable).
    *
    * Exactness discipline: the discount weights and their prefix sums
    * come from [[ndcgWeights]] as PLAN LITERALS; per-rank contributions
    * aggregate as `max` (at most one row per (query, rank), so no
    * float-sum ordering exists to drift) and fold into DCG LEFT-NESTED
    * IN RANK ORDER; IDCG is a CASE lookup of the literal prefix table —
    * every double op is replayed expression-for-expression by the DuckDB
    * oracle. Evaluation-sized: |queries|·k rows against a broadcast
    * label projection, one aggregate plus a label-count broadcast.
    */
  def ndcgAtK(results: DataFrame, corpus: DataFrame, k: Int,
      labelCol: String = "label"): DataFrame = {
    require(k >= 1 && k <= 100, "ndcgAtK supports 1 <= k <= 100")
    val (w, prefix) = ndcgWeights(k)
    val labels = corpus.select(col("vec_id"), col(labelCol))
    val ql = labels.select(col("vec_id").as("query_id"),
      col(labelCol).as("__ql"))
    val nl = labels.select(col("vec_id").as("neighbor_id"),
      col(labelCol).as("__nl"))
    // per-query TOTAL corpus relevance: the query's label-group size minus
    // the query itself (queries are corpus members — ql is built from it)
    val lc = labels.filter(col(labelCol).isNotNull)
      .groupBy(col(labelCol).as("__lbl"))
      .agg(count(lit(1)).as("__lcnt"))
    val qt = ql.join(broadcast(lc), col("__ql") === col("__lbl"), "left")
      .select(col("query_id"),
        coalesce(col("__lcnt") - 1L, lit(0L)).as("n_rel_total"))
    val rel = results.select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(broadcast(ql), Seq("query_id"), "left")
      .join(broadcast(nl), Seq("neighbor_id"), "left")
      .withColumn("__rel", col("__ql").isNotNull && col("__ql") === col("__nl"))
    val terms = (1 to k).map(r =>
      max(when(col("rank") === r && col("__rel"), lit(w(r - 1)))
        .otherwise(lit(0.0))).as(s"__t$r"))
    val g = rel.groupBy("query_id")
      .agg(sum(when(col("__rel"), 1L).otherwise(0L)).as("n_relevant"),
        terms: _*)
      .join(broadcast(qt), Seq("query_id"))
    val dcg = (1 to k).map(r => col(s"__t$r")).reduceLeft(_ + _)
    val m = least(col("n_rel_total"), lit(k.toLong))
    val idcg = (1 to k).foldLeft(
      when(m === 0, lit(0.0))) { (acc, r) =>
      acc.when(m === r, lit(prefix(r - 1)))
    }.otherwise(lit(prefix(k - 1)))
    g.withColumn("dcg", dcg)
      .withColumn("__idcg", idcg)
      .select(col("query_id"), col("n_relevant"), col("n_rel_total"),
        col("dcg"),
        when(col("__idcg") > 0.0, col("dcg") / col("__idcg"))
          .otherwise(lit(0.0)).as("ndcg"))
  }

  /** HARD-NEGATIVE MINING — the contrastive-training-data operator: for
    * each labeled anchor, the k nearest vectors whose label DIFFERS from
    * the anchor's (the "confusable" negatives that make contrastive /
    * reranker training data informative; random negatives are trivially
    * separable). The label inequality keeps this a broadcast scoring join
    * like [[bruteForceTopK]] (an inequality cannot hash-partition), so the
    * corpus streams once against the broadcast anchor set and the only
    * exchange is the final per-query top-k window. Anchors or corpus rows
    * with NULL labels drop out (an inequality against NULL is unknown —
    * a row with no label is neither a positive nor a safe negative).
    * For cell-bounded candidate generation at extreme corpus sizes,
    * compose with [[refineExact]] over an IVF shortlist instead.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      labelCol: String = "label"): DataFrame = {
    val c = normalizedWith(corpus, labelCol)
      .filter(col(labelCol).isNotNull)
    val q = normalizedWith(queries, labelCol)
      .filter(col(labelCol).isNotNull)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col(labelCol).as("__qlabel"))
    // self-exclusion by id as well as by label (contrastiveTriplets'
    // guard): with separately-sourced or re-labeled frames the same
    // vec_id can carry different labels on the two sides, and a vector
    // must never surface as its own hard negative
    val scored = c.join(broadcast(q), col(labelCol) =!= col("__qlabel") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("score"))
    topKPerQuery(scored, k)
  }

  /** CONTRASTIVE TRIPLETS — the complete training-row factory
    * ([[hardNegatives]] is its negative half): for each labeled anchor,
    * the `positives` nearest SAME-label vectors (self excluded) crossed
    * with the `negatives` nearest DIFFERENT-label vectors — one
    * (anchor, positive, negative) row per combination, the unit a
    * triplet/InfoNCE fine-tune consumes, with `margin` = pos − neg
    * score (a margin near or below zero marks the informative triplets).
    *
    * One corpus stream against the broadcast anchor set scores both
    * arms (the label test is a flag on the scored row, not a second
    * scan), one window keyed (query_id, same-label flag) ranks them,
    * and the final per-anchor join crosses |anchors|·p·n bounded rows.
    * NULL-label rows drop from BOTH arms on both sides (an unlabeled
    * row is neither a safe positive nor a safe negative). For
    * cell-bounded candidate generation at extreme corpus sizes, compose
    * with [[refineExact]] over an IVF shortlist, as with
    * [[hardNegatives]].
    *
    * Output: (query_id, positive_id, pos_rank, pos_score, negative_id,
    * neg_rank, neg_score, margin).
    */
  def contrastiveTriplets(corpus: DataFrame, queries: DataFrame,
      positives: Int = 1, negatives: Int = 4,
      labelCol: String = "label"): DataFrame = {
    require(positives >= 1, "need at least one positive per anchor")
    require(negatives >= 1, "need at least one negative per anchor")
    val c = normalizedWith(corpus, labelCol)
      .filter(col(labelCol).isNotNull)
    val q = normalizedWith(queries, labelCol)
      .filter(col(labelCol).isNotNull)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col(labelCol).as("__qlabel"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        (col(labelCol) === col("__qlabel")).as("__same"),
        col("vec_id").as("neighbor_id"),
        dot(col("qv"), col("v")).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("__same"))
      .orderBy(col("score").desc, col("neighbor_id"))
    val ranked = scored.withColumn("rank", row_number().over(w))
    val pos = ranked.filter(col("__same") && col("rank") <= positives)
      .select(col("query_id"), col("neighbor_id").as("positive_id"),
        col("rank").as("pos_rank"), col("score").as("pos_score"))
    val neg = ranked.filter(!col("__same") && col("rank") <= negatives)
      .select(col("query_id"), col("neighbor_id").as("negative_id"),
        col("rank").as("neg_rank"), col("score").as("neg_score"))
    pos.join(neg, Seq("query_id"))
      .withColumn("margin", col("pos_score") - col("neg_score"))
  }
}
