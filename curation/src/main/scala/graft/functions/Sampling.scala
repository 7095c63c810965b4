package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, content-keyed sampling for training-data pipelines.
  *
  * Both operators key every decision on the document's normalized content
  * fingerprint ([[TextAnalysis.fingerprint]], a 58-bit rolling hash), not on
  * an RNG:
  *  - reruns, retries, and cluster-size changes reproduce the same sample
  *    bit-for-bit (no seed plumbing, no partition-order sensitivity);
  *  - exact duplicates always receive the same decision, so a train/test
  *    split can never leak one copy of a document into each side;
  *  - the decision is a pure per-row projection — no shuffle, no state, and
  *    it replays in any engine that can fold the same hash (the DuckDB
  *    oracle does).
  *
  * The fingerprint is uniform enough over its 2^58 field that `fp mod N`
  * buckets are balanced for any small N (quotient bias ≤ N/2^58).
  */
object Sampling {

  /** Bucket in [0, buckets) derived from the content fingerprint. */
  def hashBucket(text: Column, buckets: Int): Column =
    TextAnalysis.fingerprint(text) % buckets

  /** Assign each document to a named split (train/val/test/...) by content
    * hash. `splits` are (name, weight) pairs; each split owns a contiguous
    * range of `weight` buckets out of `sum(weights)`, in declaration order.
    * Output: input columns + (bucket, split).
    *
    * NULL text has no content to key on, so both `bucket` and `split` come
    * back NULL — explicitly, via the leading guard. Without it the NULL
    * bucket would fail every `bucket < cut` comparison and the row would
    * silently land in the LAST split (usually "test", the worst place for
    * an undetected junk row). Callers that want null docs gone entirely
    * should filter on `split IS NOT NULL` (or on the text column upstream).
    */
  def hashSplit(docs: DataFrame, splits: Seq[(String, Int)],
      textCol: String = "text"): DataFrame = {
    val total = splitTotal(splits)
    docs.withColumn("bucket", hashBucket(col(textCol), total))
      .withColumn("split", splitAssignExpr(col("bucket"), splits))
  }

  private[functions] def splitTotal(splits: Seq[(String, Int)]): Int = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "weights must be positive")
    splits.map(_._2).sum
  }

  /** The split-name CASE over a bucket column in [0, Σweights) — ONE
    * definition shared by [[hashSplit]] and the fused curation pipeline so
    * the range-to-name mapping can never drift between them. NULL bucket →
    * NULL split (see [[hashSplit]]'s null contract).
    */
  private[functions] def splitAssignExpr(bucket: Column,
      splits: Seq[(String, Int)]): Column = {
    val cuts = splits.scanLeft(0)(_ + _._2).tail // cumulative upper bounds
    val assign = splits.zip(cuts).init.foldRight(lit(splits.last._1)) {
      case (((name, _), cut), rest) => when(bucket < cut, name).otherwise(rest)
    }
    when(bucket.isNull, lit(null: String)).otherwise(assign)
  }

  /** Cluster-aware LEAKAGE-SAFE split: near-duplicate documents must never
    * straddle train and test (the classic eval-contamination bug —
    * [[hashSplit]] keys on each doc's own content, so two near-dups with
    * different bytes can land in different splits). Here every document
    * keys on its duplicate-CLUSTER representative: `pairs` is any
    * (doc_a, doc_b) near-dup pair frame (exact Jaccard, MinHash-verified,
    * SimHash — the caller's screen of choice), clusters come from the
    * large-star/small-star contraction, and the bucket hashes the
    * representative id's string rendering through the same rolling-hash
    * machinery as hashSplit. Same cluster → same bucket → same split, by
    * construction. Unpaired docs form singleton clusters (their own id).
    *
    * Scale shape: clustering is the O(log n)-round star contraction over
    * the pair set; attaching cluster ids is one hash join on doc_id; the
    * bucket and split assignment are scan-side projections. Output:
    * (doc_id, cluster_id, bucket, split) — join back on doc_id for the
    * other input columns.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
      splits: Seq[(String, Int)]): DataFrame =
    splitFromClusters(
      docs.select(col("doc_id"))
        .join(Dedup.duplicateClusters(pairs), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id")),
      splits)

  /** The split-assignment half of [[leakageSafeSplit]] over an ALREADY
    * MATERIALIZED (doc_id, cluster_id) assignment — the read path of
    * [[Dedup.writeClusterTable]]: at 100 TB near-dup clustering is the
    * most expensive artifact in the pipeline, so consumers read the
    * persisted cluster table instead of re-deriving the components per
    * call. Pure scan-side projections; zero shuffles beyond the table
    * read. Output: (doc_id, cluster_id, bucket, split), identical to the
    * from-scratch path on the same clustering.
    */
  def splitFromClusters(clusters: DataFrame,
      splits: Seq[(String, Int)]): DataFrame = {
    val total = splitTotal(splits)
    clusters.select(col("doc_id"), col("cluster_id"))
      .withColumn("bucket",
        hashBucket(col("cluster_id").cast("string"), total))
      .withColumn("split", splitAssignExpr(col("bucket"), splits))
  }

  /** [[splitFromClusters]] over a persisted [[Dedup.writeClusterTable]]
    * index, resolved by name.
    */
  def leakageSafeSplitIndexed(spark: org.apache.spark.sql.SparkSession,
      name: String, splits: Seq[(String, Int)]): DataFrame =
    splitFromClusters(Dedup.clusterTable(spark, name), splits)

  /** LEAKAGE AUDIT — the certificate that makes a split strategy's
    * contamination claim a queryable number instead of a design argument:
    * join a near-dup pair set onto a split assignment and count pairs per
    * unordered split-class. Rows with `leaking = true` are near-dup pairs
    * that STRADDLE two splits — exactly the eval-contamination class a
    * leakage-safe split exists to eliminate: auditing
    * [[leakageSafeSplit]]'s own assignment must yield zero leaking rows
    * (same cluster ⇒ same split, and every pair is within one cluster by
    * construction), while a per-document content split ([[hashSplit]])
    * generally does not. Same-split classes stay in the report so "zero
    * leakage" is a visible count distribution, not an absence of rows.
    *
    * `split` is any (doc_id, split) assignment; `pairs` any
    * (doc_a, doc_b) near-dup pair frame. Pairs whose endpoints carry no
    * split assignment (NULL split — e.g. hashSplit over NULL text) drop:
    * they belong to no class. Scale: two doc_id hash joins + an
    * aggregate bounded by |splits|² rows.
    */
  def leakageAudit(split: DataFrame, pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a"), col("doc_b"))
      .join(split.select(col("doc_id").as("doc_a"),
        col("split").as("__sa")), Seq("doc_a"))
      .join(split.select(col("doc_id").as("doc_b"),
        col("split").as("__sb")), Seq("doc_b"))
      .filter(col("__sa").isNotNull && col("__sb").isNotNull)
      .select(least(col("__sa"), col("__sb")).as("split_lo"),
        greatest(col("__sa"), col("__sb")).as("split_hi"))
      .groupBy(col("split_lo"), col("split_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaking", col("split_lo") =!= col("split_hi"))

  /** Sequence PACKING: assign each document to a fixed-token-budget
    * training sequence (pack) — the step between a cleaned corpus and a
    * token-batch loader. Quota packing: within a shard, documents are laid
    * end-to-end in doc_id order and a document belongs to the pack its
    * first token lands in (`pack_offset` says where); packs can overrun
    * the budget by less than one document, which the loader's
    * truncate/pad policy absorbs — the standard distributed-packing
    * trade, since EXACT greedy packing is inherently sequential.
    *
    * Scale shape: packing is sequential only WITHIN a shard (one running
    * sum per shard, `shards` parallel window sorts), never across the
    * corpus — no global order, no single-task bottleneck. Deterministic:
    * shard = doc_id mod shards, order = doc_id, no RNG.
    */
  def packSequences(docs: DataFrame, seqTokens: Long, shards: Int = 64,
      textCol: String = "text"): DataFrame = {
    require(seqTokens > 0 && shards > 0, "positive budget and shard count")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("token_count"),
        (col("doc_id") % shards).as("shard"))
      .withColumn("cum", coalesce(sum(col("token_count")).over(w), lit(0L)))
      .select(col("doc_id"), col("token_count"), col("shard"),
        floor(col("cum") / seqTokens).cast("long").as("pack_id"),
        (col("cum") % seqTokens).as("pack_offset"))
  }

  /** LENGTH-BUCKETED BATCHING — the inference/eval-time counterpart of
    * [[packSequences]]: where packing CONCATENATES documents to fill a
    * fixed token budget (pretraining), batched inference must keep
    * documents separate and PAD every row of a batch to the batch's
    * longest member — so batching arbitrary arrival order wastes
    * compute on pad tokens, and the standard fix is sorting by length
    * first so each batch is length-homogeneous (dynamic batching /
    * bucketed sampling in every serving stack). This operator builds
    * both arms — `length_sorted` and `arrival` — and reports the
    * per-batch padding bill, so the gated output IS the measured win.
    *
    * Per batch: `n_docs`, `max_tokens` (the pad target),
    * `sum_tokens` (real tokens), `pad_tokens = n_docs·max − sum`, and
    * `pad_frac` (one IEEE division; 0 for an all-empty batch).
    *
    * Scale shape: the [[packSequences]] discipline — batches form WITHIN
    * `doc_id mod shards` shards (one window sort per shard, `shards`
    * parallel), never across the corpus: no global sort, no
    * single-partition window, exactly a multi-worker dataloader's
    * per-worker batching. Deterministic: shard by id, length ties break
    * by doc_id, no RNG. NULL-text documents drop (no tokens to batch).
    */
  def lengthBatches(docs: DataFrame, batchSize: Int, shards: Int = 64,
      textCol: String = "text"): DataFrame = {
    require(batchSize > 0 && shards > 0, "positive batch size and shards")
    val base = docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col(textCol))).cast("long").as("token_count"),
        (col("doc_id") % shards).as("shard"))
    def arm(name: String, order: Seq[Column]): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(order: _*)
      base.withColumn("__rn", row_number().over(w))
        .withColumn("batch_id",
          floor((col("__rn") - 1).cast("double") / batchSize).cast("long"))
        .groupBy("shard", "batch_id")
        .agg(count(lit(1)).as("n_docs"),
          max(col("token_count")).as("max_tokens"),
          sum(col("token_count")).as("sum_tokens"))
        .withColumn("pad_tokens",
          col("n_docs") * col("max_tokens") - col("sum_tokens"))
        .withColumn("pad_frac",
          when(col("max_tokens") > 0, col("pad_tokens").cast("double") /
            (col("n_docs") * col("max_tokens")).cast("double"))
            .otherwise(lit(0.0)))
        .withColumn("arm", lit(name))
    }
    arm("length_sorted", Seq(col("token_count").desc, col("doc_id")))
      .unionByName(arm("arrival", Seq(col("doc_id"))))
      .select("arm", "shard", "batch_id", "n_docs", "max_tokens",
        "sum_tokens", "pad_tokens", "pad_frac")
  }

  /** Deterministic TRAINING SHUFFLE order: a pseudorandom-but-reproducible
    * rank for every document, keyed on (doc_id, seed) with pure 63-bit-safe
    * modular arithmetic — the shuffle a training loader applies between
    * curation and batching, without RNG state (rerun-identical, resumable,
    * and replayable in any BIGINT engine). Change `seed` per epoch for a
    * fresh permutation: the key is x⁵ mod p on x = (doc_id + seed) mod p,
    * and x⁵ is NON-AFFINE — an affine key (id·m + seed·m mod p) would make
    * every epoch a cyclic rotation of the same order, so consecutive-doc
    * neighbor pairs would repeat across all epochs. x⁵ is a bijection on
    * [0, p) because gcd(5, p−1) = 1 for the Mersenne prime p = 2^31−1
    * (p−1 = 2·3²·7·11·31·151·331), and every intermediate product of two
    * mod-p residues stays under 2^62 — no overflow in Spark, DuckDB, or
    * any BIGINT engine.
    *
    * Output: input columns + `shuffle_key` — `orderBy(shuffle_key, doc_id)`
    * IS the epoch's read order (the doc_id tiebreak pins key collisions).
    * Deliberately a sort KEY, not a materialized global sort: at 100 TB
    * the loader range-partitions on the key; a single total sort is the
    * consumer's choice, not the operator's.
    */
  def shuffleOrder(docs: DataFrame, seed: Long = 0L): DataFrame = {
    val p = 2147483647L
    // double-guarded reduction: % is sign-preserving (Spark, DuckDB, Java
    // alike), and a single +p cannot lift the sum of TWO negative
    // residues — ((x % p) + p) % p is the true mod that keeps x in [0, p)
    // for any (doc_id, seed) sign combination
    val sum = (col("doc_id") % p + seed % p) % p
    docs.withColumn("__x", (sum + p) % p)
      .withColumn("__x2", col("__x") * col("__x") % p)
      .withColumn("__x4", col("__x2") * col("__x2") % p)
      .withColumn("shuffle_key", col("__x4") * col("__x") % p)
      .drop("__x", "__x2", "__x4")
  }

  /** Per-source quota ("domain cap") — bound any one source's share of the
    * corpus, the balancing pass that stops a boilerplate-heavy domain from
    * dominating a crawl-derived training set. Each source keeps its
    * `maxPerSource` lowest-(fingerprint, doc_id) documents: content-keyed
    * like every sampler here, so reruns keep the SAME documents even after
    * re-ingest re-assigns doc_ids — a duplicate re-crawled tomorrow has the
    * same fingerprint and the same priority.
    *
    * Output: (doc_id, source, domain_rank, keep) — a verdict to join back,
    * not a filtered corpus, so the funnel stays inspectable.
    *
    * Scale shape: the window sorts a THREE-column projection (ids + 58-bit
    * hash, ~24 bytes/row) partitioned by source — text never shuffles. A
    * pathologically hot domain lands on one task; at the point a single
    * domain exceeds a task's sort budget (~10^9 rows at this width), switch
    * to [[stratifiedSample]] with a per-domain rate — the approximate form
    * of the same policy.
    */
  def domainCap(docs: DataFrame, maxPerSource: Int,
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    require(maxPerSource > 0, "cap must be positive")
    // NULLS LAST explicitly: Spark defaults null-first on ASC, ANSI engines
    // null-last — null text must not silently occupy top quota slots.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col("__fp").asc_nulls_last, col("doc_id"))
    docs
      .select(col("doc_id"), col(sourceCol),
        TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .withColumn("domain_rank", row_number().over(w))
      .select(col("doc_id"), col(sourceCol), col("domain_rank"),
        (col("domain_rank") <= maxPerSource).as("keep"))
  }

  /** TRAINING-MIXTURE sampling — fill a fixed token/document budget from
    * weighted sources, the "data mixture" step every LLM training recipe
    * specifies (e.g. the per-source sampling weights tables of the GPT-3
    * and LLaMA papers). `parts` gives integer mixture weights (write 0.67
    * as 67:33 — integer parts keep every quota computation exact, so both
    * engines and every rerun agree to the row); `totalN` is the budget.
    *
    * Quotas are HAMILTON / largest-remainder apportionment ([[apportion]]):
    * source s gets floor(totalN·parts_s/Σparts) plus one of the Σremainder
    * leftover slots, assigned by (remainder desc, source asc) — the unique
    * deterministic integer split that is never more than one row from the
    * real-valued target. Computed once on the driver (the weights are query
    * constants, not data) and rendered into the plan as a literal CASE —
    * the same shared-rendered-constant discipline the stopword list uses.
    *
    * Within a source, selection is content-keyed like every sampler here
    * (lowest (fingerprint, doc_id) first), so re-ingest with fresh doc_ids
    * keeps the same documents. A source with fewer rows than its quota
    * keeps them all — the shortfall is reported (`quota` vs actual rank
    * coverage), not silently redistributed: rebalancing is a policy retry
    * with new weights, not something a sampler should improvise.
    *
    * Output: (doc_id, source, mix_rank, quota, keep) — a verdict to join
    * back, not a filtered corpus. Scale shape identical to [[domainCap]]:
    * the window sorts a narrow projection partitioned by source; text
    * never shuffles.
    */
  def mixtureSample(docs: DataFrame, parts: Map[String, Long], totalN: Long,
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    val quotas = apportion(parts, totalN)
    val quotaCol = quotas.toSeq.sortBy(_._1).foldRight(lit(0L)) {
      case ((s, q), rest) => when(col(sourceCol) === s, lit(q)).otherwise(rest)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col("__fp").asc_nulls_last, col("doc_id"))
    docs
      .select(col("doc_id"), col(sourceCol),
        TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      // long, not int: the oracle's row_number() is BIGINT and the driver
      // hashes physical types
      .withColumn("mix_rank", row_number().over(w).cast("long"))
      .select(col("doc_id"), col(sourceCol), col("mix_rank"),
        quotaCol.as("quota"), (col("mix_rank") <= quotaCol).as("keep"))
  }

  /** Largest-remainder (Hamilton) apportionment of `totalN` slots across
    * integer-weighted keys: base = floor(totalN·w/Σw), then the
    * Σ(remainder)/Σw leftover slots go to the largest remainders
    * (ties broken by key asc). Pure integer arithmetic — exact, total
    * (Σquota = totalN), and deterministic in any engine. Public because
    * the property tests pin exactly these invariants.
    */
  def apportion(parts: Map[String, Long], totalN: Long): Map[String, Long] = {
    require(parts.nonEmpty, "mixture needs at least one source weight")
    require(parts.values.forall(_ >= 0) && parts.values.sum > 0,
      "weights must be non-negative with a positive sum")
    require(totalN >= 0, "budget must be non-negative")
    val p = parts.values.sum
    require(parts.values.forall(w => w == 0 || totalN <= Long.MaxValue / w),
      "totalN * weight overflows — use smaller integer parts")
    val base = parts.map { case (s, w) => s -> totalN * w / p }
    val leftover = (totalN - base.values.sum).toInt
    val extras = parts.keys.toSeq
      .sortBy(s => (-(totalN * parts(s) % p), s))
      .take(leftover).toSet
    base.map { case (s, q) => s -> (if (extras(s)) q + 1 else q) }
  }

  /** DATA-CONSTRAINED EPOCH PLAN — the repetition question a token-budgeted
    * training run has to answer (Muennighoff et al. 2023, "Scaling
    * data-constrained language models"): given a token budget and a target
    * per-source mixture, how many PASSES (epochs) over each source does the
    * run make, and how big is the final partial pass? Targets are the exact
    * Hamilton apportionment of `budgetTokens` across the config weights
    * ([[apportion]] — data-independent integer constants, computed once on
    * the driver and rendered identically into both engines); available
    * tokens are measured from the data (the shared whitespace token count);
    * epochs = ⌈target / available⌉ in exact integer arithmetic. epochs > 1
    * is the data-constrained regime; `over_epoch_cap` flags sources past 4
    * epochs, where repeated data's value has decayed measurably in
    * Muennighoff's fits — the planner's signal to re-weight the mixture.
    *
    * Scale shape: ONE corpus scan collapses to a |sources|-row aggregate;
    * every plan column is arithmetic on that tiny frame (the weight table
    * is config-sized and joins broadcast). Sources present in the data but
    * absent from `weights` get target 0 (reported, zero epochs) — the
    * audit sees them instead of losing them. The REVERSE direction is
    * reported too: a source with a weight but NO data rows keeps its row
    * with available_tokens 0, its full apportioned target, NULL epochs /
    * last_epoch_tokens (the pass count is undefined — no amount of
    * repetition reaches the target), and over_epoch_cap TRUE — the
    * strongest re-weighting signal the planner exists to surface, not a
    * silently vanished share of the budget.
    */
  def epochPlan(docs: DataFrame, weights: Map[String, Long],
      budgetTokens: Long, sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val targets = apportion(weights, budgetTokens)
    val targetDf =
      targets.toSeq.sortBy(_._1).toDF("source", "target_tokens")
    val avail = docs.filter(col(textCol).isNotNull)
      .groupBy(col(sourceCol).as("source"))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long"))
        .as("available_tokens"))
    // full outer: data-only sources keep target 0, weight-only sources
    // keep available 0. (No broadcast hint — Spark's BHJ does not build a
    // full-outer side; both inputs are |sources|-row aggregates anyway.)
    avail.join(targetDf, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("available_tokens"), lit(0L)).as("available_tokens"),
        coalesce(col("target_tokens"), lit(0L)).as("target_tokens"))
      .withColumn("epochs",
        when(col("target_tokens") > 0 && col("available_tokens") > 0,
          expr("(target_tokens + available_tokens - 1) div available_tokens"))
          .when(col("target_tokens") > 0 && col("available_tokens") === 0L,
            lit(null).cast("long"))
          .otherwise(0L))
      .withColumn("last_epoch_tokens",
        when(col("epochs") > 0,
          col("target_tokens") -
            (col("epochs") - 1L) * col("available_tokens"))
          .when(col("epochs").isNull, lit(null).cast("long"))
          .otherwise(0L))
      .withColumn("over_epoch_cap",
        coalesce(col("epochs") > 4L, lit(true)))
  }

  /** EPOCH EXPANSION — materialize [[epochPlan]]'s answer as the actual
    * repeated-corpus relation a training loader consumes: one row per
    * (document, pass). Every full epoch repeats the whole source; the
    * FINAL partial epoch takes documents in the deterministic
    * content-rank order (fingerprint asc, doc_id — the [[mixtureSample]]
    * ranking) until the plan's `last_epoch_tokens` budget is exhausted: a
    * document is kept while the running token total BEFORE it is still
    * under the budget, so the crossing document is included — the budget
    * is reached, never undershot, and overshoot is bounded by one
    * document. Infeasible sources (NULL epochs: weighted but absent) and
    * unweighted sources (0 epochs) contribute no rows — surfacing them
    * is [[epochPlan]]'s job, this is the materializer.
    *
    * Scale: the plan is a |sources|-row broadcast; the content ranking is
    * one per-source window over the corpus; epochs explode scan-side via
    * `sequence` bounded by the plan's own epoch count (output size is the
    * token budget's, by construction). Output: (doc_id, source, epoch,
    * n_tokens), epoch in [1, epochs].
    */
  def epochExpand(docs: DataFrame, weights: Map[String, Long],
      budgetTokens: Long, sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val plan = epochPlan(docs, weights, budgetTokens, sourceCol, textCol)
      .filter(col("epochs") > 0)
      .select(col("source"), col("epochs"), col("last_epoch_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col("__fp").asc_nulls_last, col("doc_id"))
    docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"), col(sourceCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"),
        TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .withColumn("__cum_before",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            -1)), lit(0L)))
      .join(broadcast(plan), Seq(sourceCol))
      .select(col("doc_id"), col(sourceCol),
        explode(sequence(lit(1L), col("epochs"))).as("epoch"),
        col("n_tokens"), col("epochs"), col("__cum_before"),
        col("last_epoch_tokens"))
      .filter(col("epoch") < col("epochs") ||
        col("__cum_before") < col("last_epoch_tokens"))
      .select(col("doc_id"), col(sourceCol), col("epoch"), col("n_tokens"))
  }

  /** Deterministic stratified sampling: keep a row iff its content-hash
    * bucket (out of 10,000) falls below the stratum's rate. `rates` maps a
    * stratum value to a keep-fraction in [0, 1]; strata absent from the map
    * are dropped. The per-stratum keep decision is content-keyed exactly
    * like [[hashSplit]], so the sampled corpus is reproducible and
    * duplicate-consistent. NULL text yields a NULL bucket, which fails the
    * `<` predicate and is dropped — for a keep-or-drop sample that is the
    * correct explicit arm (unlike hashSplit, where every row must land
    * somewhere nameable).
    */
  def stratifiedSample(docs: DataFrame, stratum: Column,
      rates: Map[String, Double], textCol: String = "text"): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 1), "rates must be in [0,1]")
    val u = hashBucket(col(textCol), 10000)
    val cut = rates.toSeq.sortBy(_._1).foldRight(lit(0)) {
      case ((value, rate), rest) =>
        when(stratum === value, math.round(rate * 10000).toInt).otherwise(rest)
    }
    docs.filter(u < cut)
  }

  /** SOFT quality sampling — keep-probability ∝ score instead of a hard
    * threshold (the FineWeb-style ablation shape: a hard cut throws away
    * every mid-quality document, a soft cut keeps them in proportion):
    * a document survives iff its content-hash bucket (of 10,000 — the
    * [[stratifiedSample]] field) falls below round(10000·clamp(score,
    * 0, 1)). Deterministic and content-keyed like every sampler here —
    * no RNG, duplicate-consistent, replayable in any engine — and a
    * pure scan-side filter. `score` is any [0, 1]-scale column
    * (a classifier score, [[percentileNormalize]]'s percentile, ...);
    * values clamp at the ends, and NULL scores (un-scorable documents)
    * drop — a gate admits only what it can vouch for.
    */
  def softQualitySample(docs: DataFrame, score: Column,
      textCol: String = "text"): DataFrame =
    docs.filter(hashBucket(col(textCol), 10000) <
      round(least(greatest(score, lit(0.0)), lit(1.0)) * 10000).cast("long"))

  /** TEMPERATURE-scaled mixture (α = 0.5) — the UniMax/multilingual
    * up-sampling shape: per-source quotas ∝ √(corpus count), so
    * low-resource sources get proportionally MORE than their raw share
    * and head sources are capped, with the weights computed FROM THE
    * DATA (unlike [[mixtureSample]]'s config weights). Bit-portable by
    * construction: one correctly-rounded IEEE `sqrt` per source (both
    * engines round-to-nearest; √n is irrational for non-square n, so the
    * half-way rounding case cannot occur), scaled to 2^20 fixed-point,
    * then EXACT integer Hamilton apportionment (floor + largest
    * remainder, ties by source) and the same content-keyed fingerprint
    * ranking as [[mixtureSample]]. The source table is
    * cardinality-bounded (broadcast); the corpus pays one count
    * aggregate and one per-source rank window.
    *
    * Output: every doc as (doc_id, source, n_source, quota, mix_rank,
    * keep) — `filter(col("keep"))` is the mixture.
    */
  def temperatureMixture(docs: DataFrame, totalN: Long,
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    require(totalN >= 0, "budget must be non-negative")
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wRk = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col(sourceCol))
    val quotas = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_source"))
      .withColumn("wt",
        round(sqrt(col("n_source").cast("double")) * lit(1048576.0)).cast("long"))
      .withColumn("sum_wt", sum(col("wt")).over(wAll))
      // The apportionment product in DECIMAL(38,0): wt ≈ √n·2^20, so at a
      // web-scale source (n ≈ 4e9 → wt ≈ 6.6e10) a BIGINT totalN·wt passes
      // Long.MaxValue and ANSI mode would abort the job (the driver-side
      // [[apportion]] guards this with a require; this is the SQL analog).
      // Exact integer arithmetic either way; `div` on decimals is Spark's
      // integral divide and lands back in BIGINT.
      .withColumn("__prod",
        lit(totalN).cast("decimal(38,0)") * col("wt").cast("decimal(38,0)"))
      .withColumn("base", expr("__prod div sum_wt"))
      .withColumn("rem", col("__prod") % col("sum_wt"))
      .withColumn("leftover", lit(totalN) - sum(col("base")).over(wAll))
      .withColumn("rk", row_number().over(wRk))
      .withColumn("quota",
        col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .select(col(sourceCol), col("n_source"), col("quota"))
    val wMix = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol))
      .orderBy(col("__fp").asc_nulls_last, col("doc_id"))
    docs
      .select(col("doc_id"), col(sourceCol),
        graft.functions.TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .withColumn("mix_rank", row_number().over(wMix).cast("long"))
      .join(broadcast(quotas), Seq(sourceCol))
      .select(col("doc_id"), col(sourceCol), col("n_source"), col("quota"),
        col("mix_rank"), (col("mix_rank") <= col("quota")).as("keep"))
  }

  /** TOKEN-BALANCED shard assignment — the "write K ≈equal-token shards"
    * training-data prep step ([[packSequences]] splits WITHIN a shard;
    * this decides WHICH shard): serpentine (boustrophedon) round-robin
    * over documents ranked by token count descending, which bounds the
    * max−min shard imbalance by ONE document's tokens regardless of the
    * length distribution (each K-round deals every shard exactly one doc,
    * alternating direction so the same shard never keeps drawing the
    * round's largest).
    *
    * The global rank is computed WITHOUT a global sort: a token-count
    * HISTOGRAM (distinct lengths — bounded, broadcastable) supplies each
    * count's number of strictly-longer docs, and a window PARTITIONED BY
    * token_count (distributed) numbers the ties by doc_id —
    * `rank = higher + row_number`, exact and scan-parallel. The one
    * ordered window runs over the histogram, not the corpus.
    *
    * Output: (doc_id, token_count, shard). NULL-text docs are excluded
    * (they carry no tokens to balance).
    */
  def balancedShards(docs: DataFrame, shards: Int,
      textCol: String = "text"): DataFrame = {
    require(shards > 0, "shard count must be positive")
    val tc = docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"),
        size(graft.functions.TextAnalysis.tokens(col(textCol)))
          .cast("long").as("token_count"))
    val wh = org.apache.spark.sql.expressions.Window
      .orderBy(col("token_count").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val hist = tc.groupBy(col("token_count")).agg(count(lit(1)).as("c"))
      .withColumn("higher", coalesce(sum(col("c")).over(wh), lit(0L)))
      .select(col("token_count"), col("higher"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token_count")).orderBy(col("doc_id"))
    tc.join(broadcast(hist), Seq("token_count"))
      .withColumn("rank", col("higher") + row_number().over(wr))
      .select(col("doc_id"), col("token_count"),
        expr(s"CAST(CASE WHEN ((rank - 1) div $shards) % 2 = 0 " +
          s"THEN (rank - 1) % $shards " +
          s"ELSE ${shards - 1} - (rank - 1) % $shards END AS BIGINT)")
          .as("shard"))
  }

  /** CCNet HEAD/MIDDLE/TAIL bucketing (Wenzek et al. 2020): documents
    * split into LM-quality terciles. The cutoffs are exact tercile order
    * statistics of a DETERMINISTIC id-mix sample of the per-doc scores
    * (the [[graft.functions.Similarity]] training-sample discipline) —
    * never a global sort: the corpus-side assignment is one scan-side
    * CASE against two literal cutoffs. Rank-k cutoff on the DESC-sorted
    * sample at ceil(n/3) and ceil(2n/3); boundary ties share a score
    * value, so the cutoffs are well-defined regardless of tie order.
    * Unscorable (NULL-score) documents are excluded — a quality bucket
    * must mean something.
    *
    * Output: the scored rows plus `bucket` ('head' ≥ c1 > 'middle' ≥ c2
    * > 'tail').
    */
  /** PER-GROUP PERCENTILE NORMALIZATION — the step before any cross-source
    * quality policy: raw scores from different sources (or different
    * scorers) are not comparable, their within-source PERCENTILE is.
    * Adds `pct_rank` = percent_rank of `scoreCol` within `groupCol`
    * ((rank−1)/(n−1), ties share a rank, single-row groups score 0.0 —
    * identical semantics in any ANSI engine), so "keep every source's top
    * 30%" is one filter regardless of score calibration. NULL scores drop
    * out (an unscored row has no percentile). One exchange keyed on the
    * group; the rank sort never leaves its partition.
    */
  def percentileNormalize(df: DataFrame, scoreCol: String,
      groupCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(scoreCol).asc)
    df.filter(col(scoreCol).isNotNull)
      .withColumn("pct_rank", percent_rank().over(w))
  }

  def headMiddleTail(scored: DataFrame, sampleSize: Int = 256,
      scoreCol: String = "bigram_score"): DataFrame = {
    val s = scored.filter(col(scoreCol).isNotNull)
    val sample = s
      .orderBy(expr(graft.functions.Similarity.sampleHashSql("doc_id")),
        col("doc_id"))
      .limit(sampleSize)
      .select(col(scoreCol)).collect().map(_.getDouble(0))
    require(sample.length >= 3, "need at least 3 scored docs to cut terciles")
    val desc = sample.sorted(Ordering[Double].reverse)
    val n = desc.length
    val c1 = desc((n + 2) / 3 - 1)
    val c2 = desc((2 * n + 2) / 3 - 1)
    s.select(col("*"),
      when(col(scoreCol) >= c1, "head")
        .when(col(scoreCol) >= c2, "middle")
        .otherwise("tail").as("bucket"))
  }

  // ---------------------------------------------------------------------
  // DSIR — Data Selection via Importance Resampling (Xie et al.,
  // NeurIPS 2023): pick raw-corpus documents whose hashed-n-gram feature
  // distribution looks like a TARGET corpus. Reference behavior class:
  // audience-manager has no data-selection operator; this family is part
  // of the LLM-pipeline extension surface (driver brief), built on the
  // same bit-portable discipline as the samplers above.
  //
  // The published method: hash bigram features into B buckets, fit
  // add-one-smoothed bag-of-buckets models p (target) and q (raw), weight
  // each document by log p(doc) − log q(doc) = Σ_b c_b·(log p_b − log q_b),
  // then resample by weight. The ln that formula needs is libm-dependent
  // (measured here: JVM Math.log and DuckDB ln disagree by 1 ulp on ~0.09%
  // of arguments), so raw double log-weights would break the engine's
  // cross-engine hash gate. Fix: FIXED-POINT log-ratios. Each bucket's
  // log-ratio is quantized ONCE to a 2^-20 grid (lrq = round(2^20·lr), a
  // BIGINT), and the per-document weight becomes an EXACT INTEGER sum of
  // lrq over the document's feature occurrences — no float accumulation,
  // no fold-order pinning, nothing downstream of the B quantizations can
  // diverge. The only cross-engine surface left is B lns, each protected
  // by the rounding grid: a 1-ulp ln disagreement flips a bucket's lrq
  // only if 2^20·lr lands within ~1 ulp of a half-integer (~2^-30 per
  // bucket — and for FIXED gate data either it happens or it doesn't;
  // the oracle gate verifies the actual corpus, not an expectation).
  // ---------------------------------------------------------------------

  /** 2^20 — the fixed-point scale for [[dsirLogRatios]], the same grid
    * [[temperatureMixture]] uses for its √n weights.
    */
  val DsirScale: Double = 1048576.0

  /** Hashed-bigram feature bucket: the 58-bit prime-field rolling hash
    * (engine-portable, see [[TextAnalysis.fingerprint]]) of `"w1 w2"`,
    * mod `buckets`. One value per bigram OCCURRENCE — DSIR's
    * bag-of-hashed-ngrams feature stream.
    */
  private def dsirBuckets(docs: DataFrame, buckets: Int,
      textCol: String): DataFrame =
    TextAnalysis.bigramOccurrences(docs, textCol)
      .select(col("doc_id"),
        (RollingHash.rollingHash(
          concat(col("w1"), lit(" "), col("w2"))) % buckets).as("bucket"))

  /** Fit the DSIR importance model: one row per bucket in [0, buckets) —
    * (bucket, ct, cr, lrq) where ct/cr are the target/raw occurrence
    * counts and lrq is the fixed-point quantized log importance ratio
    *
    *   lrq = round(2^20 · (ln((ct+1)/(cr+1)) + ln((Nr+B)/(Nt+B))))
    *
    * — add-one smoothing over B buckets, the paper's bag-of-hashed-ngrams
    * model, with the totals term folded in per bucket so a document's
    * weight is a plain sum over its occurrences. The bucket spine is
    * `range(B)`, so EVERY bucket has a row and scoring never sees a miss
    * (an unseen bucket carries the pure-prior ratio ct=cr=0).
    *
    * Scale shape: two map-side-combinable hash aggregates (corpus →
    * B rows), then arithmetic on B-row frames — the corpus is scanned
    * once per side and everything after the aggregates is KB-scale.
    * Both ln arguments are single IEEE divisions of exact-integer
    * doubles (counts < 2^53 up to ~9e15 bigram occurrences — beyond a
    * 100 TB corpus), so the pre-quantization doubles are bit-identical
    * in any engine up to the libm ln itself (bounded above).
    */
  def dsirLogRatios(raw: DataFrame, target: DataFrame, buckets: Int = 2048,
      textCol: String = "text"): DataFrame = {
    require(buckets > 0 && buckets <= 65536,
      s"buckets must be in (0, 65536], got $buckets")
    val ct = dsirBuckets(target, buckets, textCol)
      .groupBy(col("bucket")).agg(count(lit(1)).as("ct"))
    val cr = dsirBuckets(raw, buckets, textCol)
      .groupBy(col("bucket")).agg(count(lit(1)).as("cr"))
    val spine = raw.sparkSession.range(buckets.toLong)
      .select(col("id").as("bucket"))
    val counts = spine
      .join(ct, Seq("bucket"), "left")
      .join(cr, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    quantizeRatios(counts, buckets)
  }

  /** The lrq quantization over a (bucket, ct, cr) counts frame — ONE
    * definition shared by the fit ([[dsirLogRatios]]) and the unlearn
    * ([[deleteFromDsirModel]]), so "subtract then re-quantize" is the
    * refit expression on the refit integers to the bit.
    *
    * Totals via an unbounded window over the B-row counts frame (the
    * [[temperatureMixture]] sum_wt idiom) — NOT counts.crossJoin(agg):
    * the cross join would duplicate the counts subtree and Catalyst
    * would re-expand it, scanning both corpora a second time. The
    * window runs on one B-row partition — KB-scale.
    */
  private def quantizeRatios(counts: DataFrame, buckets: Int): DataFrame = {
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    counts
      .withColumn("__nt", sum(col("ct")).over(wAll))
      .withColumn("__nr", sum(col("cr")).over(wAll))
      .select(col("bucket"), col("ct"), col("cr"),
        round((log((col("ct") + lit(1L)).cast("double") /
            (col("cr") + lit(1L)).cast("double")) +
          log((col("__nr") + lit(buckets.toLong)).cast("double") /
            (col("__nt") + lit(buckets.toLong)).cast("double"))) *
          lit(DsirScale)).cast("long").as("lrq"))
  }

  /** Score every document against a [[dsirLogRatios]] model: (doc_id,
    * n_feats, weight_q, log_weight). `weight_q` is the exact BIGINT sum
    * of lrq over the document's bigram occurrences; `log_weight` is
    * weight_q/2^20 — an exact power-of-two rescale of an integer below
    * 2^53, so it is bit-identical everywhere despite being a double.
    * Documents with < 2 tokens have no features: n_feats 0, NULL weights
    * (the [[unigramScore]] contract — a gate must not pretend to have
    * scored what it cannot see). `buckets` must match the model's fit
    * (the hash is applied scan-side; a mismatch would silently score
    * against the wrong cells — the indexed path reads it from the stored
    * params instead of trusting the caller).
    *
    * Scale shape: one corpus scan to occurrences, one broadcast join
    * against the B-row model, one hash aggregate keyed on doc_id.
    */
  def dsirScore(docs: DataFrame, logRatios: DataFrame, buckets: Int,
      textCol: String = "text"): DataFrame = {
    val perDoc = dsirBuckets(docs, buckets, textCol)
      .join(broadcast(logRatios.select(col("bucket"), col("lrq"))),
        Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lrq")).as("weight_q"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        col("weight_q"),
        (col("weight_q").cast("double") / lit(DsirScale)).as("log_weight"))
  }

  /** Temperature-0 DSIR selection: keep the `n` highest-weight documents
    * (ties by doc_id asc), as a `keep` flag on every scored row — the
    * deterministic argmax-k reading of the paper's Gumbel-top-k resample
    * (the engine's no-RNG rule; the spec gates a hash-Gumbel variant for
    * pipelines that want the sampled reading). NULL weights never keep.
    *
    * NO global sort: the threshold row (n-th best by (weight_q desc,
    * doc_id asc)) comes from a distributed TakeOrdered — per-partition
    * top-n, driver merge of n keys — and `keep` is a scan-side
    * lexicographic comparison against that broadcast threshold. At
    * 100 TB the corpus is never exchanged; only n (weight, id) pairs
    * move.
    */
  def dsirSelect(scored: DataFrame, n: Int): DataFrame = {
    require(n > 0, s"selection size must be positive, got $n")
    val th = scored.filter(col("weight_q").isNotNull)
      .orderBy(col("weight_q").desc, col("doc_id").asc)
      .limit(n)
      .agg(min(struct(col("weight_q").as("w"), (-col("doc_id")).as("nd")))
        .as("__th"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_feats"), col("weight_q"),
        col("log_weight"),
        (col("weight_q").isNotNull && col("__th").isNotNull &&
          (col("weight_q") > col("__th.w") ||
            (col("weight_q") === col("__th.w") &&
              -col("doc_id") >= col("__th.nd")))).as("keep"))
  }

  /** Gumbel-top-n DSIR resampling — the paper's SAMPLED reading: each
    * document keys on log_weight/temperature + g where g = −ln(−ln(u))
    * and u is the doc-id-keyed LCG uniform ([[Similarity.sampleHashSql]],
    * the engine's no-RNG rule: reruns reproduce the draw bit-for-bit).
    * The Gumbel ln is libm arithmetic, so this variant is SPEC-gated,
    * not oracle-gated (the [[TextAnalysis.bigramPerplexity]] precedent);
    * [[dsirSelect]] is the temperature-0 deterministic reading the hash
    * gate certifies. Same TakeOrdered-threshold shape — no global sort.
    */
  def dsirSelectGumbel(scored: DataFrame, n: Int,
      temperature: Double = 1.0): DataFrame = {
    require(n > 0, s"selection size must be positive, got $n")
    require(temperature > 0, s"temperature must be positive, got $temperature")
    val u = (expr(graft.functions.Similarity.sampleHashSql("doc_id"))
      .cast("double") + lit(1.0)) / lit(2147483648.0)
    val key = (col("log_weight") / lit(temperature) - log(-log(u))).as("__key")
    val keyed = scored.withColumn("__key",
      when(col("weight_q").isNotNull, key))
    val th = keyed.filter(col("__key").isNotNull)
      .orderBy(col("__key").desc, col("doc_id").asc)
      .limit(n)
      .agg(min(struct(col("__key").as("k"), (-col("doc_id")).as("nd")))
        .as("__th"))
    keyed.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_feats"), col("weight_q"),
        col("log_weight"),
        (col("__key").isNotNull && col("__th").isNotNull &&
          (col("__key") > col("__th.k") ||
            (col("__key") === col("__th.k") &&
              -col("doc_id") >= col("__th.nd")))).as("keep"))
  }

  /** Persist a [[dsirLogRatios]] model as catalog tables: `{name}_ratios`
    * (bucket, ct, cr, lrq) + a one-row `{name}_params` (buckets) the
    * scoring path reads instead of trusting a caller-supplied width
    * (the [[graft.functions.TextAnalysis.writeLmTable]] deployment shape:
    * fit once on the reference corpora at ingest, stream any batch
    * through scoring). Params first, payload after, failure drops both —
    * torn-publish discipline. The model holds per-BUCKET aggregate
    * counts only (no document content, no per-document rows), so nothing
    * in it can RE-SURFACE a deleted document — but a removed document's
    * bigrams still shape the selection weights, the same influence story
    * as the bigram LM, so the family registers in
    * [[Takedown.DsirModel]] with [[deleteFromDsirModel]] count-unlearning
    * (round-17; residual references are 0 by construction).
    */
  def writeDsirModel(spark: org.apache.spark.sql.SparkSession, name: String,
      raw: DataFrame, target: DataFrame, buckets: Int = 2048,
      textCol: String = "text"): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    dropDsirModel(spark, name)
    try {
      spark.range(1).select(lit(buckets).cast("long").as("buckets"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${name}_params")
      dsirLogRatios(raw, target, buckets, textCol)
        .coalesce(1)
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${name}_ratios")
    } catch {
      case e: Throwable => dropDsirModel(spark, name); throw e
    }
  }

  /** Score a batch against a stored [[writeDsirModel]] model — identical
    * results to the from-scratch [[dsirScore]] on the same corpora
    * (the oracle twin asserts hash equality: write→read fidelity).
    */
  def dsirScoreIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
      docs: DataFrame, textCol: String = "text"): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    val buckets = spark.table(s"${name}_params")
      .select(col("buckets")).head().getLong(0).toInt
    dsirScore(docs, spark.table(s"${name}_ratios"), buckets, textCol)
  }

  /** UNLEARN fit documents from a stored [[writeDsirModel]] model — the
    * [[TextAnalysis.deleteFromLmTable]] story for the DSIR family: a
    * takedown that removes a document from the corpus must also remove
    * its bigrams from the selection model, or the deleted text keeps
    * steering what gets selected. Subtract the deleted documents' exact
    * per-bucket occurrence counts from the stored side (`"raw"` or
    * `"target"` — whichever fit corpus the documents belonged to) and
    * re-quantize lrq through [[quantizeRatios]], the fit's own
    * expression: counts are integers, so the unlearned model equals a
    * refit without the deleted docs TO THE BIT (TakedownSpec pins it on
    * the ratio table).
    *
    * `deletedDocs` must be the fit documents AS INGESTED (subtract what
    * was added — the [[TextAnalysis.deleteFromLmTable]] contract); a
    * batch that was never fit would drive a bucket negative, which
    * throws loudly instead of publishing a corrupt model. Cost:
    * O(deleted docs) occurrence counting + one stage-and-swap rewrite of
    * the B-row ratio table — never a fit-corpus re-scan.
    */
  def deleteFromDsirModel(spark: org.apache.spark.sql.SparkSession,
      name: String, deletedDocs: DataFrame, side: String = "raw",
      textCol: String = "text"): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    require(side == "raw" || side == "target",
      s"side must be 'raw' or 'target', got '$side'")
    val buckets = spark.table(s"${name}_params")
      .select(col("buckets")).head().getLong(0).toInt
    val d = dsirBuckets(deletedDocs, buckets, textCol)
      .groupBy(col("bucket")).agg(count(lit(1)).as("__d"))
    val cur = spark.table(s"${name}_ratios")
    val newCounts = cur.join(d, Seq("bucket"), "left")
      .select(col("bucket"),
        (if (side == "target") col("ct") - coalesce(col("__d"), lit(0L))
         else col("ct")).as("ct"),
        (if (side == "raw") col("cr") - coalesce(col("__d"), lit(0L))
         else col("cr")).as("cr"))
      .localCheckpoint(true) // B-row frame; checked then rewritten below
    val neg = newCounts.filter(col("ct") < 0 || col("cr") < 0).count()
    require(neg == 0,
      s"unlearn batch drives $neg bucket count(s) negative on side '$side'" +
        s" of DSIR model $name — the batch contains documents that were " +
        "never fit (or were already unlearned); refusing to publish")
    graft.sources.ManagedTables.rewriteTable(spark, s"${name}_ratios",
      quantizeRatios(newCounts, buckets).coalesce(1))
  }

  /** Drop both DSIR model tables and their directories. */
  def dropDsirModel(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_params", s"${name}_ratios"))
  }

  // ---------------------------------------------------------------------
  // Moore–Lewis cross-entropy difference selection (ACL 2010,
  // "Intelligent Selection of Language Model Training Data") — the
  // classic ancestor of [[dsirLogRatios]]: score each document by
  // H_raw(doc) − H_target(doc), i.e. the mean log-probability GAP
  // between an in-domain LM and a general LM, and keep the top-n.
  // Where DSIR hashes features into B buckets, Moore–Lewis keeps the
  // full (Zipf-bounded) bigram vocabulary — sharper, costlier models.
  // Same fixed-point discipline: each occurrence's two log-probs
  // quantize ONCE to the 2^20 grid, their difference is an exact
  // integer, and the per-doc sum is an exact BIGINT (|Δlq| ≤ ~2·36·2^20
  // per occurrence — the sum stays in BIGINT past 10^11 bigrams/doc).
  // ---------------------------------------------------------------------

  /** Score every document by the quantized cross-entropy difference
    * between an add-k bigram LM fit on `target` (in-domain) and one fit
    * on `docs` (the general corpus): (doc_id, n_bigrams, diff_q,
    * ce_diff) where diff_q = Σ_occ (lq_target − lq_raw) is an exact
    * BIGINT and ce_diff = diff_q / n / 2^20 — higher = more
    * target-like. Unseen bigrams/contexts take the add-k smoothing mass
    * (the [[TextAnalysis.bigramScore]] contract); documents with < 2
    * tokens score NULL. V is each model's OWN training vocabulary.
    *
    * Scale shape: two Zipf-bounded model fits (hash aggregates), then
    * the scoring pass joins the occurrence stream to the four model
    * tables on term keys — postings-style equi-joins, one doc_id
    * aggregate. The per-occurrence `ln` is protected by the 2^-20
    * rounding grid (the [[dsirLogRatios]] cross-engine argument).
    */
  def crossEntropyScore(docs: DataFrame, target: DataFrame,
      addK: Double = 1.0, textCol: String = "text"): DataFrame = {
    require(addK > 0, "addK must be positive (unseen mass)")
    def fit(corpus: DataFrame): (DataFrame, DataFrame, DataFrame) = {
      val m = TextAnalysis.bigramOccurrences(corpus, textCol)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      val ctx = m.groupBy(col("w1")).agg(sum(col("c")).cast("long").as("cw"))
      val v = corpus
        .select(explode(TextAnalysis.tokens(col(textCol))).as("term"))
        .agg(countDistinct(col("term")).as("v"))
      (m, ctx, v)
    }
    val (mt, ct, vt) = fit(target)
    val (mr, cr, vr) = fit(docs)
    ceScoreAgainst(docs, mt, ct, vt, mr, cr, vr, addK, textCol)
  }

  /** [[crossEntropyScore]] against two STORED
    * [[TextAnalysis.writeLmTable]] models (target = in-domain, raw =
    * general) — identical results to the from-scratch path when the
    * models were trained on the same corpora (the oracle twin asserts
    * hash equality), but training never re-runs: the batch's occurrence
    * stream joins the stored bucketed count tables. Because the models
    * ARE writeLmTable artifacts, the whole LM deletion story
    * ([[TextAnalysis.deleteFromLmTable]] exact count-unlearning) applies
    * to the selection models for free.
    */
  def crossEntropyScoreIndexed(spark: org.apache.spark.sql.SparkSession,
      targetName: String, rawName: String, docs: DataFrame,
      addK: Double = 1.0, textCol: String = "text"): DataFrame = {
    graft.sources.ManagedTables.requireIdent(targetName)
    graft.sources.ManagedTables.requireIdent(rawName)
    require(addK > 0, "addK must be positive (unseen mass)")
    def stored(name: String) = (
      spark.table(s"${name}_model")
        .select(col("w1"), col("w2"), col("c12").as("c")),
      spark.table(s"${name}_ctx").select(col("w1"), col("c1").as("cw")),
      spark.table(s"${name}_globals").select(col("v")))
    val (mt, ct, vt) = stored(targetName)
    val (mr, cr, vr) = stored(rawName)
    ceScoreAgainst(docs, mt, ct, vt, mr, cr, vr, addK, textCol)
  }

  /** The shared Moore–Lewis scoring tail: occurrence stream × the four
    * model tables (c: (w1,w2,c), ctx: (w1,cw), one-row v per side) —
    * identical between the self-fit and stored-model paths, which is
    * what makes [[crossEntropyScoreIndexed]] a pure access-path swap
    * (the bigramScoreIndexed discipline).
    */
  private def ceScoreAgainst(docs: DataFrame,
      mt: DataFrame, ct: DataFrame, vt: DataFrame,
      mr: DataFrame, cr: DataFrame, vr: DataFrame,
      addK: Double, textCol: String): DataFrame = {
    def lq(c: Column, cw: Column, v: Column): Column =
      round(log((coalesce(c, lit(0L)).cast("double") + lit(addK)) /
        (coalesce(cw, lit(0L)).cast("double") +
          lit(addK) * v.cast("double"))) * lit(DsirScale)).cast("long")
    val perDoc = TextAnalysis.bigramOccurrences(docs, textCol)
      .join(mt.select(col("w1"), col("w2"), col("c").as("__ct")),
        Seq("w1", "w2"), "left")
      .join(ct.select(col("w1"), col("cw").as("__cwt")), Seq("w1"), "left")
      .join(mr.select(col("w1"), col("w2"), col("c").as("__cr")),
        Seq("w1", "w2"), "left")
      .join(cr.select(col("w1"), col("cw").as("__cwr")), Seq("w1"), "left")
      .crossJoin(broadcast(vt.select(col("v").as("__vt"))))
      .crossJoin(broadcast(vr.select(col("v").as("__vr"))))
      .select(col("doc_id"),
        (lq(col("__ct"), col("__cwt"), col("__vt")) -
          lq(col("__cr"), col("__cwr"), col("__vr"))).as("__d"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__d")).as("diff_q"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("diff_q"),
        (col("diff_q").cast("double") / col("n_bigrams").cast("double") /
          lit(DsirScale)).as("ce_diff"))
  }

  /** Keep the `n` most target-like documents by [[crossEntropyScore]]'s
    * ce_diff (ties by doc_id asc) — the [[dsirSelect]] TakeOrdered-
    * threshold shape keyed on the mean (length-normalized, per the
    * paper) instead of the integer sum: the mean is two IEEE divisions
    * of exact integers, so it is bit-identical cross-engine and safe to
    * threshold on. NULL scores (featless docs) never keep; the corpus
    * is never globally sorted.
    */
  def crossEntropySelect(scored: DataFrame, n: Int): DataFrame = {
    require(n > 0, s"selection size must be positive, got $n")
    val th = scored.filter(col("ce_diff").isNotNull)
      .orderBy(col("ce_diff").desc, col("doc_id").asc)
      .limit(n)
      .agg(min(struct(col("ce_diff").as("s"), (-col("doc_id")).as("nd")))
        .as("__th"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_bigrams"), col("diff_q"), col("ce_diff"),
        (col("ce_diff").isNotNull && col("__th").isNotNull &&
          (col("ce_diff") > col("__th.s") ||
            (col("ce_diff") === col("__th.s") &&
              -col("doc_id") >= col("__th.nd")))).as("keep"))
  }
}
