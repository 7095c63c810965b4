package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines — beyond-parity
  * extension over the `documents` corpus (SURVEY §7.2 step 10).
  *
  * Scale design: every variant is generate-candidates-then-verify. Candidate
  * generation only ever shuffles (doc_id, small key) postings — never full
  * text against full text — so the quadratic blow-up is confined to
  * same-bucket groups. This is the shape that survives 100 TB:
  *  - exact:      hash the text, group on the 64-char digest.
  *  - ngram:      inverted index on trigrams; pairs only where a trigram is
  *                shared; exact Jaccard on the pair.
  *  - MinHash:    32 universal-hash minima (native one-pass signature) →
  *                8 bands of 4 → candidates share a band bucket; exact
  *                Jaccard verify kills false positives.
  *  - SimHash:    64-bit signature → 4 bands of 16 bits → candidates share a
  *                band; Hamming-distance verify.
  *  - embedding:  sign-bit LSH bands over the vector → cosine verify.
  *
  * Everything is deterministic: FNV-1a + splitmix64-derived hash families
  * for signatures, xxhash64 for band buckets, sorted outputs, no RNG.
  */
object Dedup {

  private def toks(c: Column): Column = TextAnalysis.tokens(c)

  /** Distinct word trigrams ("shingles") of a document, via the native
    * one-pass [[NGrams]] expression (a higher-order-function composition
    * re-tokenizes per element — ~200× slower; see NGrams scaladoc).
    * Documents shorter than n tokens yield an empty set.
    */
  def ngrams(text: Column, n: Int = 3): Column =
    NGrams.wordNGrams(toks(text), n)

  /** Exact dedup: group documents by content digest, emit one representative
    * (min doc_id) per group with the duplicate count. Grouping on sha2
    * rather than raw text keeps the shuffle narrow at scale.
    */
  def exact(docs: DataFrame, textCol: String = "text"): DataFrame =
    collapseByDigest(docs.withColumn("content_hash", sha2(col(textCol), 256)))

  /** Shared digest-collapse tail: one representative (min doc_id) per
    * content_hash with the group size — the output contract of both exact
    * and incremental dedup.
    */
  private def collapseByDigest(hashed: DataFrame): DataFrame =
    hashed
      .groupBy(col("content_hash"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("dup_count"))
      .select("doc_id", "content_hash", "dup_count")

  /** Exact dedup with BEST-COPY canonical selection — the keep rule real
    * pipelines want when duplicate copies differ in provenance or quality:
    * within each content-digest group the kept representative MAXIMIZES
    * (`score` DESC, doc_id ASC) — source priority, quality score, crawl
    * recency — instead of [[exact]]'s min-id rule. Every input row is
    * reported with its verdict (keep + the group's size), so consumers
    * can filter, audit, or diff keep policies. One digest-keyed exchange:
    * the pick window and the group count share the same partitioning.
    * NULL-text rows are singletons by contract: content_hash NULL,
    * keep=true, dup_count=1 — unlike [[exact]]'s group-collapse, a
    * verdict operator must never call two absent texts duplicates.
    */
  def exactBest(docs: DataFrame, score: Column,
      textCol: String = "text"): DataFrame = {
    val hashed = docs.select(col("doc_id"),
      sha2(col(textCol), 256).as("content_hash"), score.as("score"))
    // NULL-text contract: sha2(NULL) is NULL and window partitioning
    // groups NULLs TOGETHER, which would mark distinct NULL-text rows as
    // mutual duplicates — wrong for a per-row verdict operator. Each
    // NULL-text row is instead its own singleton group (keep=true,
    // dup_count=1, content_hash NULL in the output) via a per-row
    // surrogate key (the NUL prefix cannot appear in a hex digest).
    val grpKey = coalesce(col("content_hash"),
      concat(lit("\u0000"), col("doc_id").cast("string")))
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(grpKey)
      .orderBy(col("score").desc, col("doc_id"))
    val wGrp = org.apache.spark.sql.expressions.Window
      .partitionBy(grpKey)
    hashed
      .withColumn("__pick", row_number().over(wPick))
      .withColumn("dup_count", count(lit(1)).over(wGrp))
      .select(col("doc_id"), col("content_hash"), col("score"),
        col("dup_count"), (col("__pick") === 1).as("keep"))
  }

  /** BEST-COPY selection per NEAR-DUP cluster — [[exactBest]] lifted from
    * the exact-digest group to the connected near-dup component: within
    * each duplicate cluster (the [[duplicateClusters]] large-star/
    * small-star contraction over `pairs`; unpaired documents form
    * singletons) keep = argmax (score, −doc_id), so canonical selection
    * can prefer the longest / highest-quality / authoritative copy
    * instead of the arbitrary min-id representative. Every document is
    * reported with its cluster, score, cluster size, and verdict — the
    * keep=false rows ARE the dedup decision list.
    *
    * Scale: the clustering is the O(log n)-round star contraction; the
    * attach is one doc_id hash join; pick and size share one
    * cluster-keyed exchange (the exactBest window pattern). Callers with
    * a persisted [[writeClusterTable]] use [[clusterBestIndexed]] and
    * skip the contraction entirely.
    */
  def clusterBest(docs: DataFrame, pairs: DataFrame, score: Column,
      checkpointDir: Option[String] = None): DataFrame =
    clusterBestFrom(docs, duplicateClusters(pairs, checkpointDir = checkpointDir),
      score)

  /** [[clusterBest]] over a persisted [[writeClusterTable]] clustering. */
  def clusterBestIndexed(spark: org.apache.spark.sql.SparkSession,
      name: String, docs: DataFrame, score: Column): DataFrame =
    clusterBestFrom(docs, clusterTable(spark, name)
      .select(col("doc_id"), col("cluster_id")), score)

  private def clusterBestFrom(docs: DataFrame, clusters: DataFrame,
      score: Column): DataFrame = {
    val withC = docs.select(col("doc_id"), score.as("score"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        col("score"))
    val wPick = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val wGrp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    withC
      .withColumn("__pick", row_number().over(wPick))
      .withColumn("cluster_size", count(lit(1)).over(wGrp))
      .select(col("doc_id"), col("cluster_id"), col("score"),
        col("cluster_size"), (col("__pick") === 1).as("keep"))
  }

  /** BLOOM pre-screen for incremental dedup — the compact seen-set
    * artifact: at 100 TB the distinct-digest table is itself huge, and
    * every ingest batch pays a shuffle against it; a Bloom filter over
    * the content fingerprints collapses the seen corpus to `bits` BITS
    * (stored relationally as ≤ bits/32 (word_idx, mask) rows — KBs to a
    * few MBs, broadcastable), and the screen answers "definitely new"
    * with NO false negatives: only the maybe-seen minority continues to
    * the exact digest verify. The k probe positions derive from the
    * 58-bit rolling-hash fingerprint by plain integer arithmetic
    * (idx_i = (fp·(2i+1) + i·C) mod bits — no 64-bit wraparound, so any
    * engine replays it exactly; k ≤ 8 keeps fp·(2k−1) < 2^62).
    *
    * [[bloomBuild]] returns the filter relation: one `bit_or` aggregate
    * over the k scan-side positions per document. [[bloomScreen]] marks
    * each batch document `maybe_seen` = every probed bit set (min over
    * the per-position hits — exact AND); NULL-text rows carry no
    * fingerprint and drop from both sides. False-positive rate follows
    * the standard (1−e^{−kn/m})^k curve — size `bits` to the seen-corpus
    * cardinality and measure the rate (q_dedup_bloom_screen surfaces it
    * per batch row).
    */
  def bloomBuild(docs: DataFrame, bits: Int = 1 << 16, k: Int = 4,
      textCol: String = "text"): DataFrame = {
    requireBloomShape(bits, k)
    val fp = TextAnalysis.fingerprint(col(textCol))
    docs.filter(col(textCol).isNotNull)
      .select(explode(array((0 until k).map(i => bloomIdx(fp, i, bits)): _*))
        .as("idx"))
      .select(expr("idx div 32").as("word_idx"), bloomBit.as("bit"))
      .groupBy(col("word_idx"))
      .agg(bit_or(col("bit")).as("mask"))
  }

  /** Screen a batch against a [[bloomBuild]] relation: (doc_id,
    * maybe_seen). maybe_seen=false is a PROOF of novelty; maybe_seen=true
    * goes on to the exact verify. The filter side joins by word_idx —
    * tiny, broadcast — and the batch pays k scan-side probes per row.
    */
  def bloomScreen(batch: DataFrame, bloom: DataFrame, bits: Int = 1 << 16,
      k: Int = 4, textCol: String = "text"): DataFrame = {
    requireBloomShape(bits, k)
    val fp = TextAnalysis.fingerprint(col(textCol))
    batch.filter(col(textCol).isNotNull)
      .select(col("doc_id"),
        explode(array((0 until k).map(i => bloomIdx(fp, i, bits)): _*))
          .as("idx"))
      .select(col("doc_id"), expr("idx div 32").as("word_idx"),
        bloomBit.as("bit"))
      .join(broadcast(bloom), Seq("word_idx"), "left")
      .select(col("doc_id"),
        (coalesce(col("mask"), lit(0L)).bitwiseAND(col("bit")) === col("bit"))
          .as("hit"))
      .groupBy(col("doc_id"))
      .agg(min(col("hit")).as("maybe_seen"))
  }

  private def requireBloomShape(bits: Int, k: Int): Unit = {
    require(bits > 0 && bits % 32 == 0, s"bits must be a positive multiple of 32")
    require(k >= 1 && k <= 8, s"k must be in [1, 8], got $k")
  }

  /** The single-bit mask of a probe position within its 32-bit word
    * (SQL shiftleft, so the shift amount can be a column).
    */
  private def bloomBit: Column =
    expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 32 AS INT))")

  /** Probe position i: plain int64 arithmetic on the 58-bit fingerprint —
    * engine-portable (no wraparound), distinct odd multipliers per probe.
    */
  private def bloomIdx(fp: Column, i: Int, bits: Int): Column =
    (fp * lit((2L * i + 1)) + lit(i * 0x9E3779B9L)) % bits

  /** Incremental exact dedup — the production shape: dedup a NEW batch of
    * documents against itself and against the already-ingested corpus,
    * emitting only novel content (one representative per novel digest, with
    * the batch-internal duplicate count). The seen side collapses to its
    * distinct digests before the anti-join, so the shuffle carries 64-char
    * hashes, never text — at 100 TB the digest set is the only thing that
    * moves, and a broadcast anti-join applies whenever the seen-digest set
    * fits (Catalyst/AQE picks that automatically from its size).
    */
  def incrementalExact(batch: DataFrame, seen: DataFrame,
      textCol: String = "text"): DataFrame =
    collapseByDigest(novelByDigest(batch, seenDigests(seen, textCol), textCol))

  /** The seen corpus collapsed to its distinct content digests — the only
    * thing the anti-join needs. Streaming callers persist this so the
    * collapse is paid once, not once per micro-batch.
    */
  private[graft] def seenDigests(seen: DataFrame, textCol: String): DataFrame =
    seen.select(sha2(col(textCol), 256).as("content_hash")).distinct()

  /** Batch rows whose digest is absent from `seenHashes` (the single
    * definition of "novel" shared by batch and streaming incremental
    * dedup — the digest/normalization choice must never drift between
    * the two).
    */
  private[graft] def novelByDigest(batch: DataFrame, seenHashes: DataFrame,
      textCol: String): DataFrame =
    batch
      .withColumn("content_hash", sha2(col(textCol), 256))
      .join(seenHashes, Seq("content_hash"), "left_anti")

  /** Benchmark-contamination check: for each document, the fraction of its
    * distinct word n-grams that appear anywhere in the `benchmark` corpus —
    * the standard screen for evaluation data leaking into a training set.
    * Output: (doc_id, n_grams, n_hit, contamination), one row per document
    * that has at least one n-gram.
    *
    * Scale: the benchmark gram set is tiny relative to the corpus (eval
    * suites are thousands of docs, not billions), so the membership probe
    * is a semi-join against a set Catalyst can broadcast — corpus postings
    * never shuffle for it; the only exchange is the per-doc hit count on
    * doc_id.
    */
  def benchmarkContamination(docs: DataFrame, benchmark: DataFrame,
      n: Int = 3, textCol: String = "text"): DataFrame = {
    val sets = docs
      .select(col("doc_id"), ngrams(col(textCol), n).as("ng"))
      .filter(size(col("ng")) > 0)
    val benchGrams = benchmark
      .select(explode(ngrams(col(textCol), n)).as("g")).distinct()
    val hits = sets
      .select(col("doc_id"), explode(col("ng")).as("g"))
      .join(benchGrams, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    sets.select(col("doc_id"), size(col("ng")).cast("long").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_grams"))
          .as("contamination"))
  }

  /** Cross-corpus near-dup pairs: n-gram Jaccard ≥ threshold between a NEW
    * batch and the already-ingested corpus (the near-dup analog of
    * [[incrementalExact]] — daily crawl dedup runs exactly this shape).
    * Output: (batch_doc, seen_doc, jaccard); batch docs appearing in any
    * pair are near-dups of history and get dropped/linked by the caller.
    *
    * Scale: inverted-index join between the two posting lists — cost per
    * shingle is df_batch·df_seen, so only co-occurring shingles pay, and
    * the hot-shingle cap (document frequency across BOTH sides) bounds
    * the worst gram. The batch side is typically orders of magnitude
    * smaller than the corpus, which keeps the join skew-free; the exact
    * per-pair Jaccard then needs no second verify pass (counts and set
    * sizes ride the postings).
    */
  def crossNgramJaccardPairs(batch: DataFrame, seen: DataFrame,
      threshold: Double, textCol: String = "text",
      maxDocFreq: Long = 1000L,
      checkpointDir: Option[String] = None): DataFrame = {
    def sets(df: DataFrame) = df
      .select(col("doc_id"), ngrams(col(textCol)).as("ng"))
      .filter(size(col("ng")) > 0)
    def posting(s: DataFrame) = s.select(
      col("doc_id"), explode(col("ng")).as("g"), size(col("ng")).as("n"))
    // each posting feeds the hot-gram census AND its join leg: materialize
    // so the tokenize+shingle scan runs once per side, not twice. The
    // barrier is corpus-token-scale (unlike the KB verdict boundaries), so
    // on a real cluster pass `checkpointDir` to land it on reliable
    // storage — the localCheckpoint default pins executor blocks until GC
    // and cannot recover from executor loss (see [[graft.Materializer]]).
    val materialize = new graft.Materializer(checkpointDir)
    val pa = materialize(posting(sets(batch)))
    val pb = materialize(posting(sets(seen)))
    val hot = pa.select("g").unionByName(pb.select("g"))
      .groupBy("g").count().filter(col("count") > maxDocFreq).select("g")
    val a = pa.join(broadcast(hot), Seq("g"), "left_anti").as("a")
    val b = pb.join(broadcast(hot), Seq("g"), "left_anti").as("b")
    val pairs = a.join(b, col("a.g") === col("b.g"))
      .groupBy(col("a.doc_id").as("batch_doc"), col("b.doc_id").as("seen_doc"))
      .agg(
        count(lit(1)).as("common"),
        first(col("a.n")).as("na"),
        first(col("b.n")).as("nb"))
    val jac = col("common").cast("double") /
      (col("na") + col("nb") - col("common"))
    pairs.select(col("batch_doc"), col("seen_doc"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** All-pairs n-gram Jaccard similarity ≥ threshold with EXACT recall, via
    * prefix filtering (the AllPairs/PPJoin family, Bayardo et al., "Scaling
    * up all pairs similarity search", WWW 2007).
    * Output: (doc_a, doc_b, jaccard), doc_a < doc_b.
    *
    * Why not a plain inverted-index join: its cost is Σ_g df(g)², which
    * squares with duplication density — measured 426 s on a 50k corpus
    * where every document has 9 near-twins. The guarantee: if
    * jaccard(A,B) ≥ t then |A∩B| ≥ t·|A| (and ≥ t·|B|), so A and B must
    * share a shingle among each one's FIRST `|d| - ⌈t·|d|⌉ + 1` shingles
    * in any global canonical order; exact Jaccard verification on full
    * sets then removes false positives without losing any true pair.
    *
    * Skew guard (`maxDocFreq`): shingles above the document-frequency cap
    * are excluded from the index (broadcast anti-join). KNOWN RECALL LIMIT:
    * a pair whose every shared PREFIX shingle is hot — notably documents
    * duplicated more than `maxDocFreq` times — is never generated. Run
    * [[exact]] dedup first (it catches mass duplication at any frequency)
    * or raise the cap when that matters.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double,
      textCol: String = "text", maxDocFreq: Long = 1000L,
      checkpointDir: Option[String] = None): DataFrame = {
    val sets = docs
      .select(col("doc_id"), ngrams(col(textCol)).as("ng"))
      .filter(size(col("ng")) > 0)
    // Materialize the posting ONCE: the regime-switch stats below and the
    // chosen kernel would otherwise each re-run the regex tokenize +
    // shingle expansion (the scan side's dominant cost — self-join
    // subtrees and an eager prepass are never shared by Catalyst).
    // (doc_id, g, n) rows only — no per-gram aggregation, so no hot-gram
    // buffer risk at any scale; at cluster scale this is the inverted
    // index's stage table. The barrier is corpus-token-scale, so pass
    // `checkpointDir` on a real cluster to land it on reliable storage —
    // the localCheckpoint default pins executor blocks until GC and
    // cannot recover from executor loss (see [[graft.Materializer]]).
    val posting = new graft.Materializer(checkpointDir)(
      sets.select(
        col("doc_id"), explode(col("ng")).as("g"), size(col("ng")).as("n")))
    val dfTbl = posting.groupBy(col("g")).count().withColumnRenamed("count", "df")

    // Cost-based regime switch (one small aggregate job): the inverted-index
    // join emits Σ df·(df-1)/2 rows. When that is modest — and no shingle
    // exceeds the hot cap — the count-based path is cheapest (measured
    // 3.6 s vs 7.5 s at sf0.1). When duplication density blows the sum up,
    // prefix filtering wins by an unbounded margin (78.8 s vs 426 s on the
    // 50k near-twin corpus).
    val stats = dfTbl.agg(
      sum(col("df") * (col("df") - 1) / 2).cast("long").as("joinRows"),
      max(col("df")).as("maxDf")).first()
    val joinRows = Option(stats.getAs[Long]("joinRows")).getOrElse(0L)
    val maxDf = Option(stats.getAs[Long]("maxDf")).getOrElse(0L)

    if (joinRows <= MaxIndexJoinRows && maxDf <= maxDocFreq) {
      countJaccardPairs(posting, threshold)
    } else {
      val hot = dfTbl.filter(col("df") > maxDocFreq).select("g")
      // rarest-first canonical order minimizes prefix-bucket sizes
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
      val prefix = posting
        .join(dfTbl, "g")
        .join(broadcast(hot), Seq("g"), "left_anti")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("n") - ceil(lit(threshold) * col("n")).cast("int") + 1)
        .select("doc_id", "g")
      val a = prefix.as("a"); val b = prefix.as("b")
      val candidates = a.join(b,
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      verifyJaccard(candidates, sets, threshold)
    }
  }

  /** Inverted-index join output above which [[ngramJaccardPairs]] switches
    * to prefix filtering.
    */
  val MaxIndexJoinRows: Long = 20000000L

  /** The cost-model statistics behind [[ngramJaccardPairs]]'s regime
    * switch, as a first-class relation — the operational "dedup plan"
    * surface an operator of a 100 TB corpus reads BEFORE committing to a
    * near-dup pass: corpus size in shingle terms, the exact
    * inverted-index candidate-join volume Σ df·(df−1)/2, the hottest
    * shingle's document frequency, and the regime the switch would pick
    * at the given caps (the SAME decision rule, printed instead of
    * acted on). All counts are exact integers (the join volume uses
    * integer `div` — df·(df−1) is always even); one scan + one
    * shingle-keyed aggregate + two one-row frames, nothing else.
    */
  def dedupPlanStats(docs: DataFrame, textCol: String = "text",
      maxDocFreq: Long = 1000L,
      maxIndexJoinRows: Long = MaxIndexJoinRows): DataFrame = {
    val posting = docs
      .select(col("doc_id"), ngrams(col(textCol)).as("ng"))
      .filter(size(col("ng")) > 0)
      .select(col("doc_id"), explode(col("ng")).as("g"))
    val docsRow = posting.agg(
      countDistinct(col("doc_id")).cast("long").as("n_docs"))
    val shingleRow = posting.groupBy(col("g")).count()
      .withColumnRenamed("count", "df")
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(col("df")).cast("long").as("n_postings"),
        sum(expr("df * (df - 1) div 2")).cast("long")
          .as("candidate_join_rows"),
        max(col("df")).cast("long").as("max_df"))
    docsRow.crossJoin(shingleRow)
      .select(col("n_docs"), col("n_shingles"), col("n_postings"),
        col("candidate_join_rows"), col("max_df"),
        when(col("candidate_join_rows") <= maxIndexJoinRows &&
            col("max_df") <= maxDocFreq, lit("count-join"))
          .otherwise(lit("prefix-filter")).as("regime"))
  }

  /** Exact intersection counts for every co-occurring doc pair, from a
    * (doc_id, g, n) posting list: (doc_a, doc_b, common, na, nb) with
    * doc_a < doc_b — the count-regime kernel of [[ngramJaccardPairs]].
    *
    * Shape: ONE gram-keyed exchange (groupBy g + collect_list), pairs
    * expanded scan-side from each gram's doc list, then the pair
    * aggregate — instead of the posting SELF-join, which re-executes the
    * whole tokenize/shingle subtree once per join side (self-join
    * subtrees are not shared) and at scale shuffles the posting twice.
    * Measured at sf0.1 (noop sink, warm): q_dedup_ngram_jaccard
    * ~5.0 s self-join → ~2.5 s, and the same kernel feeds the whole
    * cluster/decision/leakage family.
    *
    * ONLY safe under the count-regime guarantee maxDf ≤ maxDocFreq
    * (callers switch on the df prepass before reaching here): each
    * gram's collected list is bounded by the cap (default 1000 structs,
    * ~16 KB), so no aggregation buffer can blow up on a hot shingle at
    * any corpus size.
    */
  private def pairCountsFromPosting(posting: DataFrame): DataFrame = {
    val grouped = posting.groupBy(col("g"))
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ds"))
      .filter(size(col("ds")) > 1)
    // all C(k,2) unordered pairs of each gram's (distinct) doc list via two
    // codegen'd Generate nodes + the a<b filter — NOT a higher-order
    // transform/slice/flatten, whose interpreted nested-array construction
    // measured ~1 s slower at sf0.1 on the containment posting; a doc
    // contributes each distinct shingle once, so each pair appears once
    // per shared gram
    val prs = grouped
      .select(explode(col("ds")).as("x"), col("ds"))
      .select(col("x"), explode(col("ds")).as("y"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
    prs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"),
        first(col("na")).as("na"),
        first(col("nb")).as("nb"))
  }

  /** Exact Jaccard from inverted-index counts: `common` is the number
    * of shared shingles, set sizes ride along on the postings.
    */
  private def countJaccardPairs(posting: DataFrame, threshold: Double): DataFrame = {
    val pairs = pairCountsFromPosting(posting)
    val jac = col("common").cast("double") /
      (col("na") + col("nb") - col("common"))
    pairs.select(col("doc_a"), col("doc_b"), jac.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash + LSH near-dup pairs: `numHashes` universal-hash minima per
    * document, banded into `bands` buckets; candidates sharing any band
    * bucket get an exact Jaccard verify against `threshold`.
    *
    * The whole signature is computed by the native [[MinHash]] expression
    * in one pass over each document's shingle array — no shuffle until the
    * band-bucket join (the explode-postings-×-hashes-then-groupBy shape
    * moves |ngrams|×numHashes rows through an exchange for the same
    * result).
    */
  def minhashNearDups(docs: DataFrame, threshold: Double,
      numHashes: Int = 32, bands: Int = 8, textCol: String = "text"): DataFrame = {
    val sets = ngramSets(docs, textCol)
    val bandKeys = minhashBandKeys(sets, numHashes, bands)

    val ca = bandKeys.as("a"); val cb = bandKeys.as("b")
    val candidates = ca.join(cb,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    verifyJaccard(candidates, sets, threshold)
  }

  /** (doc_id, band, bucket) LSH band keys of each document's minhash
    * signature — the shared banding kernel of [[minhashNearDups]] and the
    * persisted [[MinhashIndex]]: the signature is one pass of the native
    * [[MinHash]] expression, each band's rows are folded into a single
    * xxhash64 bucket key, and two documents are near-dup CANDIDATES iff
    * they agree on any band's bucket. Build-side and batch-side banding
    * MUST be this one function, or index lookups silently miss.
    */
  private[graft] def minhashBandKeys(sets: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sigs = sets.select(col("doc_id"),
      MinHash.minhashSignature(col("ng"), numHashes).as("sig"))
    sigs.select(col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*))
        .as(Seq("band", "bucket")))
  }

  /** doc_id → distinct-ngram set of each document, empty-set rows dropped —
    * the shared shingling front of the minhash paths. */
  private[graft] def ngramSets(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), ngrams(col(textCol)).as("ng"))
      .filter(size(col("ng")) > 0)

  /** Exact-Jaccard verification of candidate pairs against the ngram sets. */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame = {
    val sa = sets.select(col("doc_id").as("doc_a"), col("ng").as("ng_a"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("ng").as("ng_b"))
    candidates.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("common", size(array_intersect(col("ng_a"), col("ng_b"))))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("ng_a")) + size(col("ng_b")) - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Asymmetric n-gram CONTAINMENT pairs — near-SUPERSET detection, the
    * relation Jaccard is blind to: a quoted article inside a long page, a
    * concatenation of two documents, boilerplate wrapping a real text.
    * containment(A→B) = |ng(A) ∩ ng(B)| / |ng(A)| — how much of A's
    * shingle set lives inside B — reaches 1.0 when B swallows A whole,
    * while Jaccard collapses toward |A|/|B| and slips under every dedup
    * threshold as B grows (Broder '97 distinguishes exactly these two
    * resemblance/containment measures).
    *
    * Emits each unordered pair once (doc_a < doc_b) with BOTH directions'
    * exact containment, kept when either direction ≥ `threshold`. Two
    * regimes, probed like [[ngramJaccardPairs]]: with no shingle above
    * `maxDocFreq`, the postings self-join count IS the exact intersection
    * (one join, one aggregate — no candidate materialization, no second
    * pass over full arrays). With hot shingles, they are excluded from
    * candidacy (same skew guard and KNOWN RECALL LIMIT as the Jaccard
    * path: pairs sharing only above-cap shingles are never generated) and
    * each candidate is verified on the FULL shingle sets, so reported
    * values stay exact. At the scale where the index join's Σdf² explodes,
    * the one-sided prefix bound (a qualifying pair must collide inside A's
    * first ⌈(1−t)·|A|⌉+1 rarest shingles — the asymmetric analog of the
    * PPJoin prefix) bounds the index instead; that switch mirrors the
    * Jaccard path's regime machinery.
    */
  def containmentPairs(docs: DataFrame, threshold: Double,
      textCol: String = "text", maxDocFreq: Long = 1000L,
      checkpointDir: Option[String] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val sets = docs
      .select(col("doc_id"), ngrams(col(textCol)).as("ng"))
      .filter(size(col("ng")) > 0)
    // one materialized posting feeds the maxDf prepass AND both self-join
    // legs — see [[ngramJaccardPairs]]'s posting checkpoint note (incl.
    // the checkpointDir knob for reliable storage at cluster scale)
    val posting = new graft.Materializer(checkpointDir)(
      sets.select(
        col("doc_id"), explode(col("ng")).as("g"), size(col("ng")).as("n")))
    val dfTbl = posting.groupBy(col("g")).count().withColumnRenamed("count", "df")
    val maxDf = Option(dfTbl.agg(max(col("df")).as("m")).first().getAs[Long]("m"))
      .getOrElse(0L)
    val contained = (pairs: DataFrame) => pairs
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") / col("na")).as("containment_a"),
        (col("common").cast("double") / col("nb")).as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
    if (maxDf <= maxDocFreq) {
      // no hot shingles ⇒ the postings self-join count IS the exact
      // intersection: one join + one aggregate, no candidate
      // materialization and no second pass over the full shingle arrays.
      // Deliberately NOT [[pairCountsFromPosting]] (the Jaccard path's
      // kernel): measured at sf0.1 with the noop sink, this query's input
      // subtree (corpus ∪ engineered concat self-join) makes the self-join
      // the faster shape here (warm 2.2 s vs 3.0 s grouped) — the planner
      // broadcasts one posting side, so the join adds no exchange, while
      // the grouped kernel pays a full string-gram exchange.
      val a = posting.as("a"); val b = posting.hint("shuffle_hash").as("b")
      contained(a.join(b,
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("common"),
          first(col("a.n")).as("na"), first(col("b.n")).as("nb")))
    } else {
      // hot shingles excluded from candidacy (the documented recall
      // limit), so the capped-index count undercounts — verify each
      // candidate on the FULL sets to keep reported values exact
      val hot = dfTbl.filter(col("df") > maxDocFreq).select("g")
      val idx = posting.join(broadcast(hot), Seq("g"), "left_anti")
      val a = idx.as("a"); val b = idx.as("b")
      val candidates = a.join(b,
          col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val sa = sets.select(col("doc_id").as("doc_a"), col("ng").as("ng_a"))
      val sb = sets.select(col("doc_id").as("doc_b"), col("ng").as("ng_b"))
      contained(candidates.join(sa, "doc_a").join(sb, "doc_b")
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("ng_a"), col("ng_b"))).as("common"),
          size(col("ng_a")).as("na"), size(col("ng_b")).as("nb")))
    }
  }

  /** Duplicate CLUSTERS from a near-dup pair list: connected components
    * with the component's min doc_id as the cluster label — the step that
    * turns pairwise similarity into deduplication decisions (keep one doc
    * per cluster).
    *
    * Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round, every node
    * first hands its LARGER neighbors to its local minimum (large-star),
    * then every node's smaller neighborhood collapses onto that minimum
    * (small-star), halving path lengths each round — O(log n) rounds on
    * chain-shaped components, where plain min-label propagation needs
    * O(diameter) rounds (a 100k-link near-dup chain would blow any sane
    * iteration cap). Near-clique components (the common near-dup shape)
    * still converge in ~2 rounds. Each phase is one aggregate + one join
    * on the edge list — fully distributed, driver only probes
    * convergence. `maxIters` still throws rather than silently emitting
    * half-merged clusters.
    *
    * Output: (doc_id, cluster_id) for every doc that appears in a pair.
    */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 20,
      checkpointDir: Option[String] = None,
      maxLocalEdges: Long = DefaultMaxLocalEdges): DataFrame =
    duplicateClustersWithRounds(pairs, maxIters, checkpointDir,
      maxLocalEdges)._1

  /** Edge count at or below which [[duplicateClusters]] solves the
    * components with a driver-local union-find instead of distributed star
    * rounds (round-18). 4M edges is ~64 MB of key payload — the same order
    * as a routine broadcast-join build side (guide §3.1), far under the
    * 8 GB broadcast cap, and the near-dup pair set is orders of magnitude
    * smaller than its corpus by construction. Below the switch the star
    * rounds' per-round cost is pure scheduling (3+ exchanges, a checkpoint
    * and a convergence probe per round over a KB-scale frame — measured
    * ~2-4 s of nearly idle wall per clustering at sf0.1); the union-find
    * answers in milliseconds with ONE collect of the already-materialized
    * edge frame. Above it — the 100 TB regime — the distributed
    * contraction runs exactly as before (a ladder/Stress `chain` rung and
    * the arm-equality spec pin it). Same switch-not-cap pattern as
    * [[graft.functions.Similarity.annSearchIndexed]]'s maxQueries.
    */
  val DefaultMaxLocalEdges: Long = 4L * 1024 * 1024

  /** [[duplicateClusters]] + the number of star rounds it took — exposed so
    * stress fixtures can assert the O(log n) convergence bound (0 rounds
    * when the small-graph union-find arm answered; pass `maxLocalEdges = 0`
    * to force the distributed arm).
    */
  def duplicateClustersWithRounds(pairs: DataFrame,
      maxIters: Int = 20, checkpointDir: Option[String] = None,
      maxLocalEdges: Long = DefaultMaxLocalEdges): (DataFrame, Int) = {
    val materialize = new graft.Materializer(checkpointDir)
    // Materialize the edge list ONCE: without this every star round (and
    // its convergence probe) re-executes the whole upstream pair pipeline —
    // measured 17 s vs 6 s at sf0.1 with ngram-Jaccard pairs upstream. The
    // pair set is orders of magnitude smaller than the corpus, so
    // checkpointing it is cheap at any scale.
    var edges = materialize(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    // carry each round's count forward: re-counting the previous
    // (already materialized) frame cost one extra job per round
    var edgeCount = edges.count()
    val longKeyed = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (edgeCount <= maxLocalEdges && longKeyed)
      return (localUnionFind(edges), 0)
    var iter = 0
    var converged = false
    while (!converged) {
      require(iter < maxIters, s"star rounds exceeded $maxIters")
      // checkpoint FIRST, probe convergence on the materialized frame —
      // probing the un-checkpointed plan would execute the round twice
      val next = materialize(smallStar(largeStar(edges)))
      val nextCount = next.count()
      // fixpoint = identical edge sets (both sides are distinct frames)
      val changed = nextCount != edgeCount ||
        next.exceptAll(edges).limit(1).count() > 0
      edgeCount = nextCount
      // release the superseded copy's blocks — without this every round
      // pins another full edge-set copy in executor storage
      if (changed) { edges.unpersist(); edges = next }
      else next.unpersist() // identical content; keep the current frame
      converged = !changed
      iter += 1
    }
    // at fixpoint the edge set is a union of stars: every non-root points
    // at its component's minimum, roots appear only on the dst side
    val labels = materialize(
      edges.select(col("src").as("doc_id"), col("dst").as("cluster_id"))
        .unionByName(edges.select(col("dst").as("doc_id"), col("dst").as("cluster_id")))
        .distinct()) // so the star edge blocks can be released now
    edges.unpersist()
    (labels, iter)
  }

  /** The small-graph arm of [[duplicateClusters]]: textbook union-find with
    * path compression over a collected edge frame, root = component MIN id
    * (unions always attach the larger root under the smaller, so find()
    * lands on the minimum — exactly the distributed contraction's label).
    * Output schema matches the distributed arm: (doc_id, cluster_id), one
    * row per node that appears in a pair. Bounded by [[DefaultMaxLocalEdges]]
    * at the caller; the collected frame is released before returning.
    */
  private def localUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val rows = edges.collect()
    edges.unpersist()
    val parent = new scala.collection.mutable.LongMap[Long](rows.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var i = 0
    while (i < rows.length) {
      val a = rows(i).getLong(0); val b = rows(i).getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
      i += 1
    }
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](parent.size)
    // snapshot the keys first: find()'s path compression mutates the map
    val keys = parent.keysIterator.toArray
    var k = 0
    while (k < keys.length) {
      out.add(org.apache.spark.sql.Row(keys(k), find(keys(k))))
      k += 1
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(out, schema)
  }

  /** The end-to-end dedup VERDICT a corpus pipeline consumes: every
    * document with its cluster (itself when unpaired) and a `keep` flag —
    * one kept representative per cluster, the min doc_id (deterministic
    * and stable under re-runs: new near-dups of a kept doc never flip an
    * earlier keep). `docs.filter(col("keep"))` IS the deduplicated corpus.
    */
  def dedupDecisions(docs: DataFrame, pairs: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    val clusters = duplicateClusters(pairs, checkpointDir = checkpointDir)
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        (coalesce(col("cluster_id"), col("doc_id")) === col("doc_id")).as("keep"))
  }

  /** PERSIST the duplicate-cluster table — the index discipline applied to
    * the pipeline's most expensive artifact. At 100 TB near-dup clustering
    * (pair generation + the star contraction) is the costliest job in the
    * pipeline, and every consumer that embeds [[dedupDecisions]] re-derives
    * it per call (the leakage-safe split, the cluster-size audit, the keep
    * filter). This materializes the decision table ONCE:
    *
    *  - `<name>_clusters` (doc_id, cluster_id, keep): one row per corpus
    *    document (singletons included), bucketed+sorted by doc_id — the
    *    join key every consumer attaches on, so the read side is a
    *    bucket-pruned scan, not a recompute.
    *  - `<name>_meta` (n_docs, n_clusters): published LAST, so a torn
    *    build is never queryable ([[MinhashIndex.write]]'s torn-publish
    *    discipline — readers resolve `_meta` first).
    *
    * The stored table IS [[dedupDecisions]]'s answer for (docs, pairs):
    * write→read fidelity is hash-certified by running the indexed readers
    * under the SAME recursive-CTE oracles as the from-scratch paths
    * (q_split_leakage_safe_indexed, q_dedup_cluster_sizes_indexed).
    */
  def writeClusterTable(docs: DataFrame, pairs: DataFrame, name: String,
      buckets: Int = 8, checkpointDir: Option[String] = None): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val spark = docs.sparkSession
    dropClusterTable(spark, name)
    try {
      graft.sources.ManagedTables.writeBucketed(
        dedupDecisions(docs, pairs, checkpointDir),
        s"${name}_clusters", "doc_id", buckets)
      val stored = spark.table(s"${name}_clusters")
      // exact counts from the stored rows (not the plan that produced
      // them), so meta can never disagree with what readers will scan
      val agg = stored.agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("cluster_id")).as("n_clusters")).first()
      import spark.implicits._
      Seq((agg.getLong(0), agg.getLong(1))).toDF("n_docs", "n_clusters")
        .write.mode("overwrite").format("parquet").saveAsTable(s"${name}_meta")
    } catch {
      case e: Throwable => dropClusterTable(spark, name); throw e
    }
  }

  /** Read a [[writeClusterTable]] index: resolves `_meta` FIRST (a torn
    * build without it fails here instead of answering partially), then
    * returns the stored decision table (doc_id, cluster_id, keep).
    */
  def clusterTable(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    require(spark.table(s"${name}_meta").first().getLong(0) >= 0L,
      s"cluster table $name has corrupt meta")
    spark.table(s"${name}_clusters")
  }

  /** Drop both cluster-table artifacts AND their directories. */
  def dropClusterTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_meta", s"${name}_clusters"))

  /** TARGETED DELETION from a [[writeClusterTable]] — the one artifact
    * family where deletion is NOT row-independent: removing a document
    * can re-elect a cluster's kept representative (the deleted doc was
    * the min id), re-label the cluster (the min id WAS the cluster_id),
    * or even SPLIT a cluster (the deleted doc was the only bridge
    * between two near-dup neighborhoods). A tombstone alone cannot
    * express any of those, so this is EAGER and scoped: only the
    * clusters containing a deleted doc are re-clustered, on the pair
    * graph induced over their surviving members — components can only
    * split (never merge) when vertices are removed, and no edge crosses
    * old components, so the recompute equals a full rebuild on
    * corpus-minus-deleted exactly (hash-certified by
    * q_dedup_cluster_sizes_deleted, whose deleted clones carry ids that
    * force all three re-election effects).
    *
    * `pairs` must be the SAME pair relation the table was built from
    * (pairs touching deleted docs are dropped here); the deletion batch
    * is bounded (driver-side touched-cluster literal — the maxQueries
    * contract). Cost: O(touched clusters) recompute + the staged
    * rewrite; `_meta` is re-aggregated from the stored rows.
    */
  def deleteFromClusterTable(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long], pairs: DataFrame,
      checkpointDir: Option[String] = None): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    require(ids.nonEmpty, "empty deletion batch")
    val ct = spark.table(s"${name}_clusters")
    import spark.implicits._
    val touched = ct.filter(col("doc_id").isin(ids.map(Long.box): _*))
      .select(col("cluster_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    if (touched.nonEmpty) {
      val touchedLits = touched.map(Long.box)
      val untouched = ct.filter(!col("cluster_id").isin(touchedLits: _*))
      val remaining = ct.filter(col("cluster_id").isin(touchedLits: _*))
        .filter(!col("doc_id").isin(ids.map(Long.box): _*))
        .select(col("doc_id"))
        .localCheckpoint(true) // feeds both pair legs and the re-cluster
      val subPairs = pairs
        .join(remaining.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
        .join(remaining.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"))
      val recomputed = dedupDecisions(remaining, subPairs, checkpointDir)
      graft.sources.ManagedTables.rewriteBucketed(spark, s"${name}_clusters",
        untouched.select("doc_id", "cluster_id", "keep")
          .unionByName(recomputed.select("doc_id", "cluster_id", "keep")))
      val stored = spark.table(s"${name}_clusters")
      val agg = stored.agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("cluster_id")).as("n_clusters")).first()
      Seq((agg.getLong(0), agg.getLong(1))).toDF("n_docs", "n_clusters")
        .write.mode("overwrite").format("parquet").saveAsTable(s"${name}_meta")
    }
  }

  /** CHUNK-level exact dedup — the tractable approximation of
    * exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", 2022): split every document into fixed
    * `chunkTokens`-token windows, fingerprint each window, and mark every
    * chunk whose content already occurred at a lower (doc_id, chunk_idx).
    * Catches the sub-document redundancy document-level dedup is blind to
    * (shared boilerplate headers/footers, quoted passages, mirrored
    * sections) at a granularity the suffix-array method gets exactly but
    * cannot get distributed.
    *
    * First-occurrence rule: min (doc_id, chunk_idx) keeps — deterministic,
    * stable under re-runs, consistent with [[dedupDecisions]]. Output: one
    * row per document — (doc_id, n_chunks, n_dup_chunks, dup_chunk_frac);
    * NULL-text documents keep n_chunks 0 and a NULL fraction. The fraction
    * is the only double: one division of two exact counts.
    *
    * Scale shape: the explode multiplies rows by n/chunkTokens but the
    * window shuffle carries ONLY (fingerprint, doc_id, idx) — text never
    * moves after the scan-side fingerprint projection; the per-fingerprint
    * rank then one doc_id aggregate are the standard postings shape.
    */
  def chunkDedup(docs: DataFrame, chunkTokens: Int = 16,
      textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0, "chunk size must be positive")
    val c = chunkTokens
    val toked = docs
      .select(col("doc_id"), TextAnalysis.tokens(col(textCol)).as("__t"))
      .filter(col("__t").isNotNull && size(col("__t")) > 0)
    // chunk indexes 0 .. ⌈n/c⌉-1 = (n-1)/c (n ≥ 1 after the filter); the
    // ragged tail chunk keeps its short slice
    val chunks = toked
      .select(col("doc_id"),
        // (n-1)/c is exact here: both operands non-negative ints, so the
        // double division truncates to the same floor an int division gives
        explode(sequence(lit(0), ((size(col("__t")) - 1) / c).cast("int"))).as("idx"),
        col("__t"))
      .select(col("doc_id"), col("idx"),
        TextAnalysis.fingerprint(
          array_join(slice(col("__t"), col("idx") * c + 1, lit(c)), " ")).as("__f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__f")).orderBy(col("doc_id"), col("idx"))
    val perDoc = chunks
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        (col("n_dup_chunks").cast("double") /
          col("n_chunks").cast("double")).as("dup_chunk_frac"))
  }

  /** Duplicate-PASSAGE detection: maximal runs of consecutive shared
    * fixed-size token chunks between document pairs — the span-level
    * reading the chunk counters in [[chunkDedup]] can't give (WHERE inside
    * each pair the copied region sits, and how long it is). This is the
    * practical stand-in for suffix-array exact-substring dedup (Lee et al.
    * 2022): boilerplate headers, quoted reposts, and template passages
    * surface as (doc_a, doc_b, start_a, start_b, n_chunks) spans at chunk
    * resolution.
    *
    * Scale shape: chunks collapse to 58-bit rolling-hash fingerprints in
    * the scan projection (text never shuffles); fingerprints occurring in
    * more than `maxChunkDf` chunks are excluded BEFORE pairing — the same
    * hot-key guard as the ngram inverted index, bounding the per-key
    * quadratic join at ubiquity boilerplate ("all rights reserved"). The
    * pair join is a hash equi-join on the fingerprint; runs then resolve
    * with ONE window partitioned by (doc_a, doc_b, diagonal): consecutive
    * matches share ia−ib, so islands fall out of ia − row_number — the
    * gaps-and-islands rewrite, no per-span iteration.
    *
    * Output: (doc_a, doc_b, start_a, start_b, n_chunks, approx_tokens),
    * doc_a < doc_b, chunk indexes 0-based, spans of at least `minChunks`
    * chunks.
    */
  def duplicatePassages(docs: DataFrame, chunkTokens: Int = 16,
      minChunks: Int = 2, maxChunkDf: Long = 64,
      textCol: String = "text",
      checkpointDir: Option[String] = None): DataFrame = {
    require(chunkTokens > 0, "chunk size must be positive")
    require(minChunks > 0, "minChunks must be positive")
    val c = chunkTokens
    val chunks = chunkFingerprints(docs, c, textCol)
    // materialize the screened chunk table ONCE: the self-join would
    // otherwise re-chunk and re-screen the corpus on both sides; the
    // materialized rows are (doc_id, idx, fingerprint) — 24 bytes/chunk,
    // not text (see [[graft.Materializer]] for the cluster-reliable mode)
    val materialize = new graft.Materializer(checkpointDir)
    val rare = materialize(screenHotChunks(chunks, maxChunkDf))
    val m = rare.as("a")
      .join(rare.as("b"),
        col("a.__f") === col("b.__f") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.idx").as("ia"), col("b.idx").as("ib"))
    diagonalRuns(m, "doc_a", "doc_b", minChunks, c)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("n_chunks"), col("approx_tokens"))
  }

  /** BIPARTITE passage screen — benchmark DECONTAMINATION at span level:
    * every maximal run of consecutive chunks a corpus document shares with
    * a benchmark document, reported as (corpus_doc, bench_doc,
    * start_corpus, start_bench, n_chunks). [[benchmarkContamination]] and
    * [[semanticContamination]] say THAT a doc overlaps the benchmark;
    * this says WHERE and HOW MUCH — the evidence a removal decision
    * actually needs. Same machinery as [[duplicatePassages]] with the
    * self-join replaced by a corpus⋈benchmark join: the benchmark side is
    * small and broadcasts; the hot-chunk screen runs on the CORPUS
    * occurrence counts (a corpus-ubiquitous chunk is boilerplate and
    * cannot implicate a benchmark anyway — dropping it bounds the join).
    */
  def duplicatePassagesAgainst(corpus: DataFrame, benchmark: DataFrame,
      chunkTokens: Int = 16, minChunks: Int = 2, maxChunkDf: Long = 64,
      textCol: String = "text",
      checkpointDir: Option[String] = None): DataFrame = {
    require(chunkTokens > 0, "chunk size must be positive")
    require(minChunks > 0, "minChunks must be positive")
    val c = chunkTokens
    val materialize = new graft.Materializer(checkpointDir)
    val rare = materialize(screenHotChunks(
      chunkFingerprints(corpus, c, textCol), maxChunkDf))
    val bench = chunkFingerprints(benchmark, c, textCol)
    val m = rare
      .select(col("doc_id").as("corpus_doc"), col("idx").as("ia"), col("__f"))
      .join(broadcast(bench.select(col("doc_id").as("bench_doc"),
        col("idx").as("ib"), col("__f"))), Seq("__f"))
      .select(col("corpus_doc"), col("bench_doc"), col("ia"), col("ib"))
    diagonalRuns(m, "corpus_doc", "bench_doc", minChunks, c)
      .select(col("corpus_doc"), col("bench_doc"),
        col("start_a").as("start_corpus"), col("start_b").as("start_bench"),
        col("n_chunks"), col("approx_tokens"))
  }

  /** SCRUB duplicated passages — the REMOVAL half of exact-substring dedup
    * (Lee et al. 2022): [[duplicatePassages]] says where the copied spans
    * sit; this excises them and ships the cleaned corpus. Keep-first rule:
    * `runs` carries doc_a < doc_b, so every span's doc_b side is the
    * non-first occurrence — its chunks [start_b, start_b + n_chunks) are
    * removed; the doc_a copy survives. Deterministic and stable under
    * re-runs (same rule as [[dedupDecisions]]' min-id representative).
    *
    * Reconstruction is token-slice arithmetic: the document re-tokenizes
    * (`chunkTokens` MUST match the run detection), kept chunk slices
    * concatenate in order, and the output text is the space-joined kept
    * tokens — whitespace-canonical by construction (the same token basis
    * the fingerprints hashed). NULL-text documents stay NULL; a document
    * whose every chunk is removed comes back as the empty string.
    *
    * Scale shape: the removal set is one explode + distinct over the run
    * table (spans, not text), aggregated to a per-doc sorted index array;
    * attaching it is one hash join on doc_id; the slice concat is a
    * scan-side projection. Text shuffles nowhere — the join carries only
    * index arrays. Output: (doc_id, n_chunks, n_removed_chunks, text).
    */
  /** DECONTAMINATE the corpus against a benchmark/eval suite — the
    * composition real pipelines ship: [[duplicatePassagesAgainst]] finds
    * WHERE benchmark text leaked into training documents (span-level,
    * not doc-level), and [[scrubPassages]] excises exactly those spans
    * and rebuilds the text, leaving the rest of each document usable
    * (doc-level decontamination throws away an entire page because one
    * paragraph quotes an eval question). A corpus document that IS a
    * benchmark item comes back as '' — removed in full, visibly.
    * Output: every corpus doc as (doc_id, n_chunks, n_removed_chunks,
    * text). Scale shape is the two components': bipartite chunk match
    * with broadcast benchmark + hot-chunk screen, removal set as index
    * arrays, reconstruction as a scan-side slice concat.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      chunkTokens: Int = 16, minChunks: Int = 2, maxChunkDf: Long = 64,
      textCol: String = "text",
      checkpointDir: Option[String] = None): DataFrame =
    scrubPassages(corpus,
      duplicatePassagesAgainst(corpus, benchmark, chunkTokens, minChunks,
        maxChunkDf, textCol, checkpointDir)
        .select(col("corpus_doc").as("doc_b"),
          col("start_corpus").as("start_b"), col("n_chunks")),
      chunkTokens, textCol)

  def scrubPassages(docs: DataFrame, runs: DataFrame, chunkTokens: Int = 16,
      textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0, "chunk size must be positive")
    val c = chunkTokens
    val removed = runs
      .select(col("doc_b").as("doc_id"),
        explode(sequence(col("start_b").cast("long"),
          col("start_b").cast("long") + col("n_chunks").cast("long") - 1))
          .as("__rm"))
      .distinct() // overlapping spans from different partner docs
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("__rm"))).as("__rms"))
    docs
      .select(col("doc_id"), toks(col(textCol)).as("__t"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__t"),
        coalesce(col("__rms"), array().cast("array<long>")).as("__rms"),
        // (n-1)/c truncates exactly (non-negative operands, same floor as
        // int division — the chunkDedup/chunkFingerprints convention)
        when(col("__t").isNull || size(col("__t")) === 0, lit(0L))
          .otherwise(((size(col("__t")) - 1) / c).cast("long") + 1)
          .as("n_chunks"))
      .select(col("doc_id"), col("n_chunks"),
        size(col("__rms")).cast("long").as("n_removed_chunks"),
        when(col("__t").isNull, lit(null).cast("string"))
          .when(col("n_chunks") === 0, lit(""))
          .otherwise(array_join(
            flatten(transform(
              filter(sequence(lit(0L), col("n_chunks") - 1),
                i => !array_contains(col("__rms"), i)),
              i => slice(col("__t"), (i * c + 1).cast("int"), lit(c)))),
            " ")).as("text"))
  }

  /** (doc_id, idx, __f): non-overlapping `c`-token chunks collapsed to
    * rolling-hash fingerprints inside the scan projection (text never
    * survives past this frame).
    */
  private def chunkFingerprints(docs: DataFrame, c: Int,
      textCol: String): DataFrame =
    docs
      .select(col("doc_id"), toks(col(textCol)).as("__t"))
      .filter(col("__t").isNotNull && size(col("__t")) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0), ((size(col("__t")) - 1) / c).cast("int"))).as("idx"),
        col("__t"))
      .select(col("doc_id"), col("idx").cast("long").as("idx"),
        TextAnalysis.fingerprint(
          array_join(slice(col("__t"), col("idx") * c + 1, lit(c)), " ")).as("__f"))

  /** Drop fingerprints occurring in more than `maxChunkDf` chunks — the
    * hot-key guard bounding the per-fingerprint quadratic pair join.
    */
  private def screenHotChunks(chunks: DataFrame, maxChunkDf: Long): DataFrame = {
    val hot = chunks.groupBy(col("__f")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxChunkDf)
      .select(col("__f"))
    chunks.join(hot, Seq("__f"), "left_anti")
  }

  /** Gaps-and-islands over matched chunk pairs (keyA, keyB, ia, ib):
    * consecutive matches share the diagonal ia−ib, so one window per
    * (keyA, keyB, diagonal) resolves maximal runs — no per-span iteration.
    */
  private def diagonalRuns(m: DataFrame, keyA: String, keyB: String,
      minChunks: Int, chunkTokens: Int): DataFrame = {
    val wDiag = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyA), col(keyB), col("diag"))
      .orderBy(col("ia"))
    m.withColumn("diag", col("ia") - col("ib"))
      .withColumn("grp", col("ia") - row_number().over(wDiag))
      .groupBy(col(keyA), col(keyB), col("diag"), col("grp"))
      .agg(min(col("ia")).as("start_a"), min(col("ib")).as("start_b"),
        count(lit(1)).as("n_chunks"))
      .filter(col("n_chunks") >= minChunks)
      .withColumn("approx_tokens", col("n_chunks") * lit(chunkTokens.toLong))
  }

  /** Large-star: for every node u (over the symmetrized neighborhood),
    * connect each neighbor LARGER than u to m = min(N(u) ∪ {u}).
    */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("m"))
    // NO trailing distinct (round-18): the output feeds [[smallStar]],
    // whose min-aggregate is duplicate-insensitive and whose own trailing
    // distinct dedups the round's result — the exchange here bought
    // nothing. Output is oriented src > dst by construction
    // (dst > src ≥ m) and bounded by |edges| rows, so no blowup either.
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
  }

  /** Small-star: direct every edge from its larger to its smaller end,
    * then collapse each node's smaller neighborhood (and itself) onto
    * m = min of that neighborhood.
    */
  private def smallStar(edges: DataFrame): DataFrame = {
    // no distinct on the directed input (round-18): [[largeStar]]'s output
    // arrives with duplicates by design; the min-aggregate below ignores
    // them and the trailing distinct dedups the emitted edges — the input
    // distinct was a full extra exchange per round for nothing
    val dir = edges.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
    val mins = dir.groupBy(col("src")).agg(min(col("dst")).as("m"))
    dir.join(mins, "src")
      .filter(col("dst") =!= col("m"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .unionByName(mins.select(col("src"), col("m").as("dst")))
      .distinct()
  }

  /** SimHash near-dup pairs: 64-bit signature per document (see
    * [[SimHash.simhash64]]), banded into 4×16-bit chunks; candidates sharing
    * a chunk get a Hamming-distance verify ≤ maxHamming.
    */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
      textCol: String = "text"): DataFrame =
    bandedHammingPairs(docs.select(col("doc_id"),
      SimHash.simhash64(toks(col(textCol))).as("sig")), maxHamming)

  /** Banded-Hamming near-dup pairs over ANY 64-bit signature frame
    * `(doc_id, sig)` — the shared candidate-generation tail of
    * [[simhashNearDups]] and the perceptual image/content dHash
    * ([[Multimodal.phashNearDups]]): 4 bands of 16 bits, candidates share
    * a band chunk (guaranteed recall for Hamming ≤ 3 by pigeonhole; a
    * radius-`maxHamming` > 3 search keeps the same candidate generator
    * and verifies the larger radius — banding recall then degrades
    * gracefully instead of the join exploding), Hamming verify on the
    * full signature. Arithmetic shift + mask makes the chunks sign-safe.
    */
  /** CORPUS-WIDE LINE dedup — the C4 cleaning stage (Raffel et al. 2020
    * §2.2 deduplicate at span level, the RefinedWeb/Dolma line rule): a
    * line (any `lineSep`-delimited unit) that occurs at least `minCount`
    * times ACROSS THE CORPUS keeps only its FIRST occurrence (ordered by
    * (doc_id, line index) — deterministic, consistent with
    * [[scrubPassages]]'s keep-first rule); every later copy is excised
    * and each document's text is rebuilt from its surviving lines in
    * order. This is the boilerplate killer exact-document dedup cannot
    * see: navigation chrome, cookie banners, and licence footers repeat
    * across MILLIONS of otherwise-distinct pages.
    *
    * Scale shape: one shuffle keyed by the line itself (exact equality —
    * no hash-collision false merges; rows carry (doc_id, idx, line)
    * once, the same corpus-sized exchange any exact dedup pays), then a
    * per-document rebuild aggregate. Output one row per non-NULL-text
    * input document ([[paragraphDedup]]'s contract — NULL text has no
    * lines to keep or drop; filter upstream if such rows must be
    * preserved): (doc_id, n_lines, n_kept, text) — text is '' when every
    * line was a later duplicate, never NULL.
    */
  def lineDedup(docs: DataFrame, minCount: Int = 2, lineSep: String = "\n",
      textCol: String = "text"): DataFrame = {
    require(minCount >= 2, "minCount < 2 would drop every non-first line")
    val lines = docs
      .filter(col(textCol).isNotNull)
      .select(col("doc_id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(lineSep))).as(Seq("idx", "line")))
    val wOcc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("line")).orderBy(col("doc_id"), col("idx"))
    val wCnt = org.apache.spark.sql.expressions.Window.partitionBy(col("line"))
    lines
      .withColumn("occ", row_number().over(wOcc))
      .withColumn("n_occ", count(lit(1)).over(wCnt))
      .withColumn("keep", col("occ") === 1 || col("n_occ") < minCount)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(lineSep,
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("idx"), col("line"))))),
            s => s.getField("line"))).as(textCol))
  }

  /** SUBSTRING-LEVEL exact dedup — repeated-substring REMOVAL (the
    * Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better" granularity, the one level between [[chunkDedup]] and
    * [[lineDedup]]: a repeat need not align to any chunk or line
    * boundary). Every `windowLen`-code-point sliding window of every
    * document is a candidate unit; a window occurrence whose exact text
    * occurred at a strictly earlier (doc_id, pos) anywhere in the
    * corpus is a DUPLICATE, and every character covered by a duplicate
    * window is excised (keep-first — the first occurrence survives,
    * [[lineDedup]]'s rule). Overlapping duplicate windows merge into
    * maximal spans, so a repeated passage of ANY length ≥ windowLen is
    * removed as one span regardless of its offset in either document.
    *
    * Spark-native shape (suffix arrays don't distribute; this does):
    *  1. ANCHOR pass — [[RollingHash.windowHashesCol]] emits all window
    *     hashes in O(len) per document inside the scan (wrapping
    *     mod-2^64 Karp–Rabin roll, a native codegen kernel), and the
    *     corpus-sized shuffle carries (hash, doc_id, pos) — 8-byte
    *     keys, never window text.
    *  2. CANDIDATE spans — a count-over-hash-partition screen (the ONE
    *     corpus-sized exchange) keeps only positions whose hash count
    *     ≥ 2; they join text back doc-keyed: candidate volume is
    *     true-repeat volume plus collisions (~0 at 64-bit), not corpus
    *     volume.
    *  3. EXTEND-AND-VERIFY — per exact window text, the first
    *     occurrence is min(struct(doc_id, pos)) (a hash aggregate —
    *     deliberately not a rank window: most keys are unique and
    *     WindowExec's per-group machinery measured 1047 CPU-s at the
    *     x30 rung); any non-min occurrence is a duplicate. Collisions
    *     die here: the verdict never trusts a hash.
    *  4. Span merge (gaps-and-islands per document) + rebuild from the
    *     complement segments.
    *
    * Cost: one O(corpus code points) hash shuffle + O(repeats) exact
    * work — the anchor-bucketed shape, never all-pairs (`Stress ladder
    * substr` measures the exponent). Output one row per non-NULL-text
    * document: (doc_id, n_chars, n_spans, n_removed, text) — text is
    * '' when the whole document was a later duplicate, never NULL.
    * Hash-gated by q_dedup_substrings (DuckDB replays the exact
    * window/rank/island pipeline on window TEXT — the internal hash
    * pre-screen needs no replay because step 3 re-verifies exactly).
    */
  def substringDedup(docs: DataFrame, windowLen: Int = 40,
      textCol: String = "text"): DataFrame =
    substringDedupStaged(docs, windowLen, textCol).last._2

  /** The named intermediate stages of [[substringDedup]] — the stress
    * probe times each one (`Stress substrplan`) so a ladder regression
    * names its stage instead of a total. Last entry is the operator
    * result. */
  private[graft] def substringDedupStaged(docs: DataFrame,
      windowLen: Int = 40,
      textCol: String = "text"): Seq[(String, DataFrame)] = {
    require(windowLen >= 8, "windowLen < 8 would excise natural language")
    val d = docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"), col(textCol).as("__t"))
    val hashed = d.select(col("doc_id"),
      posexplode(RollingHash.windowHashesCol(col("__t"), windowLen))
        .as(Seq("pos", "__h")))
    // candidate screen as ONE corpus-sized exchange: count-over-hash-
    // partition window. The alternatives both exchange the corpus frame
    // TWICE (groupBy screen + join-back, with the hash aggregate
    // degrading to its sort fallback on mostly-unique keys) and measured
    // strictly slower on the ladder at every rung (SCALE.md r15).
    val wHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h"))
    val cand = hashed
      .withColumn("__c", count(lit(1)).over(wHash))
      .filter(col("__c") >= 2).select("doc_id", "pos")
    val candTxt = cand.join(d, Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(__t, pos + 1, $windowLen)").as("__win"))
    // exact verify + keep-first WITHOUT a rank window: the first
    // occurrence is min(struct(doc_id, pos)) per exact window text
    // (lexicographic = the (doc_id, pos) total order), a hash aggregate;
    // a duplicate is any occurrence that is not its group's min
    val firsts = candTxt.groupBy(col("__win"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("__f"),
        count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
    val dups = candTxt.join(firsts.hint("SHUFFLE_HASH"), Seq("__win"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("__f"))
      .select("doc_id", "pos")
    val (spans, rebuilt, out) = exciseWindows(d, dups, windowLen, textCol)
    Seq("hashed" -> hashed, "cand" -> cand, "candTxt" -> candTxt,
      "dups" -> dups, "spans" -> spans, "rebuilt" -> rebuilt,
      "result" -> out)
  }

  /** The span-merge + rebuild tail shared by [[substringDedup]] and
    * [[substringScrub]]: given the prepared (doc_id, __t) corpus and the
    * (doc_id, pos) set of EXCISED window starts, merge overlapping
    * [pos, pos+windowLen) intervals per document (gaps-and-islands) and
    * rebuild each document from the complement segments. Windows here
    * run over the per-doc removal sets only — tiny relative to the
    * corpus. Returns (spans, rebuilt, result).
    */
  private def exciseWindows(d: DataFrame, dups: DataFrame, windowLen: Int,
      textCol: String): (DataFrame, DataFrame, DataFrame) = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = dups
      .withColumn("__brk", when(col("pos") >
        coalesce(max(col("pos") + windowLen).over(
          wDoc.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(-1)), 1).otherwise(0))
      .withColumn("__sid", sum(col("__brk")).over(wDoc))
      .groupBy(col("doc_id"), col("__sid"))
      .agg(min(col("pos")).as("__s"),
        (max(col("pos")) + lit(windowLen)).as("__e"))
    val wSpan = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("__s"))
    val mids = spans.select(col("doc_id"),
      coalesce(lag(col("__e"), 1).over(wSpan), lit(0)).as("__ss"),
      col("__s").as("__se"))
    val tails = spans.groupBy(col("doc_id")).agg(max(col("__e")).as("__ss"))
      .join(d, Seq("doc_id"))
      .select(col("doc_id"), col("__ss"), length(col("__t")).as("__se"))
    val rebuilt = mids.unionByName(tails)
      .filter(col("__se") > col("__ss"))
      .join(d, Seq("doc_id"))
      .select(col("doc_id"), col("__ss"),
        expr("substring(__t, __ss + 1, __se - __ss)").as("__seg"))
      .groupBy(col("doc_id"))
      .agg(concat_ws("",
        transform(array_sort(collect_list(struct(col("__ss"), col("__seg")))),
          s => s.getField("__seg"))).as("__kept"))
    val removed = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("__e") - col("__s")).as("n_removed"))
    val out = d.join(removed, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        length(col("__t")).cast("long").as("n_chars"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).cast("long").as("n_removed"),
        // a doc with spans but no surviving segment was ENTIRELY excised:
        // '' by contract, never a silent passthrough
        when(col("n_spans").isNotNull, coalesce(col("__kept"), lit("")))
          .otherwise(col("__t")).as(textCol))
    (spans, rebuilt, out)
  }

  /** SUBSTRING-LEVEL exact DECONTAMINATION — [[substringDedup]]'s
    * machinery pointed at a benchmark: every corpus character covered by
    * a `windowLen`-code-point window whose exact text occurs ANYWHERE in
    * `benchmark` is excised (no keep-first here — eval text must leave
    * the training corpus wherever and however often it appears; the
    * benchmark itself is never modified). This is the character-exact
    * complement of the token-n-gram contamination family
    * ([[decontaminate]] / q_text_contamination_spans): n-gram screens
    * miss re-tokenized or punctuation-shifted copies that character
    * windows still catch.
    *
    * Scale shape: both sides anchor with the O(len) rolling-hash kernel;
    * the corpus-sized exchange carries 8-byte hashes; the exact verify
    * joins only hash-matched candidates on window TEXT (corpus side
    * carries text for candidates only, benchmark side collapses to its
    * distinct hash-matched windows — benchmark volume, not corpus
    * volume). Output schema = [[substringDedup]]'s.
    */
  def substringScrub(corpus: DataFrame, benchmark: DataFrame,
      windowLen: Int = 40, textCol: String = "text",
      benchTextCol: String = "text"): DataFrame = {
    require(windowLen >= 8, "windowLen < 8 would excise natural language")
    val d = corpus.filter(col(textCol).isNotNull)
      .select(col("doc_id"), col(textCol).as("__t"))
    val b = benchmark.filter(col(benchTextCol).isNotNull)
      .select(col(benchTextCol).as("__bt"))
    val corpusH = d.select(col("doc_id"),
      posexplode(RollingHash.windowHashesCol(col("__t"), windowLen))
        .as(Seq("pos", "__h")))
    val benchH = b.select(
      posexplode(RollingHash.windowHashesCol(col("__bt"), windowLen))
        .as(Seq("__bpos", "__h")))
      .select(col("__h")).distinct()
    val cand = corpusH.join(benchH.hint("SHUFFLE_HASH"), Seq("__h"),
      "left_semi")
    val candTxt = cand.join(d, Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("__h"),
        expr(s"substring(__t, pos + 1, $windowLen)").as("__win"))
    // exact verify: benchmark windows re-derive for hash-matched hashes
    // only (benchmark volume), then equi-join on the window TEXT
    val benchWins = b.select(
      posexplode(RollingHash.windowHashesCol(col("__bt"), windowLen))
        .as(Seq("__bpos", "__h")),
      col("__bt"))
      .join(candTxt.select(col("__h")).distinct().hint("SHUFFLE_HASH"),
        Seq("__h"), "left_semi")
      .select(expr(s"substring(__bt, __bpos + 1, $windowLen)").as("__win"))
      .distinct()
    val dups = candTxt.join(benchWins.hint("SHUFFLE_HASH"), Seq("__win"),
      "left_semi").select("doc_id", "pos")
    val (_, _, out) = exciseWindows(d, dups, windowLen, textCol)
    out
  }

  /** PERSIST the substring-anchor state [[substringScrub]] derives from
    * scratch — the incremental-maintenance artifact for the daily-crawl
    * regime: screen today's batch against EVERYTHING seen at O(batch +
    * matched) instead of re-hashing the seen corpus per run. Three
    * tables:
    *
    *  - `<name>_winhash` (h, doc_id, pos): every window's rolling hash,
    *    bucketed by h so the screen's semi-join bucket-prunes;
    *  - `<name>_docs` (doc_id, text): the verify side, bucketed by
    *    doc_id — exact window text re-derives from here for
    *    hash-matched docs only (hashes are never trusted);
    *  - `<name>_meta` (w): the window length, pinned — a screen at a
    *    different W would silently miss repeats, so reads `require` it.
    *
    * Maintenance: [[upsertSubstringIndex]] appends a DISJOINT batch
    * under the tables' own specs (O(batch));
    * [[deleteFromSubstringIndex]] is the takedown surface (tombstones;
    * both tables are doc-keyed, reads anti-join —
    * [[Takedown.SubstringIndex]] wires it into deleteEverywhere);
    * [[compactSubstringIndex]] folds. Torn-publish discipline: meta
    * first, payload after, any failure drops all.
    */
  def writeSubstringIndex(seen: DataFrame, name: String,
      windowLen: Int = 40, buckets: Int = 8,
      textCol: String = "text"): Unit = {
    require(windowLen >= 8, "windowLen < 8 would excise natural language")
    graft.sources.ManagedTables.requireIdent(name)
    val spark = seen.sparkSession
    dropSubstringIndex(spark, name)
    try {
      import spark.implicits._
      Seq(windowLen).toDF("w")
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${name}_meta")
      val d = seen.filter(col(textCol).isNotNull)
        .select(col("doc_id"), col(textCol).as("text"))
      graft.sources.ManagedTables.writeBucketed(d, s"${name}_docs", "doc_id",
        buckets)
      graft.sources.ManagedTables.writeBucketed(
        substringIndexRows(spark.table(s"${name}_docs"), windowLen),
        s"${name}_winhash", "h", buckets)
    } catch {
      case e: Throwable => dropSubstringIndex(spark, name); throw e
    }
  }

  private def substringIndexRows(docs: DataFrame, w: Int): DataFrame =
    docs.select(col("doc_id"),
      posexplode(RollingHash.windowHashesCol(col("text"), w))
        .as(Seq("pos", "h")))
      .select(col("h"), col("doc_id"), col("pos"))

  def dropSubstringIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(spark,
      Seq(s"${name}_meta", s"${name}_winhash", s"${name}_docs",
        s"${name}_deletes"))

  /** Fold a DISJOINT batch of new documents into the index — O(batch)
    * appends under the tables' own bucket specs (a re-sent document
    * would double its windows; dedup upstream — the standing upsert
    * contract). */
  def upsertSubstringIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame, textCol: String = "text"): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val w = substringIndexW(spark, name)
    val d = batch.filter(col(textCol).isNotNull)
      .select(col("doc_id"), col(textCol).as("text"))
    // the two appends derive from the same batch frame and touch disjoint
    // tables — overlap them (guide §2.6)
    graft.Par.run(Seq(
      () => graft.sources.ManagedTables.appendBucketed(spark, s"${name}_docs", d),
      () => graft.sources.ManagedTables.appendBucketed(spark, s"${name}_winhash",
        substringIndexRows(d, w))))
  }

  /** TARGETED DELETION (takedowns): O(batch) tombstone append; the
    * screen anti-joins both doc-keyed tables, so deleted documents stop
    * contributing windows immediately; [[compactSubstringIndex]] is the
    * amortized physical purge. Equality with an index rebuilt without
    * the deleted docs is unconditional (windows are per-document) —
    * hash-certified by q_dedup_substrings_indexed's deleted clones. */
  def deleteFromSubstringIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long]): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    graft.sources.ManagedTables.appendDeletes(spark, name, "doc_id", ids)
  }

  /** Fold tombstones into both payload tables and clear them. */
  def compactSubstringIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    if (spark.catalog.tableExists(s"${name}_deletes")) {
      Seq(s"${name}_winhash", s"${name}_docs").foreach { t =>
        graft.sources.ManagedTables.rewriteBucketed(spark, t,
          graft.sources.ManagedTables.minusDeletes(spark, name, spark.table(t),
            "doc_id"))
      }
      graft.sources.ManagedTables.dropDeletes(spark, name)
    }
  }

  /** [[substringScrub]] against a PERSISTED index: excise from `batch`
    * every character covered by a window whose exact text occurs in the
    * LIVE seen corpus — same verdicts as the one-shot scrub with the
    * seen corpus as the benchmark (q_dedup_substrings_indexed shares
    * that replay), but the seen side is never re-hashed: the batch's
    * hashes semi-join the bucket-pruned `_winhash` read, and only
    * hash-MATCHED seen docs re-derive window text from `_docs`. Cost is
    * O(batch + matched), FLAT as the seen corpus grows.
    */
  def substringScreen(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame,
      textCol: String = "text"): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    val w = substringIndexW(spark, name)
    val d = batch.filter(col(textCol).isNotNull)
      .select(col("doc_id"), col(textCol).as("__t"))
    val batchH = d.select(col("doc_id"),
      posexplode(RollingHash.windowHashesCol(col("__t"), w))
        .as(Seq("pos", "__h")))
    val seenH = graft.sources.ManagedTables.minusDeletes(spark, name,
      spark.table(s"${name}_winhash"), "doc_id")
    val cand = batchH.join(
      seenH.select(col("h").as("__h")).distinct().hint("SHUFFLE_HASH"),
      Seq("__h"), "left_semi")
    val candTxt = cand.join(d, Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("__h"),
        expr(s"substring(__t, pos + 1, $w)").as("__win"))
    // exact verify: re-derive window text ONLY for seen docs that carry
    // a hash-matched window (point-pruned _docs read, never a rescan)
    val hitDocs = seenH
      .join(candTxt.select(col("__h").as("h")).distinct()
        .hint("SHUFFLE_HASH"), Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .join(graft.sources.ManagedTables.minusDeletes(spark, name,
        spark.table(s"${name}_docs"), "doc_id"), Seq("doc_id"))
      .select(expr(s"substring(text, pos + 1, $w)").as("__win"))
      .distinct()
    val dups = candTxt.join(hitDocs.hint("SHUFFLE_HASH"), Seq("__win"),
      "left_semi").select("doc_id", "pos")
    val (_, _, out) = exciseWindows(d, dups, w, textCol)
    out
  }

  private def substringIndexW(spark: org.apache.spark.sql.SparkSession,
      name: String): Int = {
    require(spark.catalog.tableExists(s"${name}_meta"),
      s"substring index $name has no meta table")
    spark.table(s"${name}_meta").head().getInt(0)
  }

  /** PER-SOURCE BOILERPLATE strip — the template-removal regime
    * [[lineDedup]]'s global keep-first rule cannot express: a line that
    * appears in at least max(`minDocs`, ⌈`minDocFrac` · docs-in-source⌉)
    * DISTINCT documents of the SAME source is that source's template
    * chrome (navigation, cookie banner, licence footer rendered on every
    * page of the site) and is dropped from ALL of them — including the
    * first occurrence, because a site's banner is content in none of its
    * pages. Cross-source repeats survive (a quote shared by two sites is
    * evidence of content, not of a template); the document-frequency key
    * is (source, line), so detection never mixes sites.
    *
    * Scale shape: lines explode once; document frequency is a
    * (source, line)-keyed aggregate joined straight back on the same key
    * (the exchange is paid once — the join reuses the aggregate's
    * hash partitioning); per-source doc totals are a |sources|-row
    * broadcast; the rebuild is [[lineDedup]]'s per-document aggregate.
    * No driver collect, nothing quadratic — cost is corpus lines, the
    * same currency lineDedup pays.
    *
    * Output one row per non-NULL-text document: (doc_id, n_lines,
    * n_kept, text) — text is '' when every line was template, never NULL.
    * NULL-source documents pass through too, pooled under one sentinel
    * source (unattributed pages screen against each other).
    */
  def boilerplateStrip(docs: DataFrame, minDocFrac: Double = 0.5,
      minDocs: Int = 2, lineSep: String = "\n", textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    require(minDocFrac > 0.0 && minDocFrac <= 1.0,
      "minDocFrac must be in (0, 1]")
    require(minDocs >= 2, "minDocs < 2 would strip every line")
    // NULL sources coalesce to a sentinel pool (stringified key): the
    // equi-joins on __src would otherwise never match NULL keys and
    // silently DROP those documents from the output, breaking the
    // one-row-per-non-NULL-text-document contract. Unattributed pages
    // screen against each other — the conservative reading of "same
    // source" when the source is unknown.
    val d = boilerDocs(docs, textCol, sourceCol)
    val totals = d.groupBy(col("__src"))
      .agg(count(lit(1)).as("__n_docs"))
    val lines = boilerLines(d, lineSep, textCol)
    val df = lines.groupBy(col("__src"), col("line"))
      .agg(countDistinct(col("doc_id")).as("__df"))
    boilerVerdictTail(lines, df, totals, minDocFrac, minDocs, lineSep,
      textCol)
  }

  /** The prepared (doc_id, __src, text) frame shared by the one-shot and
    * incremental strips (NULL-text drop + NULL-source sentinel pool).
    */
  private def boilerDocs(docs: DataFrame, textCol: String,
      sourceCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"),
        coalesce(col(sourceCol).cast("string"),
          lit("\u0000__graft_null_source__")).as("__src"),
        col(textCol))

  private def boilerLines(d: DataFrame, lineSep: String,
      textCol: String): DataFrame =
    d.select(col("doc_id"), col("__src"),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(lineSep))).as(Seq("idx", "line")))

  /** The verdict + per-document rebuild tail shared by both strips:
    * join the (source, line) document frequencies and the |sources|-row
    * broadcast totals onto the exploded lines, mark template lines, and
    * rebuild each document from its survivors in order.
    */
  private def boilerVerdictTail(lines: DataFrame, df: DataFrame,
      totals: DataFrame, minDocFrac: Double, minDocs: Int,
      lineSep: String, textCol: String): DataFrame =
    lines
      .join(df, Seq("__src", "line"))
      .join(broadcast(totals), Seq("__src"))
      .withColumn("keep", col("__df") < greatest(lit(minDocs.toLong),
        ceil(lit(minDocFrac) * col("__n_docs")).cast("long")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        concat_ws(lineSep,
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("idx"), col("line"))))),
            s => s.getField("line"))).as(textCol))

  /** PERSIST the per-source line-frequency state [[boilerplateStrip]]
    * derives from scratch — the incremental-maintenance artifact for the
    * daily-crawl regime (the [[incrementalExact]] pattern): a full
    * recompute screens today's batch at O(corpus) line-df cost, where
    * this screens it at O(batch) plus pruned reads of the persisted
    * state. Two tables of PARTIAL rows (the
    * [[graft.operators.Rollups.writeDailyPartials]] discipline — upsert
    * appends partials, readers SUM; nothing is rewritten per batch):
    *
    *  - `<name>_linedf` (src, line, cnt): per-(source, line) distinct-doc
    *    counts of each ingested batch, bucketed by line (the join key's
    *    high-cardinality leg) so the screen's lookup joins bucket-prune;
    *  - `<name>_srctotals` (src, n_docs): per-source document counts,
    *    |sources|-sized, appended per batch.
    *
    * Contract: batches are DISJOINT document sets (a re-sent document
    * would double-count its lines' df — dedup upstream; the same
    * can't-see-what-you-append contract every upsert here documents).
    */
  def writeLineDfTable(docs: DataFrame, name: String,
      lineSep: String = "\n", textCol: String = "text",
      sourceCol: String = "source", buckets: Int = 8): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val spark = docs.sparkSession
    dropLineDfTable(spark, name)
    try {
      val d = boilerDocs(docs, textCol, sourceCol)
      graft.sources.ManagedTables.writeBucketed(
        boilerLines(d, lineSep, textCol)
          .groupBy(col("__src").as("src"), col("line"))
          .agg(countDistinct(col("doc_id")).as("cnt")),
        s"${name}_linedf", "line", buckets)
      d.groupBy(col("__src").as("src"))
        .agg(count(lit(1)).as("n_docs"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${name}_srctotals")
    } catch {
      case e: Throwable => dropLineDfTable(spark, name); throw e
    }
  }

  /** Drop both line-df artifacts AND their directories. */
  def dropLineDfTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_linedf", s"${name}_srctotals"))

  /** Fold a new (disjoint) batch's line statistics into the table —
    * O(batch): partial rows append under the tables' own specs, nothing
    * recomputes or rewrites.
    */
  def upsertLineDfTable(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame, lineSep: String = "\n",
      textCol: String = "text", sourceCol: String = "source"): Unit =
    foldLineDfPartials(spark, name, batch, lineSep, textCol, sourceCol,
      sign = 1L)

  /** UNLEARN documents from the line-df state — deletion for the
    * partial-row family (the [[graft.functions.TextAnalysis.deleteFromLmTable]]
    * story at line granularity): append NEGATIVE partial rows for the
    * deleted documents' per-(source, line) distinct-doc counts and
    * per-source doc totals. Readers SUM partials, and counts are
    * integers, so unlearning is EXACT — the summed state equals a
    * rebuild without the deleted docs to the bit (q_takedown_quantized
    * certifies it through the incremental-strip oracle). O(deleted
    * batch), nothing rewrites.
    *
    * `deletedDocs` must be the documents AS INGESTED and not yet
    * unlearned (subtract what was added — the same can't-see contract
    * the upsert documents; a replay would double-subtract, which is
    * exactly what the takedown ledger exists to prevent).
    */
  def deleteFromLineDfTable(spark: org.apache.spark.sql.SparkSession,
      name: String, deletedDocs: DataFrame, lineSep: String = "\n",
      textCol: String = "text", sourceCol: String = "source"): Unit =
    foldLineDfPartials(spark, name, deletedDocs, lineSep, textCol, sourceCol,
      sign = -1L)

  /** The shared partial-row fold behind upsert (+1) and unlearn (−1):
    * both append under the tables' own specs; only the sign differs.
    */
  private def foldLineDfPartials(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame, lineSep: String, textCol: String,
      sourceCol: String, sign: Long): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val d = boilerDocs(batch, textCol, sourceCol)
    graft.sources.ManagedTables.appendBucketed(spark, s"${name}_linedf",
      boilerLines(d, lineSep, textCol)
        .groupBy(col("__src").as("src"), col("line"))
        .agg((lit(sign) * countDistinct(col("doc_id"))).as("cnt")))
    d.groupBy(col("__src").as("src"))
      .agg((lit(sign) * count(lit(1))).as("n_docs"))
      .write.mode("append").format("parquet")
      .saveAsTable(s"${name}_srctotals")
  }

  /** [[boilerplateStrip]] of a NEW batch against the persisted line-df
    * state — verdicts computed over seen ∪ batch (the df and totals the
    * full recompute would see on the union), output rows for the BATCH's
    * documents only. q_text_boilerplate_indexed certifies the equality:
    * same oracle as the full-corpus strip, restricted to the batch.
    *
    * Cost: the batch explodes once; the seen side contributes ONLY the
    * partial rows matching the batch's lines (a semi-join probe into the
    * line-bucketed table — bucket-pruned, never a seen-corpus scan) plus
    * the |sources|-row totals. Does NOT fold the batch in — call
    * [[upsertLineDfTable]] after (screen-then-upsert, the
    * [[MinhashIndex]] ingest loop).
    */
  def boilerplateStripAgainst(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame, minDocFrac: Double = 0.5,
      minDocs: Int = 2, lineSep: String = "\n", textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    require(minDocFrac > 0.0 && minDocFrac <= 1.0,
      "minDocFrac must be in (0, 1]")
    require(minDocs >= 2, "minDocs < 2 would strip every line")
    val d = boilerDocs(batch, textCol, sourceCol)
    val lines = boilerLines(d, lineSep, textCol)
    val batchDf = lines.groupBy(col("__src"), col("line"))
      .agg(countDistinct(col("doc_id")).as("cnt"))
    val seenForBatch = spark.table(s"${name}_linedf")
      .select(col("src").as("__src"), col("line"), col("cnt"))
      .join(batchDf.select("__src", "line"), Seq("__src", "line"),
        "left_semi")
    val df = batchDf.unionByName(seenForBatch)
      .groupBy(col("__src"), col("line"))
      .agg(sum(col("cnt")).as("__df"))
    val totals = spark.table(s"${name}_srctotals")
      .select(col("src").as("__src"), col("n_docs"))
      .unionByName(d.groupBy(col("__src"))
        .agg(count(lit(1)).as("n_docs")))
      .groupBy(col("__src"))
      .agg(sum(col("n_docs")).as("__n_docs"))
    boilerVerdictTail(lines, df, totals, minDocFrac, minDocs, lineSep,
      textCol)
  }

  /** WITHIN-DOCUMENT paragraph dedup — C4's other span rule (Raffel et
    * al. 2020 §2.2: "discard all but one of any three-sentence span
    * occurring more than once", applied here at the `sep`-delimited
    * paragraph unit): inside EACH document, a repeated paragraph keeps
    * only its first occurrence and the document rebuilds from the
    * survivors in order. The complement of [[lineDedup]]: that rule is
    * corpus-global (boilerplate shared across pages) and pays one
    * line-keyed shuffle; this rule is document-local (scraper stutter,
    * infinite-scroll double-renders, template loops inside one page) and
    * therefore needs NO shuffle at all — first-occurrence keep is a pure
    * array projection (`filter` with an index lambda against
    * `array_position`, which returns the FIRST index of a value), so the
    * operator runs at scan speed on any corpus size: 100 TB streams
    * through map-only tasks straight to the sink.
    *
    * Output one row per non-NULL-text document: (doc_id, n_paras,
    * n_kept, text) — text is the kept paragraphs re-joined with `sep`
    * ('' stays '', never NULL). Quadratic only in PARAGRAPHS PER DOC
    * (array_position scans the row's own array), which is bounded by
    * document length, not corpus size.
    */
  def paragraphDedup(docs: DataFrame, sep: String = "\n",
      textCol: String = "text"): DataFrame = {
    val paras = split(col(textCol), java.util.regex.Pattern.quote(sep))
    docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"), paras.as("__p"))
      .select(col("doc_id"), col("__p"),
        filter(col("__p"),
          (x, i) => array_position(col("__p"), x) === (i + 1)).as("__k"))
      .select(col("doc_id"),
        size(col("__p")).cast("long").as("n_paras"),
        size(col("__k")).cast("long").as("n_kept"),
        array_join(col("__k"), sep).as(textCol))
  }

  /** Cross-corpus variant of [[bandedHammingPairs]]: near-dup pairs of a
    * BATCH signature frame against a SEEN one — the incremental-screen
    * shape. The batch side (a trigger's worth) explodes into its 4 band
    * chunks and BROADCASTS; the seen side streams ONE scan of 16-byte
    * rows with a map-side join — no seen-side shuffle, no re-banding
    * materialized. Output (batch_doc, seen_doc, hamming).
    */
  private[graft] def bandedHammingPairsAgainst(batchSigs: DataFrame,
      seenSigs: DataFrame, maxHamming: Int): DataFrame = {
    def banded(df: DataFrame, idOut: String, sigOut: String): DataFrame =
      df.select(col("doc_id").as(idOut), col("sig").as(sigOut),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "chunk")))
    banded(seenSigs, "seen_doc", "sig_s")
      .join(broadcast(banded(batchSigs, "batch_doc", "sig_b")),
        Seq("band", "chunk"))
      .select(col("batch_doc"), col("seen_doc"), col("sig_b"), col("sig_s"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_b").bitwiseXOR(col("sig_s"))))
      .filter(col("hamming") <= maxHamming)
      .select("batch_doc", "seen_doc", "hamming")
  }

  private[graft] def bandedHammingPairs(sigs: DataFrame,
      maxHamming: Int): DataFrame = {
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "chunk")))
    val ba = banded.as("a"); val bb = banded.as("b")
    val candidates = ba.join(bb,
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.sig").as("sig_a"),
        col("b.doc_id").as("doc_b"), col("b.sig").as("sig_b"))
      .distinct()
    candidates
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** SemDeDup — SEMANTIC dedup over an embedding column (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): cluster the corpus with the trained spherical
    * k-means quantizer (see [[Similarity.ivfTrainedTopK]] — same fit, same
    * determinism contract), then within each cluster drop every vector that
    * has cosine ≥ `threshold` with a LOWER-id vector of the same cluster.
    * Unlike the LSH pair generators above, this catches paraphrase-level
    * redundancy that shares no n-grams — the dedup pass that runs AFTER
    * exact/near-dup text dedup in a production corpus pipeline.
    *
    * Keep rule: min-vec_id representative per similarity neighborhood —
    * deterministic, stable under re-runs, and consistent with
    * [[dedupDecisions]]. Output: every nonzero-norm vector as
    * (vec_id, cluster, max_lower_sim, keep); `filter(col("keep"))` is the
    * semantically deduplicated corpus. max_lower_sim is NULL for a
    * cluster's lowest vector (nothing below it to compare against).
    *
    * Scale shape: centroids are plan literals, so cluster assignment is a
    * scan-side projection; the only shuffle is the within-cluster self-join,
    * whose cost is Σ|cell|² dots. The paper's design point — and this
    * implementation's — is that `centroids` grows with the corpus (n/1000
    * cells keeps cells ~constant-size), so the pair work stays linear in n;
    * the driver-side fit cost is unchanged (bounded sample). Doubles are
    * bit-deterministic: fused fold-left dots, max() is order-independent.
    */
  /** SEMANTIC CLUSTERS — connected components over the k-NN graph's
    * high-similarity edges: [[graft.functions.Similarity.knnGraph]] edges
    * with cosine ≥ `threshold` feed the same large-star/small-star
    * contraction as the text near-dup clustering, labelling every vector
    * with its semantic-cluster id (its own id when isolated, including
    * zero-norm vectors the graph cannot score). Where [[semanticDedup]]
    * answers the per-vector KEEP question inside one coarse cell,
    * clusters are the GROUP artifact — what cluster-balanced sampling,
    * per-cluster best-copy selection ([[clusterBest]]'s embedding
    * sibling), and diversity audits consume — and components can span
    * cells through chains of probed-cell edges. Scale: the graph build
    * is the bucketed candidate shape, the contraction O(log n) rounds
    * over an edge set capped at k·|corpus|.
    */
  def semanticClusters(embeddings: DataFrame, threshold: Double, k: Int = 5,
      centroids: Int = 8, nprobe: Int = 4, sampleSize: Int = 256,
      iters: Int = 2, checkpointDir: Option[String] = None): DataFrame = {
    val edges = Similarity.knnGraph(embeddings, k, centroids, nprobe,
        sampleSize, iters)
      .filter(col("score") >= threshold)
      .select(col("query_id").as("doc_a"), col("neighbor_id").as("doc_b"))
    embeddings.select(col("vec_id"))
      .join(duplicateClusters(edges, checkpointDir = checkpointDir)
        .withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
  }

  def semanticDedup(embeddings: DataFrame, threshold: Double,
      centroids: Int = 8, sampleSize: Int = 256, iters: Int = 2,
      checkpointDir: Option[String] = None): DataFrame = {
    val nv = Similarity.normalized(embeddings)
    val cents = Similarity.trainCentroids(nv, centroids, sampleSize, iters)
    // materialize the assignment ONCE: it feeds three plan legs (both
    // self-join sides and the final verdict select), and Spark does not CSE
    // across self-join legs — without this the scan + normalization + n·k
    // centroid-dot projection all run three times. NOTE this runs a job
    // EAGERLY at call time and severs lineage: with the default local
    // checkpoint, a lost executor afterwards fails the query rather than
    // recomputing — pass `checkpointDir` for the reliable-storage variant
    // on a real cluster (see [[graft.Materializer]]).
    val materialize = new graft.Materializer(checkpointDir)
    val assigned = materialize(Similarity.assignToCentroids(nv, cents))
    val a = assigned.as("a"); val b = assigned.as("b")
    val maxLower = a.join(b,
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(max(Similarity.dot(col("a.v"), col("b.v"))).as("max_lower_sim"))
    assigned.select(col("vec_id"), col("cluster"))
      .join(maxLower, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("max_lower_sim"),
        (col("max_lower_sim").isNull || col("max_lower_sim") < threshold).as("keep"))
  }

  /** [[semanticDedup]] over a PERSISTED
    * [[graft.functions.Similarity.writeAnnIndex]] index — at 100 TB the
    * k-means fit + corpus assignment is the expensive half of SemDeDup,
    * and it is EXACTLY what the ANN index already stores (same
    * [[graft.functions.Similarity.trainCentroids]] fit, same assignment
    * rule): a dedup pass should read it, not re-fit per call. The
    * within-cluster pair scan + verdict run verbatim over the stored
    * `(bucket, vec_id, v)` rows; no [[graft.Materializer]] is needed
    * because the table read IS reliable materialized storage (the lineage
    * concern [[semanticDedup]] documents disappears). Same answer frame,
    * same oracle (q_dedup_semantic_indexed shares q_dedup_semantic's =
    * write→read fidelity), and dedup/search now share one index artifact.
    */
  def semanticDedupIndexed(spark: org.apache.spark.sql.SparkSession,
      name: String, threshold: Double): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    val assigned = spark.table(s"${name}_assignments")
      .select(col("vec_id"), col("bucket").as("cluster"), col("v"))
    val a = assigned.as("a"); val b = assigned.as("b")
    val maxLower = a.join(b,
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .groupBy(col("b.vec_id").as("vec_id"))
      .agg(max(Similarity.dot(col("a.v"), col("b.v"))).as("max_lower_sim"))
    assigned.select(col("vec_id"), col("cluster"))
      .join(maxLower, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("max_lower_sim"),
        (col("max_lower_sim").isNull || col("max_lower_sim") < threshold).as("keep"))
  }

  /** SEMANTIC contamination screen — the embedding analog of
    * [[benchmarkContamination]]: for every training vector, its maximum
    * cosine against the benchmark/eval corpus and whether that crosses the
    * contamination threshold. Catches paraphrased or re-worded eval leakage
    * that shares no n-grams with the benchmark text (the failure mode the
    * trigram screen is blind to); run both.
    *
    * Scale shape: mirrors [[Similarity.bruteForceTopK]] — eval suites are
    * thousands of vectors, so the benchmark side broadcasts and the
    * training corpus streams through one scan with no shuffle at all (the
    * per-vector max is computed by a partial aggregate on the scan side).
    * Doubles are bit-deterministic: fused fold-left dots, order-free max.
    *
    * Contract: one row per nonzero-norm corpus vector (zero-norm vectors
    * have no cosine semantics and are excluded, like [[semanticDedup]]).
    * An EMPTY (or all-zero-norm) benchmark yields max_bench_sim NULL and
    * contaminated false for every vector — never an empty result, which
    * would be indistinguishable from an empty corpus.
    */
  def semanticContamination(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double): DataFrame = {
    val c = Similarity.normalized(corpus)
    val b = Similarity.normalized(benchmark)
      .select(col("vec_id").as("bench_id"), col("v").as("bv"))
    c.join(broadcast(b), lit(true), "left")
      .groupBy(col("vec_id"))
      .agg(max(Similarity.dot(col("v"), col("bv"))).as("max_bench_sim"))
      .select(col("vec_id"), col("max_bench_sim"),
        coalesce(col("max_bench_sim") >= threshold, lit(false)).as("contaminated"))
  }

  /** Embedding near-dup pairs: sign-bit LSH over the vector (bands of
    * `bitsPerBand` sign bits each) generates candidates; exact cosine ≥
    * threshold verifies. Approximate by construction — pairs whose sign
    * patterns differ in every band are never compared (the price of not
    * doing the O(n²) cross join at 100 TB).
    *
    * `bitsPerBand = 0` (default) sizes bands for the corpus: enough bits
    * that the expected bucket holds ~128 vectors, so candidate volume stays
    * LINEAR in corpus size instead of quadratic (a fixed band width lets
    * buckets — and the verify stage — grow with n²).
    */
  def embeddingNearDups(embeddings: DataFrame, threshold: Double,
      bands: Int = 4, bitsPerBand: Int = 0): DataFrame = {
    val bpb =
      if (bitsPerBand > 0) bitsPerBand
      else {
        val n = embeddings.count().toDouble
        val bits = math.ceil(math.log(n / 128.0) / math.log(2.0)).toInt
        math.min(16, math.max(2, bits))
      }
    val sigBits = bands * bpb
    // normalized once ⇒ the per-pair verify is a single fused dot product
    val e = Similarity.normalized(embeddings)
    val banded = e.select(col("vec_id"), col("v"),
      posexplode(array((0 until bands).map(b =>
        VectorOps.signBucket(col("v"), b * bpb, bpb)): _*))
        .as(Seq("band", "chunk")))
    require(sigBits <= 64)
    val ca = banded.as("a"); val cb = banded.as("b")
    val candidates = ca.join(cb,
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("a.v").as("va"),
        col("b.vec_id").as("vec_b"), col("b.v").as("vb"))
      .distinct()
    candidates
      .withColumn("cosine", Similarity.dot(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select("vec_a", "vec_b", "cosine")
  }

  /** CROSS-SOURCE DUPLICATION MATRIX — the dataset-audit aggregate a
    * mixture designer reads before weighting sources: for every unordered
    * source pair, how many DISTINCT document contents they share, each
    * side's distinct-content count, and the overlap as a fraction of the
    * smaller side (containment, so a small source swallowed by a large one
    * reads 1.0 — the signal "these two crawls are the same corpus").
    *
    * Scale shape: contents collapse to a 64-bit hash BEFORE anything
    * shuffles (the [[Snapshot.diff]] trick — 8 bytes/doc moves, not text);
    * per-hash source sets are bounded by the SOURCE COUNT, not corpus
    * size, so the pair explode is |sources|²-bounded per hash and the
    * final matrix is tiny. A 100 TB corpus costs one hash shuffle.
    * The oracle compares raw TEXT equality — the stronger ground truth —
    * so the hash gate doubles as a no-collision certificate (same
    * contract as q_snapshot_diff).
    */
  def crossSourceMatrix(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val sig = docs.filter(col(textCol).isNotNull)
      .select(xxhash64(col(textCol)).as("__h"), col(sourceCol).as("__src"))
      .distinct()
    val sizes = sig.groupBy(col("__src")).agg(count(lit(1)).as("n"))
    val pairs = sig.groupBy(col("__h"))
      .agg(sort_array(collect_set(col("__src"))).as("__srcs"))
      .filter(size(col("__srcs")) > 1)
      .select(explode(col("__srcs")).as("source_a"), col("__srcs"))
      .select(col("source_a"), explode(col("__srcs")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(sizes.select(col("__src").as("source_a"), col("n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("__src").as("source_b"), col("n").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("overlap_frac"))
  }
}
