package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language identification, fingerprinting.
  * All built from codegen'd `functions._` primitives — no UDFs — so they
  * stay inside whole-stage codegen and scale linearly with the scan.
  *
  * Beyond-parity extension (the reference has no text processing; SURVEY
  * §7.2 step 10): operates on the `documents` corpus table.
  */
object TextAnalysis {

  /** Whitespace tokenization. `\s+` over trimmed text — simple, locale-free,
    * matches `regexp_split_to_array(trim(x), '\s+')` in ANSI engines.
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish pre-tokenizer count: words and individual punctuation marks as
    * separate tokens (`\w+|[^\w\s]`), the split most byte-pair encoders
    * apply before merging. ASCII word semantics match RE2/ANSI engines.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0)))

  /** BPE-ish subword count estimate: words + extra tokens for long words
    * (every 4 chars beyond the first 4 ≈ one extra merge-level token).
    * Deterministic integer arithmetic only.
    */
  def subwordCountEstimate(text: Column): Column =
    subwordCountFromTokens(tokens(text))

  def subwordCountFromTokens(toks: Column): Column =
    size(toks).cast("long") +
      aggregate(
        transform(toks, t =>
          floor(greatest(length(t) - lit(4), lit(0)).cast("double") / lit(4.0))),
        lit(0L),
        (acc, x) => acc + x)

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))

  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "in", "is", "to")

  def stopwordCount(text: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    stopwordCountFromTokens(tokens(text), stopwords)

  def stopwordCountFromTokens(toks: Column,
      stopwords: Seq[String] = DefaultStopwords): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(sw, t)))
  }

  /** Heuristic quality score in [0,1] (double): rewards reasonable length,
    * penalizes punctuation soup and stopword-free keyword stuffing. Pure
    * per-row IEEE double arithmetic — bit-identical across engines when the
    * expression tree matches.
    */
  def qualityScore(text: Column): Column =
    qualityFromParts(tokenCount(text), punctCount(text), length(text),
      stopwordCount(text))

  /** The one quality formula, shared by [[qualityScore]] and [[stats]] so
    * the DuckDB oracle rendering has a single Scala counterpart.
    */
  def qualityFromParts(tokenCountC: Column, punctCountC: Column,
      nCharsC: Column, stopwordCountC: Column): Column = {
    val tc = tokenCountC.cast("double")
    val nc = greatest(nCharsC, lit(1)).cast("double")
    val lengthTerm = least(tc / lit(100.0), lit(1.0))
    val punctTerm = lit(1.0) - punctCountC.cast("double") / nc
    val swRatio = stopwordCountC.cast("double") / greatest(tc, lit(1.0))
    lit(0.5) * lengthTerm + lit(0.3) * punctTerm + lit(0.2) * swRatio
  }

  /** Language-ID via stopword-marker voting: count hits from each
    * language's tiny marker lexicon, pick the max (ties broken by fixed
    * language order). A classic n-gram/stopword heuristic — deterministic,
    * dictionary-driven, no model weights. Implemented as the native
    * one-pass [[LangIdExpr]]: the HOF composition it replaces walked the
    * token array once per language, interpreted.
    */
  val LangMarkers: Seq[(String, Seq[String])] = LangId.Markers

  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Token-column variant so callers can tokenize once (see [[stats]]). */
  def langIdFromTokens(toks: Column): Column = LangId.langIdFromTokens(toks)

  /** Document fingerprint: polynomial rolling hash (see [[RollingHash]])
    * over whitespace-normalized, lowercased text. Stable across
    * runs/partitions; pairs with exact dedup (Dedup.exact) as the cheap
    * first pass. The 58-bit prime-field construction is engine-portable
    * (any 64-bit-integer SQL engine can replay it), unlike xxhash-style
    * mixers that need unsigned 64-bit multiplies.
    *
    * NULL contract: null text → NULL fingerprint (null-propagating, unlike
    * lang_id's total "und"). Deliberate: a dedup/group key must not
    * collapse every contentless document into one giant "duplicate" group
    * — null-keyed rows fall out of groupBy/join matching instead, which is
    * the correct dedup behavior for missing content.
    */
  def fingerprint(text: Column): Column =
    RollingHash.rollingHash(normalizedText(text))

  /** The fingerprint's canonical form: trim, collapse runs of whitespace to
    * one space, lowercase.
    */
  def normalizedText(text: Column): Column =
    lower(regexp_replace(trim(text), "\\s+", " "))

  /** Corpus-frequency QUALITY score — the engine-portable stand-in for the
    * CCNet-style language-model perplexity filter: each document scores the
    * mean corpus frequency of its tokens, normalized by the corpus token
    * total. Common-word prose scores high; rare-token noise (base64 blobs,
    * code dumps, ransom strings) scores low — the same ordering a unigram
    * LM log-prob gives, WITHOUT the `ln` that would break cross-engine
    * bit-determinism (libm-dependent). All arithmetic is exact integer —
    * per-doc sum of corpus counts over (token_count × corpus_total) — until
    * ONE final division, so scores are bit-identical in any engine.
    *
    * Two-pass by construction (the corpus statistic, then the per-doc
    * score): vocabulary is one hash aggregate over the token postings; the
    * per-doc pass joins postings to vocabulary on term. At 100 TB both
    * shuffles carry (term)/(doc_id) keyed narrow rows; the vocabulary side
    * is Zipf-small relative to the corpus and broadcasts when it fits.
    *
    * Output: one row per document — (doc_id, token_count, unigram_score);
    * NULL-text documents keep token_count 0 and a NULL score.
    */
  def unigramScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = docs.select(col("doc_id"), explode(tokens(col(textCol))).as("term"))
    val vocab = t.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).cast("long").as("__total"))
    val perDoc = t.join(vocab, "term")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("__s"),
        count(lit(1)).as("__n"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        coalesce(col("__n"), lit(0L)).as("token_count"),
        // each factor widens to double BEFORE the multiply: __n × __total
        // overflows int64 at corpus scale (1e6-token doc × 1e13-token
        // corpus = 1e19 > 2^63), while the double product is exact-rounded
        // IEEE in every engine (and exactly equal below 2^53)
        (col("__s").cast("double") /
          (col("__n").cast("double") * col("__total").cast("double")))
          .as("unigram_score"))
  }

  /** CLASSIFIER-based quality filter — the third standard filtering regime
    * (the fastText / FineWeb-Edu shape) alongside the heuristic filters
    * (C4/Gopher, [[filterVerdict]]) and the LM filters
    * ([[bigramScore]]/[[trigramBackoffScore]]): a LINEAR model over token
    * counts. Weights are integer MICRO-units (1e-6 fixed point, the
    * trained model's coefficients quantized once at export);
    * score_num = Σ_t tf(t)·w(t) + bias is an exact integer sum, the
    * surfaced score is score_num / (n_tokens · 10⁶) — the mean per-token
    * contribution in natural units, ONE final division (the
    * [[unigramScore]] rational discipline: no libm, bit-identical in any
    * engine) — and the verdict compares in pure integers:
    * keep ⇔ score_num ≥ thresholdMicros · n_tokens.
    *
    * Scale shape: the weight table is model-sized (KBs–MBs) and
    * BROADCASTS; tf·w accumulates from the token postings in one hash
    * aggregate (each occurrence contributes its weight once — no per-term
    * pre-count needed); the join back to the corpus is one doc_id hash
    * join. No corpus statistic is computed, so unlike the LM filters this
    * is ONE pass — the cheapest per-doc gate after the stateless
    * heuristics.
    *
    * Un-scorable documents (NULL, empty, or whitespace-only text — no
    * token carries any content) keep n_tokens 0, a NULL score, and
    * keep=false — a gate admits only what it can vouch for (bias alone is
    * not a verdict about absent text). The explicit blank guard matters:
    * `tokens('')` is `['']` (split semantics), so without it a
    * content-free document would take the bias-decides path and pass
    * whenever bias ≥ thresholdMicros.
    *
    * Output: (doc_id, n_tokens, score_num, score, keep).
    */
  def classifierScore(docs: DataFrame, weights: Seq[(String, Long)],
      bias: Long = 0L, thresholdMicros: Long = 0L,
      textCol: String = "text"): DataFrame = {
    validateWeights(weights)
    val spark = docs.sparkSession
    import spark.implicits._
    val wTbl = weights.toDF("term", "__w")
    val hits = docs
      .select(col("doc_id"), explode(tokens(col(textCol))).as("term"))
      .join(broadcast(wTbl), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__w")).as("__hit"))
    classifierVerdict(docs
      .select(col("doc_id"), classifierNTokens(col(textCol)).as("n_tokens"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (coalesce(col("__hit"), lit(0L)) + lit(bias)).as("score_num")),
      thresholdMicros)
  }

  /** [[classifierScore]] as a PURE PROJECTION — the weight table folds
    * into the plan as a MAP LITERAL and the score accumulates scan-side
    * (`aggregate` over the token array, exact integer adds), so there is
    * no join, no explode, and no aggregation operator at all. Identical
    * output to the join form (q_text_classifier_inline shares
    * q_text_classifier_quality's oracle — hash equality certifies the
    * two access paths agree), but the shape differs where it matters:
    * the projection is legal in STREAMING append mode (the
    * [[graft.streaming.DocsStream.classifierStream]] gate) and is the
    * cheaper batch plan while the model stays plan-literal-sized (KBs);
    * at MB-class models the broadcast-postings join amortizes better —
    * the literal would be re-shipped inside every task binary.
    */
  def classifierScoreInline(docs: DataFrame, weights: Seq[(String, Long)],
      bias: Long = 0L, thresholdMicros: Long = 0L,
      textCol: String = "text"): DataFrame =
    classifierVerdict(docs.select(col("doc_id"),
        classifierNTokens(col(textCol)).as("n_tokens"),
        classifierScoreNum(col(textCol), weights, bias).as("score_num")),
      thresholdMicros)

  /** Per-term LABEL-ODDS statistics — the feature-selection relation a
    * quality-classifier training run reads from the corpus (the
    * q_text_bpe_pairs discipline: the corpus-scale input is oracle-gated,
    * the iterative trainer is spec-pinned): for every term, the count of
    * distinct positive- and negative-labeled documents containing it and
    * the add-one-smoothed odds ratio — the statistic that ranks candidate
    * vocabulary terms by class discrimination (monotone in log-odds
    * without touching libm: ONE exact division). One explode + one
    * term-keyed aggregate; cost is corpus tokens, the [[vocabulary]]
    * currency. Output: (term, pos_docs, neg_docs, odds).
    */
  def termLogOdds(docs: DataFrame, label: Column,
      textCol: String = "text"): DataFrame =
    docs
      .select(col("doc_id"), label.cast("boolean").as("__y"),
        explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"))
      .agg(
        count_distinct(when(col("__y"), col("doc_id"))).as("pos_docs"),
        count_distinct(when(!col("__y"), col("doc_id"))).as("neg_docs"))
      .select(col("term"), col("pos_docs"), col("neg_docs"),
        ((col("pos_docs") + lit(1L)).cast("double") /
          (col("neg_docs") + lit(1L)).cast("double")).as("odds"))

  /** TRAIN the quality classifier the score operators serve — the
    * missing half of the classifier story (inference existed with fixed
    * exported weights; this produces them): full-batch logistic
    * regression on RAW token-count features over a restricted
    * vocabulary, so the learned decision z = bias + Σ_t tf(t)·w(t) ≥ 0
    * is EXACTLY [[classifierScore]]'s integer keep rule at threshold 0
    * once the weights quantize to micro-units — train here, export,
    * serve through the certified inference paths (batch join, inline
    * projection, streaming gate) with no semantic seam.
    *
    * Deterministic by construction (the [[Bpe.learnMergesLocal]]
    * discipline): examples fold in the given order, fixed iteration
    * count, no RNG, zero init — two runs produce bit-identical weights.
    * Returns (term → micro-weight for every vocab term, micro-bias).
    */
  def trainClassifierLocal(examples: Seq[(Seq[String], Int)],
      vocab: Seq[String], iters: Int = 100,
      lr: Double = 1.0): (Seq[(String, Long)], Long) = {
    require(examples.nonEmpty, "no training examples")
    require(examples.forall(e => e._2 == 0 || e._2 == 1),
      "labels must be 0/1")
    require(vocab.nonEmpty && vocab.distinct == vocab,
      "vocab must be non-empty and duplicate-free")
    val vIdx = vocab.zipWithIndex.toMap
    // per-example sparse vocab-term counts, materialized once
    val feats = examples.map { case (toks, y) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Int, Double]
      toks.foreach(t => vIdx.get(t).foreach(i =>
        m(i) = m.getOrElse(i, 0.0) + 1.0))
      (m.toSeq.sortBy(_._1), y.toDouble)
    }
    val n = vocab.size
    val w = new Array[Double](n)
    var b = 0.0
    val m = examples.size.toDouble
    var it = 0
    while (it < iters) {
      val gw = new Array[Double](n)
      var gb = 0.0
      feats.foreach { case (xs, y) =>
        var z = b
        xs.foreach { case (i, c) => z += c * w(i) }
        val p = 1.0 / (1.0 + math.exp(-z))
        val r = p - y
        gb += r
        xs.foreach { case (i, c) => gw(i) += r * c }
      }
      var i = 0
      while (i < n) { w(i) -= lr / m * gw(i); i += 1 }
      b -= lr / m * gb
      it += 1
    }
    (vocab.zip(w.map(x => math.round(x * 1e6))),
      math.round(b * 1e6))
  }

  /** [[trainClassifierLocal]] over a LABELED DataFrame — the corpus is
    * touched once to collect each example's vocab-term counts in doc_id
    * order (quality classifiers train on a bounded labeled seed set —
    * FineWeb-Edu's ~450k annotations — while INFERENCE runs at corpus
    * scale through the certified score paths; `maxExamples` is the loud
    * bound, the maxQueries contract).
    */
  def trainClassifier(docs: DataFrame, label: Column, vocab: Seq[String],
      iters: Int = 100, lr: Double = 1.0, maxExamples: Int = 65536,
      textCol: String = "text"): (Seq[(String, Long)], Long) = {
    val rows = docs
      .select(col("doc_id"), label.cast("int").as("__y"),
        tokens(col(textCol)).as("__t"))
      .orderBy("doc_id")
      .limit(maxExamples + 1)
      .collect()
    require(rows.length <= maxExamples,
      s"labeled set exceeds maxExamples=$maxExamples; sample it down " +
        "or raise the cap")
    val examples = rows.toSeq.map { r =>
      val toks = Option(r.getAs[scala.collection.Seq[String]]("__t"))
        .map(_.toSeq).getOrElse(Seq.empty)
      // a label that casts to NULL (bad source format, NULL column) must
      // fail with the same loud labels-must-be-0/1 message the local
      // trainer raises, not an opaque NPE from getInt on a null cell
      require(!r.isNullAt(1),
        s"label for doc_id=${r.get(0)} is NULL after cast to int; " +
          "labels must be 0 or 1")
      (toks, r.getInt(1))
    }
    trainClassifierLocal(examples, vocab, iters, lr)
  }

  /** The inline score numerator: bias + Σ weight(token) folded scan-side
    * over the token array. NULL text → the fold is NULL → bias (the same
    * no-hits answer the join path gives). Shared by the inline batch
    * form and the streaming gate.
    */
  private[graft] def classifierScoreNum(text: Column,
      weights: Seq[(String, Long)], bias: Long): Column = {
    validateWeights(weights)
    val wmap = typedLit(weights.toMap)
    coalesce(
      aggregate(tokens(text), lit(bias),
        (acc, t) => acc + coalesce(element_at(wmap, t), lit(0L))),
      lit(bias))
  }

  /** Scorable-token count: 0 for NULL/empty/whitespace-only text (see
    * [[classifierScore]]'s blank guard), else the whitespace token count.
    */
  private[graft] def classifierNTokens(text: Column): Column =
    when(coalesce(text.rlike("\\S"), lit(false)),
      size(tokens(text)).cast("long")).otherwise(lit(0L))

  /** The shared verdict tail: ONE definition of the surfaced score (one
    * final division) and the pure-integer threshold comparison, so the
    * join and projection forms cannot drift.
    */
  private def classifierVerdict(scored: DataFrame,
      thresholdMicros: Long): DataFrame =
    scored.select(col("doc_id"), col("n_tokens"), col("score_num"),
      when(col("n_tokens") === 0, lit(null).cast("double"))
        .otherwise(col("score_num").cast("double") /
          (col("n_tokens").cast("double") * lit(1000000.0))).as("score"),
      when(col("n_tokens") === 0, lit(false))
        .otherwise(col("score_num") >= lit(thresholdMicros) * col("n_tokens"))
        .as("keep"))

  private def validateWeights(weights: Seq[(String, Long)]): Unit = {
    require(weights.nonEmpty, "need at least one weight")
    require(weights.forall(_._1.nonEmpty), "weight terms must be non-empty")
    require(weights.map(_._1).distinct.length == weights.length,
      s"duplicate terms in weight table")
  }

  /** Bigram-LM quality score — the order-2 upgrade of [[unigramScore]]'s
    * CCNet-style LM filter: each document scores the mean SMOOTHED
    * CONDITIONAL PROBABILITY of its bigram positions under the corpus
    * bigram model, P(w2|w1) = (c(w1,w2)+a) / (c(w1·)+a·V). Fluent prose
    * (common continuations) scores high; shuffled or noisy text scores
    * low even when its unigrams are common — exactly what the bigram
    * order buys over [[unigramScore]]. Deliberately RATIONAL arithmetic
    * (the same discipline as the rational-idf BM25 variant and
    * unigramScore): counts are exact integers, each position's probability
    * is ONE IEEE division, and the per-doc sum folds in sorted position
    * order — bit-identical in any engine, no libm `ln`/`exp` in sight.
    * [[bigramPerplexity]] is the log-space rendering for human consumption
    * (spec-gated with tolerance, not oracle-hashed).
    *
    * Scale shape: bigrams explode from a scan-side `transform` projection
    * (no self-join); the model is one hash aggregate on (w1,w2); context
    * totals derive from the model by a second small aggregate (never a
    * corpus re-scan); V rides as a broadcast one-row frame. The scoring
    * pass joins occurrences to the Zipf-bounded model tables on term keys
    * — hash equi-joins that scale like any postings join. The per-doc fold
    * is the bm25Rank sorted-struct pattern.
    *
    * Output: one row per document — (doc_id, n_bigrams, bigram_score);
    * documents with <2 tokens keep n_bigrams 0 and a NULL score.
    */
  def bigramScore(docs: DataFrame, addK: Double = 1.0,
      textCol: String = "text"): DataFrame = {
    require(addK > 0, "addK must be positive (unseen mass)")
    val occ = bigramOccurrences(docs, textCol)
    val model = occ.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val ctx = model.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("long").as("c1"))
    val vTbl = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .agg(countDistinct(col("term")).as("__v"))
    scoreAgainstLm(docs, occ, model, ctx, vTbl, addK)
  }

  /** The shared bigram scoring tail: occurrence rows LEFT-join the model
    * (unseen bigrams take count 0 and live on the add-k smoothing mass —
    * exactly the cross-corpus LM-filter semantics), sorted-struct fold per
    * doc. Identical between the self-trained path and the persisted-model
    * path, which is what makes [[bigramScoreIndexed]] a pure access-path
    * swap (the bm25SearchIndexed discipline).
    */
  private def scoreAgainstLm(docs: DataFrame, occ: DataFrame,
      model: DataFrame, ctx: DataFrame, vTbl: DataFrame,
      addK: Double): DataFrame = {
    val p = (coalesce(col("c12"), lit(0L)).cast("double") + lit(addK)) /
      (coalesce(col("c1"), lit(0L)).cast("double") +
        lit(addK) * col("__v").cast("double"))
    val perDoc = occ
      .join(model, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vTbl))
      .select(col("doc_id"), col("pos"), p.as("__p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"),
        aggregate(
          array_sort(collect_list(struct(col("pos"), col("__p")))),
          lit(0.0),
          (acc, x) => acc + x.getField("__p")).as("__s"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__n"), lit(0L)).as("n_bigrams"),
        (col("__s") / col("__n").cast("double")).as("bigram_score"))
  }

  /** MIN-K% PROB membership audit (Shi et al., ICLR 2024 "Detecting
    * Pretraining Data from Large Language Models") rendered onto the
    * engine's rational bigram LM: fit the model on `corpus` (the
    * training set under audit), then score each CANDIDATE document by
    * the mean probability of its k%-LOWEST-probability bigram positions
    * — members lack the deep-outlier positions that unseen text hits
    * (novel bigrams fall to the add-k smoothing floor), so a LOW min-k
    * mean flags a non-member. This is the published test's exact shape
    * (bottom-k mean over per-position model probabilities) with the
    * paper's LLM log-probs replaced by the engine's exact-rational
    * bigram probabilities, which keeps every value engine-bit-identical:
    * p is one IEEE division of exact counts, the bottom-k selection
    * sorts on (p, pos), k-of-n is integer arithmetic
    * (`m = ceil(n/5) = (n+4) div 5` at the default k = 20%), and the
    * mean folds in the sorted order. Documents with <2 tokens report
    * n_bigrams 0 and NULL min_k_prob.
    *
    * Scale shape: the fit is [[bigramScore]]'s (Zipf-bounded hash
    * aggregates); scoring joins candidate occurrences to the model on
    * term keys (postings equi-joins); the bottom-k fold is per-document
    * (collect_list bounded by document length). Nothing keys wider than
    * a term pair.
    */
  def minKProb(corpus: DataFrame, candidates: DataFrame, addK: Double = 1.0,
      textCol: String = "text"): DataFrame = {
    require(addK > 0, "addK must be positive (unseen mass)")
    val occ = bigramOccurrences(corpus, textCol)
    val model = occ.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val ctx = model.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("long").as("c1"))
    val vTbl = corpus
      .select(explode(tokens(col(textCol))).as("term"))
      .agg(countDistinct(col("term")).as("__v"))
    minKTail(candidates, model, ctx, vTbl, addK, textCol)
  }

  /** [[minKProb]] against a persisted [[writeLmTable]] model — the
    * published deployment (the audit model trains once on the corpus
    * under audit; suspect sets stream through scoring). A pure
    * access-path swap of the fit tables, certified by the SAME oracle
    * hash as the inline row (the bigramScoreIndexed discipline).
    */
  def minKProbIndexed(spark: org.apache.spark.sql.SparkSession,
      name: String, candidates: DataFrame, addK: Double = 1.0,
      textCol: String = "text"): DataFrame = {
    requireIndexName(name)
    require(addK > 0, "addK must be positive (unseen mass)")
    minKTail(candidates, spark.table(s"${name}_model"),
      spark.table(s"${name}_ctx"),
      spark.table(s"${name}_globals").select(col("v").as("__v")),
      addK, textCol)
  }

  /** The shared bottom-k scoring tail of [[minKProb]] /
    * [[minKProbIndexed]]. */
  private def minKTail(candidates: DataFrame, model: DataFrame,
      ctx: DataFrame, vTbl: DataFrame, addK: Double,
      textCol: String): DataFrame = {
    val p = (coalesce(col("c12"), lit(0L)).cast("double") + lit(addK)) /
      (coalesce(col("c1"), lit(0L)).cast("double") +
        lit(addK) * col("__v").cast("double"))
    val perDoc = bigramOccurrences(candidates, textCol)
      .join(model, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vTbl))
      .select(col("doc_id"), col("pos"), p.as("__p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"),
        array_sort(collect_list(struct(col("__p"), col("pos")))).as("__ps"))
      .select(col("doc_id"), col("__n"),
        ((col("__n") + 4) / lit(5)).cast("int").as("__m"), col("__ps"))
      .select(col("doc_id"), col("__n"), col("__m"),
        (aggregate(slice(col("__ps"), lit(1), col("__m")), lit(0.0),
          (acc, x) => acc + x.getField("__p")) /
          col("__m").cast("double")).as("__mk"))
    candidates.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__n"), lit(0L)).as("n_bigrams"),
        col("__mk").as("min_k_prob"))
  }

  /** CANARY EXPOSURE audit (Carlini et al., USENIX Security 2019 "The
    * Secret Sharer") rendered onto the rational bigram LM: candidate
    * sequences per repetition class are CONFIGURATION (generated by the
    * engine's doc-id LCG over a fixed vocabulary and rendered as
    * literals into both engines — the classifierWeights discipline);
    * class c's canary (candidate 0) is inserted into the corpus c
    * times, the model refits, and every candidate scores its sequence
    * probability (ordered product of per-bigram rational probabilities).
    * The audit metric is the canary's RANK among its class's candidates
    * (score descending, candidate-id ascending) — the monotone core of
    * the paper's exposure = log2(M) − log2(rank), kept in exact integers
    * rather than libm logs. A rank that falls toward 1 as repetitions
    * grow is the memorization ladder the audit exists to surface.
    *
    * `candidates` columns: (reps, cand_id, ctext). Output: one row per
    * class — (reps, n_candidates, canary_rank, canary_score), canary =
    * cand_id 0. The caller builds the corpus WITH the injected canary
    * documents ([[graft.oracles.PipelineOracles.canaryCandidates]]).
    */
  def canaryRank(corpus: DataFrame, candidates: DataFrame,
      addK: Double = 1.0, textCol: String = "text"): DataFrame = {
    require(addK > 0, "addK must be positive (unseen mass)")
    val occ = bigramOccurrences(corpus, textCol)
    val model = occ.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val ctx = model.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("long").as("c1"))
    val vTbl = corpus
      .select(explode(tokens(col(textCol))).as("term"))
      .agg(countDistinct(col("term")).as("__v"))
    canaryTail(candidates, model, ctx, vTbl, addK)
  }

  /** [[canaryRank]] against a persisted [[writeLmTable]] model — the
    * audit face that composes with EXACT UNLEARNING: insert canaries,
    * fit the stored model, read rank 1; [[deleteFromLmTable]] the canary
    * documents and the SAME audit reads the uninserted baseline rank,
    * because unlearning is count-exact (TakedownSpec pins the loop).
    */
  def canaryRankIndexed(spark: org.apache.spark.sql.SparkSession,
      name: String, candidates: DataFrame, addK: Double = 1.0): DataFrame = {
    requireIndexName(name)
    require(addK > 0, "addK must be positive (unseen mass)")
    canaryTail(candidates, spark.table(s"${name}_model"),
      spark.table(s"${name}_ctx"),
      spark.table(s"${name}_globals").select(col("v").as("__v")), addK)
  }

  /** The shared sequence-probability ranking tail of [[canaryRank]] /
    * [[canaryRankIndexed]]. */
  private def canaryTail(candidates: DataFrame, model: DataFrame,
      ctx: DataFrame, vTbl: DataFrame, addK: Double): DataFrame = {
    val p = (coalesce(col("c12"), lit(0L)).cast("double") + lit(addK)) /
      (coalesce(col("c1"), lit(0L)).cast("double") +
        lit(addK) * col("__v").cast("double"))
    val scored = bigramOccurrences(
        candidates.select((col("reps") * 1000 + col("cand_id"))
          .cast("long").as("doc_id"), col("ctext")), "ctext")
      .join(model, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vTbl))
      .select(col("doc_id"), col("pos"), p.as("__p"))
      .groupBy(col("doc_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("pos"), col("__p")))),
        lit(1.0), (acc, x) => acc * x.getField("__p")).as("__s"))
      .select((col("doc_id") / 1000).cast("long").as("reps"),
        pmod(col("doc_id"), lit(1000L)).cast("long").as("cand_id"),
        col("__s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("reps")).orderBy(col("__s").desc, col("cand_id"))
    scored
      .select(col("reps"), col("cand_id"), col("__s"),
        row_number().over(w).cast("long").as("__rk"))
      .groupBy(col("reps"))
      .agg(count(lit(1)).as("n_candidates"),
        min(when(col("cand_id") === 0, col("__rk"))).as("canary_rank"),
        min(when(col("cand_id") === 0, col("__s"))).as("canary_score"))
      .select(col("reps"), col("n_candidates"), col("canary_rank"),
        col("canary_score"))
  }

  /** Materialize a persisted BIGRAM LANGUAGE MODEL: the (w1, w2, c12)
    * count table and the (w1, c1) context-total table, both bucketed by
    * the context key the scoring joins use, plus a one-row vocabulary
    * globals table. Train ONCE on the reference corpus at ingest; score
    * any batch against the stored tables — the CCNet deployment shape
    * (the model trains on clean text, the crawl streams through scoring),
    * where retraining per scored batch would re-scan the reference corpus
    * every time. The corpus is tokenized TWICE, not three times (r17):
    * the vocab census writes FIRST, the globals row derives V from the
    * written vocab's row count, and the ctx totals derive from the
    * written model table — no third corpus pass. Torn-publish discipline
    * here is drop-on-failure (any exception drops every table, so a
    * partial build is never queryable), not publish order.
    */
  def writeLmTable(docs: DataFrame, name: String, buckets: Int = 16,
      textCol: String = "text"): Unit = {
    requireIndexName(name)
    val spark = docs.sparkSession
    dropLmTable(spark, name)
    val occ = bigramOccurrences(docs, textCol)
    try {
      // The two corpus tokenizes (vocab census, bigram model) and then the
      // two derive-from-stored writes (globals ← vocab, ctx ← model) are
      // pairwise independent — overlap each pair (guide §2.6) so one
      // scan's task tail back-fills with the other's. Failure semantics
      // unchanged: Par propagates the first failure after both finish,
      // and any failure drops every table (torn-publish = drop-on-failure
      // here — a hard crash leaves partial tables, but every reader
      // resolves a table the other write owns, so partials stay LOUD).
      graft.Par.run(Seq(
        // per-term occurrence counts — not read by scoring, but the state
        // deleteFromLmTable needs to maintain V exactly (a term leaves the
        // vocabulary only when its LAST occurrence is unlearned, which the
        // aggregated bigram counts alone cannot see: single-token documents
        // contribute vocabulary but no bigram)
        () => graft.sources.ManagedTables.writeBucketed(
          docs.select(explode(tokens(col(textCol))).as("term"))
            .groupBy(col("term")).agg(count(lit(1)).as("cnt")),
          s"${name}_vocab", "term", buckets),
        () => graft.sources.ManagedTables.writeBucketed(
          occ.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")),
          s"${name}_model", "w1", buckets)))
      import spark.implicits._
      graft.Par.run(Seq(
        // V = the written vocab's row count (one row per distinct term) —
        // deriving globals from the materialized census instead of a
        // second tokenize + countDistinct corpus scan (the same
        // derive-from-stored discipline as the ctx table)
        () => Seq(spark.table(s"${name}_vocab").count()).toDF("v")
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${name}_globals"),
        () => graft.sources.ManagedTables.writeBucketed(
          spark.table(s"${name}_model").groupBy(col("w1"))
            .agg(sum(col("c12")).cast("long").as("c1")),
          s"${name}_ctx", "w1", buckets)))
    } catch {
      case e: Throwable => dropLmTable(spark, name); throw e
    }
  }

  /** UNLEARN training documents from a [[writeLmTable]] model — deletion
    * for the count-model family (the takedown/opt-out story where the
    * removed text shaped MODEL WEIGHTS, not just an index row): subtract
    * the deleted documents' exact bigram and token occurrence counts
    * from the stored tables, drop rows whose counts reach zero, and
    * re-derive the context totals and vocabulary size. Counts are
    * integers, so unlearning is EXACT — the model equals a retrain
    * without the deleted docs to the bit (q_text_bigram_deleted
    * certifies this through the scoring oracle).
    *
    * `deletedDocs` must be the training documents AS INGESTED (subtract
    * what was added — a doc never trained, or already unlearned, would
    * double-subtract; the upserts' can't-see contract, mirrored).
    * Cost: O(deleted docs) occurrence counting + stage-and-swap rewrites
    * of the MODEL-sized tables — never a training-corpus re-scan, which
    * is what a retrain would pay.
    */
  def deleteFromLmTable(spark: org.apache.spark.sql.SparkSession,
      name: String, deletedDocs: DataFrame,
      textCol: String = "text"): Unit = {
    requireIndexName(name)
    require(spark.catalog.tableExists(s"${name}_vocab"),
      s"LM table $name has no vocab table (pre-unlearning build) — rebuild")
    val dOcc = bigramOccurrences(deletedDocs, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__d"))
    val dTok = deletedDocs
      .select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__d"))
    import spark.implicits._
    // two independent rewrite CHAINS (model → ctx derives from the
    // rewritten model; vocab → globals derives from the rewritten vocab) —
    // overlap the chains, keep each chain's internal order (guide §2.6)
    graft.Par.run(Seq(
      () => {
        graft.sources.ManagedTables.rewriteBucketed(spark, s"${name}_model",
          spark.table(s"${name}_model")
            .join(dOcc, Seq("w1", "w2"), "left")
            .select(col("w1"), col("w2"),
              (col("c12") - coalesce(col("__d"), lit(0L))).as("c12"))
            .filter(col("c12") > 0))
        graft.sources.ManagedTables.rewriteBucketed(spark, s"${name}_ctx",
          spark.table(s"${name}_model").groupBy(col("w1"))
            .agg(sum(col("c12")).cast("long").as("c1")))
      },
      () => {
        graft.sources.ManagedTables.rewriteBucketed(spark, s"${name}_vocab",
          spark.table(s"${name}_vocab")
            .join(dTok, Seq("term"), "left")
            .select(col("term"),
              (col("cnt") - coalesce(col("__d"), lit(0L))).as("cnt"))
            .filter(col("cnt") > 0))
        Seq(spark.table(s"${name}_vocab").count()).toDF("v")
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${name}_globals")
      }))
  }

  /** [[bigramScore]] against a [[writeLmTable]] model — same scoring tail,
    * same results when the model was trained on the scored corpus
    * (BucketedSpec asserts both), but training never re-runs: the batch's
    * occurrence rows join the stored count tables. Unseen bigrams and
    * contexts take the add-k smoothing mass; V is the TRAINING corpus
    * vocabulary (scores are comparable across batches because the model
    * is fixed).
    */
  def bigramScoreIndexed(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame, addK: Double = 1.0,
      textCol: String = "text"): DataFrame = {
    requireIndexName(name)
    require(addK > 0, "addK must be positive (unseen mass)")
    scoreAgainstLm(batch, bigramOccurrences(batch, textCol),
      spark.table(s"${name}_model"), spark.table(s"${name}_ctx"),
      spark.table(s"${name}_globals").select(col("v").as("__v")), addK)
  }

  /** Drop all three LM tables AND their directories. */
  def dropLmTable(spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    requireIndexName(name)
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_model", s"${name}_ctx", s"${name}_globals",
        s"${name}_vocab"))
  }

  /** Log-space bigram-LM perplexity: exp of the per-doc cross-entropy under
    * the same add-k model as [[bigramScore]]. Uses `ln`/`exp`, so it is NOT
    * cross-engine bit-deterministic — gated by spec tolerance, offered for
    * pipelines that want the conventional perplexity reading. Same plan
    * shape as [[bigramScore]] (the fold sums log terms instead of
    * probabilities).
    */
  def bigramPerplexity(docs: DataFrame, addK: Double = 1.0,
      textCol: String = "text"): DataFrame = {
    require(addK > 0, "addK must be positive (unseen mass)")
    val occ = bigramOccurrences(docs, textCol)
    val model = occ.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val ctx = model.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("long").as("c1"))
    val vTbl = docs
      .select(explode(tokens(col(textCol))).as("term"))
      .agg(countDistinct(col("term")).as("__v"))
    val logp = log((col("c12").cast("double") + lit(addK)) /
      (col("c1").cast("double") + lit(addK) * col("__v").cast("double")))
    val perDoc = occ
      .join(model, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vTbl))
      .select(col("doc_id"), col("pos"), logp.as("__lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n"),
        aggregate(
          array_sort(collect_list(struct(col("pos"), col("__lp")))),
          lit(0.0),
          (acc, x) => acc + x.getField("__lp")).as("__s"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__n"), lit(0L)).as("n_bigrams"),
        (-col("__s") / col("__n").cast("double")).as("cross_entropy"),
        exp(-col("__s") / col("__n").cast("double")).as("perplexity"))
  }

  /** STUPID-BACKOFF trigram score (Brants et al., EMNLP 2007 — the
    * web-scale LM scheme built precisely because it needs NO normalization
    * or discounting): each position scores
    * S(w3|w1 w2) = c123/c12 if the trigram was seen, else
    * α·c23/c2 if the bigram was, else α²·c3/N (α = 0.4, the paper's
    * constant). Every term is a ratio of exact integer counts — one IEEE
    * division chosen by integer comparisons — so the per-doc sorted-fold
    * mean replays bit-exactly in any engine, like [[bigramScore]] but
    * with an order-3 head and graceful backoff instead of add-k mass.
    * The model trains on `train` and scores `docs` — pass the same frame
    * for the self-trained reading (where the head arm always hits); a
    * disjoint train slice exercises all three arms, which is the regime
    * backoff exists for. A token absent from the model entirely
    * contributes 0.
    *
    * Scale shape: trigram/bigram/unigram count tables are three hash
    * aggregates over scan-side projections; scoring joins are term-keyed
    * hash equi-joins (LEFT, so backoff arms see their misses); N rides as
    * a broadcast one-row frame.
    */
  def trigramBackoffScore(docs: DataFrame, train: DataFrame,
      alpha: Double = 0.4, textCol: String = "text"): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha in (0, 1]")
    val occ3 = trigramOccurrences(docs, textCol)
    val uni = train
      .select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = bigramOccurrences(train, textCol)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val tri = trigramOccurrences(train, textCol)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c123"))
    val nTbl = uni.agg(sum(col("c")).cast("long").as("__n"))
    val seen3 = coalesce(col("c123"), lit(0L)) > 0
    val seen2 = coalesce(col("c23"), lit(0L)) > 0
    val s = when(seen3,
        col("c123").cast("double") / col("c12").cast("double"))
      .when(seen2,
        lit(alpha) * (col("c23").cast("double") / col("c2").cast("double")))
      .otherwise(lit(alpha * alpha) *
        (coalesce(col("c3"), lit(0L)).cast("double") / col("__n").cast("double")))
    val perDoc = occ3
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi, Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c12").as("c23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("c").as("c3")), Seq("w3"), "left")
      .crossJoin(broadcast(nTbl))
      .select(col("doc_id"), col("pos"), s.as("__s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__k"),
        aggregate(
          array_sort(collect_list(struct(col("pos"), col("__s")))),
          lit(0.0),
          (acc, x) => acc + x.getField("__s")).as("__sum"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__k"), lit(0L)).as("n_trigrams"),
        (col("__sum") / col("__k").cast("double")).as("backoff_score"))
  }

  /** (doc_id, pos, w1, w2, w3) trigram occurrence rows, 1-based pos —
    * same scan-side `transform` shape as [[bigramOccurrences]].
    */
  private def trigramOccurrences(docs: DataFrame, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    docs
      .select(col("doc_id"), t.as("__t"))
      .filter(col("__t").isNotNull && size(col("__t")) >= 3)
      .select(col("doc_id"), explode(transform(
        slice(col("__t"), lit(1), size(col("__t")) - 2),
        (x, i) => struct((i + 1).cast("long").as("pos"), x.as("w1"),
          element_at(col("__t"), i + 2).as("w2"),
          element_at(col("__t"), i + 3).as("w3")))).as("__tg"))
      .select(col("doc_id"), col("__tg.pos").as("pos"),
        col("__tg.w1").as("w1"), col("__tg.w2").as("w2"),
        col("__tg.w3").as("w3"))
  }

  /** (doc_id, pos, w1, w2) bigram occurrence rows, 1-based pos, built by a
    * scan-side `transform` over the token array — no explode-and-self-join.
    * Shared with [[Sampling.dsirLogRatios]]/[[Sampling.dsirScore]] (the
    * DSIR hashed-bigram feature stream is this same occurrence frame).
    */
  private[functions] def bigramOccurrences(docs: DataFrame, textCol: String): DataFrame = {
    val t = tokens(col(textCol))
    docs
      .select(col("doc_id"), t.as("__t"))
      .filter(col("__t").isNotNull && size(col("__t")) >= 2)
      .select(col("doc_id"), explode(transform(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        (x, i) => struct((i + 1).cast("long").as("pos"), x.as("w1"),
          element_at(col("__t"), i + 2).as("w2")))).as("__bg"))
      .select(col("doc_id"), col("__bg.pos").as("pos"),
        col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
  }

  /** Per-document top-k terms by frequency (stopwords excluded, ties by
    * term asc) — keyword extraction, the integer-only cousin of TF-IDF
    * (term frequencies are exact counts, so results are deterministic
    * across engines without floating-point IDF). Scale shape: explode to
    * (doc, term) postings, one hash aggregate, one windowed rank per doc.
    */
  def topTerms(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    val sw = array(DefaultStopwords.map(lit): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tf").desc, col("term"))
    docs
      .select(col("doc_id"), explode(tokens(col(textCol))).as("term"))
      .filter(not(array_contains(sw, col("term"))) && col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Corpus vocabulary table: every term with its document frequency and
    * total occurrence count — the statistic tokenizer training and
    * vocabulary pruning consume. Integer-only (exact counts, no
    * floating-point IDF), so cross-engine deterministic. Scale shape: one
    * explode to (doc, term) postings, one aggregate keyed on term; df
    * rides as a count of distinct docs per term computed from the same
    * postings (distinct-in-aggregate, no second scan).
    */
  def vocabulary(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"))
      .agg(
        countDistinct(col("doc_id")).as("doc_freq"),
        count(lit(1)).as("term_freq"))

  /** BM25 ranked retrieval: top-k documents for a bag of query terms
    * (Robertson/Spärck Jones probabilistic weighting with the standard
    * `k1`/`b` length normalization) — the relevance-search operator a corpus
    * curation UI runs over the documents table.
    *
    * DETERMINISM VARIANT — rational idf: the classic `ln((N-df+0.5)/(df+0.5))`
    * is replaced by the raw ratio `(N-df+0.5)/(df+0.5)` (no log). Every
    * remaining operation is IEEE +,*,/ — correctly rounded and identical on
    * any engine given the same expression tree — whereas `ln` is libm-
    * dependent and can drift a ulp across engines, which a hash-exact gate
    * cannot tolerate. The ratio is monotone in the classic idf, so single-
    * term rankings are identical; multi-term rankings weight rare terms
    * MORE than log-idf BM25 does (documented engine behavior, not an
    * accident). Per-document scores fold contributions in term-asc order
    * (sorted-struct aggregate), so multi-term sums are bit-stable under any
    * partitioning.
    *
    * Scale shape: postings filter to the query terms AT THE EXPLODE — only
    * (doc, query-term) rows ever shuffle, so cost is proportional to the
    * terms' document frequency, not corpus size; df and the global (N,
    * avgdl) scalars ride in as broadcast one-row/`|terms|`-row joins; the
    * final top-k is one rank over docs that matched at least one term.
    */
  def bm25Search(docs: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75, textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty)
    val toked = bm25Toked(docs, textCol)
    val stats = toked.agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    bm25Rank(bm25Postings(toked, queryTerms), stats, k, k1, b)
  }

  private def bm25Toked(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
        col("__toks"))

  /** (doc_id, dl, term, tf) postings; `terms` restricts AT THE EXPLODE so
    * the scan path's shuffled rows stay ∝ query-term df (empty = full
    * postings, the index-build shape).
    */
  private def bm25Postings(toked: DataFrame, terms: Seq[String] = Nil): DataFrame = {
    val exploded = toked
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
    val restricted =
      if (terms.isEmpty) exploded else exploded.filter(col("term").isin(terms: _*))
    restricted
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
  }

  /** The shared BM25 scoring tail: postings (doc_id, dl, term, tf) already
    * restricted to the query terms, plus the one-row global stats frame
    * (n_docs, sum_dl). Identical between the full-scan and indexed paths —
    * which is what makes [[bm25SearchIndexed]] a pure ACCESS-PATH swap.
    */
  private def bm25Rank(postings: DataFrame, stats: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame = {
    val dfTbl = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))

    // Scala-side constants interpolate into BOTH engines' expression trees
    // (never re-derived in SQL), so the doubles agree to the bit.
    val k1p1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val idf = (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val tfD = col("tf").cast("double")
    val denom = tfD + lit(k1) *
      (lit(oneMinusB) + lit(b) * col("dl").cast("double") / avgdl)
    val contrib = idf * (tfD * lit(k1p1)) / denom

    val scored = postings
      .join(broadcast(dfTbl), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), contrib.as("c"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_matched"),
        aggregate(
          array_sort(collect_list(struct(col("term"), col("c")))),
          lit(0.0),
          (acc, x) => acc + x.getField("c")).as("score"))
    // global top-k via orderBy+limit → TakeOrderedAndProject (per-partition
    // heaps, no global sort); the rank window then runs over k rows only
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    scored.orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w))
      .select("doc_id", "n_matched", "score", "rank")
  }

  /** Materialize a BM25 SEARCH INDEX: the full postings list as a managed
    * table bucketed AND sorted by term, plus a one-row globals table
    * (n_docs, sum_dl). At 100 TB a per-query corpus scan is the wrong
    * access path — with the index, a term-IN filter prunes the read to the
    * matching buckets (`SelectedBucketsCount` in the plan), so query cost
    * scales with the queried terms' document frequency, not corpus size.
    * Rebuild = rerun (overwrite both tables).
    */
  def writeSearchIndex(docs: DataFrame, name: String, buckets: Int = 64,
      textCol: String = "text"): Unit = {
    requireIndexName(name)
    val spark = docs.sparkSession
    dropSearchIndex(spark, name)
    // ONE tokenize pass feeds all three outputs (postings write + doclens
    // write + globals agg — three actions over the same lineage would
    // re-scan the corpus three times). Materialize the cache with one
    // cheap count FIRST so the overlapped writers below read computed
    // blocks instead of racing to fill them.
    val toked = bm25Toked(docs, textCol).persist()
    try {
      toked.count()
      // the three writes touch disjoint tables and all read the cached
      // tokenize — overlap them (guide §2.6). Torn-publish safety is
      // drop-on-failure (the catch removes every table); a hard crash can
      // leave any strict subset, and every reader resolves a table some
      // other write owns, so partial builds stay LOUD, never queryable.
      graft.Par.run(Seq(
        () => toked.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${name}_globals"),
        // per-doc lengths INCLUDING token-less docs (empty/NULL text): such
        // a doc is counted in n_docs but has NO postings rows, so the
        // deletion path must recover dl from here, not from postings (a
        // postings join would silently skip it and n_docs/avgdl would
        // never be corrected)
        () => toked.select(col("doc_id"), coalesce(col("dl"), lit(0L)).as("dl"))
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${name}_doclens"),
        () => graft.sources.ManagedTables.writeBucketed(
          bm25Postings(toked), s"${name}_postings", "term", buckets)))
    } catch {
      case e: Throwable => dropSearchIndex(spark, name); throw e
    } finally { toked.unpersist(); () }
  }

  /** Drop both index tables AND their directories (crash-surviving stale
    * dirs included — see [[graft.sources.ManagedTables.dropManagedTables]]).
    */
  def dropSearchIndex(spark: org.apache.spark.sql.SparkSession, name: String): Unit = {
    requireIndexName(name)
    graft.sources.ManagedTables.dropManagedTables(
      spark, Seq(s"${name}_postings", s"${name}_globals", s"${name}_doclens",
        s"${name}_deletes"))
  }

  /** TARGETED DELETION from a BM25 index — the canonical takedown
    * surface (a removed document must stop being FINDABLE): tombstones
    * carry (doc_id, dl) so the read side can correct EVERY global the
    * scoring depends on without touching the postings body — n_docs and
    * avgdl shrink by the tombstone aggregate, per-term df shrinks
    * because the anti-joined postings are what the df count sees. One
    * doclens lookup at delete time recovers the ids' document lengths —
    * the build-time (doc_id, dl) table, NOT postings, because a
    * token-less document (empty/NULL text) is counted in n_docs yet has
    * no postings rows, and a postings join would silently skip it
    * (already-tombstoned ids are excluded, so a repeated delete cannot
    * double-subtract); [[compactSearchIndex]] is the amortized physical
    * purge. Rebuild-minus-deleted equality is hash-certified by
    * q_text_bm25_deleted, whose deleted clones shift n_docs, avgdl, df,
    * AND the ranking.
    */
  def deleteFromSearchIndex(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long]): Unit = {
    requireIndexName(name)
    require(ids.nonEmpty, "empty deletion batch")
    // an index written before the doclens table existed cannot recover
    // token-less documents' lengths from postings — deletion on it must
    // fail with the remedy named, not a bare table-not-found
    require(spark.catalog.tableExists(s"${name}_doclens"),
      s"search index $name predates the ${name}_doclens table (built " +
        "before per-doc lengths were persisted) — deletion cannot recover " +
        "token-less documents' lengths from postings; rebuild the index " +
        "with writeSearchIndex first")
    import spark.implicits._
    val idsDf = ids.toDF("doc_id")
    val rows = spark.table(s"${name}_doclens")
      .join(org.apache.spark.sql.functions.broadcast(idsDf), Seq("doc_id"))
      .select(col("doc_id"), col("dl"))
    val novel =
      if (spark.catalog.tableExists(s"${name}_deletes"))
        rows.join(spark.table(s"${name}_deletes").select("doc_id"),
          Seq("doc_id"), "left_anti")
      else rows
    novel.write.mode("append").format("parquet")
      .saveAsTable(s"${name}_deletes")
  }

  /** Fold tombstones into the postings table (stage-and-swap rewrite
    * under its own bucket spec), overwrite the globals with the
    * corrected pair, and clear the tombstones — exact, no corpus
    * re-scan: the correction is pure arithmetic on the stored (dl)s.
    */
  def compactSearchIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    requireIndexName(name)
    if (spark.catalog.tableExists(s"${name}_deletes")) {
      require(spark.catalog.tableExists(s"${name}_doclens"),
        s"search index $name predates the ${name}_doclens table — " +
          "compaction cannot fold its tombstones; rebuild the index " +
          "with writeSearchIndex first")
      val g = correctedBm25Stats(spark, name).first()
      graft.sources.ManagedTables.rewriteBucketed(spark, s"${name}_postings",
        graft.sources.ManagedTables.minusDeletes(spark, name,
          spark.table(s"${name}_postings"), "doc_id"))
      graft.sources.ManagedTables.rewriteTable(spark, s"${name}_doclens",
        graft.sources.ManagedTables.minusDeletes(spark, name,
          spark.table(s"${name}_doclens"), "doc_id"))
      import spark.implicits._
      Seq((g.getLong(0), g.getLong(1))).toDF("n_docs", "sum_dl")
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${name}_globals")
      graft.sources.ManagedTables.dropDeletes(spark, name)
    }
  }

  /** The one-row (n_docs, sum_dl) frame minus the tombstone aggregate. */
  private def correctedBm25Stats(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame = {
    val g = spark.table(s"${name}_globals")
    if (!spark.catalog.tableExists(s"${name}_deletes")) g
    else g.crossJoin(
        spark.table(s"${name}_deletes").agg(
          count(lit(1)).as("__dn"),
          coalesce(sum(col("dl")), lit(0L)).as("__ds")))
      .select((col("n_docs") - col("__dn")).as("n_docs"),
        (col("sum_dl") - col("__ds")).as("sum_dl"))
  }

  private def requireIndexName(name: String): Unit =
    graft.sources.ManagedTables.requireIdent(name)

  /** BM25 over a [[writeSearchIndex]] index — same scoring tail, same
    * results as [[bm25Search]] on the indexed corpus (BucketedSpec asserts
    * both), but the corpus is never scanned: the postings read prunes to
    * the query terms' buckets.
    */
  def bm25SearchIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    requireIndexName(name)
    require(queryTerms.nonEmpty)
    val postings = graft.sources.ManagedTables.minusDeletes(spark, name,
      spark.table(s"${name}_postings")
        .filter(col("term").isin(queryTerms: _*)),
      "doc_id")
    bm25Rank(postings, correctedBm25Stats(spark, name), k, k1, b)
  }

  /** Gopher-style repetition signals per document (Rae et al. 2021 §A1.1,
    * the standard pre-training repetition filters): the fraction of
    * characters covered by the single most frequent word 2-gram, and the
    * fraction covered by the redundant (beyond-first) occurrences of
    * duplicated word 5-grams. Heavily repetitive machine-generated or
    * boilerplate text scores high on both; thresholds are the caller's
    * policy (Gopher drops >0.20 / >0.15).
    *
    * Arithmetic is exact-integer until one final double division, so
    * results are engine-bit-identical. Scale shape: same as [[topTerms]] —
    * explode to (doc, gram) postings, one hash aggregate, one windowed
    * rank; nothing keys on anything wider than (doc_id, gram).
    *
    * Emits one row per document with ≥ `n`+? tokens implicitly: every doc
    * with at least 2 tokens has a 2-gram row and docs with <5 tokens get
    * dup_5gram_char_frac 0.0 via the left join.
    */
  def repetitionStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toked = docs.select(col("doc_id"),
      length(col(textCol)).cast("long").as("n_chars"),
      tokens(col(textCol)).as("__toks"))

    // ALL n-gram occurrences ([[NGrams.wordNGrams]] is distinct-by-design
    // for Jaccard shingles — repetition needs the multiplicities)
    def allNGrams(tk: Column, n: Int): Column =
      when(size(tk) >= n,
        transform(sequence(lit(0), size(tk) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(tk, i + j + 1)): _*)))
        .otherwise(array().cast("array<string>"))

    def gramCounts(n: Int) = toked
      .select(col("doc_id"), col("n_chars"),
        explode(allNGrams(col("__toks"), n)).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(first(col("n_chars")).as("n_chars"), count(lit(1)).as("c"))

    // top gram via min_by on (-count, gram) — same rule as a (count desc,
    // gram asc) window rank but ONE aggregate with map-side partials
    // instead of a second exchange + per-doc sort
    val top2 = gramCounts(2)
      .groupBy(col("doc_id"))
      .agg(min_by(
        struct(col("g"),
          ((col("c") * length(col("g"))).cast("double") / col("n_chars")).as("f")),
        struct((-col("c")).as("nc"), col("g"))).as("top"))
      .select(col("doc_id"), col("top.g").as("top_2gram"),
        col("top.f").as("top_2gram_char_frac"))

    val dup5 = gramCounts(5)
      .filter(col("c") > 1)
      .groupBy(col("doc_id"))
      .agg(((sum((col("c") - 1) * length(col("g"))) cast "double") /
        first(col("n_chars"))).as("dup_5gram_char_frac"))

    top2.join(dup5, Seq("doc_id"), "left")
      .na.fill(0.0, Seq("dup_5gram_char_frac"))
  }

  /** The COMPLETE Gopher repetition table (Rae et al. 2021 Table A1 —
    * the full §A1.1 rule set, where [[repetitionStats]] carries the two
    * flagship signals): per document,
    *
    *  - `dup_line_frac` / `dup_line_char_frac` — beyond-first occurrences
    *    of duplicated LINES (split on `\n`, empties dropped), as a
    *    fraction of line count and of line characters;
    *  - `dup_para_frac` / `dup_para_char_frac` — the same over
    *    PARAGRAPHS (split on blank lines, `\n{2,}`);
    *  - `top_{2,3,4}gram_char_frac` — characters covered by the single
    *    most frequent word n-gram (count × n-gram length / text length,
    *    ties broken by n-gram ascending — the [[repetitionStats]] rule);
    *  - `dup_{5..10}gram_char_frac` — characters of tokens COVERED by at
    *    least one occurrence of a duplicated n-gram, as a fraction of
    *    total token characters. This is the paper's position-coverage
    *    semantic (overlapping duplicate spans count each token once),
    *    NOT the beyond-first-occurrence sum the 5-gram flagship uses —
    *    both are published readings; the column families keep them
    *    distinguishable.
    *
    * Every ratio is exact-integer until one final double division of two
    * exact counts, so results are engine-bit-identical. Thresholding is
    * the caller's policy (Gopher drops at 0.30/0.20 for lines/paragraphs
    * by fraction, 0.20/0.19/0.18 for top-2/3/4, 0.15..0.10 for
    * dup-5..10).
    *
    * Scale shape: every Table A1 signal is PER-DOCUMENT, so the operator
    * is ONE corpus scan with ZERO exchanges — a single codegen'd
    * [[GopherStatsExpr]] kernel computes all thirteen fractions inside
    * the scan partition (per-doc hash maps bounded by document token
    * count), and the embarrassingly-parallel shape survives any corpus
    * size by construction. The relational explode→aggregate form that a
    * SQL engine would run ([[gopherRepetitionRelational]]) is retained
    * as the spec-pinned equality surface; measured at sf0.1 it cost
    * 13.2 s against the kernel's sub-second scan — the difference being
    * one (doc, n, gram)-keyed shuffle of every occurrence string plus a
    * corpus-scale checkpoint, neither of which the statistic needs.
    */
  /** Rae et al. 2021's published repetition caps — the default policy of
    * [[gopherVerdict]] and the streaming gate. */
  val GopherLineFracCap: Double = 0.30
  val GopherParaFracCap: Double = 0.30
  val GopherLineCharCap: Double = 0.20
  val GopherParaCharCap: Double = 0.20
  val GopherTopGramCaps: Seq[Double] = Seq(0.20, 0.18, 0.16)
  val GopherDupGramCaps: Seq[Double] = Seq(0.15, 0.14, 0.13, 0.12, 0.11, 0.10)

  /** The Gopher repetition POLICY verdict: every [[gopherRepetition]]
    * signal at or under its cap → keep. One scan-side kernel projection
    * + thirteen comparisons; the streaming gate
    * (`DocsStream.gopherGateSink`) applies exactly this relation per
    * trigger, so the oracle-gated batch row certifies the stream's rule
    * too.
    */
  def gopherVerdict(docs: DataFrame,
      maxDupLineFrac: Double = GopherLineFracCap,
      maxDupParaFrac: Double = GopherParaFracCap,
      maxDupLineCharFrac: Double = GopherLineCharCap,
      maxDupParaCharFrac: Double = GopherParaCharCap,
      maxTopGramFrac: Seq[Double] = GopherTopGramCaps,
      maxDupGramFrac: Seq[Double] = GopherDupGramCaps,
      textCol: String = "text"): DataFrame = {
    require(maxTopGramFrac.length == 3 && maxDupGramFrac.length == 6,
      "need 3 top-gram and 6 dup-gram thresholds")
    val conds = Seq(
      col("dup_line_frac") <= maxDupLineFrac,
      col("dup_para_frac") <= maxDupParaFrac,
      col("dup_line_char_frac") <= maxDupLineCharFrac,
      col("dup_para_char_frac") <= maxDupParaCharFrac) ++
      (2 to 4).zip(maxTopGramFrac).map { case (n, t) =>
        col(s"top_${n}gram_char_frac") <= t } ++
      (5 to 10).zip(maxDupGramFrac).map { case (n, t) =>
        col(s"dup_${n}gram_char_frac") <= t }
    gopherRepetition(docs, textCol)
      .select(col("doc_id"), conds.reduce(_ && _).as("keep"))
  }

  /** The interpreted higher-order-function form of
    * [[GramOccurrencesExpr]] — retained ONLY as the equality surface the
    * kernel is spec-pinned against (the PqCodesExpr discipline); never on
    * a hot path.
    */
  private[graft] def gramOccurrencesHof(tk: Column, maxN: Int): Column =
    flatten(array((1 to maxN).map { n =>
      when(size(tk) >= n, transform(sequence(lit(0), size(tk) - n), i =>
          struct(lit(n).as("n"), (i + 1).cast("int").as("start"),
            concat_ws(" ",
              (0 until n).map(j => element_at(tk, i + j + 1)): _*).as("g"))))
        .otherwise(array().cast(
          "array<struct<n:int,start:int,g:string>>"))
    }: _*))

  def gopherRepetition(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.bridge.column(GopherStatsExpr(
          org.apache.spark.sql.graft.bridge.expression(col(textCol))))
          .as("__r"))
      .select(col("doc_id"), col("__r.*"))

  /** The relational explode→aggregate form of [[gopherRepetition]] — the
    * shape the DuckDB oracle replays, retained ONLY as the equality
    * surface the scan-side kernel is spec-pinned against (the
    * PqCodesExpr discipline); never on a hot path. One tagged explode
    * (grams n = 1..10 via [[GramOccurrencesExpr]], lines as sentinel
    * n = 0, paragraphs as n = −1), one (doc, n, unit)-keyed aggregate
    * carrying occurrence-start lists, checkpointed once for its five
    * consumers.
    */
  private[graft] def gopherRepetitionRelational(docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val spine = docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"), length(col(textCol)).cast("long").as("n_chars"),
        tokens(col(textCol)).as("__toks"), col(textCol).as("__text"))

    // one tagged occurrence stream: grams (n >= 1, native kernel), lines
    // (n = 0), paragraphs (n = -1) — a single explode and a single
    // (doc_id, n, g)-keyed exchange carry all three granularities
    def nonEmpty(c: Column) = filter(c, v => length(v) > 0)
    def tagged(n: Int, units: Column) = transform(nonEmpty(units),
      v => struct(lit(n).as("n"), lit(0).as("start"), v.as("g")))
        .cast("array<struct<n:int,start:int,g:string>>")
    val occAll = concat(
      gramOccurrences(col("__toks"), 10),
      tagged(0, split(col("__text"), "\n")),
      tagged(-1, split(col("__text"), "\n{2,}")))
    val counts = spine
      .select(col("doc_id"), col("n_chars"), explode(occAll).as("o"))
      .select(col("doc_id"), col("n_chars"), col("o.n").as("n"),
        col("o.start").as("start"), col("o.g").as("g"))
      .groupBy(col("doc_id"), col("n"), col("g"))
      .agg(first(col("n_chars")).as("n_chars"), count(lit(1)).as("c"),
        collect_list(col("start")).as("starts"))
      .localCheckpoint(true)

    // lines + paragraphs from the sentinel rows
    val lp = counts.filter(col("n") <= 0)
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("c")).as("n_units"),
        sum(col("c") - 1).as("dup_units"),
        sum(col("c") * length(col("g"))).as("unit_chars"),
        sum((col("c") - 1) * length(col("g"))).as("dup_unit_chars"))
      .groupBy(col("doc_id"))
      .pivot("n", Seq(0, -1))
      .agg(first(when(col("n_units") > 0,
          col("dup_units").cast("double") / col("n_units"))).as("frac"),
        first(when(col("unit_chars") > 0,
          col("dup_unit_chars").cast("double") / col("unit_chars")))
          .as("char_frac"))
      .withColumnsRenamed(Map(
        "0_frac" -> "L_frac", "0_char_frac" -> "L_char_frac",
        "-1_frac" -> "P_frac", "-1_char_frac" -> "P_char_frac"))

    // top-{2,3,4}-gram char fraction: min_by on (-count, gram) — one
    // aggregate with map-side partials, the repetitionStats rule
    val top = counts.filter(col("n").between(2, 4))
      .groupBy(col("doc_id"), col("n"))
      .agg(min_by(
        (col("c") * length(col("g"))).cast("double") / col("n_chars"),
        struct((-col("c")).as("nc"), col("g"))).as("f"))
      .groupBy(col("doc_id")).pivot("n", Seq(2, 3, 4)).agg(first(col("f")))
      .select(col("doc_id"), col("2").as("top_2gram_char_frac"),
        col("3").as("top_3gram_char_frac"),
        col("4").as("top_4gram_char_frac"))

    // duplicate-span token coverage for n = 5..10: explode only the
    // duplicated grams' occurrence spans, dedup positions, price them by
    // token length from the n = 1 rows
    val tokLen = counts.filter(col("n") === 1)
      .select(col("doc_id"), explode(col("starts")).as("pos"),
        length(col("g")).cast("long").as("len"))
    val tokChars = counts.filter(col("n") === 1)
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * length(col("g"))).as("tok_chars"))
    val covered = counts.filter(col("n") >= 5 && col("c") > 1)
      .select(col("doc_id"), col("n"), explode(col("starts")).as("start"))
      .select(col("doc_id"), col("n"),
        explode(sequence(col("start"), col("start") + col("n") - 1))
          .as("pos"))
      .distinct()
      .join(tokLen, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(col("len")).as("cov_chars"))
      .join(tokChars, Seq("doc_id"))
      .select(col("doc_id"), col("n"),
        (col("cov_chars").cast("double") / col("tok_chars")).as("f"))
      .groupBy(col("doc_id")).pivot("n", Seq(5, 6, 7, 8, 9, 10))
      .agg(first(col("f")))
      .select(col("doc_id") +: (5 to 10).map(n =>
        col(s"$n").as(s"dup_${n}gram_char_frac")): _*)

    spine.select(col("doc_id"))
      .join(lp, Seq("doc_id"), "left")
      .join(top, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("L_frac").as("dup_line_frac"),
        col("L_char_frac").as("dup_line_char_frac"),
        col("P_frac").as("dup_para_frac"),
        col("P_char_frac").as("dup_para_char_frac"),
        col("top_2gram_char_frac"), col("top_3gram_char_frac"),
        col("top_4gram_char_frac"),
        col("dup_5gram_char_frac"), col("dup_6gram_char_frac"),
        col("dup_7gram_char_frac"), col("dup_8gram_char_frac"),
        col("dup_9gram_char_frac"), col("dup_10gram_char_frac"))
      .na.fill(0.0)
  }

  /** CORPUS-INTERNAL TRIGRAM NOVELTY — the diversity signal beside the
    * within-doc repetition screen and the vs-benchmark contamination
    * screen: per document, the fraction of its DISTINCT trigrams that
    * occur in no other document. Low novelty marks templated /
    * near-boilerplate pages that document-level dedup cannot see (each
    * page is unique, its phrasing is not); corpus-level novelty
    * distributions are the one-glance diversity audit a mixture change
    * should move.
    *
    * Scale shape: per-doc distinct trigrams explode from a scan-side
    * projection; ONE trigram-keyed exchange carries (doc_id, trigram)
    * rows and the document-frequency window rides that same partitioning
    * (the lineDedup trick — no second shuffle for the count); the per-doc
    * rollup is one doc_id-keyed aggregate. Novelty is a single IEEE
    * division of two exact counts. Documents under 3 tokens report zero
    * trigrams and NULL novelty.
    */
  def trigramNovelty(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"), tokens(col(textCol)).as("__t"))
    val grams = base.select(col("doc_id"),
      explode(array_distinct(
        when(size(col("__t")) >= 3,
          transform(sequence(lit(0), size(col("__t")) - 3), i =>
            concat_ws(" ", element_at(col("__t"), i + 1),
              element_at(col("__t"), i + 2), element_at(col("__t"), i + 3))))
          .otherwise(array().cast("array<string>")))).as("g"))
    val wG = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val perDoc = grams
      .withColumn("df", count(lit(1)).over(wG))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
    base.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        when(col("n_trigrams").isNotNull,
          col("n_unique").cast("double") / col("n_trigrams").cast("double"))
          .as("novelty"))
  }

  /** Engine-portable (Java regex ∧ RE2) constants for the three
    * crawl-ingest operators below — rendered into BOTH engines, never
    * duplicated inline.
    */
  /** An SGML/HTML tag (no nesting — '<' to the next '>'). */
  val TagRx = "<[^>]*>"
  /** An http(s) URL up to the next whitespace. */
  val UrlRx = "https?://[^ \\t\\n]+"
  /** Code punctuation: braces, semicolons, the ()-pair. */
  val CodePunctRx = "[{};]|\\(\\)"
  /** Code keywords (word-bounded; \b is identical in Java regex and RE2). */
  val CodeKeywordRx =
    "\\b(def|return|import|function|class|var|const|void|int)\\b"
  /** Minimum code-marker density (markers per token) for `is_code`. */
  val CodeMarkerMin = 0.2
  /** Link-char fraction above which a page is link spam (C4 drops them). */
  val LinkSpamMin = 0.5

  /** MARKUP STRIP — the HTML-ish cleaning pass at the crawl edge: tags
    * become spaces, the four standard entities unescape (&amp; last, so
    * `&amp;lt;` stays the literal text `&lt;` instead of double-
    * unescaping), whitespace collapses, ends trim. A deterministic
    * regex-level contract (not an HTML5 parser — no script/style content
    * awareness; that nuance is documented, not hidden). Pure per-row
    * projection: scan speed, zero exchanges.
    */
  /** C4-style page cleaning (Raffel et al., JMLR 2020 §2.2 — the
    * published rule set behind the C4 corpus), line level + page level:
    *
    *  - a LINE survives iff it ends in terminal punctuation (period,
    *    exclamation, question mark, or closing quote — the paper's set),
    *    has at least `minWords` whitespace words, and does not mention
    *    "javascript" (case-insensitive);
    *  - a PAGE survives iff its CLEANED text still has at least
    *    `minSentences` sentences (terminal-punctuation count), and the
    *    original page contains neither "lorem ipsum" (case-insensitive)
    *    nor a curly brace (the paper's code-page heuristic).
    *
    * The paper's remaining rules are separate engine families — its
    * bad-words page filter is Blocklist composition, its three-sentence-
    * span dedup the chunk-dedup family — COMPOSED end-to-end in
    * [[c4Full]] (round-17). Output keeps
    * EVERY document with flags and counts — (doc_id, n_lines, n_kept,
    * n_sentences, page_keep, text = cleaned) — the filter-verdict
    * discipline: callers filter on `page_keep`, audits read the counts.
    * NULL text reads as empty (one empty line, nothing kept).
    *
    * Scale shape: pure scan-side string work (split / filter lambda /
    * array_join / regexp_count) inside whole-stage codegen — no
    * shuffle, no model, no driver state. Determinism: counting and
    * string ops only, no floats.
    */
  def c4Clean(docs: DataFrame, minWords: Int = 3, minSentences: Int = 5,
      textCol: String = "text"): DataFrame = {
    require(minWords >= 1 && minSentences >= 0, "bad C4 thresholds")
    val t = coalesce(col(textCol), lit(""))
    docs
      .select(col("doc_id"), t.as("__t"), split(t, "\n").as("__ls"))
      .select(col("doc_id"), col("__t"), col("__ls"),
        filter(col("__ls"), l =>
          rtrim(l).rlike("[.!?\"]$") &&
            size(split(trim(l), "\\s+")) >= minWords &&
            !lower(l).contains("javascript")).as("__kl"))
      .select(col("doc_id"),
        size(col("__ls")).cast("long").as("n_lines"),
        size(col("__kl")).cast("long").as("n_kept"),
        col("__t"),
        array_join(col("__kl"), "\n").as("text"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        regexp_count(col("text"), lit("[.!?]")).cast("long")
          .as("n_sentences"),
        col("__t"), col("text"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("n_sentences"),
        (col("n_sentences") >= minSentences &&
          !lower(col("__t")).contains("lorem ipsum") &&
          !col("__t").contains("{")).as("page_keep"),
        col("text"))
  }

  /** The COMPLETE C4 pipeline (Raffel et al. 2020 §2.2, all four rule
    * families composed): [[c4Clean]]'s line+page rules, then the paper's
    * bad-words page filter (one [[Blocklist]] automaton pass over the
    * CLEANED text — a blocked page drops whole, the paper's reading),
    * then its "discard all but one of any three-sentence span occurring
    * more than once" — here at LINE granularity, which after the line
    * rule is sentence granularity by construction (every surviving line
    * ends in terminal punctuation): consecutive `spanLines`-line spans
    * fingerprint via the 58-bit rolling hash, the FIRST occurrence
    * ((doc_id, idx) ascending) of each span keeps its lines, and every
    * line covered by a later occurrence drops; documents rebuild from
    * surviving lines. Span dedup runs over ELIGIBLE pages only
    * (page_keep ∧ ¬blocked) — a span's canonical copy must live in the
    * corpus the pipeline ships.
    *
    * Output keeps EVERY document (filter-verdict discipline):
    * (doc_id, page_keep, blocked, keep = eligible, n_span_dups = this
    * doc's duplicate-span occurrences, n_lines_removed, text = the
    * span-deduped text for eligible pages, the cleaned text otherwise).
    *
    * Scale shape: cleaning and the blocklist are scan-side projections;
    * span fingerprints are one doc-keyed window (lead×2) over exploded
    * lines — text never shuffles, 8-byte hashes do; first-occurrence
    * ranking is one fingerprint-keyed window (the [[Dedup.chunkDedup]]
    * exchange); the removal set is doc-keyed and the rebuild one
    * doc-keyed aggregate. No driver state, no corpus² term.
    */
  def c4Full(docs: DataFrame, patterns: Seq[String], minWords: Int = 3,
      minSentences: Int = 5, spanLines: Int = 3,
      textCol: String = "text"): DataFrame = {
    require(patterns.nonEmpty, "bad-words pattern list must be non-empty")
    require(spanLines >= 2, s"span must cover >= 2 lines, got $spanLines")
    val cleaned = c4Clean(docs, minWords, minSentences, textCol)
      .select(col("doc_id"), col("page_keep"), col("text"))
    // Materialize the screen verdict ONCE: three consumers reference it
    // (the line explode feeding both the span fingerprints and the
    // rebuild, plus the final join-back), and each lazy reference
    // re-executes the whole regex-heavy c4Clean + blocklist subtree.
    // Same stage-table trade as curateFullStages' scrub boundary.
    val screened = cleaned
      .withColumn("blocked",
        size(Blocklist.matches(col("text"), patterns)) > 0)
      .withColumn("keep", col("page_keep") && !col("blocked"))
      .localCheckpoint(true)
    val lines = screened.filter(col("keep"))
      .select(col("doc_id"), posexplode(split(col("text"), "\n")))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "line")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("idx"))
    val leads = (1 until spanLines).map(i => lead(col("line"), i).over(wDoc))
    val spans = lines
      .withColumn("__span",
        concat_ws("\n", (col("line") +: leads): _*))
      .withColumn("__last", leads.last)
      .filter(col("__last").isNotNull)
      .select(col("doc_id"), col("idx"), fingerprint(col("__span")).as("__f"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__f")).orderBy(col("doc_id"), col("idx"))
    val dupSpans = spans
      .withColumn("__rn", row_number().over(wf))
      .filter(col("__rn") > 1)
      .select(col("doc_id"), col("idx"))
    val perDocDups = dupSpans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_span_dups"))
    val removed = dupSpans
      .select(col("doc_id"),
        explode(sequence(col("idx"),
          col("idx") + lit(spanLines - 1))).as("idx"))
      .distinct()
    val rebuilt = lines.join(removed, Seq("doc_id", "idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_left"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("line")))),
          x => x.getField("line")), "\n").as("__deduped"))
    screened
      .withColumn("__n_lines",
        when(col("keep"), size(split(col("text"), "\n")).cast("long")))
      .join(perDocDups, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("page_keep"), col("blocked"), col("keep"),
        when(col("keep"), coalesce(col("n_span_dups"), lit(0L)))
          .otherwise(lit(0L)).as("n_span_dups"),
        when(col("keep"),
            col("__n_lines") - coalesce(col("__n_left"), lit(0L)))
          .otherwise(lit(0L)).as("n_lines_removed"),
        when(col("keep"), coalesce(col("__deduped"), lit("")))
          .otherwise(col("text")).as("text"))
  }

  def stripMarkup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(text, TagRx, " "),
              "&lt;", "<"),
            "&gt;", ">"),
          "&quot;", "\""),
        "&amp;", "&"),
      "\\s+", " "))

  /** Per-document markup report: tag count, cleaned text, and the
    * character counts before/after — the audit row for the strip pass.
    */
  def markupStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(col("doc_id"),
      regexp_count(t, lit(TagRx)).cast("long").as("n_tags"),
      length(t).cast("long").as("n_chars_raw"),
      stripMarkup(t).as("clean_text"))
      .withColumn("n_chars_clean", length(col("clean_text")).cast("long"))
  }

  /** LINK-DENSITY stats — the C4/Gopher link-spam signal: URL count, the
    * fraction of characters inside URLs, and the spam verdict at
    * [[LinkSpamMin]]. Integer-exact counts, one final IEEE division.
    * Pure projection.
    */
  def linkStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nLinks = regexp_count(t, lit(UrlRx)).cast("long")
    val linkChars =
      (length(t) - length(regexp_replace(t, UrlRx, ""))).cast("long")
    docs.select(col("doc_id"),
      nLinks.as("n_links"),
      linkChars.as("n_link_chars"),
      length(t).cast("long").as("n_chars"))
      .withColumn("link_char_frac",
        when(col("n_chars") > 0,
          col("n_link_chars").cast("double") / col("n_chars").cast("double")))
      .withColumn("is_link_spam",
        coalesce(col("link_char_frac") > LinkSpamMin, lit(false)))
  }

  /** URL CANONICALIZATION — the crawl-frontier identity rule: the same
    * page arrives as `HTTPS://WWW.Site.com:443/a/?utm_source=x#top` and
    * `https://site.com/a`, and a frontier that treats those as two URLs
    * fetches (and a corpus that keys on them stores) every popular page
    * many times over. Canonical form applied here, each step standard
    * crawler practice:
    *   - scheme and host lowercase (RFC 3986 §6.2.2.1 — they are
    *     case-insensitive; the PATH is not and keeps its case);
    *   - leading `www.` stripped; the scheme's DEFAULT port stripped
    *     (`:80` http / `:443` https), explicit non-default ports kept;
    *   - fragment dropped (never sent to the server);
    *   - tracking query params dropped (`utm_*`, `ref`, `fbclid`,
    *     `gclid`), remaining params SORTED (order-insensitive servers,
    *     order-sensitive strings), empty query dropped;
    *   - trailing slashes trimmed off the path (root stays `/`).
    * Returns NULL for strings with no `scheme://` — a frontier feeds
    * this absolute URLs; relative-reference resolution is the crawler's
    * job, not the canonicalizer's.
    *
    * Expression-only (regexp extraction + one short-array filter/sort —
    * URLs are tens of bytes, so the two higher-order functions touch
    * ≤ a handful of params per row, nothing like the 64-dim fold the
    * ANN paths keep codegen-able), and every step replays in DuckDB
    * (RE2-safe patterns: no backreferences, no lookaround).
    */
  def urlNormalize(u: Column): Column = {
    val t = trim(u)
    val scheme = lower(regexp_extract(t, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(
      regexp_extract(t, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val noWww = regexp_replace(hostport, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(noWww, ":80$", ""))
      .when(scheme === "https", regexp_replace(noWww, ":443$", ""))
      .otherwise(noWww)
    // path+query with the fragment already excluded by the [^#] class
    val rest = regexp_extract(t,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    val rawPath = regexp_extract(rest, "^([^?]*)", 1)
    val path = when(regexp_replace(rawPath, "/+$", "") === "", lit("/"))
      .otherwise(regexp_replace(rawPath, "/+$", ""))
    val query = regexp_extract(rest, "\\?(.*)$", 1)
    val kept = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[A-Za-z0-9_]*|ref|fbclid|gclid)=")))
    val qs = array_join(kept, "&")
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, path,
        when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
  }

  /** CRAWL-FRONTIER DEDUP over [[urlNormalize]]: per document URL, its
    * canonical form, the canonical group's variant count, and the
    * `should_fetch` verdict (the group's lowest doc_id wins — first-seen). One
    * canonical-keyed aggregate joined back on its own partitioning; at
    * 100 TB the frontier shuffles canonical strings once. URLs that
    * fail to parse (NULL canonical) keep `fetch = true` each — a
    * frontier must not silently merge unparseable entries.
    */
  def urlFrontier(urls: DataFrame, urlCol: String = "url"): DataFrame = {
    val canon = urls.select(col("doc_id"), col(urlCol).as("url"))
      .withColumn("url_canonical", urlNormalize(col(urlCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url_canonical"))
    canon
      .withColumn("n_variants",
        when(col("url_canonical").isNull, lit(1L))
          .otherwise(count(lit(1)).over(w).cast("long")))
      .withColumn("should_fetch",
        col("url_canonical").isNull ||
          col("doc_id") === min(col("doc_id")).over(w))
  }

  /** PERSISTED CRAWL FRONTIER — the incremental regime [[urlFrontier]]'s
    * one-shot form cannot serve: a crawler's seen-set lives across
    * ingests, so the canonical URLs persist as a managed
    * `<name>_frontier` table (url_canonical-bucketed: screens and
    * upserts probe bucket-pruned) holding `(url_canonical, first_doc)`,
    * with the full artifact lifecycle every other persisted family has —
    * upsert (O(batch)), screen, tombstone deletion, compaction, takedown
    * registry + audit arms ([[graft.functions.Takedown.FrontierTable]]).
    * Unparseable URLs are never stored: a NULL canonical cannot be a
    * seen-set identity.
    */
  def writeFrontierTable(urls: DataFrame, name: String,
      buckets: Int = 64, urlCol: String = "url"): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val spark = urls.sparkSession
    dropFrontierTable(spark, name)
    graft.sources.ManagedTables.writeBucketed(frontierRows(urls, urlCol),
      s"${name}_frontier", "url_canonical", buckets)
  }

  private def frontierRows(urls: DataFrame, urlCol: String): DataFrame =
    urls.select(col("doc_id"), urlNormalize(col(urlCol)).as("url_canonical"))
      .filter(col("url_canonical").isNotNull)
      .groupBy(col("url_canonical"))
      .agg(min(col("doc_id")).as("first_doc"))

  /** Fold a new ingest slice into the frontier: canonicals NOT already
    * live append with their batch-first doc. O(batch) work — the seen
    * side contributes one left-anti probe of the bucketed table. */
  def upsertFrontierTable(spark: org.apache.spark.sql.SparkSession,
      name: String, batch: DataFrame, urlCol: String = "url"): Unit = {
    val novel = frontierRows(batch, urlCol)
      .join(liveFrontier(spark, name).select(col("url_canonical")),
        Seq("url_canonical"), "left_anti")
    graft.sources.ManagedTables.appendBucketed(spark, s"${name}_frontier", novel)
  }

  private def liveFrontier(spark: org.apache.spark.sql.SparkSession,
      name: String): DataFrame =
    graft.sources.ManagedTables.minusDeletes(spark, s"${name}_frontier",
      spark.table(s"${name}_frontier"), "first_doc")

  /** Screen an arriving slice against the persisted seen-set:
    * `should_fetch` ⟺ unparseable (NULL canonical — a frontier must not
    * silently merge those), OR the canonical is live-unseen AND this is
    * its first (lowest-doc_id) occurrence within the batch. Equals the
    * one-shot [[urlFrontier]] verdict restricted to the batch whenever
    * batches arrive in doc_id order (the q_text_url_frontier_indexed
    * gate pins exactly that equality). */
  def screenFrontier(spark: org.apache.spark.sql.SparkSession, name: String,
      batch: DataFrame, urlCol: String = "url",
      excludeFirstDocs: Seq[Long] = Nil): DataFrame = {
    val canon = batch.select(col("doc_id"), col(urlCol).as("url"))
      .withColumn("url_canonical", urlNormalize(col(urlCol)))
    // excludeFirstDocs: the streaming gate's retry guard — frontier rows
    // first seen by THIS batch's docs can only be a half-published prior
    // attempt, and counting them as "seen" would flip the replayed
    // verdicts ([[graft.streaming.DocsStream.frontierGateBatch]])
    val live = liveFrontier(spark, name)
    val seen = (if (excludeFirstDocs.isEmpty) live
      else live.filter(!col("first_doc").isin(excludeFirstDocs: _*)))
      .select(col("url_canonical"), lit(true).as("__seen"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("url_canonical"))
    canon.join(seen, Seq("url_canonical"), "left")
      .withColumn("should_fetch",
        col("url_canonical").isNull ||
          (col("__seen").isNull &&
            col("doc_id") === min(col("doc_id")).over(w)))
      .select("doc_id", "url", "url_canonical", "should_fetch")
  }

  /** Takedown arm: tombstone every frontier row whose `first_doc` is in
    * the batch — the canonical becomes re-fetchable, which is the
    * compliant behavior for a removed document's URLs. O(batch). */
  def deleteFromFrontierTable(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long]): Unit =
    graft.sources.ManagedTables.appendDeletes(spark, s"${name}_frontier",
      "first_doc", ids)

  /** Fold tombstones into the stored rows (stage-and-swap; bytes leave
    * disk here). */
  def compactFrontierTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    graft.sources.ManagedTables.rewriteBucketed(spark, s"${name}_frontier",
      liveFrontier(spark, name))
    graft.sources.ManagedTables.dropDeletes(spark, s"${name}_frontier")
  }

  def dropFrontierTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(spark,
      Seq(s"${name}_frontier", s"${name}_frontier_deletes"))

  /** LINK-GRAPH DOMAIN AUTHORITY — weighted PageRank over the corpus's
    * outlink graph, the Common-Crawl-era quality prior (a page hosted by
    * a domain many OTHER domains cite carries authority its own text
    * cannot prove; spam farms cite themselves): edges are (document's
    * source domain → linked URL's host) with multiplicity, self-links
    * drop, and rank power-iterates a FIXED `iters` rounds at `damping`
    * with dangling mass redistributed uniformly —
    *
    *   r'(v) = (1−d)/N + d · (Σ_{u→v} r(u)·w(u,v)/outw(u) + dm/N)
    *
    * Determinism is the whole design: fixed iterations, and every
    * floating sum folds in a PINNED order (per-target contributions
    * sorted by source domain, the dangling mass sorted by domain — the
    * [[bigramScore]] ordered-fold discipline), so the ranks are
    * bit-identical on any partitioning AND in the DuckDB replay
    * (q_text_domain_rank unrolls the same iterations as CTEs with the
    * same IEEE arithmetic).
    *
    * Scale shape: the graph aggregates to DOMAIN level before any
    * iteration (edges ∝ distinct (source, host) pairs, never documents);
    * each round is one edge-keyed join + one target-keyed fold + a
    * 1-row dangling aggregate, localCheckpointed so plans stay flat.
    * Output: (domain, in_domains, out_domains, rank) — rank sums to 1.
    */
  def domainAuthority(docs: DataFrame, iters: Int = 3,
      damping: Double = 0.85, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    val urls = docs
      .filter(col(textCol).isNotNull && col(sourceCol).isNotNull)
      .select(col(sourceCol).cast("string").as("src"),
        explode(expr(
          s"regexp_extract_all($textCol, '$UrlRx', 0)")).as("url"))
    val edges = urls
      .select(col("src"),
        regexp_extract(col("url"), "^https?://([^/?#\\s]+)", 1).as("dst"))
      .filter(col("dst") =!= "" && col("dst") =!= col("src"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    val nodes = edges.select(col("src").as("domain"))
      .unionByName(edges.select(col("dst").as("domain")))
      .unionByName(docs.filter(col(sourceCol).isNotNull)
        .select(col(sourceCol).cast("string").as("domain")))
      .distinct()
      .localCheckpoint(true)
    val n = nodes.count().toDouble
    val outw = edges.groupBy("src").agg(sum(col("w")).as("outw"))
      .localCheckpoint(true)

    var ranks = nodes.select(col("domain"),
      (lit(1.0) / lit(n)).as("r")).localCheckpoint(true)
    var it = 0
    while (it < iters) {
      val contribs = edges
        .join(ranks.withColumnRenamed("domain", "src"), Seq("src"))
        .join(outw, Seq("src"))
        .select(col("dst"), col("src"),
          (col("r") * col("w") / col("outw")).as("c"))
      val inSums = contribs.groupBy(col("dst"))
        .agg(aggregate(
          array_sort(collect_list(struct(col("src"), col("c")))),
          lit(0.0), (acc, x) => acc + x.getField("c")).as("insum"))
      val dangling = ranks
        .join(outw.select(col("src").as("domain")), Seq("domain"),
          "left_anti")
        .agg(coalesce(aggregate(
          array_sort(collect_list(struct(col("domain"), col("r")))),
          lit(0.0), (acc, x) => acc + x.getField("r")), lit(0.0)).as("dm"))
      ranks = nodes
        .join(inSums.withColumnRenamed("dst", "domain"), Seq("domain"),
          "left")
        .crossJoin(broadcast(dangling))
        .select(col("domain"),
          (lit(1.0 - damping) / lit(n) + lit(damping) *
            (coalesce(col("insum"), lit(0.0)) + col("dm") / lit(n)))
            .as("r"))
        .localCheckpoint(true)
      it += 1
    }
    val inDeg = edges.groupBy(col("dst"))
      .agg(count_distinct(col("src")).as("in_domains"))
    val outDeg = edges.groupBy(col("src"))
      .agg(count_distinct(col("dst")).as("out_domains"))
    ranks
      .join(inDeg.withColumnRenamed("dst", "domain"), Seq("domain"), "left")
      .join(outDeg.withColumnRenamed("src", "domain"), Seq("domain"), "left")
      .select(col("domain"),
        coalesce(col("in_domains"), lit(0L)).as("in_domains"),
        coalesce(col("out_domains"), lit(0L)).as("out_domains"),
        col("r").as("rank"))
  }

  /** AUTHORITY-GATED CURATION ARM — [[domainAuthority]] composed into
    * the filter pipeline (the Common-Crawl use of the PageRank prior: a
    * page whose DOMAIN nobody cites is dropped or down-weighted before
    * any text-level signal runs). Per document: its source domain's
    * authority and a keep verdict at `rank >= alpha / N` — authority at
    * least `alpha`× the uniform share, the scale-free cutoff (absolute
    * rank thresholds break as N grows because ranks sum to 1). NULL
    * source or a domain outside the graph cannot attest authority →
    * keep = false.
    *
    * Scale shape: PageRank runs ONCE on the domain-level graph (paid at
    * |domains|, not |docs|, and checkpointed), then one domain-keyed
    * equi-join decorates the corpus — the join's small side is the
    * domain table (broadcast-class at crawl scale; popular-domain skew
    * lands on AQE, not on a pair product).
    */
  def authorityVerdict(docs: DataFrame, alpha: Double = 0.5, iters: Int = 3,
      damping: Double = 0.85, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    require(alpha > 0.0, "alpha must be positive")
    val auth = domainAuthority(docs, iters, damping, textCol, sourceCol)
      .select(col("domain"), col("rank")).localCheckpoint(true)
    val n = auth.count()
    docs
      .select(col("doc_id"), col(sourceCol).cast("string").as("domain"))
      .join(auth, Seq("domain"), "left")
      .select(col("doc_id"), col("domain"),
        col("rank").as("authority"),
        coalesce(col("rank") >= lit(alpha) / lit(n.toDouble), lit(false))
          .as("keep"))
  }

  /** CODE-DETECTION routing signal — the corpus-mixture router (code vs
    * prose get different filters, tokenizers, and mixture weights): code
    * punctuation + keyword counts per token, `is_code` at
    * [[CodeMarkerMin]] markers/token. A deliberately transparent signal
    * (two regex classes, exact integer counts, one division) — the
    * trained-classifier regime is [[classifierScore]]; this is the cheap
    * first-pass router in front of it. Pure projection.
    */
  def codeSignals(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val punct = regexp_count(t, lit(CodePunctRx)).cast("long")
    val kw = regexp_count(t, lit(CodeKeywordRx)).cast("long")
    docs.select(col("doc_id"),
      punct.as("n_code_punct"),
      kw.as("n_code_keywords"),
      tokenCount(t).cast("long").as("token_count"))
      .withColumn("marker_density",
        when(col("token_count") > 0,
          (col("n_code_punct") + col("n_code_keywords")).cast("double") /
            col("token_count").cast("double")))
      .withColumn("is_code",
        coalesce(col("marker_density") >= CodeMarkerMin, lit(false)))
  }

  /** VOCABULARY GROWTH CURVE — the Heaps-law corpus-health audit: slice
    * the corpus into `buckets` deterministic pseudo-random slices (the
    * id-mix permutation modulo `buckets` — crawl-order bias removed, NO
    * global sort anywhere), record for every distinct term the first
    * slice containing it, and report per slice: documents, tokens, NEW
    * terms, and cumulative vocabulary. Healthy natural-language corpora
    * grow sub-linearly (Heaps exponent ≈ 0.5–0.8 — each slice adds fewer
    * new terms); a near-flat curve means templated/boilerplate text, a
    * near-linear one means serial-number noise or unsegmented junk — both
    * worth catching before a tokenizer is trained on the corpus.
    *
    * Scale shape: slice assignment is a scan-side projection; per-doc
    * distinct terms explode once; ONE term-keyed exchange computes each
    * term's first slice; everything after is |buckets|-row arithmetic.
    */
  def vocabularyGrowth(docs: DataFrame, buckets: Int = 10,
      textCol: String = "text"): DataFrame = {
    require(buckets >= 1, "need at least one bucket")
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.filter(col(textCol).isNotNull)
      .select(col("doc_id"), tokens(col(textCol)).as("__t"),
        (expr(Similarity.sampleHashSql("doc_id")) % buckets).as("bucket"))
    val perBucket = base.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("__t")).cast("long")).as("n_tokens"))
    val firstSeen = base
      .select(col("bucket"), explode(array_distinct(col("__t"))).as("term"))
      .groupBy("term").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    (0L until buckets.toLong).toDF("bucket")
      .join(perBucket, Seq("bucket"), "left")
      .join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
      .withColumn("cum_terms", sum(col("new_terms")).over(wCum))
  }

  /** Composite C4/Gopher-style document filter VERDICT — the policy gate a
    * pre-training corpus runs after the signal passes: every document gets
    * `keep` plus a deterministic comma-joined `reasons` string naming each
    * failed check (empty = clean). `docs.filter(col("keep"))` is the
    * filtered corpus; grouping on `reasons` is the funnel report.
    *
    * Checks (fixed reason order; thresholds are caller policy, defaults
    * follow C4/Gopher): NULL text short-circuits to the single reason
    * `null_text` (a contentless doc must never keep); then
    * expected-language agreement with [[langId]]
    * (`lang_mismatch`), [[qualityFromParts]] score (`low_quality`),
    * minimum stopword evidence (`no_stopwords`, Gopher's "has stop words"
    * rule), [[repetitionStats]] 2-gram/5-gram caps (`rep_2gram`/
    * `rep_5gram`, Gopher §A1.1), token-count bounds (`too_long`/
    * `too_short`), and mean-word-length bounds (`word_length`, Gopher's
    * 3–10 char rule).
    *
    * Scale shape: one tokenize-once projection computes every per-row
    * signal inside the scan stage; the only shuffles are the two
    * repetition aggregates, joined back on doc_id. All comparisons are on
    * bit-deterministic doubles (see the signal operators), so the verdict
    * — and its DuckDB replay — is exact, not approximate.
    */
  def filterVerdict(docs: DataFrame, textCol: String = "text",
      expectedLangCol: Option[String] = Some("lang"),
      minTokens: Int = 30, maxTokens: Int = 100000,
      minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
      minStopwords: Int = 2, minQuality: Double = 0.4,
      maxTop2GramFrac: Double = 0.20, maxDup5GramFrac: Double = 0.15): DataFrame = {
    val t = col(textCol)
    val tk = col("__toks")
    val tokenCountC = size(tk).cast("long")
    val stopwordCountC = stopwordCountFromTokens(tk).cast("long")
    // Σ token lengths ≡ the trimmed text with every whitespace run removed
    // (tokens are exactly the maximal non-ws runs): one codegen'd
    // regexp_replace instead of an interpreted HOF fold over the array
    val wordChars = length(regexp_replace(trim(t), "\\s+", "")).cast("long")
    val baseCols = Seq(col("doc_id")) ++
      expectedLangCol.map(c => col(c).as("__explang")) ++
      Seq(t, tokens(t).as("__toks"))
    val sig = docs.select(baseCols: _*).select(Seq(
      col("doc_id"),
      t.isNull.as("__null_text"),
      tokenCountC.as("token_count"),
      (wordChars.cast("double") / greatest(tokenCountC, lit(1L)).cast("double"))
        .as("__mwl"),
      stopwordCountC.as("__swc"),
      qualityFromParts(tokenCountC, punctCount(t).cast("long"), length(t),
        stopwordCountC).as("quality_score")) ++
      expectedLangCol.map(_ =>
        (langIdFromTokens(tk) === col("__explang")).as("__langok")): _*)

    val rep = repetitionStats(docs, textCol)
      .select(col("doc_id"), col("top_2gram_char_frac"), col("dup_5gram_char_frac"))
    val joined = sig.join(rep, Seq("doc_id"), "left")
      .withColumn("__f2", coalesce(col("top_2gram_char_frac"), lit(0.0)))
      .withColumn("__f5", coalesce(col("dup_5gram_char_frac"), lit(0.0)))

    // NULL text short-circuits to its own reason BEFORE the threshold arms:
    // every threshold comparison on null signals is NULL (no arm would
    // fire), so without this a contentless document would sail through
    // with keep = true — and the null-signal CASE semantics differ between
    // engines, so short-circuiting is also what keeps the replay exact.
    val reasons = when(col("__null_text"), lit("null_text")).otherwise(concat_ws(",",
      (expectedLangCol.map(_ => when(not(col("__langok")), lit("lang_mismatch"))).toSeq ++ Seq(
        when(col("quality_score") < minQuality, lit("low_quality")),
        when(col("__swc") < minStopwords, lit("no_stopwords")),
        when(col("__f2") > maxTop2GramFrac, lit("rep_2gram")),
        when(col("__f5") > maxDup5GramFrac, lit("rep_5gram")),
        when(col("token_count") > maxTokens, lit("too_long")),
        when(col("token_count") < minTokens, lit("too_short")),
        when(col("__mwl") < minMeanWordLen || col("__mwl") > maxMeanWordLen,
          lit("word_length")))): _*))

    joined.select(col("doc_id"), col("token_count"), col("quality_score"),
      (reasons === "").as("keep"), reasons.as("reasons"))
  }

  /** FILTER-STACK ABLATION report over [[filterVerdict]] output — the
    * tuning view a pipeline owner reads before touching a threshold: per
    * rejection reason, how many documents it fires on (`n_rejected`) and
    * how many it REJECTS ALONE (`n_unique` — the documents the stack
    * would re-admit if that one arm were removed; an arm with high
    * n_rejected but near-zero n_unique is redundant with the rest of the
    * stack, and one with high n_unique carries real selectivity). One
    * explode + hash aggregate over the already-computed verdicts; the
    * reason vocabulary is bounded, so the result is a handful of rows at
    * any corpus size.
    */
  def filterAblation(verdicts: DataFrame): DataFrame =
    verdicts.filter(!col("keep"))
      .select(split(col("reasons"), ",").as("rs"))
      .select(explode(col("rs")).as("reason"),
        (size(col("rs")) === 1).as("only"))
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n_rejected"),
        sum(when(col("only"), 1L).otherwise(0L)).as("n_unique"))

  /** PII detection counts + redaction — the scrub pass a training corpus
    * runs before anything ships. Deliberately simple, engine-portable
    * regexes (both Java regex and RE2 accept them with identical
    * semantics): emails, international-ish phone numbers, dotted-quad IPs.
    * `piiRedact` replaces matches with type tags so downstream token
    * statistics stay stable. Pure per-row projections — scan-speed, no
    * shuffle.
    */
  val EmailRx = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRx = "\\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3,4}[- .]?[0-9]{0,4}"
  val Ipv4Rx  = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  def piiScan(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.select(
      col("doc_id"),
      regexp_count(t, lit(EmailRx)).cast("long").as("n_emails"),
      regexp_count(t, lit(PhoneRx)).cast("long").as("n_phones"),
      regexp_count(t, lit(Ipv4Rx)).cast("long").as("n_ipv4"),
      piiRedact(t).as("redacted"))
  }

  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRx, "<EMAIL>"),
        Ipv4Rx, "<IP>"),
      PhoneRx, "<PHONE>")

  /** One-pass per-document stats frame over a `documents`-shaped table.
    *
    * Tokenizes ONCE: the token array is materialized in a lower projection
    * and every stat derives from that column. (Inlining `tokens(text)` into
    * each stat would re-run the regex split per stat per row — Catalyst
    * keeps a multiply-referenced non-cheap alias as its own projection, so
    * the two-step select is the single-tokenize plan.)
    */
  def stats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val tk = col("__toks")
    val tokenCountC = size(tk).cast("long")
    val punctCountC = punctCount(t).cast("long")
    val stopwordCountC = stopwordCountFromTokens(tk).cast("long")
    // Counts surface as LONG to match ANSI engines' BIGINT length/count.
    docs
      .select(col("doc_id"), t, tokens(t).as("__toks"))
      .select(
        col("doc_id"),
        length(t).cast("long").as("n_chars"),
        tokenCountC.as("token_count"),
        regexTokenCount(t).cast("long").as("regex_token_count"),
        subwordCountFromTokens(tk).as("subword_count"),
        punctCountC.as("punct_count"),
        stopwordCountC.as("stopword_count"),
        qualityFromParts(tokenCountC, punctCountC, length(t), stopwordCountC)
          .as("quality_score"))
  }

  /** Engine-portable (Java regex ∧ RE2) classes for encoding hygiene.
    * Rendered into BOTH engines — never duplicate these inline.
    */
  val AsciiRx = "[\\x00-\\x7F]"
  /** Control characters that never belong in clean text (tab/LF/CR excluded). */
  val BadControlRx = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
  /** U+FFFD — the decoder already gave up on these bytes. */
  val ReplacementRx = "�"
  /** 'Ã' — the classic UTF-8-bytes-decoded-as-Latin-1 artifact marker. */
  val MojibakeRx = "Ã"
  /** Minimum ASCII fraction for `encoding_ok` (shared with the oracle). */
  val AsciiCleanMin = 0.6

  /** ENCODING / MOJIBAKE QA — the ingest hygiene screen a crawl pipeline
    * runs before any text op: per document, character counts for ASCII,
    * stray control characters, U+FFFD replacement characters (a decoder
    * already failed), and the Latin-1-mojibake marker 'Ã', plus an
    * `encoding_ok` verdict (no control/replacement chars, ASCII fraction ≥
    * [[AsciiCleanMin]], non-empty). NULL text verdicts false.
    *
    * Exact integer counts until ONE final division (the double-determinism
    * rule); pure projection — one scan, zero exchanges, codegen'd.
    */
  def encodingStats(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nChars = length(t).cast("long")
    val nAscii = regexp_count(t, lit(AsciiRx)).cast("long")
    val nControl = regexp_count(t, lit(BadControlRx)).cast("long")
    val nRepl = regexp_count(t, lit(ReplacementRx)).cast("long")
    val nMoji = regexp_count(t, lit(MojibakeRx)).cast("long")
    val ratio = when(nChars > 0,
      nAscii.cast("double") / nChars.cast("double"))
    docs.select(
      col("doc_id"),
      nChars.as("n_chars"),
      nAscii.as("n_ascii"),
      ratio.as("ascii_ratio"),
      nControl.as("n_control"),
      nRepl.as("n_replacement"),
      nMoji.as("n_mojibake"),
      coalesce(nChars > 0 && nControl === 0L && nRepl === 0L &&
        ratio >= AsciiCleanMin, lit(false)).as("encoding_ok"))
  }

  /** CHUNK EXTRACTION — the producer half of the chunk pipeline (the
    * consumer half, [[graft.functions.Dedup.chunkDedup]], audits chunks;
    * this one MATERIALIZES them): slide a `windowTokens`-token window with
    * `stride`-token hops over each document and emit one row per window —
    * the retrieval-/context-window chunking step a RAG or packing pipeline
    * runs before embedding. Overlap (stride < window) preserves context
    * across boundaries; the tail window is ragged (`n_tokens` < window)
    * rather than padded, and a final window is emitted only when it adds
    * uncovered tokens (start positions 0, s, 2s, … ⌈(n−w)/s⌉·s).
    *
    * Output: (doc_id, chunk_idx, token_start, n_tokens, chunk_text), all
    * indexes 0-based BIGINT. NULL/empty documents produce NO rows (a
    * producer emits nothing, unlike the audit ops' explicit NULL cells).
    *
    * Scale shape: pure scan-side projection + explode — row count grows
    * ×(n/stride) but NOTHING shuffles; each output partition derives from
    * its input split, so 100 TB chunks stream straight to the sink (or the
    * embedding stage) with zero exchanges. The token array is materialized
    * once per document in a lower projection; each window re-slices it.
    */
  /** Unicode NFC normalization as a Column — see [[NfcNormalizeExpr]].
    * Run BEFORE any hashing/dedup pass: composed vs decomposed encodings
    * of the same text ("café" as 4 vs 5 code points) otherwise hash apart
    * and dodge every exact-dedup and fingerprint operator.
    */
  def nfc(text: Column): Column =
    org.apache.spark.sql.graft.bridge.column(NfcNormalizeExpr(
      org.apache.spark.sql.graft.bridge.expression(text)))

  /** Static kernel behind [[NfcNormalizeExpr]]: pure-ASCII inputs
    * (numBytes == numChars) return the SAME UTF8String — zero allocation
    * on the overwhelmingly common path; only multi-byte strings pay the
    * decode + `java.text.Normalizer` round-trip.
    */
  def nfcCompute(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String =
    if (s.numBytes == s.numChars) s
    else {
      val str = s.toString
      val n = java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC)
      if (n == str) s else org.apache.spark.unsafe.types.UTF8String.fromString(n)
    }

  /** All word n-gram occurrences, n = 1..maxN, as a Column — see
    * [[GramOccurrencesExpr]]. */
  def gramOccurrences(tokens: Column, maxN: Int): Column =
    org.apache.spark.sql.graft.bridge.column(GramOccurrencesExpr(
      org.apache.spark.sql.graft.bridge.expression(tokens), maxN))

  /** Column face of [[GopherStatsExpr]]. */
  def gopherStatsCol(text: Column): Column =
    org.apache.spark.sql.graft.bridge.column(GopherStatsExpr(
      org.apache.spark.sql.graft.bridge.expression(text)))

  private val GopherParaPattern = java.util.regex.Pattern.compile("\n{2,}")
  private val GopherTokPattern = java.util.regex.Pattern.compile("\\s+")

  /** Code-point comparison — identical to UTF-8 byte order and to
    * DuckDB's default binary string collation; Java's UTF-16
    * `String.compareTo` disagrees beyond the BMP, and the top-gram
    * tie-break hangs on this order.
    */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Static kernel behind [[GopherStatsExpr]]: the full Rae et al. Table
    * A1 per-document statistic in one pass — duplicate line/paragraph
    * fractions (count and characters), top-{2,3,4}-gram character
    * fractions (ties code-point-ascending), and duplicate-{5..10}-gram
    * position-coverage fractions. All counters are exact longs until the
    * final double divisions, so results are bit-identical to the
    * relational replay ([[gopherRepetitionRelational]], spec-pinned).
    * Character counts are CODE POINTS (Spark `length` / DuckDB
    * `length`). Per-document memory is O(tokens × maxN) transient map
    * entries.
    */
  def gopherStats(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val text = s.toString
    def cpLen(u: String): Long = u.codePointCount(0, u.length).toLong

    // duplicate-unit stats over non-empty units: (frac, charFrac)
    def dupStats(units: Array[String]): (Double, Double) = {
      val m = new java.util.HashMap[String, Integer]()
      var n = 0L; var chars = 0L
      var i = 0
      while (i < units.length) {
        val u = units(i)
        if (u.nonEmpty) { n += 1; chars += cpLen(u); m.merge(u, 1, _ + _) }
        i += 1
      }
      var dups = 0L; var dupChars = 0L
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue.intValue()
        if (c > 1) { dups += c - 1; dupChars += (c - 1).toLong * cpLen(e.getKey) }
      }
      (if (n > 0) dups.toDouble / n else 0.0,
        if (chars > 0) dupChars.toDouble / chars else 0.0)
    }
    val (lf, lcf) = dupStats(text.split("\n", -1))
    val (pf, pcf) = dupStats(GopherParaPattern.split(text, -1))

    val nChars = cpLen(text)
    val trimmed = {
      // Spark `trim` strips ASCII space only — match it exactly
      var b = 0; var e = text.length
      while (b < e && text.charAt(b) == ' ') b += 1
      while (e > b && text.charAt(e - 1) == ' ') e -= 1
      text.substring(b, e)
    }
    val toks = GopherTokPattern.split(trimmed, -1)
    val t = toks.length
    val tokLen = new Array[Long](t)
    var tokChars = 0L
    var i = 0
    while (i < t) { tokLen(i) = cpLen(toks(i)); tokChars += tokLen(i); i += 1 }

    val top = new Array[Double](3) // n = 2, 3, 4
    val cov = new Array[Double](6) // n = 5..10
    val sb = new java.lang.StringBuilder()
    var n = 2
    while (n <= 10) {
      if (t >= n) {
        // gram -> positions (0-based starts); counts are list sizes
        val m = new java.util.HashMap[String, java.util.ArrayList[Integer]]()
        var p = 0
        while (p <= t - n) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(p + j))
            j += 1
          }
          m.computeIfAbsent(sb.toString,
            _ => new java.util.ArrayList[Integer]()).add(p)
          p += 1
        }
        if (n <= 4) {
          var bestC = 0L; var bestG: String = null
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue.size().toLong
            if (c > bestC || (c == bestC && cpCompare(e.getKey, bestG) < 0)) {
              bestC = c; bestG = e.getKey
            }
          }
          if (bestG != null && nChars > 0)
            top(n - 2) = (bestC * cpLen(bestG)).toDouble / nChars
        } else {
          val covered = new Array[Boolean](t)
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val ps = e.getValue
            if (ps.size() > 1) {
              var k = 0
              while (k < ps.size()) {
                val st = ps.get(k).intValue()
                var q = st
                while (q < st + n) { covered(q) = true; q += 1 }
                k += 1
              }
            }
          }
          var covChars = 0L
          var q = 0
          while (q < t) { if (covered(q)) covChars += tokLen(q); q += 1 }
          if (tokChars > 0)
            cov(n - 5) = covChars.toDouble / tokChars
        }
      }
      n += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](lf, lcf, pf, pcf, top(0), top(1), top(2),
        cov(0), cov(1), cov(2), cov(3), cov(4), cov(5)))
  }

  /** Static kernel behind [[GramOccurrencesExpr]]: token bytes decode
    * once, each start position appends into one shared byte buffer and
    * snapshots every prefix — O(Σ gram bytes) total with no interpreted
    * expression nodes.
    */
  def gramOccurrences(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      maxN: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val t = toks.numElements()
    val tb = new Array[Array[Byte]](t)
    var i = 0
    while (i < t) {
      val u = toks.getUTF8String(i)
      tb(i) = if (u == null) Array.emptyByteArray else u.getBytes
      i += 1
    }
    var total = 0
    i = 0
    while (i < t) { total += math.min(maxN, t - i); i += 1 }
    val out = new Array[Any](total)
    var r = 0
    i = 0
    while (i < t) {
      val lim = math.min(maxN, t - i)
      var cap = 0
      var j = 0
      while (j < lim) { cap += tb(i + j).length + 1; j += 1 }
      val buf = new Array[Byte](cap)
      var blen = 0
      j = 0
      while (j < lim) {
        if (j > 0) { buf(blen) = ' '.toByte; blen += 1 }
        val b = tb(i + j)
        System.arraycopy(b, 0, buf, blen, b.length)
        blen += b.length
        out(r) = new GenericInternalRow(Array[Any](j + 1, i + 1,
          UTF8String.fromBytes(java.util.Arrays.copyOfRange(buf, 0, blen))))
        r += 1
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def chunkWindows(docs: DataFrame, windowTokens: Int = 32, stride: Int = 16,
      textCol: String = "text"): DataFrame = {
    require(windowTokens > 0, "window must be positive")
    require(stride > 0 && stride <= windowTokens,
      "stride must be in [1, windowTokens]")
    val (w, s) = (windowTokens, stride)
    val n = size(col("__t"))
    // ⌈(n−w)/s⌉+1 windows when n > w, else 1. Non-negative int division via
    // the truncating double cast (the chunkDedup idiom — exact for ints).
    val nChunks = when(n <= w, lit(1))
      .otherwise(((n - w + (s - 1)) / s).cast("int") + 1)
    docs
      .select(col("doc_id"), tokens(col(textCol)).as("__t"))
      .filter(col("__t").isNotNull && size(col("__t")) > 0)
      .select(col("doc_id"), col("__t"),
        explode(sequence(lit(0), nChunks - 1)).as("__i"))
      .select(col("doc_id"),
        col("__i").cast("long").as("chunk_idx"),
        (col("__i").cast("long") * s).as("token_start"),
        least(lit(w.toLong), size(col("__t")).cast("long") - col("__i") * s)
          .as("n_tokens"),
        array_join(slice(col("__t"), col("__i") * s + 1, lit(w)), " ")
          .as("chunk_text"))
  }

  /** CONTEXT-LENGTH TRUNCATION report — the planning aggregate behind
    * "what sequence length do we train at": for each candidate context
    * length, how many documents exceed it and how many tokens a
    * truncate-at-L policy discards. The complement of [[chunkWindows]]
    * (chunking keeps the tail; truncation is the lossy regime this
    * report prices). Token unit = [[tokens]] (whitespace), the corpus
    * token currency every other audit here uses.
    *
    * One corpus scan: per-doc token counts project scan-side, the
    * candidate lengths explode from a plan literal, and the aggregate
    * keys on |contextLens| values — map-side partials collapse the
    * exchange to |contextLens| rows regardless of corpus size. Counts
    * and token sums are exact integers; the two fractions are single
    * IEEE divisions of exact longs (the [[linkStats]] discipline).
    * NULL-text documents are excluded (no tokens to count or lose).
    *
    * Output: (context_len, n_docs, n_truncated, frac_truncated,
    * tokens_total, tokens_lost, frac_tokens_lost), one row per
    * candidate length.
    */
  def truncationReport(docs: DataFrame, contextLens: Seq[Int],
      textCol: String = "text"): DataFrame = {
    require(contextLens.nonEmpty, "need at least one context length")
    require(contextLens.forall(_ > 0), "context lengths must be positive")
    docs.filter(col(textCol).isNotNull)
      .select(tokenCount(col(textCol)).cast("long").as("__n"))
      .select(col("__n"), explode(
        array(contextLens.map(l => lit(l.toLong)): _*)).as("context_len"))
      .groupBy(col("context_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__n") > col("context_len"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(col("__n")).as("tokens_total"),
        sum(greatest(col("__n") - col("context_len"), lit(0L)))
          .as("tokens_lost"))
      .select(col("context_len"), col("n_docs"), col("n_truncated"),
        when(col("n_docs") > 0, col("n_truncated").cast("double") /
          col("n_docs").cast("double")).as("frac_truncated"),
        col("tokens_total"), col("tokens_lost"),
        when(col("tokens_total") > 0, col("tokens_lost").cast("double") /
          col("tokens_total").cast("double")).as("frac_tokens_lost"))
  }
}

/** The complete per-document Gopher repetition statistic (Rae et al.
  * 2021 Table A1) as ONE native expression: string → struct of thirteen
  * doubles, computed by the [[TextAnalysis.gopherStats]] kernel inside
  * the scan partition — the signal is per-document, so the operator
  * needs no exchange at all (see [[TextAnalysis.gopherRepetition]]).
  * Codegen emits a static call (the NfcNormalizeExpr pattern).
  */
case class GopherStatsExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types._

  override def dataType: DataType = StructType(
    (Seq("dup_line_frac", "dup_line_char_frac", "dup_para_frac",
      "dup_para_char_frac", "top_2gram_char_frac", "top_3gram_char_frac",
      "top_4gram_char_frac") ++ (5 to 10).map(n => s"dup_${n}gram_char_frac"))
      .map(StructField(_, DoubleType, nullable = false)))

  override def checkInputDataTypes() = child.dataType match {
    case StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gopher_stats needs string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TextAnalysis.gopherStats(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextAnalysis.gopherStats($c)")

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : GopherStatsExpr = copy(child = newChild)

  override def prettyName: String = "gopher_stats"
}

/** Every word n-gram occurrence for n = 1..maxN as ONE native pass —
  * the [[graft.functions.PqCodesExpr]] discipline applied to
  * [[TextAnalysis.gopherRepetition]]'s hottest projection: the
  * higher-order-function form (ten nested `transform`s, each gram built
  * by an interpreted `concat_ws` of `element_at`s) ran outside
  * whole-stage codegen and dominated the operator's runtime (measured
  * 3.7 s of an 8 s core at sf0.1). This expression emits the identical
  * occurrence set — `(n, start, g)` with 1-based starts, gram text
  * joined by single spaces — from one compiled loop per document: token
  * bytes are decoded once, each start position grows one shared byte
  * buffer left-to-right, and every prefix snapshot is one
  * `UTF8String.fromBytes` copy. Null token elements render as empty
  * strings (unreachable from [[TextAnalysis.tokens]]); a null array is
  * null-preserved.
  */
case class GramOccurrencesExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression, maxN: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types._
  require(maxN >= 1, s"maxN must be >= 1, got $maxN")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("g", StringType, nullable = false))), containsNull = false)

  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gram_occurrences needs array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TextAnalysis.gramOccurrences(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], maxN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextAnalysis.gramOccurrences($c, $maxN)")

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : GramOccurrencesExpr = copy(child = newChild)

  override def prettyName: String = "gram_occurrences"
}

/** Unicode NFC normalization as a native expression (string → string,
  * null-preserving): `java.text.Normalizer` implements the same Unicode
  * canonical composition as ANSI engines' `nfc_normalize`, so the oracle
  * replay is the standard itself. Codegen emits a static call to
  * [[TextAnalysis.nfcCompute]] (the SimHash pattern); ASCII rows pass
  * through without allocating.
  */
case class NfcNormalizeExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types._

  override def dataType: DataType = StringType
  override def checkInputDataTypes() = child.dataType match {
    case StringType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nfc_normalize needs string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    TextAnalysis.nfcCompute(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextAnalysis.nfcCompute($c)")

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression)
      : NfcNormalizeExpr = copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}
