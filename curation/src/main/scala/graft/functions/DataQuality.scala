package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One-pass data-quality validation — the gate a training pipeline runs
  * before a corpus batch is allowed downstream (null screens, key
  * uniqueness, value ranges, volume floors).
  *
  * All requested checks evaluate in a SINGLE aggregate job over one scan:
  * each check contributes one aggregate expression, the one-row result is
  * exploded back into a (check, metric, passed) row per check. Cost at
  * 100 TB is therefore exactly one pass over the data regardless of how
  * many checks are registered — never one job per check.
  */
object DataQuality {

  /** One named check: an aggregate metric and a pass predicate over it. */
  final case class Check(name: String, metric: Column, pass: Column => Column)

  /** Fraction of non-null values in `c` must be ≥ `atLeast`. */
  def completeness(c: String, atLeast: Double): Check =
    Check(s"completeness($c)",
      count(col(c)).cast("double") / count(lit(1)),
      _ >= atLeast)

  /** Fraction of distinct values of `c` (among non-null rows) must be ≥
    * `atLeast`; 1.0 demands a unique key.
    */
  def uniqueness(c: String, atLeast: Double): Check =
    Check(s"uniqueness($c)",
      countDistinct(col(c)).cast("double") / count(col(c)),
      _ >= atLeast)

  /** Minimum of `c` must be ≥ `lo`. */
  def minBound(c: String, lo: Double): Check =
    Check(s"min($c)", min(col(c)).cast("double"), _ >= lo)

  /** Maximum of `c` must be ≤ `hi`. */
  def maxBound(c: String, hi: Double): Check =
    Check(s"max($c)", max(col(c)).cast("double"), _ <= hi)

  /** Row count must be ≥ `n` (volume floor for an ingest batch). */
  def minRows(n: Long): Check =
    Check("row_count", count(lit(1)).cast("double"), _ >= n.toDouble)

  /** Evaluate all checks in one aggregate pass.
    * Output: (check, metric, passed), one row per check, in input order.
    */
  def report(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "at least one check")
    val agged = df.agg(
      checks.head.metric.as("m0"),
      checks.tail.zipWithIndex.map { case (c, i) => c.metric.as(s"m${i + 1}") }: _*)
    val rows = array(checks.zipWithIndex.map { case (c, i) =>
      struct(
        lit(c.name).as("check_name"),
        col(s"m$i").as("metric"),
        c.pass(col(s"m$i")).as("passed"))
    }: _*)
    agged.select(explode(rows).as("r")).select("r.*")
  }

  /** Pearson correlations between integer document metrics, from EXACT
    * moments — corpus profiling (do longer documents carry more
    * punctuation? are token and char counts redundant?) that any engine
    * reproduces bit-for-bit, unlike the built-in `corr`, whose streaming
    * co-moment update folds doubles in partition order.
    *
    * Method: one aggregate pass collects the ten raw moments
    * (n, Σx, Σx², Σxy per pair) as exact BIGINTs — integer sums are
    * order-free, so the shuffle schedule cannot perturb them — then each
    * correlation is one fixed IEEE expression tree over the
    * double-cast moments: r = (n·Σxy − ΣxΣy) / (√(n·Σx²−(Σx)²)·√(…y)).
    * Every *, −, /, √ is correctly rounded, so identical inputs give
    * identical bits on any engine. Zero variance yields NULL (not NaN —
    * NaN renders differently across engines). The n·Σx² products may
    * exceed 2^53 and round — identically on both sides, which is the
    * contract (the EXACT stage is the data-dependent aggregation; the
    * lossy stage is a fixed 10-input formula).
    *
    * One scan, one 1-row exchange — the same cost shape as [[report]] at
    * any corpus size. Output: (metric_x, metric_y, n, corr) for the
    * upper-triangle pairs in column order.
    */
  def metricCorrelations(metrics: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two metric columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    def s1(c: String) = sum(col(c)).as(s"s_$c")
    def s2(a: String, b: String) = sum(col(a) * col(b)).as(s"s_${a}_$b")
    val moments: Seq[Column] =
      cols.map(s1) ++
        (for { i <- cols.indices; j <- i until cols.size }
          yield s2(cols(i), cols(j)))
    val g = metrics
      .select(cols.map(c => col(c).cast("long").as(c)): _*)
      .agg(count(lit(1)).as("n"), moments: _*)
    val nD = col("n").cast("double")
    // callers below always pass (a, b) in column-position order, matching
    // the generated moment names
    def mD(a: String, b: String) = col(s"s_${a}_$b").cast("double")
    def dev(c: String) =
      sqrt(greatest(lit(0.0), nD * mD(c, c) - col(s"s_$c").cast("double") *
        col(s"s_$c").cast("double")))
    val rows = array(pairs.map { case (x, y) =>
      val num = nD * mD(x, y) -
        col(s"s_$x").cast("double") * col(s"s_$y").cast("double")
      val den = dev(x) * dev(y)
      struct(
        lit(x).as("metric_x"), lit(y).as("metric_y"), col("n"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(num / den).as("corr"))
    }: _*)
    g.select(explode(rows).as("r")).select("r.*")
  }

  /** CORPUS MANIFEST — the dataset-card aggregate a training-data release
    * ships: per (source, detected language, train/val/test split) document,
    * token, and character counts. Composes three already-gated signals —
    * [[TextAnalysis.langIdFromTokens]], [[Sampling.hashSplit]]'s
    * content-keyed split, and the whitespace token count — in ONE corpus
    * scan: `hashSplit` carries the input columns, so language, counts, and
    * split are all projections over the same pass, and the only exchange is
    * the final small (source × lang × split) aggregate. At 100 TB the cost
    * is one scan + one tiny shuffle, however many manifest cells exist.
    *
    * NULL text follows the [[Sampling.hashSplit]] contract (NULL split,
    * NULL counts) so junk rows surface as their own manifest cell instead
    * of silently joining a real split.
    */
  def corpusManifest(docs: DataFrame,
      splits: Seq[(String, Int)] = Seq(("train", 95), ("val", 3), ("test", 2)),
      sourceCol: String = "source", textCol: String = "text"): DataFrame =
    Sampling.hashSplit(docs, splits, textCol)
      .select(col(sourceCol), col("split"),
        length(col(textCol)).cast("long").as("n_chars"),
        TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col(sourceCol), col("split"), col("n_chars"),
        size(col("__toks")).cast("long").as("token_count"),
        TextAnalysis.langIdFromTokens(col("__toks")).as("lang_guess"))
      .groupBy(col(sourceCol), col("lang_guess"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("token_count")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))

  /** K-ANONYMITY ENFORCEMENT — the privacy gate a data release runs after
    * PII redaction ([[TextAnalysis]]'s scan handles direct identifiers;
    * this handles QUASI-identifiers): any combination of `quasiCols` shared
    * by fewer than `k` rows re-identifies, so those columns are suppressed
    * (NULLed) on every row of an under-k equivalence class. Output = the
    * input rows plus `class_size` and a `suppressed` verdict, with the
    * quasi columns blanked where the class is under-k.
    *
    * Scale shape: the equivalence-class table is bounded by quasi-value
    * COMBINATORICS, not corpus size (125 classes here whether customers
    * number 1.5 k or 1.5 B), so it aggregates small and BROADCASTS back —
    * the corpus itself never shuffles. NULL quasi values form their own
    * class (null-safe grouping and join), so missing data can't dodge the
    * k threshold.
    */
  /** WINSORIZED (outlier-clamped) per-group stats — the robust-metrics
    * step a corpus report runs so a handful of giant or empty documents
    * can't swing a source's averages: per group, the exact discrete
    * percentile cuts at `pLo`/`pHi` (k-th smallest, k = ⌈p·n⌉ — no
    * interpolation, so no engine-dependent float formula), values clamped
    * into [lo, hi], and both the raw and winsorized means (integer-exact
    * sums, ONE final division each).
    *
    * Scale shape: one rank window + one aggregate per group — the same
    * two-exchange shape as any per-group percentile; group cardinality
    * (sources) is small, the window partitions by it, and nothing but
    * (group, value) columns ever shuffles.
    */
  def winsorizedStats(df: DataFrame, valueCol: String, groupCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__v"))
    // NULL values are missing data, not values: they must not occupy rank
    // positions (Spark ranks nulls FIRST asc, DuckDB LAST — a NULL in the
    // column would shift every percentile cut differently per engine).
    val ranked = df.select(col(groupCol), col(valueCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))))
    val loRank = greatest(lit(1L), ceil(lit(pLo) * col("__n")).cast("long"))
    val hiRank = ceil(lit(pHi) * col("__n")).cast("long")
    val cuts = ranked
      .groupBy(col(groupCol))
      .agg(min(when(col("__rn") === loRank, col("__v"))).as("lo_cut"),
        min(when(col("__rn") === hiRank, col("__v"))).as("hi_cut"))
    ranked.join(broadcast(cuts), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        first(col("lo_cut")).as("lo_cut"),
        first(col("hi_cut")).as("hi_cut"),
        (sum(col("__v")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_raw"),
        (sum(least(greatest(col("__v"), col("lo_cut")), col("hi_cut")))
          .cast("double") / count(lit(1)).cast("double"))
          .as("mean_winsorized"))
  }

  def kAnonymize(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = {
    require(quasiCols.nonEmpty && k >= 1, "need quasi columns and k >= 1")
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumnRenamed(quasiCols.head, s"__q_${quasiCols.head}")
    val classesR = quasiCols.tail.foldLeft(classes)((d, c) =>
      d.withColumnRenamed(c, s"__q_$c"))
    val cond = quasiCols.map(c => col(c) <=> col(s"__q_$c")).reduce(_ && _)
    val keep = col("class_size") >= k
    df.join(broadcast(classesR), cond)
      .select(df.columns.toIndexedSeq.map {
        case q if quasiCols.contains(q) =>
          when(keep, col(q)).otherwise(lit(null)).as(q)
        case other => col(other)
      } :+ col("class_size") :+ (!keep).as("suppressed"): _*)
  }

  /** l-DIVERSITY audit — [[kAnonymize]]'s complement: an equivalence
    * class can be k-large yet expose every member's sensitive value when
    * that value is UNIFORM within the class (the homogeneity attack
    * k-anonymity cannot see). Reports each quasi-identifier class with
    * its distinct-sensitive-value count and the l-diverse verdict; a NULL
    * sensitive value counts as a value of its own (count(DISTINCT)
    * ignores NULLs in every engine, so the null arm is added explicitly —
    * an all-NULL class must read as 1 value, not 0). One hash aggregate;
    * the class table is combinatorics-bounded, so this is scan-speed at
    * any corpus size.
    */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitive: Column, l: Int): DataFrame = {
    require(quasiCols.nonEmpty && l >= 1, "need quasi columns and l >= 1")
    df.groupBy(quasiCols.map(col): _*)
      .agg(
        count(lit(1)).as("class_size"),
        (countDistinct(sensitive) +
          max(when(sensitive.isNull, 1L).otherwise(0L))).as("n_sensitive"))
      .withColumn("l_diverse", col("n_sensitive") >= l)
  }

  /** t-CLOSENESS audit (Li, Li, Venkatasubramanian, ICDE 2007) — the
    * third rung of the privacy ladder after [[kAnonymize]] and
    * [[lDiversity]]: a class can be k-large AND l-diverse yet still leak
    * when its sensitive-value DISTRIBUTION skews far from the table's
    * (the skewness attack — "diverse but all-severe"). Reports each
    * quasi-identifier class with the ordered-domain Earth Mover's
    * Distance between its sensitive distribution and the global one,
    * and the `t_close` verdict (EMD ≤ t). EMD over an ordered domain is
    * the mean absolute cumulative-probability gap:
    * Σ_i |Cc_i/n − Cg_i/N| / (m−1).
    *
    * Determinism (the [[Sampling.dsirLogRatios]] fixed-point rule): each
    * domain row's |p−q| gap is two exact-integer IEEE divisions, one
    * subtraction, then ONE quantization to the 2^-30 grid; the per-class
    * sum is an exact BIGINT fold (no float fold-order), and the final
    * emd is two IEEE divisions of that integer. Metric error vs exact
    * EMD ≤ m·2^-31 — far below any policy threshold. A NULL sensitive
    * value is its own domain category, ordered LAST on both engines
    * (asc_nulls_last / ASC NULLS LAST); an m=1 domain is EMD 0 by
    * definition.
    *
    * Scale shape: ONE corpus scan into the (quasi × value) count table,
    * which localCheckpoints — it is combinatorics-bounded (classes ×
    * domain values), and everything downstream (global domain windows,
    * the classes × m spine, per-class cum sums) runs on that bounded
    * frame; a lazy subtree would re-scan the corpus three times.
    * Overflow bound: counts are exact BIGINTs; the quantized terms are
    * ≤ 2^30 each, so a class sum stays < 2^63 up to 2^33 domain values —
    * bucket a continuous sensitive attribute (as the gate query does)
    * long before that.
    */
  /** QUALITY-SIGNAL AGREEMENT audit: exact Spearman rank correlation
    * between named per-document quality signals — the
    * signal-redundancy analysis a filtering-ablation study runs before
    * composing caps (two signals at ρ ≈ 1 gate the same documents; a
    * low-ρ signal adds information). Each input is a (doc_id, score)
    * frame; the audited universe is documents scored NON-NULL by every
    * signal, sampled to `sampleSize` rows by the engine's deterministic
    * doc-id LCG (ties by doc_id) — the 256-row-tercile discipline: the
    * rank windows then run on a KB-scale frame at ANY corpus size, so
    * the audit never needs a corpus-wide global sort. Ranks are
    * row_number over (score, doc_id) — the deterministic tie-break
    * variant of Spearman, stated in the column name's contract — and
    * ρ = 1 − 6·Σd² / (n(n²−1)) is exact-integer until one final double
    * division. One row per signal pair, input order.
    */
  def signalAgreement(signals: Seq[(String, DataFrame)],
      sampleSize: Int = 1024): DataFrame = {
    require(signals.size >= 2, "need at least two signals")
    require(signals.map(_._1).distinct.size == signals.size,
      "signal names must be unique")
    val joined = signals.map { case (nm, df) =>
      df.select(col("doc_id"), col("score").cast("double").as(s"__s_$nm"))
        .filter(col(s"__s_$nm").isNotNull)
    }.reduce(_.join(_, Seq("doc_id")))
    val sample = joined
      .orderBy(expr(Similarity.sampleHashSql("doc_id")), col("doc_id"))
      .limit(sampleSize)
      .localCheckpoint(true)
    val ranked = signals.foldLeft(sample) { case (d, (nm, _)) =>
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col(s"__s_$nm"), col("doc_id"))
      d.withColumn(s"__r_$nm", row_number().over(w).cast("long"))
    }
    val arms = signals.combinations(2).toSeq.map { pair =>
      val (a, b) = (pair(0)._1, pair(1)._1)
      val d = col(s"__r_$a") - col(s"__r_$b")
      ranked.agg(count(lit(1)).as("n_docs"),
          sum(d * d).cast("long").as("sum_d2"))
        .select(lit(s"${a}_vs_$b").as("pair"), col("n_docs"),
          col("sum_d2"),
          when(col("n_docs") > 1, lit(1.0) -
            lit(6.0) * col("sum_d2").cast("double") /
              (col("n_docs") * (col("n_docs") * col("n_docs") - 1))
                .cast("double")).as("spearman_rho"))
    }
    arms.reduce(_ unionByName _)
  }

  def tCloseness(df: DataFrame, quasiCols: Seq[String], sensitive: Column,
      t: Double): DataFrame = {
    require(quasiCols.nonEmpty && t >= 0, "need quasi columns and t >= 0")
    val w = org.apache.spark.sql.expressions.Window
    val qs = quasiCols.map(col)
    val cv = df.select(qs :+ sensitive.as("__v"): _*)
      .groupBy(qs :+ col("__v"): _*).agg(count(lit(1)).as("__cc"))
      .localCheckpoint(true) // bounded: classes × domain values
    val wDomCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("__v").asc_nulls_last)
      .rowsBetween(w.unboundedPreceding, w.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(w.unboundedPreceding, w.unboundedFollowing)
    val dom = cv.groupBy(col("__v")).agg(sum(col("__cc")).cast("long").as("__gc"))
      .select(col("__v"),
        sum(col("__gc")).over(wDomCum).cast("long").as("__cg"),
        sum(col("__gc")).over(wAll).cast("long").as("__nn"),
        count(lit(1)).over(wAll).as("__m"))
    val classes = cv.groupBy(qs: _*)
      .agg(sum(col("__cc")).cast("long").as("class_size"))
    // classes × domain spine with a null-safe probe back into cv: both the
    // quasi keys and the domain value can be NULL, so equi-join keys would
    // silently drop those rows.
    val cvR = quasiCols.foldLeft(cv.withColumnRenamed("__v", "__pv"))(
      (d, c) => d.withColumnRenamed(c, s"__p_$c"))
    val probe = quasiCols.map(c => col(c) <=> col(s"__p_$c"))
      .reduce(_ && _) && (col("__v") <=> col("__pv"))
    val wClsCum = org.apache.spark.sql.expressions.Window
      .partitionBy(qs: _*).orderBy(col("__v").asc_nulls_last)
      .rowsBetween(w.unboundedPreceding, w.currentRow)
    classes.crossJoin(broadcast(dom))
      .join(cvR, probe, "left")
      .select(qs :+ col("class_size") :+ col("__v") :+ col("__cg") :+
        col("__nn") :+ col("__m") :+ coalesce(col("__cc"), lit(0L)).as("__c"): _*)
      .withColumn("__ccum", sum(col("__c")).over(wClsCum).cast("long"))
      .withColumn("__tq",
        round(abs(col("__ccum").cast("double") / col("class_size").cast("double") -
          col("__cg").cast("double") / col("__nn").cast("double")) *
          lit(1073741824.0)).cast("long"))
      .groupBy(qs :+ col("class_size") :+ col("__m"): _*)
      .agg(sum(col("__tq")).as("__sum"))
      .select(qs :+ col("class_size") :+
        when(col("__m") > 1L,
          col("__sum").cast("double") / lit(1073741824.0) /
            (col("__m") - lit(1L)).cast("double"))
          .otherwise(lit(0.0)).as("emd"): _*)
      .withColumn("t_close", col("emd") <= t)
  }

  /** SCHEMA-WIDE PII COLUMN PROFILE — the table-level complement of
    * [[TextAnalysis.piiScan]]'s per-document scrub: for every requested
    * string column, how many values CONTAIN an email / phone / IPv4
    * pattern (the engine-portable regexes shared with piiScan), the
    * fraction of non-null values per class, and a `risky` verdict when
    * any class covers more than half the column — the audit that finds
    * the column someone landed raw contact data in before it reaches a
    * training corpus. ONE aggregate job over one scan regardless of
    * column count (the [[report]] explode shape); fractions are exact
    * counts with one IEEE division each.
    */
  def piiColumnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    def hit(c: String, rx: String): Column =
      sum(when(regexp_count(col(c), lit(rx)) > 0, 1L).otherwise(0L))
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"__n_$c"),
      hit(c, TextAnalysis.EmailRx).as(s"__e_$c"),
      hit(c, TextAnalysis.PhoneRx).as(s"__p_$c"),
      hit(c, TextAnalysis.Ipv4Rx).as(s"__i_$c"))
    }
    val agged = df.agg(aggs.head, aggs.tail: _*)
    def frac(n: Column, d: Column): Column =
      when(d > 0, n.cast("double") / d.cast("double"))
    val rows = array(cols.map { c =>
      val (n, e, p, i) =
        (col(s"__n_$c"), col(s"__e_$c"), col(s"__p_$c"), col(s"__i_$c"))
      struct(
        lit(c).as("col_name"),
        n.as("n_values"),
        coalesce(e, lit(0L)).as("n_email_like"),
        coalesce(p, lit(0L)).as("n_phone_like"),
        coalesce(i, lit(0L)).as("n_ipv4_like"),
        frac(coalesce(e, lit(0L)), n).as("email_frac"),
        frac(coalesce(p, lit(0L)), n).as("phone_frac"),
        frac(coalesce(i, lit(0L)), n).as("ipv4_frac"),
        coalesce(
          greatest(frac(coalesce(e, lit(0L)), n),
            frac(coalesce(p, lit(0L)), n),
            frac(coalesce(i, lit(0L)), n)) > 0.5,
          lit(false)).as("risky"))
    }: _*)
    agged.select(explode(rows).as("r")).select("r.*")
  }

  /** DISTRIBUTION DRIFT between two snapshots of the same feed — the
    * training-serving-skew / crawl-drift audit (the PSI report's exact
    * cousin): bucket edges are exact rank statistics of a deterministic
    * id-mix SAMPLE of the BASE snapshot (the [[Sampling.headMiddleTail]]
    * cutoff discipline — never a global sort; the sample is the
    * `sampleHashSql` permutation, so it replays verbatim in any engine),
    * both snapshots are counted into those base buckets, and a bucket is
    * `drifted` when |share_base − share_current| exceeds `threshold`
    * (shares are one exact-integer-ratio IEEE division each; the compare
    * is a fixed IEEE tree, bit-identical across engines).
    *
    * Scale shape: one bounded top-`sampleSize` selection on the base
    * (distributed take-ordered, no global sort), then ONE scan + one
    * |buckets|-row aggregate per snapshot; the bucket spine keeps empty
    * current-side buckets visible (a vanished value range IS drift).
    * Output per bucket: (bucket, lo, hi, n_base, n_current, share_base,
    * share_current, drifted) — lo/hi are the bucket's sample-cut edges
    * (NULL at the open ends).
    */
  def driftReport(base: DataFrame, current: DataFrame, idCol: String,
      valueCol: String, buckets: Int = 10, threshold: Double = 0.05,
      sampleSize: Int = 512): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    val spark = base.sparkSession
    val b = base.filter(col(valueCol).isNotNull)
    val c = current.filter(col(valueCol).isNotNull)
    // deterministic bounded sample of the BASE; cuts = k-th smallest at
    // ⌈k·n/buckets⌉ (discrete selection — no interpolation to drift
    // between engines), k = 1..buckets-1
    val sample = b
      .orderBy(expr(Similarity.sampleHashSql(idCol)), col(idCol))
      .limit(sampleSize)
      .select(col(valueCol).cast("double")).collect().map(_.getDouble(0))
      .sorted
    val n = sample.length
    require(n >= buckets, s"base sample of $n rows cannot cut $buckets buckets")
    val cuts = (1 until buckets)
      .map(k => sample(((k.toLong * n + buckets - 1) / buckets).toInt - 1))
    val cutsLit = typedLit(cuts)
    def bucketOf(v: Column): Column =
      size(filter(cutsLit, e => v > e)).cast("long")
    def counted(df: DataFrame, out: String): DataFrame =
      df.select(bucketOf(col(valueCol).cast("double")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(out))
    import spark.implicits._
    val spine = (0L until buckets.toLong).toDF("bucket")
    val joined = spine
      .join(counted(b, "n_base"), Seq("bucket"), "left")
      .join(counted(c, "n_current"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_current"), lit(0L)).as("n_current"))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    joined
      .withColumn("lo",
        when(col("bucket") > 0, element_at(cutsLit, col("bucket").cast("int"))))
      .withColumn("hi",
        when(col("bucket") < buckets - 1,
          element_at(cutsLit, col("bucket").cast("int") + 1)))
      // guard the totals: an empty side yields NULL shares ("no data to
      // compare"), never a 0/0 NaN — NaN renders differently per engine
      .withColumn("share_base",
        when(sum(col("n_base")).over(wAll) > 0,
          col("n_base").cast("double") / sum(col("n_base")).over(wAll)))
      .withColumn("share_current",
        when(sum(col("n_current")).over(wAll) > 0,
          col("n_current").cast("double") /
            sum(col("n_current")).over(wAll)))
      .withColumn("drifted",
        abs(col("share_base") - col("share_current")) > threshold)
      .select("bucket", "lo", "hi", "n_base", "n_current",
        "share_base", "share_current", "drifted")
  }

  /** STREAMING DRIFT MONITOR — the training-serving-skew pager: per
    * micro-batch, the arriving value distribution is compared against a
    * FIXED baseline snapshot with the exact [[driftReport]] arithmetic
    * (stateless per trigger ⇒ stream ≡ batch exactly, StreamingSpec pins
    * it), and
    * the 10-row report lands under `batch=N` — a retried batch
    * overwrites its own partition (the curateGateSink idempotent-sink
    * discipline). A `drifted = true` row in the report stream IS the
    * alert. The baseline's sample cuts are recomputed per trigger from
    * the same deterministic id-mix (bounded work; a deployment caching
    * them trades staleness for one take-ordered job per trigger). An
    * empty micro-batch reports NULL current shares ("no data to
    * compare"), never NaN.
    */
  def driftMonitorSink(events: DataFrame, baseline: DataFrame,
      outDir: String, idCol: String = "event_id",
      valueCol: String = "value", buckets: Int = 10,
      threshold: Double = 0.05, sampleSize: Int = 512)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val b = batch.toDF().persist()
        try {
          val rep = driftReport(
            baseline, b, idCol, valueCol, buckets, threshold, sampleSize)
          rep.repartition(1)
            .write.mode("overwrite").parquet(s"$outDir/batch=$id")
        } finally { b.unpersist(); () }
    }
}
