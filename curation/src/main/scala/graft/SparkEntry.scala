package graft

import graft.functions.{Bpe, Dedup, MinhashIndex, Multimodal, Similarity, Takedown, TextAnalysis, Unigram}
import graft.oracles.PipelineOracles._
import graft.operators._
import graft.queries.Q
import graft.queries.SegmentQueries.{dSum, tierSql, twoSourceCte, withScratchDir}
import graft.sources.{ManagedTables, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is paired with ANSI SQL the driver runs in DuckDB over the
  * same parquet tables; results are hash-compared after sorting columns by
  * name. Conventions that keep the two engines bit-identical:
  *  - monetary sums go through exact DECIMAL(38,6) arithmetic, round to 2dp,
  *    and are surfaced as DOUBLE on both sides (order-independent, so also
  *    cluster-safe). DOUBLE, not DECIMAL, at the boundary: the two engines
  *    render decimal trailing zeros differently (`61.50` vs `61.5`), which
  *    fails a textual hash compare even when values are exactly equal; the
  *    nearest-double of the identical exact decimal is bit-identical;
  *  - every query ends in a total ORDER BY over a unique key;
  *  - aggregate/computed columns carry identical aliases on both sides.
  */
object SparkEntry {

  private type QueryFn = (SparkSession, String) => DataFrame

  private val sourceQueries: Seq[Q] = Seq(
    // TEXT-FORMAT sources (the ingest edge: crawl/vendor data arrives as
    // JSONL/CSV, not parquet): write the corpus out, read it back under
    // the EXPLICIT corpus schema (never inferSchema — a second full pass
    // AND sample-dependent type drift), answer from the round-tripped
    // frame. The oracle answers from the parquet table directly, so hash
    // equality certifies the escape/quote/encode cycle loses nothing.
    Q("q_source_jsonl_roundtrip",
      (s, d) => withScratchDir("graft_jsonl") { dir =>
        val docs = Tables.documents(s, d)
        val path = dir.resolve("docs").toString
        graft.sources.TextFormats.writeJsonl(docs, path)
        graft.sources.TextFormats.readJsonl(s, path, docs.schema)
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "ORDER BY doc_id")),

    Q("q_source_csv_roundtrip",
      (s, d) => withScratchDir("graft_csv") { dir =>
        val docs = Tables.documents(s, d)
        val path = dir.resolve("docs").toString
        graft.sources.TextFormats.writeCsv(docs, path)
        graft.sources.TextFormats.readCsv(s, path, docs.schema)
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "ORDER BY doc_id")),

    // Compressed-JSONL round-trip (the crawl-dump wire format:
    // .jsonl.gz): write gzip-compressed line files, read them back by
    // extension, answer from the compressed copy against the
    // parquet-answering oracle — certifies the codec cycle AND that the
    // reader's extension-based decompression engages (a broken codec
    // read would surface as permissive-mode NULL rows and hash-fail).
    // gzip, not zstd: Hadoop's TEXT-output zstd codec needs the native
    // hadoop lib this container lacks (parquet/orc zstd ride zstd-jni
    // and are unaffected); gzip is the JVM-built-in and the decades-long
    // crawl default.
    Q("q_source_jsonl_gz_roundtrip",
      (s, d) => withScratchDir("graft_jsonl_gz") { dir =>
        val docs = Tables.documents(s, d)
        val path = dir.resolve("docs").toString
        graft.sources.TextFormats.writeJsonl(docs, path, codec = "gzip")
        graft.sources.TextFormats.readJsonl(s, path, docs.schema)
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "ORDER BY doc_id")),

    // ORC round-trip: write the corpus out as ORC, read it back, answer
    // from the ORC copy; the oracle answers from the parquet table
    // directly, so hash equality certifies the columnar write→read
    // cycle (types, NULLs, full text) loses nothing. Unlike the CSV arm
    // there is no sentinel caveat: ORC nulls are typed.
    Q("q_source_orc_roundtrip",
      (s, d) => withScratchDir("graft_orc") { dir =>
        val docs = Tables.documents(s, d)
        val path = dir.resolve("docs").toString
        graft.sources.TextFormats.writeOrc(docs, path)
        graft.sources.TextFormats.readOrc(s, path, docs.schema)
          .orderBy("doc_id")
      },
      Some("SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "ORDER BY doc_id")))

  // -------------------------------------------------------------------------
  // Analytics (SURVEY §2.4 A3-A7, §2.5)
  // -------------------------------------------------------------------------

  private val analyticsQueries: Seq[Q] = Seq(
    Q("q_analytics_category_totals",
      (s, d) => Analytics.categoryTotals(Tables.transactions(s, d)).orderBy("category"),
      Some("SELECT event_type AS category, count(*) AS txn_count, " +
        s"${dSum("value")} AS total_amount FROM events GROUP BY 1 ORDER BY category")),

    // Same operator over the two-source union view — exercises U1 (the
    // UNION ALL + discriminator shape of the reference's rule_parser CTE).
    Q("q_analytics_category_totals_2src",
      (s, d) => Analytics.categoryTotals(Tables.transactionsTwoSource(s, d))
        .orderBy("category"),
      Some(s"$twoSourceCte SELECT category, count(*) AS txn_count, " +
        s"${dSum("amount")} AS total_amount FROM t GROUP BY 1 ORDER BY category")),

    Q("q_analytics_daily_totals",
      (s, d) => Analytics.dailyTotals(
        Tables.transactions(s, d), "2024-01-01", "2024-02-05").orderBy("day"),
      Some("WITH spine AS (SELECT CAST(unnest(generate_series(" +
        "DATE '2024-01-01', DATE '2024-02-05', INTERVAL 1 DAY)) AS DATE) AS day), " +
        "agg AS (SELECT CAST(ts AS DATE) AS day, count(*) AS c, " +
        s"${dSum("value")} AS amt FROM events " +
        "WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-02-05' " +
        "GROUP BY 1) " +
        "SELECT spine.day, COALESCE(c, 0) AS txn_count, " +
        "COALESCE(amt, CAST(0 AS DOUBLE)) AS total_amount " +
        "FROM spine LEFT JOIN agg USING (day) ORDER BY day")),

    // GAP-FILLED daily series: missing days linearly interpolated between
    // nearest present neighbors, edges filled flat. The corpus is dense
    // (every January day has events), so gaps are synthesized: days ≡ 3
    // (mod 7 of day-of-month) are withheld, and the spine extends past
    // the data on both sides to force the edge fills. One fixed IEEE
    // tree pv + (nv−pv)·fr, exact-integer day ratios — the oracle
    // replays it with IGNORE NULLS neighbor windows.
    Q("q_analytics_daily_interpolated",
      (s, d) => Analytics.interpolateDaily(
        Tables.transactions(s, d)
          .filter(dayofmonth(to_date(col("ts"))) % 7 =!= 3),
        "2023-12-28", "2024-02-03").orderBy("day"),
      Some("WITH spine AS (SELECT CAST(unnest(generate_series(" +
        "DATE '2023-12-28', DATE '2024-02-03', INTERVAL 1 DAY)) AS DATE) AS day), " +
        "agg AS (SELECT CAST(ts AS DATE) AS day, count(*) AS c, " +
        s"${dSum("value")} AS amt FROM events " +
        "WHERE day(CAST(ts AS DATE)) % 7 <> 3 " +
        "AND CAST(ts AS DATE) BETWEEN DATE '2023-12-28' AND DATE '2024-02-03' " +
        "GROUP BY 1), " +
        "j AS (SELECT spine.day, c, amt FROM spine LEFT JOIN agg USING (day)), " +
        "m AS (SELECT day, c, amt, " +
        "last_value(CASE WHEN amt IS NOT NULL THEN day END IGNORE NULLS) " +
        "OVER w_prev AS pd, " +
        "last_value(CASE WHEN amt IS NOT NULL THEN amt END IGNORE NULLS) " +
        "OVER w_prev AS pv, " +
        "first_value(CASE WHEN amt IS NOT NULL THEN day END IGNORE NULLS) " +
        "OVER w_next AS nd, " +
        "first_value(CASE WHEN amt IS NOT NULL THEN amt END IGNORE NULLS) " +
        "OVER w_next AS nv FROM j " +
        "WINDOW w_prev AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND 1 PRECEDING), " +
        "w_next AS (ORDER BY day ROWS BETWEEN 1 FOLLOWING " +
        "AND UNBOUNDED FOLLOWING)) " +
        "SELECT day, COALESCE(c, 0) AS txn_count, amt AS total_amount_raw, " +
        "CASE WHEN amt IS NOT NULL THEN amt " +
        "WHEN pd IS NOT NULL AND nd IS NOT NULL THEN pv + (nv - pv) * " +
        "(CAST(date_diff('day', pd, day) AS DOUBLE) / " +
        "CAST(date_diff('day', pd, nd) AS DOUBLE)) " +
        "WHEN pd IS NOT NULL THEN pv ELSE nv END AS total_amount_filled, " +
        "amt IS NULL AS interpolated " +
        "FROM m ORDER BY day")),

    // Trailing-28-day anomaly detection on the per-category daily series:
    // RANGE frame over the epoch-day index (calendar gaps widen the
    // lookback, never shrink it), integer-only window statistics
    // (count/Σ/Σ²), one fixed IEEE double tree for the z-score. Cold-start
    // days (<7 prior) stay unflagged.
    Q("q_analytics_anomalies",
      (s, d) => Analytics.dailyAnomalies(Tables.transactions(s, d),
          window = 28, z = 3.0, minPrior = 7)
        .orderBy("category", "day"),
      Some("WITH daily AS (SELECT event_type AS category, " +
        "CAST(ts AS DATE) AS day, count(*) AS n_events FROM events " +
        "GROUP BY 1, 2), " +
        "st AS (SELECT category, day, n_events, " +
        "CAST(count(n_events) OVER w AS BIGINT) AS n_prior, " +
        "CAST(sum(n_events) OVER w AS BIGINT) AS s, " +
        "CAST(sum(n_events * n_events) OVER w AS BIGINT) AS ss " +
        "FROM daily WINDOW w AS (PARTITION BY category " +
        "ORDER BY CAST(day - DATE '1970-01-01' AS BIGINT) " +
        "RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING)), " +
        // mean0/std0 are NULL on empty frames (s is NULL before the
        // division ever sees the zero), so the CASE guards below only
        // encode the minPrior policy, not NULL plumbing
        "st2 AS (SELECT category, day, n_events, n_prior, s, " +
        "CAST(s AS DOUBLE) / CAST(n_prior AS DOUBLE) AS mean0, " +
        "sqrt(greatest(0.0, CAST(ss AS DOUBLE) / CAST(n_prior AS DOUBLE) - " +
        "(CAST(s AS DOUBLE) / CAST(n_prior AS DOUBLE)) * " +
        "(CAST(s AS DOUBLE) / CAST(n_prior AS DOUBLE)))) AS std0 FROM st) " +
        "SELECT category, day, n_events, n_prior, " +
        "CASE WHEN n_prior >= 7 THEN mean0 END AS mean_prior, " +
        "CASE WHEN n_prior >= 7 THEN std0 END AS std_prior, " +
        "CASE WHEN n_prior >= 7 AND std0 > 0 THEN " +
        "(CAST(n_events AS DOUBLE) - mean0) / std0 END AS zscore, " +
        "(COALESCE(abs(CASE WHEN n_prior >= 7 AND std0 > 0 THEN " +
        "(CAST(n_events AS DOUBLE) - mean0) / std0 END) > 3.0, false) " +
        "OR (n_prior >= 7 AND std0 = 0 AND n_events * n_prior <> s)) " +
        "AS is_anomaly FROM st2 ORDER BY category, day")),

    Q("q_analytics_summary",
      (s, d) => Analytics.summary(Tables.transactions(s, d)),
      Some("SELECT count(*) AS total_transactions, " +
        s"${dSum("value")} AS total_amount, " +
        "count(DISTINCT user_id) AS active_users FROM events")),

    Q("q_analytics_top_categories",
      (s, d) => Analytics.topCategories(Tables.transactions(s, d), 3),
      Some("SELECT event_type AS category, count(*) AS txn_count, " +
        s"${dSum("value")} AS total_amount FROM events GROUP BY 1 " +
        "ORDER BY total_amount DESC, category LIMIT 3")),

    Q("q_analytics_user_search",
      (s, d) => Analytics.searchUsers(
        Tables.transactions(s, d),
        Analytics.UserSearch(
          minAmount = Some(100.0), cityTier = Some(2),
          dateFrom = Some("2024-01-05"), dateTo = Some("2024-01-25"),
          minTransactions = 3L),
        page = 2, perPage = 10),
      Some("SELECT user_id, count(*) AS total_transactions, " +
        s"${dSum("value")} AS total_spent FROM events " +
        s"WHERE value >= 100 AND $tierSql = 2 " +
        "AND CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-25' " +
        "GROUP BY user_id HAVING count(*) >= 3 " +
        "ORDER BY total_transactions DESC, user_id LIMIT 10 OFFSET 10")),

    // Retention cohorts: first-activity day × activity-day offset →
    // distinct-user counts. Integer-only output.
    Q("q_analytics_retention",
      (s, d) => Analytics.retentionCohorts(Tables.events(s, d))
        .orderBy("cohort_day", "day_offset"),
      Some("WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day " +
        "FROM events GROUP BY 1), " +
        "a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events) " +
        "SELECT cohort_day, CAST(d - cohort_day AS INT) AS day_offset, " +
        "count(*) AS n_users " +
        "FROM a JOIN f USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2")),

    // Event funnel (signup → click → purchase within 7 days, first-touch):
    // one user_id aggregate per step + one co-partitioned join per
    // transition; the only double is the final conversion division.
    Q("q_analytics_funnel",
      (s, d) => Analytics.funnel(Tables.events(s, d),
        Seq("signup", "click", "purchase"), horizonDays = 7),
      Some("WITH s1 AS (SELECT user_id, min(ts) AS t FROM events " +
        "WHERE event_type = 'signup' GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e " +
        "JOIN s1 p ON e.user_id = p.user_id WHERE e.event_type = 'click' " +
        "AND e.ts >= p.t AND e.ts <= p.t + INTERVAL 7 DAY GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e " +
        "JOIN s2 p ON e.user_id = p.user_id WHERE e.event_type = 'purchase' " +
        "AND e.ts >= p.t AND e.ts <= p.t + INTERVAL 7 DAY GROUP BY 1), " +
        "c AS (SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type, " +
        "count(*) AS n_users FROM s1 " +
        "UNION ALL SELECT 2, 'click', count(*) FROM s2 " +
        "UNION ALL SELECT 3, 'purchase', count(*) FROM s3) " +
        "SELECT step, event_type, n_users, " +
        "CASE WHEN f.n > 0 THEN CAST(n_users AS DOUBLE) / CAST(f.n AS DOUBLE) " +
        "END AS conv_from_first " +
        "FROM c CROSS JOIN (SELECT count(*) AS n FROM s1) f ORDER BY step")),

    // Exact per-category value quantiles (linear interpolation). Both
    // engines compute lower + (higher-lower)*frac over the same sorted
    // doubles; the oracle checks they agree bit-for-bit.
    Q("q_analytics_quantiles",
      (s, d) => Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          expr("percentile(value, array(0.5D, 0.9D, 0.99D))").as("ps"))
        .select(col("event_type"), col("n"),
          col("ps").getItem(0).as("p50"),
          col("ps").getItem(1).as("p90"),
          col("ps").getItem(2).as("p99"))
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n, " +
        "quantile_cont(value, 0.5) AS p50, " +
        "quantile_cont(value, 0.9) AS p90, " +
        "quantile_cont(value, 0.99) AS p99 " +
        "FROM events GROUP BY 1 ORDER BY 1")),

    // Sketch layer under the hash gate (SURVEY §2 approximations): the
    // sketch estimates themselves are engine-specific, so the query emits
    // the EXACT per-group answer plus a boolean verdict that the sketch
    // landed inside its error bound; the oracle replays the exact side and
    // literal TRUE, which hashes equal iff every bound held. The tighter
    // error-bound pins (and the sketch MERGE identity that makes this the
    // rollup-without-rescan path at 100 TB) live in ApproxSpec.
    Q("q_approx_distinct",
      (s, d) => graft.functions.Approx.distinctWithBound(
        Tables.events(s, d), "event_type", "user_id")
        .orderBy("event_type"),
      Some("SELECT event_type, count(DISTINCT user_id) AS n_exact, " +
        "TRUE AS within_bound FROM events GROUP BY 1 ORDER BY 1")),

    Q("q_approx_quantiles",
      (s, d) => graft.functions.Approx.quantilesWithBound(
        Tables.events(s, d), "event_type", "value")
        .orderBy("event_type"),
      Some("SELECT event_type, count(*) AS n, " +
        "quantile_cont(value, 0.5) AS p50, TRUE AS p50_ok, " +
        "quantile_cont(value, 0.9) AS p90, TRUE AS p90_ok, " +
        "quantile_cont(value, 0.99) AS p99, TRUE AS p99_ok " +
        "FROM events GROUP BY 1 ORDER BY 1")),

    // Cross-audience OVERLAP via HLL inclusion-exclusion (the sketch-merge
    // path that never rescans): exact sizes/intersection/Jaccard per
    // event-type pair + the TRUE verdict that |A|+|B|−est(A∪B) landed
    // inside tol·|A∪B| — the family discipline of q_approx_distinct.
    Q("q_approx_overlap",
      (s, d) => graft.functions.Approx.overlapEstimate(
        Tables.events(s, d), "event_type", "user_id")
        .orderBy("set_a", "set_b"),
      Some("WITH dv AS (SELECT DISTINCT event_type AS k, user_id AS v " +
        "FROM events WHERE event_type IS NOT NULL AND user_id IS NOT NULL), " +
        "nn AS (SELECT k, count(*) AS n FROM dv GROUP BY 1), " +
        "pr AS (SELECT na.k AS set_a, nb.k AS set_b, na.n AS n_a, " +
        "nb.n AS n_b FROM nn na JOIN nn nb ON na.k < nb.k), " +
        "ii AS (SELECT x.k AS set_a, y.k AS set_b, count(*) AS n_inter " +
        "FROM dv x JOIN dv y ON x.v = y.v AND x.k < y.k GROUP BY 1, 2) " +
        "SELECT set_a, set_b, CAST(n_a AS BIGINT) AS n_a, " +
        "CAST(n_b AS BIGINT) AS n_b, " +
        "CAST(COALESCE(n_inter, 0) AS BIGINT) AS n_inter, " +
        "CASE WHEN n_a + n_b - COALESCE(n_inter, 0) > 0 THEN " +
        "CAST(COALESCE(n_inter, 0) AS DOUBLE) / " +
        "CAST(n_a + n_b - COALESCE(n_inter, 0) AS DOUBLE) " +
        "ELSE CAST(0.0 AS DOUBLE) END AS jaccard, " +
        "TRUE AS within_bound " +
        "FROM pr LEFT JOIN ii USING (set_a, set_b) ORDER BY set_a, set_b")),

    // Heavy hitters over the corpus token stream: every term with >= 1/200
    // of all occurrences, exact counts. Two-pass sketch-then-verify
    // (per-partition Misra-Gries candidates, then one bounded-hash exact
    // pass) — the sketch bounds WORK only, so the oracle is a plain
    // GROUP BY + HAVING on the same threshold.
    Q("q_approx_heavy_hitters",
      (s, d) => graft.functions.Approx.heavyHitters(
        Tables.documents(s, d)
          .select(explode(graft.functions.TextAnalysis.tokens(col("text")))
            .as("term")),
        "term", denom = 200L)
        .orderBy(col("cnt").desc, col("term")),
      Some("WITH tk AS (SELECT unnest(" + toksSql + ") AS term " +
        "FROM documents), " +
        "tot AS (SELECT count(*) AS n FROM tk), " +
        "c AS (SELECT term, count(*) AS cnt FROM tk GROUP BY 1) " +
        "SELECT c.term, c.cnt, " +
        "CAST(c.cnt AS DOUBLE) / CAST(tot.n AS DOUBLE) AS share " +
        "FROM c CROSS JOIN tot WHERE c.cnt * 200 >= tot.n " +
        "ORDER BY c.cnt DESC, c.term")),

    // Categorical pivot: per-tier event counts spread across one column per
    // category (explicit value list keeps the plan static — no
    // distinct-scan planning pass at scale).
    Q("q_analytics_pivot",
      (s, d) => Tables.transactions(s, d)
        .groupBy(col("city_tier"))
        .pivot("category", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        // fill ONLY the pivoted count columns: an unscoped fill would also
        // rewrite a null city_tier group to 0, diverging from the oracle
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("city_tier"),
      Some(s"SELECT $tierSql AS city_tier, " +
        "count(*) FILTER (WHERE event_type = 'click') AS click, " +
        "count(*) FILTER (WHERE event_type = 'error') AS error, " +
        "count(*) FILTER (WHERE event_type = 'purchase') AS purchase, " +
        "count(*) FILTER (WHERE event_type = 'signup') AS signup, " +
        "count(*) FILTER (WHERE event_type = 'view') AS view " +
        "FROM events GROUP BY 1 ORDER BY city_tier NULLS FIRST")),

    // One-pass data-quality report: five checks, ONE aggregate job (the
    // ingest gate a training pipeline runs before a batch goes downstream).
    Q("q_quality_report",
      (s, d) => graft.functions.DataQuality.report(
        Tables.events(s, d),
        Seq(
          graft.functions.DataQuality.completeness("user_id", 1.0),
          graft.functions.DataQuality.uniqueness("user_id", 0.5),
          graft.functions.DataQuality.minBound("value", 0.0),
          graft.functions.DataQuality.maxBound("value", 10000.0),
          graft.functions.DataQuality.minRows(1000L)))
        .orderBy("check_name"),
      Some("WITH a AS (SELECT " +
        "CAST(count(user_id) AS DOUBLE) / count(*) AS c_user, " +
        "CAST(count(DISTINCT user_id) AS DOUBLE) / count(user_id) AS u_user, " +
        "CAST(min(value) AS DOUBLE) AS mn, CAST(max(value) AS DOUBLE) AS mx, " +
        "CAST(count(*) AS DOUBLE) AS rc FROM events) " +
        "SELECT * FROM (" +
        "SELECT 'completeness(user_id)' AS check_name, c_user AS metric, " +
        "c_user >= 1.0 AS passed FROM a " +
        "UNION ALL SELECT 'uniqueness(user_id)', u_user, u_user >= 0.5 FROM a " +
        "UNION ALL SELECT 'min(value)', mn, mn >= 0.0 FROM a " +
        "UNION ALL SELECT 'max(value)', mx, mx <= 10000.0 FROM a " +
        "UNION ALL SELECT 'row_count', rc, rc >= 1000 FROM a) " +
        "ORDER BY check_name")),

    // SCHEMA-WIDE PII COLUMN PROFILE: which columns of a table carry
    // contact data (the engineered `contact` column is 2/3 emails →
    // risky; source/note stay clean). One aggregate job over one scan
    // regardless of column count; the oracle replays every class count.
    Q("q_privacy_pii_profile", {
      (s, d) => {
        val frame = Tables.documents(s, d).select(
          col("source"),
          when(pmod(col("doc_id"), lit(3L)) =!= 0,
            concat(lit("user"), col("doc_id").cast("string"),
              lit("@example.com")))
            .otherwise(concat(lit("user "), col("doc_id").cast("string")))
            .as("contact"),
          col("text").as("note"))
        graft.functions.DataQuality.piiColumnProfile(frame,
            Seq("source", "contact", "note"))
          .orderBy("col_name")
      }
    }, {
      val cols = Seq("source", "contact", "note")
      def cagg(c: String) =
        s"count($c) AS n_$c, " + Seq(
          ("e", TextAnalysis.EmailRx), ("p", TextAnalysis.PhoneRx),
          ("i", TextAnalysis.Ipv4Rx)).map { case (t, rx) =>
          s"sum(CASE WHEN len(regexp_extract_all($c, '$rx')) > 0 " +
            s"THEN 1 ELSE 0 END) AS ${t}_$c"
        }.mkString(", ")
      def frac(num: String, den: String) =
        s"CASE WHEN $den > 0 THEN CAST(COALESCE($num, 0) AS DOUBLE) " +
          s"/ CAST($den AS DOUBLE) END"
      val rows = cols.map { c =>
        s"SELECT '$c' AS col_name, CAST(n_$c AS BIGINT) AS n_values, " +
          s"CAST(COALESCE(e_$c, 0) AS BIGINT) AS n_email_like, " +
          s"CAST(COALESCE(p_$c, 0) AS BIGINT) AS n_phone_like, " +
          s"CAST(COALESCE(i_$c, 0) AS BIGINT) AS n_ipv4_like, " +
          s"${frac(s"e_$c", s"n_$c")} AS email_frac, " +
          s"${frac(s"p_$c", s"n_$c")} AS phone_frac, " +
          s"${frac(s"i_$c", s"n_$c")} AS ipv4_frac, " +
          s"COALESCE(greatest(${frac(s"e_$c", s"n_$c")}, " +
          s"${frac(s"p_$c", s"n_$c")}, ${frac(s"i_$c", s"n_$c")}) > 0.5, " +
          "false) AS risky FROM a"
      }.mkString(" UNION ALL ")
      Some("WITH w AS (SELECT source, CASE WHEN doc_id % 3 <> 0 " +
        "THEN 'user' || doc_id || '@example.com' " +
        "ELSE 'user ' || doc_id END AS contact, text AS note " +
        "FROM documents), " +
        s"a AS (SELECT ${cols.map(cagg).mkString(", ")} FROM w) " +
        s"SELECT * FROM ($rows) ORDER BY col_name")
    }),

    // DISTRIBUTION DRIFT between two snapshots (month halves; the current
    // side's values engineered ×1.25 so real drift exists): bucket edges =
    // exact rank statistics of a deterministic id-mix sample of the BASE
    // (the headMiddleTail cutoff discipline — no global sort), both sides
    // counted into those buckets, |share delta| > 5% flags. The oracle
    // replays sample, cuts, assignment, and the share comparison.
    Q("q_quality_drift",
      (s, d) => {
        val ev = Tables.events(s, d)
        val cut = to_timestamp(lit("2024-01-16 00:00:00"))
        graft.functions.DataQuality.driftReport(
            ev.filter(col("ts") < cut),
            ev.filter(col("ts") >= cut)
              .withColumn("value", col("value") * 1.25),
            idCol = "event_id", valueCol = "value")
          .orderBy("bucket")
      },
      Some("WITH bse AS (SELECT event_id, value FROM events " +
        "WHERE ts < TIMESTAMP '2024-01-16 00:00:00' " +
        "AND value IS NOT NULL), " +
        "cur AS (SELECT value * CAST(1.25 AS DOUBLE) AS value FROM events " +
        "WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' " +
        "AND value IS NOT NULL), " +
        "smp AS (SELECT CAST(value AS DOUBLE) AS v FROM bse " +
        s"ORDER BY ${graft.functions.Similarity.sampleHashSql("event_id")}, " +
        "event_id LIMIT 512), " +
        "sn AS (SELECT count(*) AS n FROM smp), " +
        "srt AS (SELECT v, row_number() OVER (ORDER BY v) AS r FROM smp), " +
        "cl AS (SELECT list(v ORDER BY r) AS cl FROM srt, sn " +
        "WHERE r IN (SELECT (k * n + 9) // 10 FROM " +
        "(SELECT unnest(range(1, 10)) AS k), sn)), " +
        "bc AS (SELECT bucket, count(*) AS n_base FROM " +
        "(SELECT len(list_filter(cl.cl, e -> CAST(value AS DOUBLE) > e)) " +
        "AS bucket FROM bse, cl) GROUP BY bucket), " +
        "cc AS (SELECT bucket, count(*) AS n_current FROM " +
        "(SELECT len(list_filter(cl.cl, e -> CAST(value AS DOUBLE) > e)) " +
        "AS bucket FROM cur, cl) GROUP BY bucket), " +
        "sp AS (SELECT unnest(range(0, 10)) AS bucket), " +
        "j AS (SELECT sp.bucket, COALESCE(n_base, 0) AS n_base, " +
        "COALESCE(n_current, 0) AS n_current FROM sp " +
        "LEFT JOIN bc USING (bucket) LEFT JOIN cc USING (bucket)) " +
        "SELECT CAST(bucket AS BIGINT) AS bucket, " +
        "CASE WHEN bucket > 0 THEN cl.cl[CAST(bucket AS INT)] END AS lo, " +
        "CASE WHEN bucket < 9 THEN cl.cl[CAST(bucket AS INT) + 1] END " +
        "AS hi, CAST(n_base AS BIGINT) AS n_base, " +
        "CAST(n_current AS BIGINT) AS n_current, " +
        "CAST(n_base AS DOUBLE) / sum(n_base) OVER () AS share_base, " +
        "CAST(n_current AS DOUBLE) / sum(n_current) OVER () " +
        "AS share_current, " +
        "abs(CAST(n_base AS DOUBLE) / sum(n_base) OVER () - " +
        "CAST(n_current AS DOUBLE) / sum(n_current) OVER ()) > 0.05 " +
        "AS drifted FROM j, cl ORDER BY bucket")),

    // Exact-moment Pearson correlations between document metrics (corpus
    // profiling). The aggregation stage is exact BIGINT moments
    // (order-free), the combine stage a fixed IEEE double tree — so the
    // doubles hash-match without any fold-order pinning. The oracle mirrors
    // the tree operation-for-operation (same casts, same greatest-clamp,
    // same zero-variance NULL arm).
    Q("q_quality_correlation",
      (s, d) => graft.functions.DataQuality.metricCorrelations(
          TextAnalysis.stats(Tables.documents(s, d)),
          Seq("n_chars", "token_count", "punct_count"))
        .orderBy("metric_x", "metric_y"),
      Some {
        def corrArm(x: String, y: String, sx: String, sy: String,
            sxy: String, sxx: String, syy: String): String = {
          def d(c: String) = s"CAST($c AS DOUBLE)"
          val devX = s"sqrt(greatest(0.0, ${d("n")} * ${d(sxx)} - ${d(sx)} * ${d(sx)}))"
          val devY = s"sqrt(greatest(0.0, ${d("n")} * ${d(syy)} - ${d(sy)} * ${d(sy)}))"
          s"SELECT '$x' AS metric_x, '$y' AS metric_y, n, " +
            s"CASE WHEN $devX * $devY = 0.0 THEN NULL ELSE " +
            s"(${d("n")} * ${d(sxy)} - ${d(sx)} * ${d(sy)}) / ($devX * $devY) " +
            "END AS corr FROM g"
        }
        "WITH m AS (SELECT CAST(length(text) AS BIGINT) AS a, " +
          s"CAST(len($toksSql) AS BIGINT) AS b, " +
          "CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) " +
          "AS BIGINT) AS c FROM documents), " +
          "g AS (SELECT count(*) AS n, " +
          "CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb, " +
          "CAST(sum(c) AS BIGINT) AS sc, " +
          "CAST(sum(a*a) AS BIGINT) AS saa, CAST(sum(a*b) AS BIGINT) AS sab, " +
          "CAST(sum(a*c) AS BIGINT) AS sac, CAST(sum(b*b) AS BIGINT) AS sbb, " +
          "CAST(sum(b*c) AS BIGINT) AS sbc, CAST(sum(c*c) AS BIGINT) AS scc " +
          "FROM m) SELECT * FROM (" +
          corrArm("n_chars", "punct_count", "sa", "sc", "sac", "saa", "scc") +
          " UNION ALL " +
          corrArm("n_chars", "token_count", "sa", "sb", "sab", "saa", "sbb") +
          " UNION ALL " +
          corrArm("token_count", "punct_count", "sb", "sc", "sbc", "sbb", "scc") +
          ") ORDER BY metric_x, metric_y"
      }),

    // CUBE over (category, city_tier): all grouping-set combinations in one
    // pass (grand total, per-category, per-tier, per-pair). NULLS FIRST in
    // the oracle's ORDER BY matches Spark's asc default for the null
    // subtotal markers.
    Q("q_analytics_cube",
      (s, d) => Tables.transactions(s, d)
        .cube(col("category"), col("city_tier"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("txn_count"),
          Tables.moneyOut(sum(col("amount").cast(Tables.MoneyExact))).as("total_amount"))
        // gid disambiguates subtotal NULL markers from genuine NULL groups —
        // without it (cat, NULL) would not be a total order if any row had a
        // null-producing props.k
        .orderBy(col("category"), col("city_tier"), col("gid")),
      Some("SELECT event_type AS category, " +
        s"$tierSql AS city_tier, " +
        s"CAST(GROUPING(event_type, $tierSql) AS BIGINT) AS gid, " +
        "count(*) AS txn_count, " +
        s"${dSum("value")} AS total_amount FROM events " +
        "GROUP BY CUBE (1, 2) " +
        "ORDER BY category NULLS FIRST, city_tier NULLS FIRST, gid")),

    // Gap-based sessionization (30-minute inactivity gap): lag boundary
    // flag + running-sum session index + per-session aggregate. The oracle
    // replays the same two windows; both engines' default RANGE frame makes
    // timestamp ties share a session, so the result is engine-independent.
    Q("q_analytics_sessions",
      (s, d) => Analytics.sessionize(
        Tables.events(s, d).select(col("user_id"), col("ts"), col("value")), 30)
        .orderBy("user_id", "session_id"),
      Some("WITH o AS (SELECT user_id, ts, value, " +
        "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL " +
        "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) " +
        "> INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM events), " +
        "s AS (SELECT user_id, ts, value, " +
        "sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS session_id FROM o) " +
        "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, " +
        "min(ts) AS session_start, max(ts) AS session_end, " +
        s"count(*) AS n_events, ${dSum("value")} AS total_value " +
        "FROM s GROUP BY 1, 2 ORDER BY user_id, session_id")),

    // The skew-safe sessionize variant under the same oracle: pre-split by
    // (user, day), stitch boundary sessions — bit-identical to the unsplit
    // path by construction, so the SQL replay is shared verbatim.
    Q("q_analytics_sessions_presplit",
      (s, d) => Analytics.sessionizeSkewSafe(
        Tables.events(s, d).select(col("user_id"), col("ts"), col("value")), 30)
        .orderBy("user_id", "session_id"),
      Some("WITH o AS (SELECT user_id, ts, value, " +
        "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL " +
        "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) " +
        "> INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s FROM events), " +
        "s AS (SELECT user_id, ts, value, " +
        "sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS session_id FROM o) " +
        "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, " +
        "min(ts) AS session_start, max(ts) AS session_end, " +
        s"count(*) AS n_events, ${dSum("value")} AS total_value " +
        "FROM s GROUP BY 1, 2 ORDER BY user_id, session_id")))


  // -------------------------------------------------------------------------
  // Training-data pipeline operators (beyond-parity, SURVEY §7.2 step 10):
  // text analysis, dedup (exact/ngram/minhash/simhash/embedding),
  // similarity search, multimodal plumbing.
  // -------------------------------------------------------------------------

  // The training-data-pipeline registrations live in graft.queries
  // modules (round-14 decomposition); concatenation preserves the
  // registry contract.
  private val pipelineQueries: Seq[Q] =
    graft.queries.TextQueries.queries ++ graft.queries.SimQueries.queries ++
      graft.queries.DedupQueries.queries ++ graft.queries.MiscQueries.queries

  // -------------------------------------------------------------------------
  // General relational capability: aggregation, joins (broadcast), window
  // functions, batch time windows (SURVEY §2.3/§2.5/§2.9 extensions)
  // -------------------------------------------------------------------------

  private val relationalQueries: Seq[Q] = Seq(
    // TPC-H Q1-shaped scan+aggregate over the largest table: partial/final
    // hash agg, predicate pushed to the parquet scan.
    Q("q1_agg",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Tables.moneyOut(sum(col("l_quantity").cast(Tables.MoneyExact))).as("sum_qty"),
          Tables.moneyOut(sum(col("l_extendedprice").cast(Tables.MoneyExact))).as("sum_base_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT l_returnflag, l_linestatus, " +
        s"${dSum("l_quantity")} AS sum_qty, " +
        s"${dSum("l_extendedprice")} AS sum_base_price, " +
        "count(*) AS count_order FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    // Three-way join with an explicitly broadcast dimension (nation, 25
    // rows): orders shuffles once on custkey; nation never shuffles.
    Q("q_join_revenue_by_nation",
      (s, d) => Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          Tables.moneyOut(sum(col("o_totalprice").cast(Tables.MoneyExact))).as("revenue"))
        .orderBy("n_name"),
      Some("SELECT n_name, count(*) AS n_orders, " +
        s"${dSum("o_totalprice")} AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY 1 ORDER BY 1")),

    // Same join computed through the explicit salting path: orders scatters
    // each custkey group over 8 shuffle sub-keys, customer replicates ×8.
    // The oracle is the PLAIN join — equality proves salting changes the
    // schedule, never the result. (The skew win itself is measured by
    // `Stress skewjoin`, where AQE is off and one key owns 40% of the fact
    // side; here the gate is semantics.)
    Q("q_join_skew_salted",
      (s, d) => operators.Skew.saltedJoin(
          Tables.orders(s, d).select(
            col("o_custkey").as("custkey"), col("o_totalprice")),
          Tables.customer(s, d).select(
            col("c_custkey").as("custkey"), col("c_mktsegment")),
          "custkey", numSalts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_orders"),
          Tables.moneyOut(sum(col("o_totalprice").cast(Tables.MoneyExact))).as("revenue"))
        .orderBy("c_mktsegment"),
      Some("SELECT c_mktsegment, count(*) AS n_orders, " +
        s"${dSum("o_totalprice")} AS revenue " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY 1 ORDER BY 1")),

    // TPC-H Q3-shaped: two selective scans join into lineitem, aggregate
    // revenue per order, exact top-10. Catalyst pushes both date filters to
    // the scans and AQE picks broadcast for the filtered customer side.
    Q("q3_shipping_priority",
      (s, d) => Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        // price/discount are exact at 2dp, so casting the FACTORS to decimal
        // and multiplying in decimal is exact on both engines — casting the
        // double PRODUCT would round differently (the scaled ulp at 5e10 is
        // ~0.008, a per-row coin flip at the 6th decimal). The sum keeps
        // scale 4 — the product's exact scale, so no digit is ever dropped —
        // then surfaces as DOUBLE per the engine-wide output convention
        // (unscaled < 2^53 at any plausible sf, so the conversion is the
        // correctly-rounded nearest double on both engines).
        .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(java.math.BigDecimal.ONE) - col("l_discount").cast(DecimalType(18, 2))))
          .cast(Tables.MoneyExact)).cast(DecimalType(20, 4)).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10),
      Some("SELECT o_orderkey, o_orderdate, " +
        "CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,6))) " +
        "AS DECIMAL(20,4)) AS DOUBLE) AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON o_orderkey = l_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
        "AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00' " +
        "GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10")),

    // As-of join (events → latest order at event time per user) + rollup.
    // The oracle replays the same "greatest (o_orderdate, o_orderkey) with
    // o_orderdate <= ts" pick as a correlated argmax subquery.
    Q("q_asof_last_order",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("user_id"), col("ts"), col("value"))
        val ord = Tables.orders(s, d).select(col("o_custkey").as("user_id"),
          col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
        val m = AsOf.asofJoin(ev, ord, "user_id", "ts", "o_orderdate",
          pick = Seq("o_totalprice"), tieBreak = "o_orderkey")
        m.groupBy(col("user_id")).agg(
          count(lit(1)).as("n_events"),
          count(col("asof_o_totalprice")).as("matched_events"),
          Tables.moneyOut(sum(col("asof_o_totalprice").cast(Tables.MoneyExact)))
            .as("matched_total"))
          .orderBy("user_id")
      },
      Some("WITH m AS (SELECT e.user_id, " +
        "(SELECT o.o_totalprice FROM orders o WHERE o.o_custkey = e.user_id " +
        "AND o.o_orderdate <= e.ts ORDER BY o.o_orderdate DESC, o.o_orderkey DESC " +
        "LIMIT 1) AS last_price FROM events e) " +
        "SELECT user_id, count(*) AS n_events, count(last_price) AS matched_events, " +
        s"${dSum("last_price")} AS matched_total " +
        "FROM m GROUP BY user_id ORDER BY user_id")),

    // Range join (points → containing intervals, bucketized — no per-key
    // cartesian): overlapping 2-hour "busy windows" around high-traffic
    // hours, then pair counts per event type. Oracle replays the interval
    // containment as a plain inequality join (fine at sf0.01 in DuckDB;
    // the bucketized shape is the one that survives 100 TB).
    Q("q_range_busy_windows",
      (s, d) => {
        val ev = Tables.events(s, d)
        val busy = ev
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= 6)
        val intervals = busy.select(col("event_type"),
          (col("h") - expr("INTERVAL 30 MINUTES")).as("w_start"),
          (col("h") + expr("INTERVAL 90 MINUTES")).as("w_end"))
        RangeJoin.pointInInterval(
            ev.select(col("event_type"), col("ts")), intervals,
            keys = Seq("event_type"), pointTime = "ts",
            start = "w_start", end = "w_end", bucketWidthSec = 3600L)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("event_type")
      },
      Some("WITH hours AS (SELECT event_type, date_trunc('hour', ts) AS h " +
        "FROM events GROUP BY 1, 2 HAVING count(*) >= 6), " +
        "iv AS (SELECT event_type, h - INTERVAL 30 MINUTE AS w_start, " +
        "h + INTERVAL 90 MINUTE AS w_end FROM hours) " +
        "SELECT e.event_type, count(*) AS n_pairs FROM events e " +
        "JOIN iv ON e.event_type = iv.event_type " +
        "AND e.ts BETWEEN iv.w_start AND iv.w_end " +
        "GROUP BY 1 ORDER BY 1")),

    // Ranking window: top-3 orders per customer, deterministic tie-break.
    Q("q_window_top_orders",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          // row_number() is int32; DuckDB's is BIGINT — cast for type parity.
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .orderBy("o_custkey", "rank")
      },
      Some("SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, " +
        "row_number() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey) AS rank FROM orders) " +
        "WHERE rank <= 3 ORDER BY o_custkey, rank")),

    // Batch tumbling time-window aggregation over the event stream (same
    // logical op as the streaming hourlyTypeCounts, computed on the batch
    // frame via date_trunc).
    Q("q_events_hourly",
      (s, d) => Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          Tables.moneyOut(sum(col("value").cast(Tables.MoneyExact))).as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("hour_start", "event_type"),
      Some("SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type, " +
        s"count(*) AS n_events, ${dSum("value")} AS total_value, " +
        "count(DISTINCT user_id) AS n_users FROM events " +
        "GROUP BY 1, 2 ORDER BY 1, 2")),

    // Conversion-attribution interval join — the BATCH analog of the
    // stream-stream join (EventsStream.attributionJoin runs unchanged on
    // this frame; StreamingSpec pins stream≡batch): each purchase pairs
    // with the same user's clicks in the preceding hour, bounds inclusive.
    Q("q_events_attribution",
      (s, d) => graft.streaming.EventsStream.attributionJoin(
          Tables.events(s, d))
        .orderBy("conv_id", "cause_id"),
      Some("SELECT c.user_id, cv.event_id AS conv_id, " +
        "c.event_id AS cause_id, " +
        "CAST(c.ts AS TIMESTAMP) AS cause_ts, " +
        "CAST(cv.ts AS TIMESTAMP) AS conv_ts, cv.value " +
        "FROM events c JOIN events cv ON cv.user_id = c.user_id " +
        "AND c.event_type = 'click' AND cv.event_type = 'purchase' " +
        "AND c.ts <= cv.ts AND c.ts >= cv.ts - INTERVAL 1 HOUR " +
        "ORDER BY conv_id, cause_id")),

    // Z-ORDER curve values over (user_id, day) — the multi-dimensional
    // layout key (Layout.zorderWrite clusters files by it; BucketedSpec
    // measures the 2-D box pruning). Both engines render the interleave
    // from the SAME Scala loop (Layout.zValue / zValueSql), so this gate
    // certifies the curve arithmetic the layout relies on bit-for-bit.
    Q("q_zorder_curve",
      (s, d) => Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          // cast-through-timestamp keeps this NTZ-tolerant even if the
          // frame bypassed Tables.events normalization
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
        .select(col("event_id"), col("user_id"), col("day"),
          graft.sources.Layout.zValue(Seq(col("user_id"), col("day")), 20)
            .as("zvalue"))
        .orderBy("event_id"),
      Some("WITH e AS (SELECT event_id, user_id, " +
        "CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) " +
        "AS day FROM events) " +
        "SELECT event_id, user_id, day, " +
        graft.sources.Layout.zValueSql(Seq("user_id", "day"), 20) +
        " AS zvalue FROM e ORDER BY event_id")),

    // The time-series layout path end-to-end: ingest events into a
    // date-partitioned directory tree (one dir per day, dynamic overwrite),
    // then answer a single-day aggregate from it. The date predicate
    // resolves against directory names at planning time (PartitionFilters +
    // numFiles pinned in BucketedSpec) — at 100 TB the query opens one
    // day's files, not the history. The oracle computes the same day from
    // the RAW corpus, so equality also re-proves the ingest lost nothing.
    Q("q_events_partitioned",
      (s, d) => withScratchDir("graft_events_part") { dir =>
        ManagedTables.writePartitionedByDay(Tables.events(s, d), dir.toString,
          filesPerDay = 2)
        val part = ManagedTables.eventsPartitioned(s, dir.toString)
        // driver-side metadata probe (partition column min — resolved from
        // directory names, no data read), so the query is sf-independent
        val firstDay = part.agg(min(col("event_date"))).collect()(0).getDate(0)
        part.filter(col("event_date") === lit(firstDay))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n_events"),
            Tables.moneyOut(sum(col("value").cast(Tables.MoneyExact))).as("total_value"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("SELECT event_type, count(*) AS n_events, " +
        s"${dSum("value")} AS total_value, " +
        "count(DISTINCT user_id) AS n_users FROM events " +
        "WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events) " +
        "GROUP BY 1 ORDER BY 1")))

  // -------------------------------------------------------------------------
  // Registry
  // -------------------------------------------------------------------------

  private val all: Seq[Q] =
    graft.queries.SegmentQueries.queries ++ sourceQueries ++ analyticsQueries ++
      pipelineQueries ++ relationalQueries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * (SURVEY §7.5 minimum slice: value > 100 over events.)
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_seg_base_amount")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, QueryFn] =
    all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
