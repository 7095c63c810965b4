package graft

import graft.sources.{ManagedTables, Tables}
import org.apache.spark.sql.functions._

/** Bucketed (pre-shuffled) tables: the co-located-join path. Writing both
  * sides bucketed on the join key must let joins AND aggregates on that key
  * run with zero Exchange in the executed plan — the shuffle is paid once
  * at write time, which is the design that keeps repeated segment
  * aggregates and enrichment joins shuffle-free at 100 TB.
  */
class BucketedSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed tables join and aggregate without a shuffle") {
    val facts = (1L to 100L).map(u => (u, u * 2.0)).toDF("user_id", "amount")
    val dim = (1L to 100L).map(u => (u, s"name$u")).toDF("user_id", "name")
    ManagedTables.writeBucketed(facts, "bkt_facts", "user_id", 4)
    ManagedTables.writeBucketed(dim, "bkt_dim", "user_id", 4)
    try {
      // force the non-broadcast path: broadcast would trivially avoid the
      // exchange without proving bucket co-location
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = spark.table("bkt_facts").join(spark.table("bkt_dim"), "user_id")
        assert(joined.count() == 100L)
        val jplan = joined.queryExecution.executedPlan.toString
        assert(!jplan.contains("Exchange"), s"bucketed join must not shuffle:\n$jplan")

        val agged = spark.table("bkt_facts").groupBy($"user_id")
          .agg(sum($"amount").as("total"))
        assert(agged.count() == 100L)
        val aplan = agged.queryExecution.executedPlan.toString
        assert(!aplan.contains("Exchange"), s"bucketed aggregate must not shuffle:\n$aplan")
      }
      // and the data is actually right, not just the plan shape
      val r = spark.table("bkt_facts").join(spark.table("bkt_dim"), "user_id")
        .filter($"user_id" === 7L).collect().head
      assert(r.getAs[Double]("amount") == 14.0 && r.getAs[String]("name") == "name7")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_facts")
      spark.sql("DROP TABLE IF EXISTS bkt_dim")
    }
  }

  test("AQE splits a skewed shuffle join at runtime") {
    // one key holds ~all the left side — the shape that stalls a static
    // plan on one straggler task. With skew-join thresholds scaled to the
    // fixture, AQE must mark the sort-merge join skew=true and split the
    // hot partition, which is the engine's built-in answer to data skew
    // at 100 TB (salting is reserved for skewed AGGREGATES, which AQE
    // does not rewrite).
    val left = spark.range(200000).select(
      when($"id" % 2 === 0, 0L).otherwise($"id" % 100).as("k"),
      $"id".as("payload"))
    val right = spark.range(100).select($"id".as("k"), lit("dim").as("name"))
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val joined = left.join(right, "k")
      // execute THIS frame (count() would build a separate plan instance
      // and leave this one's adaptive plan unfinalized)
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE must split the skewed partition:\n${plan.take(2000)}")
    }
  }

  test("compaction rewrites a fragmented directory to the target file count") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    try {
      (1L to 1000L).map(i => (i, s"row$i")).toDF("id", "s")
        .repartition(10).write.parquet(dir)
      def files = new java.io.File(dir).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(files == 10)
      val n = ManagedTables.compact(spark, dir) // default target far above total size
      assert(n == 1 && files == 1)
      val back = spark.read.parquet(dir)
      assert(back.count() == 1000L)
      assert(back.filter($"id" === 7L).collect().head.getAs[String]("s") == "row7")
      // empty directory: no-op, not a schema-inference crash
      val empty = java.nio.file.Files.createTempDirectory("graft_compact_empty")
      assert(ManagedTables.compact(spark, empty.toString) == 0)
      java.nio.file.Files.delete(empty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir).getParentFile).deleteRecursively()
    }
  }

  test("date-partitioned ingest prunes directories for time-bounded queries") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      val ev = Seq(
        (1L, "2024-01-01 10:00:00", 1.0),
        (2L, "2024-01-02 11:00:00", 2.0),
        (3L, "2024-01-03 12:00:00", 3.0))
        .toDF("user_id", "ts_s", "value")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      ManagedTables.writePartitionedByDay(ev, dir)

      // layout: one directory per day
      val dirs = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("event_date=")).sorted
      assert(dirs.toSeq == Seq("event_date=2024-01-01", "event_date=2024-01-02",
        "event_date=2024-01-03"))

      val q = ManagedTables.eventsPartitioned(spark, dir)
        .filter($"event_date" === java.sql.Date.valueOf("2024-01-02"))
      assert(q.collect().map(_.getAs[Long]("user_id")).toSeq == Seq(2L))
      // the date predicate must resolve at planning time against directory
      // names (PartitionFilters), never as a per-row data filter
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(event_date"),
        s"expected partition pruning in:\n$plan")
      val scanned = q.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numFiles")).map(_.value).sum
      assert(scanned == 1L, s"one day must read one file, read $scanned")

      // repeat ingest with a NEW day must not truncate earlier days
      // (dynamic partition overwrite, not the default static wipe)
      val batch2 = Seq((4L, "2024-01-04 09:00:00", 4.0))
        .toDF("user_id", "ts_s", "value")
        .withColumn("ts", to_timestamp($"ts_s")).drop("ts_s")
      ManagedTables.writePartitionedByDay(batch2, dir)
      val after = new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("event_date=")).sorted
      assert(after.toSeq == Seq("event_date=2024-01-01", "event_date=2024-01-02",
        "event_date=2024-01-03", "event_date=2024-01-04"),
        s"repeat ingest must only touch its own days, saw ${after.toSeq}")
      assert(ManagedTables.eventsPartitioned(spark, dir).count() == 4L)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("bm25 index: bucket-pruned read, results identical to the full scan") {
    import graft.functions.TextAnalysis
    val corpus = Seq(
      (1L, "apple banana apple kiwi"),
      (2L, "apple cherry plum plum"),
      (3L, "banana banana banana mango"),
      (4L, "cherry cherry cherry cherry grape"),
      (5L, "kiwi mango grape plum fig"))
      .toDF("doc_id", "text")
    TextAnalysis.writeSearchIndex(corpus, "bm25_test_idx", buckets = 8)
    try {
      val terms = Seq("apple", "banana")
      val indexed = TextAnalysis.bm25SearchIndexed(spark, "bm25_test_idx", terms, 5)
      val scanned = TextAnalysis.bm25Search(corpus, terms, 5)
      val a = indexed.collect().map(_.toSeq).toSeq
      val b = scanned.collect().map(_.toSeq).toSeq
      assert(a == b, s"indexed $a != scanned $b")

      // the access-path point: the postings read prunes to the query terms'
      // buckets instead of scanning the whole index
      val plan = indexed.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(plan)
      assert(m.nonEmpty, s"postings scan must be bucket-pruned:\n$plan")
      assert(m.get.group(1).toInt < m.get.group(2).toInt,
        s"pruning must select a strict subset of buckets: ${m.get.matched}")
    } finally TextAnalysis.dropSearchIndex(spark, "bm25_test_idx")
  }

  test("ann index: bucket-pruned probed-cell read, results identical to the retrain path") {
    import graft.functions.Similarity
    // 40 deterministic 8-dim vectors in 4 well-separated direction groups,
    // plus a zero vector (must be dropped by normalization, not crash)
    val rnd = new scala.util.Random(7)
    val corpus = ((0 until 40).map { i =>
      val base = Array.fill(8)(0.05 + rnd.nextDouble() * 0.1)
      base(i % 4) = 1.0 + rnd.nextDouble()
      (i.toLong, base.map(_.toFloat).toSeq)
    } :+ (40L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 10 === 0)
    Similarity.writeAnnIndex(corpus, "ann_test_idx",
      centroids = 4, sampleSize = 32, iters = 2, buckets = 8)
    try {
      val indexed = Similarity.annSearchIndexed(spark, "ann_test_idx",
        queries, k = 5, nprobe = 2).orderBy("query_id", "rank")
      val retrained = Similarity.ivfTrainedTopK(corpus, queries, k = 5,
        centroids = 4, nprobe = 2, sampleSize = 32, iters = 2)
        .orderBy("query_id", "rank")
      val a = indexed.collect().map(_.toSeq).toSeq
      val b = retrained.collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"indexed $a != retrained $b")

      // the access-path point: the assignments read prunes to the probed
      // cells' buckets instead of scanning the whole index
      val plan = indexed.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(plan)
      assert(m.nonEmpty, s"assignments scan must be bucket-pruned:\n$plan")
      assert(m.get.group(1).toInt < m.get.group(2).toInt,
        s"pruning must select a strict subset of buckets: ${m.get.matched}")
    } finally Similarity.dropAnnIndex(spark, "ann_test_idx")
  }

  test("ann index: distributed probe arm (queries above maxQueries) ≡ driver arm, pruning retained") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(13)
    val corpus = ((0 until 40).map { i =>
      val base = Array.fill(8)(0.05 + rnd.nextDouble() * 0.1)
      base(i % 4) = 1.0 + rnd.nextDouble()
      (i.toLong, base.map(_.toFloat).toSeq)
    } :+ (40L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")
    // zero-norm query included: both arms must DROP it, not crash
    val queries = corpus.filter($"vec_id" % 10 === 0)
    Similarity.writeAnnIndex(corpus, "ann_dist_idx",
      centroids = 4, sampleSize = 32, iters = 2, buckets = 8)
    try {
      val driver = Similarity.annSearchIndexed(spark, "ann_dist_idx",
        queries, k = 5, nprobe = 2).orderBy("query_id", "rank")
      // maxQueries = 0 forces EVERY query set onto the distributed arm:
      // scan-side probe selection + salted candidate join must reproduce
      // the driver arm's results row for row (same score fold, same
      // (score desc, cid asc) probe ties)
      val dist = Similarity.annSearchIndexed(spark, "ann_dist_idx",
        queries, k = 5, nprobe = 2, maxQueries = 0)
        .orderBy("query_id", "rank")
      val a = driver.collect().map(_.toSeq).toSeq
      val b = dist.collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"distributed arm $b != driver arm $a")
      // the probed-cell set is still a literal bucket-IN: pruning survives
      val plan = dist.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(plan)
      assert(m.nonEmpty, s"distributed-arm scan must be bucket-pruned:\n$plan")
      assert(m.get.group(1).toInt < m.get.group(2).toInt,
        s"pruning must select a strict subset of buckets: ${m.get.matched}")
    } finally Similarity.dropAnnIndex(spark, "ann_dist_idx")
  }

  test("ann index via ORC: search ≡ the parquet index, pruning retained, maintenance keeps the format") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(31)
    val corpus = (0 until 48).map { i =>
      val base = Array.fill(8)(0.05 + rnd.nextDouble() * 0.1)
      base(i % 4) = 1.0 + rnd.nextDouble()
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 12 === 0)
    Similarity.writeAnnIndex(corpus, "ann_pq_fmt_idx",
      centroids = 4, sampleSize = 32, iters = 2, buckets = 4)
    Similarity.writeAnnIndex(corpus, "ann_orc_fmt_idx",
      centroids = 4, sampleSize = 32, iters = 2, buckets = 4,
      format = "orc")
    try {
      def rows(name: String) = Similarity.annSearchIndexed(spark, name,
        queries, k = 5, nprobe = 2).orderBy("query_id", "rank")
      val viaOrc = rows("ann_orc_fmt_idx")
      val a = rows("ann_pq_fmt_idx").collect().map(_.toSeq).toSeq
      val b = viaOrc.collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, "ORC index must answer like parquet")
      // bucket pruning is format-agnostic
      val plan = viaOrc.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(plan)
      assert(m.nonEmpty && m.get.group(1).toInt < m.get.group(2).toInt,
        s"ORC assignments scan must be bucket-pruned: $plan")
      // delete + compact (the rewriteTable stage-swap) must keep the
      // catalog provider — an ORC-built index stays ORC for life
      Similarity.deleteFromAnnIndex(spark, "ann_orc_fmt_idx", Seq(0L))
      Similarity.compactAnnIndex(spark, "ann_orc_fmt_idx")
      val provider = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          "ann_orc_fmt_idx_assignments")).provider
      assert(provider.contains("orc"),
        s"compaction must preserve the ORC provider, got $provider")
      Similarity.deleteFromAnnIndex(spark, "ann_pq_fmt_idx", Seq(0L))
      Similarity.compactAnnIndex(spark, "ann_pq_fmt_idx")
      val a2 = rows("ann_pq_fmt_idx").collect().map(_.toSeq).toSeq
      val b2 = rows("ann_orc_fmt_idx").collect().map(_.toSeq).toSeq
      assert(a2.nonEmpty && a2 == b2,
        "post-compaction ORC search must still answer like parquet")
    } finally {
      Similarity.dropAnnIndex(spark, "ann_pq_fmt_idx")
      Similarity.dropAnnIndex(spark, "ann_orc_fmt_idx")
    }
  }

  test("pq native kernels: codegen'd encode + ADC fold ≡ the HOF forms, incl. NULL contracts") {
    import graft.functions.{Similarity, VectorOps}
    // deterministic m=4/ksub=3/subDim=2 codebooks
    val books = Array.tabulate(4, 3) { (mm, kk) =>
      Array(0.1 * mm + 0.01 * kk, 0.2 * kk - 0.05 * mm)
    }
    val bc = spark.sparkContext.broadcast(VectorOps.BroadcastBooks(books))
    // full vectors, a 5-dim short vector (subspace 2 partially covered,
    // subspace 3 absent → both NULL codes), and an exactly-6-dim one
    val vecs = Seq(
      (1L, Seq(0.11, 0.39, -0.02, 0.18, 0.22, 0.05, -0.3, 0.4)),
      (2L, Seq(0.0, 0.0, 0.1, 0.1, 0.2, 0.2, 0.3, 0.3)),
      (3L, Seq(0.5, -0.5, 0.25, 0.0, 1.0)),
      (4L, Seq(0.05, 0.15, 0.06, 0.16, 0.07, 0.17)))
      .toDF("vec_id", "v")
    val nat = vecs.select($"vec_id", VectorOps.pqCodesCol($"v", bc).as("c"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val hof = vecs.select($"vec_id", Similarity.pqCodesHof(books, $"v").as("c"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(nat == hof, s"native encode $nat != HOF encode $hof")
    assert(nat(2)(1).asInstanceOf[scala.collection.Seq[Any]]
      .drop(2).forall(_ == null), s"short vector must NULL-encode: ${nat(2)}")

    // the fold: normal row, short codes, null code
    val lut8 = Seq.tabulate(12)(i => 0.5 + 0.25 * i)
    val folds = Seq(
      (1L, Seq[Integer](2, 0, 1, 2), lut8),
      (2L, Seq[Integer](1, 2), lut8),             // codes.length != m
      (3L, Seq[Integer](0, null, 1, 0), lut8))    // null code
      .toDF("vec_id", "codes", "lut")
    def run(df: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.Column) = df
      .select($"vec_id", c.as("s")).orderBy("vec_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getDouble(1))).toSeq
    val natF = run(folds, VectorOps.adcFold($"codes", $"lut", 4, 3))
    val hofF = run(folds, Similarity.adcFoldHof(4, 3))
    assert(natF == hofF, s"native fold $natF != HOF fold $hofF")
    assert(natF(0)._2 != null && natF(1)._2 == null && natF(2)._2 == null,
      s"NULL contract: $natF")
    // a code past the LUT (impossible from a consistent encode): Spark 4's
    // ANSI element_at THROWS in the HOF form; the native kernel returns
    // NULL instead — a scan kernel must not abort a 100 TB job on one
    // corrupt row (the documented divergence, unreachable by construction)
    val oob = Seq((4L, Seq[Integer](0, 1, 2, 9), lut8))
      .toDF("vec_id", "codes", "lut")
    assert(run(oob, VectorOps.adcFold($"codes", $"lut", 4, 3)) ==
      Seq((4L, null)), "native fold must NULL an out-of-range code")
    intercept[Exception] { run(oob, Similarity.adcFoldHof(4, 3)) }
  }

  test("pq family: distributed arms (queries above maxQueries) ≡ driver arms; ivfadc pruning retained") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 48).map { i =>
      val base = Array.fill(8)(0.05 + rnd.nextDouble() * 0.1)
      base(i % 4) = 1.0 + rnd.nextDouble()
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // zero-norm query included: both arms must DROP it, not crash
    val queries = corpus.filter($"vec_id" % 12 === 0)
      .union(Seq((99L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding"))
    def eq(name: String, driver: org.apache.spark.sql.DataFrame,
        dist: org.apache.spark.sql.DataFrame): Unit = {
      val a = driver.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      val b = dist.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"$name: distributed arm $b != driver arm $a")
    }
    // one-shot paths: maxQueries = 0 forces EVERY query set onto the
    // distributed arm — scan-side LUTs from broadcast codebooks must
    // reproduce the driver-built LUTs row for row (same fold, same probe
    // ties, same residual base terms)
    eq("pqTopK",
      Similarity.pqTopK(corpus, queries, k = 5,
        m = 4, ksub = 8, sampleSize = 32, iters = 2),
      Similarity.pqTopK(corpus, queries, k = 5,
        m = 4, ksub = 8, sampleSize = 32, iters = 2, maxQueries = 0))
    eq("ivfPqTopK",
      Similarity.ivfPqTopK(corpus, queries, k = 5, centroids = 4,
        nprobe = 2, m = 4, ksub = 8, sampleSize = 32, iters = 2),
      Similarity.ivfPqTopK(corpus, queries, k = 5, centroids = 4,
        nprobe = 2, m = 4, ksub = 8, sampleSize = 32, iters = 2,
        maxQueries = 0))
    eq("ivfPqResidualTopK",
      Similarity.ivfPqResidualTopK(corpus, queries, k = 5, centroids = 4,
        nprobe = 2, m = 4, ksub = 8, sampleSize = 32, iters = 2),
      Similarity.ivfPqResidualTopK(corpus, queries, k = 5, centroids = 4,
        nprobe = 2, m = 4, ksub = 8, sampleSize = 32, iters = 2,
        maxQueries = 0))
    // indexed paths
    Similarity.writePqIndex(corpus, "pq_dist_idx",
      m = 4, ksub = 8, sampleSize = 32, iters = 2)
    try eq("pqSearchIndexed",
      Similarity.pqSearchIndexed(spark, "pq_dist_idx", queries, k = 5),
      Similarity.pqSearchIndexed(spark, "pq_dist_idx", queries, k = 5,
        maxQueries = 0))
    finally Similarity.dropPqIndex(spark, "pq_dist_idx")
    Similarity.writeIvfPqResIndex(corpus, "ivfadc_dist_idx",
      centroids = 4, m = 4, ksub = 8, sampleSize = 32, iters = 2, buckets = 4)
    try {
      val dist = Similarity.ivfPqResSearchIndexed(spark, "ivfadc_dist_idx",
        queries, k = 5, nprobe = 2, maxQueries = 0)
      eq("ivfPqResSearchIndexed",
        Similarity.ivfPqResSearchIndexed(spark, "ivfadc_dist_idx",
          queries, k = 5, nprobe = 2),
        dist)
      // the probed-cell set is still a literal bucket-IN: pruning survives
      // the distributed arm (the control read is centroid-bounded)
      val plan = dist.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(plan)
      assert(m.nonEmpty, s"distributed-arm codes scan must be bucket-pruned:\n$plan")
      assert(m.get.group(1).toInt < m.get.group(2).toInt,
        s"pruning must select a strict subset of buckets: ${m.get.matched}")
    } finally Similarity.dropIvfPqResIndex(spark, "ivfadc_dist_idx")
  }

  test("ann index upsert: grown index ≡ one full build; pruning retained") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 60).map { i =>
      val base = Array.fill(8)(0.05 + rnd.nextDouble() * 0.1)
      base(i % 4) = 1.0 + rnd.nextDouble()
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // construct the initial corpus to CONTAIN the union's 32-vector
    // training sample (the 32 smallest id-mix values — the de-biased
    // sampling permutation), so the frozen quantizer equals the
    // full-corpus fit: the containment precondition under which
    // upsert ≡ rebuild exactly
    def mix(i: Long): Long = ((i % 2147483647L) * 1103515245L + 12345L) % 2147483647L
    val initialIds = (0L until 60L).sortBy(i => (mix(i), i)).take(40).toSet
    val initial = corpus.filter($"vec_id".isin(initialIds.toSeq: _*))
    val batch = corpus.filter(!$"vec_id".isin(initialIds.toSeq: _*))
    val queries = corpus.filter($"vec_id" % 10 === 0)
    Similarity.writeAnnIndex(initial, "ann_ups_idx",
      centroids = 4, sampleSize = 32, iters = 2, buckets = 8)
    Similarity.writeAnnIndex(corpus, "ann_full_idx",
      centroids = 4, sampleSize = 32, iters = 2, buckets = 8)
    try {
      Similarity.upsertAnnIndex(spark, "ann_ups_idx", batch)
      assert(spark.table("ann_ups_idx_assignments").count() === 60L,
        "append must grow the assignments table by the batch")
      val grown = Similarity.annSearchIndexed(spark, "ann_ups_idx",
        queries, k = 5, nprobe = 2).orderBy("query_id", "rank")
      val full = Similarity.annSearchIndexed(spark, "ann_full_idx",
        queries, k = 5, nprobe = 2).orderBy("query_id", "rank")
      val a = grown.collect().map(_.toSeq).toSeq
      val b = full.collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"grown $a != full rebuild $b")

      // appended files must still carry the bucket spec: the probed-cell
      // read stays pruned on the grown index
      val plan = grown.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(plan)
      assert(m.nonEmpty, s"grown-index scan must be bucket-pruned:\n$plan")
      assert(m.get.group(1).toInt < m.get.group(2).toInt,
        s"pruning must select a strict subset of buckets: ${m.get.matched}")
    } finally {
      Similarity.dropAnnIndex(spark, "ann_ups_idx")
      Similarity.dropAnnIndex(spark, "ann_full_idx")
    }
  }

  test("trained-IVF recall survives a corpus whose low ids are one biased region") {
    import graft.functions.Similarity
    // adversarial id layout for naive ORDER BY vec_id LIMIT n sampling:
    // ALL low ids (0..59) sit in one tight region, the other three regions
    // appear only at high ids — the crawl-order/domain correlation that a
    // lowest-id training sample would mistake for the whole distribution
    // (every centroid lands in region 0 and cross-region recall collapses).
    // The id-mix sample must instead cover all four regions and keep
    // recall@5 high.
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 240).map { i =>
      val region = if (i < 60) 0 else i % 3 + 1
      val base = Array.fill(8)(0.02 + rnd.nextDouble() * 0.05)
      base(2 * region) = 1.0 + rnd.nextDouble() * 0.2
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 40 === 0) // ids 0,40,..,200: all regions
    val approx = Similarity.ivfTrainedTopK(corpus, queries, k = 5,
      centroids = 4, nprobe = 1, sampleSize = 48, iters = 4)
    val exact = Similarity.bruteForceTopK(corpus, queries, k = 5)
    val rec = Similarity.recallAtK(approx, exact, k = 5)
      .agg(avg($"recall")).collect()(0).getDouble(0)
    assert(rec >= 0.9, s"mean recall@5 on the biased-id fixture = $rec < 0.9")
  }

  test("recall floors on the real corpus: trained IVF, PQ, and IVF+PQ") {
    import graft.functions.Similarity
    // every ANN stack gated on a measured recall@10 floor against brute
    // force, on the REAL embeddings at the registered queries' parameters —
    // an accuracy regression in any quantizer (fit, encode, probe, ADC)
    // fails a named test instead of silently degrading search quality
    val emb = Tables.embeddings(spark, sf)
    val qs = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(emb, qs, k = 10).localCheckpoint(true)
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(approx, exact, k = 10)
        .agg(avg($"recall")).head().getDouble(0)

    // the default nprobe (4) and PQ config (m=16/ksub=32) were TUNED
    // against these floors — measured at nprobe=3 the same corpus gives
    // 0.72, and at m=8/ksub=16 PQ gives 0.24: these gates are what turned
    // those parameter choices from folklore into measurements
    val ivf = meanRecall(Similarity.ivfTrainedTopK(emb, qs, k = 10))
    assert(ivf >= 0.8, s"trained-IVF recall@10 at default nprobe = $ivf < 0.8")

    val pq = meanRecall(Similarity.pqTopK(emb, qs, k = 10))
    assert(pq >= 0.5, s"PQ recall@10 at default m/ksub = $pq < 0.5")

    val ivfpq = meanRecall(Similarity.ivfPqTopK(emb, qs, k = 10))
    assert(ivfpq >= 0.5, s"IVF+PQ recall@10 at defaults = $ivfpq < 0.5")

    // residual IVFADC on this NEAR-UNIFORM corpus measures 0.44 — below
    // raw (0.56), as theory predicts without cluster structure (see the
    // clustered-fixture test for the regime where residual wins); the
    // floor still gates against accuracy regressions in the residual path
    val res = meanRecall(Similarity.ivfPqResidualTopK(emb, qs, k = 10))
    assert(res >= 0.4, s"residual IVFADC recall@10 at defaults = $res < 0.4")
  }

  test("refine: exact rescoring lifts SQ8/MRL shortlists; full shortlist ≡ brute force") {
    import graft.functions.Similarity
    val emb = Tables.embeddings(spark, sf)
    val qs = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(emb, qs, k = 10).localCheckpoint(true)
    def meanRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(approx, exact, k = 10)
        .agg(avg($"recall")).head().getDouble(0)

    // refined recall is bounded below by coarse recall@shortlist — the
    // whole point of the refine stage: at shortlist=4k the SQ8 stack's
    // residual quantization error can only cost candidates that fell out
    // of the top-40, so refined recall must be >= the unrefined stack's
    val sqPlain = meanRecall(Similarity.sqTopK(emb, qs, k = 10))
    val sqRef = meanRecall(Similarity.sqRefinedTopK(emb, qs, k = 10))
    assert(sqRef >= sqPlain,
      s"refined SQ8 recall $sqRef fell below unrefined $sqPlain")
    assert(sqRef >= 0.9, s"refined-SQ8 recall@10 = $sqRef < 0.9")

    // IVFADC + refine at max compression (m=8/ksub=16): refine recovers
    // the final-order placement ADC distortion loses — measured here
    // against the same-config unrefined stack (both probe the same cells,
    // so recall differences are pure rescoring gains)
    val adcPlain = meanRecall(Similarity.ivfPqResidualTopK(emb, qs, k = 10,
      m = 8, ksub = 16))
    val adcRef = meanRecall(Similarity.ivfAdcRefinedTopK(emb, qs, k = 10,
      m = 8, ksub = 16))
    assert(adcRef >= adcPlain,
      s"refined IVFADC recall $adcRef fell below unrefined $adcPlain")

    // on this NEAR-UNIFORM corpus the 16-dim prefix is just an unbiased
    // 1/4-rank projection, so recall is shortlist-bounded (measured 0.38) —
    // the front-loaded-fixture test below shows the regime MRL is FOR;
    // this floor gates against arithmetic regressions only
    val mrl = meanRecall(Similarity.mrlRefinedTopK(emb, qs, k = 10))
    assert(mrl >= 0.3, s"MRL(16/64) refined recall@10 = $mrl < 0.3")

    // degenerate shortlist = whole corpus: the refine stage IS brute force
    // (same rows, same exact scores) — pins the rescoring arithmetic
    val n = emb.count().toInt
    val full = Similarity.sqRefinedTopK(emb, qs, k = 10, shortlist = n)
      .select("query_id", "neighbor_id", "rank", "score")
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val brute = exact.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(full == brute, "full-shortlist refine must equal brute force")
  }

  test("refined index: persisted codes+vectors search ≡ one-shot; raw read bucket-pruned") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(47)
    val corpus = (0 until 60).map { i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() - 0.5).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 15 === 0)
    Similarity.writeSqIndex(corpus, "graft_sqr_spec")
    Similarity.writeVecTable(corpus, "graft_vecr_spec", buckets = 8)
    try {
      val oneShot = Similarity.sqRefinedTopK(corpus, queries, k = 5,
          shortlist = 20)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      val indexed = Similarity.sqRefinedSearchIndexed(spark,
          "graft_sqr_spec", "graft_vecr_spec", queries, k = 5,
          shortlist = 20)
        .orderBy("query_id", "rank")
      assert(indexed.collect().map(_.toSeq).toSeq == oneShot,
        "persisted two-stage search must equal the from-scratch path")
      // the access-path point: the raw-vector rescore prunes to the
      // shortlist ids' buckets instead of scanning the whole table
      val plan = indexed.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(plan)
      assert(m.nonEmpty, s"raw-vector scan must be bucket-pruned:\n$plan")
    } finally {
      Similarity.dropSqIndex(spark, "graft_sqr_spec")
      Similarity.dropVecTable(spark, "graft_vecr_spec")
    }
  }

  test("mrl: prefix shortlist is near-exact when embeddings front-load information") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(41)
    // the regime Matryoshka training produces: ~95% of each vector's energy
    // in the leading 16 of 64 dims, tail dims are low-amplitude noise. The
    // 16-dim coarse ordering then nearly matches the full-dim one and the
    // refined stack is near-exact.
    val corpus = (0 until 120).map { i =>
      val head = Array.fill(16)((rnd.nextDouble() - 0.5) * 2.0)
      val tail = Array.fill(48)((rnd.nextDouble() - 0.5) * 0.1)
      (i.toLong, (head ++ tail).map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter($"vec_id" % 20 === 0)
    val exact = Similarity.bruteForceTopK(corpus, qs, k = 10)
    val mrl = Similarity.mrlRefinedTopK(corpus, qs, k = 10)
    val rec = Similarity.recallAtK(mrl, exact, k = 10)
      .agg(avg($"recall")).head().getDouble(0)
    assert(rec >= 0.9, s"front-loaded MRL recall@10 = $rec < 0.9")
  }

  test("hard negatives: different-label-only, exact, and self-excluded by construction") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(31)
    // two interleaved label groups; anchors must mine only cross-label rows
    val corpus = (0 until 40).map { i =>
      val v = Array.fill(6)((rnd.nextDouble() - 0.5).toFloat)
      (i.toLong, v.toSeq, i % 3)
    }.toDF("vec_id", "embedding", "label")
    val anchors = corpus.filter($"vec_id" % 10 === 0)
    val out = Similarity.hardNegatives(corpus, anchors, k = 5)
    val labels = corpus.select($"vec_id", $"label".as("nl"))
    val joined = out.join(labels, out("neighbor_id") === labels("vec_id"))
      .join(anchors.select($"vec_id".as("aid"), $"label".as("al")),
        out("query_id") === $"aid")
    assert(joined.filter($"nl" === $"al").count() == 0,
      "a mined hard negative shares its anchor's label")
    // equals brute force restricted to the cross-label corpus, per anchor
    val a0 = anchors.orderBy("vec_id").collect()(0)
    val a0id = a0.getLong(0)
    val a0label = a0.getInt(2)
    val restricted = Similarity.bruteForceTopK(
        corpus.filter($"label" =!= a0label),
        corpus.filter($"vec_id" === a0id), k = 5)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    val mined = out.filter($"query_id" === a0id)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(mined == restricted,
      "hard negatives must equal brute force over the cross-label slice")
    // NULL-label rows are neither anchors nor negatives
    val withNull = corpus.withColumn("label",
      when($"vec_id" === 1L, lit(null)).otherwise($"label"))
    val outN = Similarity.hardNegatives(withNull, withNull, k = 3)
    assert(outN.filter($"query_id" === 1L).count() == 0, "NULL-label anchor")
    assert(outN.filter($"neighbor_id" === 1L).count() == 0, "NULL-label negative")
    // re-labeled query frame: the same vec_id carries a DIFFERENT label
    // on the query side, so the label test alone would let a vector be
    // its own hard negative — the id guard must exclude it
    val relabeled = anchors.withColumn("label", ($"label" + 1) % 3)
    val outR = Similarity.hardNegatives(corpus, relabeled, k = 40)
    assert(outR.filter($"query_id" === $"neighbor_id").count() == 0,
      "a vector surfaced as its own hard negative under re-labeling")
  }

  test("contrastive triplets: positive arm ≡ same-label brute force, negative arm ≡ hardNegatives, margin exact") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(31)
    val corpus = (0 until 40).map { i =>
      val v = Array.fill(6)((rnd.nextDouble() - 0.5).toFloat)
      (i.toLong, v.toSeq, i % 3)
    }.toDF("vec_id", "embedding", "label")
    val anchors = corpus.filter($"vec_id" % 10 === 0)
    val out = Similarity.contrastiveTriplets(corpus, anchors,
      positives = 1, negatives = 4)
    // shape: per anchor, exactly 1×4 rows
    assert(out.count() == anchors.count() * 4)
    val a0 = anchors.orderBy("vec_id").collect()(0)
    val (a0id, a0label) = (a0.getLong(0), a0.getInt(2))
    // the positive is the nearest same-label non-self vector
    val bestPos = Similarity.bruteForceTopK(
        corpus.filter($"label" === a0label && $"vec_id" =!= a0id),
        corpus.filter($"vec_id" === a0id), k = 1)
      .collect()(0)
    val rows = out.filter($"query_id" === a0id).orderBy("neg_rank").collect()
    assert(rows.forall(_.getAs[Long]("positive_id") == bestPos.getAs[Long]("neighbor_id")))
    assert(rows.forall(_.getAs[Double]("pos_score") == bestPos.getAs[Double]("score")))
    // the negative arm is exactly hardNegatives at the same k
    val hn = Similarity.hardNegatives(corpus,
        corpus.filter($"vec_id" === a0id), k = 4)
      .orderBy("rank").collect()
    assert(rows.map(r => (r.getAs[Long]("negative_id"), r.getAs[Int]("neg_rank"),
        r.getAs[Double]("neg_score"))).toSeq ==
      hn.map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"),
        r.getAs[Double]("score"))).toSeq)
    // margin is the exact difference of the two scores on every row
    assert(out.filter($"margin" =!= $"pos_score" - $"neg_score").isEmpty)
    // NULL-label rows appear in neither arm
    val withNull = corpus.withColumn("label",
      when($"vec_id" === 1L, lit(null)).otherwise($"label"))
    val outN = Similarity.contrastiveTriplets(withNull, withNull)
    assert(outN.filter($"query_id" === 1L).count() == 0)
    assert(outN.filter($"positive_id" === 1L || $"negative_id" === 1L)
      .count() == 0)
  }

  test("knn graph: full-probe graph ≡ brute force; pruned graph keeps recall; no self-edges") {
    import graft.functions.Similarity
    // the biased-region fixture of the trained-IVF recall test: 4 tight
    // regions, all low ids in region 0
    val rnd = new scala.util.Random(29)
    val corpus = (0 until 240).map { i =>
      val region = if (i < 60) 0 else i % 3 + 1
      val base = Array.fill(8)(0.02 + rnd.nextDouble() * 0.05)
      base(2 * region) = 1.0 + rnd.nextDouble() * 0.2
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // probing EVERY cell makes the graph exact — row-identical (scores
    // included: same normalize + fold arithmetic) to brute force with the
    // corpus as its own query set
    val full = Similarity.knnGraph(corpus, k = 5, centroids = 4, nprobe = 4,
      sampleSize = 48, iters = 4)
    val exact = Similarity.bruteForceTopK(corpus, corpus, k = 5)
    assert(full.orderBy("query_id", "rank").collect().toSeq ==
      exact.orderBy("query_id", "rank").collect().toSeq,
      "full-probe knn graph must equal brute force exactly")
    // pruned to each vector's own best cell, the regional structure keeps
    // recall high (neighbors live in the same region/cell)
    val pruned = Similarity.knnGraph(corpus, k = 5, centroids = 4,
      nprobe = 1, sampleSize = 48, iters = 4)
    val rec = Similarity.recallAtK(pruned, exact, k = 5)
      .agg(avg($"recall")).head().getDouble(0)
    assert(rec >= 0.9, s"knn-graph recall@5 at nprobe=1 = $rec < 0.9")
    // graph hygiene: no self-edges, every vector present
    assert(pruned.filter($"query_id" === $"neighbor_id").isEmpty)
    assert(pruned.select("query_id").distinct().count() == 240)
  }

  test("knn graph index: persisted build ≡ one-shot at the same fit") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(29)
    val corpus = (0 until 240).map { i =>
      val region = if (i < 60) 0 else i % 3 + 1
      val base = Array.fill(8)(0.02 + rnd.nextDouble() * 0.05)
      base(2 * region) = 1.0 + rnd.nextDouble() * 0.2
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val name = "knn_idx_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    Similarity.writeAnnIndex(corpus, name, centroids = 4, sampleSize = 48,
      iters = 4)
    try {
      val idx = Similarity.knnGraphIndexed(spark, name, k = 5, nprobe = 1)
        .orderBy("query_id", "rank").collect().toSeq
      val one = Similarity.knnGraph(corpus, k = 5, centroids = 4,
          nprobe = 1, sampleSize = 48, iters = 4)
        .orderBy("query_id", "rank").collect().toSeq
      assert(idx == one,
        "indexed graph build must be row-identical to the one-shot build")
    } finally Similarity.dropAnnIndex(spark, name)
  }

  test("knn graph: N^(2/3) cell policy holds the 0.9 recall floor at bumped nprobe") {
    import graft.functions.Similarity
    // cellsFor math: floor, growth law, and the documented anchors
    assert(Similarity.cellsFor(100) == 8, "small corpora floor at 8 cells")
    assert(Similarity.cellsFor(500) == 16)
    assert(Similarity.cellsFor(15000) == 152)
    assert(Similarity.cellsFor(15000) > Similarity.cellsFor(5000),
      "cell count must be monotone in corpus size")
    // per-cell membership N/cells must SHRINK relative to sqrt growth:
    // at 30x the corpus, sqrt(N/8) membership grows ~5.5x while the
    // policy's grows ~3.1x (∝ N^(1/3))
    val memb = (n: Long) => n.toDouble / Similarity.cellsFor(n)
    assert(memb(15000) / memb(500) < 3.5,
      "policy per-cell membership must grow ~N^(1/3), not ~sqrt(N)")

    // recall floor at policy scale on a clustered corpus — the regime
    // where IVF pruning works at all (the near-uniform real corpus needs
    // nprobe ≈ cells/2 regardless of the cell rule; see the trained-IVF
    // floor above). 32 generator clusters x 100 jittered members, the
    // semdedup/annscale generator: deterministic, no RNG, cross-cluster
    // cosines far below within-cluster ones.
    val nClusters = 32; val per = 100; val dim = 16
    val corpus = spark.range(nClusters.toLong * per).select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), " +
        s"j -> sin((id div $per) * 131.7D + j * 17.3D) " +
        s"+ 0.1D * sin(id * 37.9D + j * 5.1D))")
        .cast("array<float>").as("embedding"))
    val n = nClusters.toLong * per
    val exact = Similarity.bruteForceTopK(corpus, corpus, k = 5)
      .localCheckpoint(true)
    def meanRecall(cells: Int, nprobe: Int): Double = {
      val g = Similarity.knnGraph(corpus, k = 5, centroids = cells,
        nprobe = nprobe, sampleSize = math.max(256, cells * 4), iters = 2)
      Similarity.recallAtK(g, exact, k = 5)
        .agg(avg($"recall")).head().getDouble(0)
    }
    // the policy probes a SMALLER corpus fraction (3/55 vs the sqrt
    // rule's 2/20), so nprobe=3 is the measured bump that keeps the
    // same 0.9 floor the sqrt-rule graph holds
    val policy = meanRecall(Similarity.cellsFor(n), nprobe = 3)
    assert(policy >= 0.9,
      s"knn-graph recall@5 under cellsFor/nprobe=3 = $policy < 0.9")
    val sqrtRule = meanRecall(
      math.max(8, math.round(math.sqrt(n / 8.0)).toInt), nprobe = 2)
    assert(policy >= sqrtRule - 0.05,
      s"policy recall $policy fell below the sqrt-rule graph's $sqrtRule")
  }

  test("knn graph: two-level assignment (cells >= threshold) holds recall; indexed ≡ one-shot; deterministic") {
    import graft.functions.Similarity
    // 32 generator clusters x 100 jittered members (the policy-test
    // generator); 96 cells crosses twoLevelThreshold=64 so assignment and
    // probe selection run the hierarchical path
    val nClusters = 32; val per = 100; val dim = 16
    val corpus = spark.range(nClusters.toLong * per).select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), " +
        s"j -> sin((id div $per) * 131.7D + j * 17.3D) " +
        s"+ 0.1D * sin(id * 37.9D + j * 5.1D))")
        .cast("array<float>").as("embedding"))
    val cells = 96
    assert(cells >= Similarity.twoLevelThreshold)
    val exact = Similarity.bruteForceTopK(corpus, corpus, k = 5)
      .localCheckpoint(true)
    def graph() = Similarity.knnGraph(corpus, k = 5, centroids = cells,
      nprobe = 3, sampleSize = math.max(256, cells * 4), iters = 2)
    val g = graph().orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(g == graph().orderBy("query_id", "rank").collect().map(_.toSeq).toSeq,
      "two-level graph build must be deterministic")
    val rec = Similarity.recallAtK(graph(), exact, k = 5)
      .agg(avg($"recall")).head().getDouble(0)
    assert(rec >= 0.9,
      s"two-level knn-graph recall@5 at 96 cells/nprobe=3 = $rec < 0.9")
    // write→read fidelity: the hierarchy is a pure function of the stored
    // centroids, so the indexed build derives the SAME rule and edges
    val name = "knn_2lvl_spec_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    Similarity.writeAnnIndex(corpus, name, centroids = cells,
      sampleSize = math.max(256, cells * 4), iters = 2)
    try {
      val idx = Similarity.knnGraphIndexed(spark, name, k = 5, nprobe = 3)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(idx == g,
        "two-level indexed graph must be row-identical to the one-shot build")
    } finally Similarity.dropAnnIndex(spark, name)
  }

  test("broadcast assignment/probes ≡ literal two-level, cell for cell " +
      "(the dispatched ≥twoLevelThreshold form)") {
    import graft.functions.Similarity
    // the policy-test generator at 96 cells: both forms derive the same
    // hierarchy from the same trained centroids, so assignment AND probe
    // lists must agree row for row (Double.compare ties included)
    val nClusters = 32; val per = 100; val dim = 16
    val corpus = spark.range(nClusters.toLong * per).select(
      col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), " +
        s"j -> sin((id div $per) * 131.7D + j * 17.3D) " +
        s"+ 0.1D * sin(id * 37.9D + j * 5.1D))")
        .cast("array<float>").as("embedding"))
    val cells = 96
    val nv = corpus.select($"vec_id",
      $"embedding".cast("array<double>").as("v"))
    val nrm = graft.functions.VectorOps.dotProduct($"v", $"v")
    val unit = nv.select($"vec_id",
      graft.functions.VectorOps.vectorDiv($"v", sqrt(nrm)).as("v"))
      .localCheckpoint(true)
    val cents = Similarity.trainCentroids(unit, cells,
      sampleSize = math.max(256, cells * 4), iters = 2)
    val lit2 = Similarity.assignTwoLevel(unit, cents)
      .select("vec_id", "cluster").orderBy("vec_id")
      .collect().map(_.toSeq).toSeq
    val bca = Similarity.assignBroadcast(unit, cents)
      .select("vec_id", "cluster").orderBy("vec_id")
      .collect().map(_.toSeq).toSeq
    assert(bca == lit2,
      "broadcast assignment must equal the literal two-level argmax")
    // every cell id is in range and multiple cells are used
    assert(bca.map(_(1).asInstanceOf[Int]).forall(c => c >= 0 && c < cells))
    assert(bca.map(_(1)).distinct.size > 8)
    val litP = Similarity.probesTwoLevelLiteral(unit, cents, nprobe = 3)
      .select($"vec_id", $"__probes").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).toSeq
    val bcaP = Similarity.probesBroadcast(unit, cents, nprobe = 3)
      .select($"vec_id", $"__probes").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).toSeq
    assert(bcaP == litP,
      "broadcast probe lists must equal the literal two-level ranks")
    // NOTE deliberately NOT asserted: probe rank 1 ≠ assignment argmax in
    // general — probes rank candidates across probeSupers supers, where
    // assignment is confined to the single best super (both forms agree
    // on each rule, which is what the two equalities above pin)
  }

  test("pq: ADC code search recovers structured neighbors; deterministic across runs") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(13)
    val corpus = (0 until 48).map { i =>
      val base = Array.fill(8)(0.05 + rnd.nextDouble() * 0.1)
      base(i % 4) = 1.0 + rnd.nextDouble()
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 12 === 0)
    def run() = Similarity.pqTopK(corpus, queries, k = 5,
      m = 4, ksub = 8, sampleSize = 32, iters = 2)
      .orderBy("query_id", "rank")
    val pq = run().collect().map(_.toSeq).toSeq
    assert(pq == run().collect().map(_.toSeq).toSeq, "PQ must be deterministic")

    // the claim a quantizer can honor: every retrieved neighbor belongs to
    // the query's direction GROUP (vec_id % 4). Exact rank order within a
    // group is decided by the small noise PQ deliberately quantizes away,
    // so rank-recall against brute force is NOT the right assertion — group
    // membership is.
    val offGroup = pq.count { row =>
      row(0).asInstanceOf[Long] % 4 != row(1).asInstanceOf[Long] % 4
    }
    assert(offGroup == 0, s"$offGroup of ${pq.size} PQ neighbors left the query's group")

    // and quantization still carries SOME exact-rank signal (measured floor)
    val recall = Similarity.recallAtK(run(),
      Similarity.bruteForceTopK(corpus, queries, k = 5), k = 5)
      .agg(avg($"recall")).head().getDouble(0)
    assert(recall >= 0.2, s"PQ recall@5 collapsed: $recall")
  }

  test("pq index: persisted codes search ≡ the retrain path") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(19)
    val corpus = (0 until 48).map { i =>
      val base = Array.fill(8)(0.05 + rnd.nextDouble() * 0.1)
      base(i % 4) = 1.0 + rnd.nextDouble()
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 12 === 0)
    Similarity.writePqIndex(corpus, "pq_test_idx",
      m = 4, ksub = 8, sampleSize = 32, iters = 2)
    try {
      val indexed = Similarity.pqSearchIndexed(spark, "pq_test_idx",
        queries, k = 5).orderBy("query_id", "rank")
      val retrained = Similarity.pqTopK(corpus, queries, k = 5,
        m = 4, ksub = 8, sampleSize = 32, iters = 2)
        .orderBy("query_id", "rank")
      val a = indexed.collect().map(_.toSeq).toSeq
      val b = retrained.collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"indexed $a != retrained $b")
    } finally Similarity.dropPqIndex(spark, "pq_test_idx")
  }

  test("ivf+pq: cell-pruned code search stays group-faithful and deterministic") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(17)
    val corpus = (0 until 48).map { i =>
      val base = Array.fill(8)(0.05 + rnd.nextDouble() * 0.1)
      base(i % 4) = 1.0 + rnd.nextDouble()
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 12 === 0)
    def run() = Similarity.ivfPqTopK(corpus, queries, k = 5,
      centroids = 4, nprobe = 2, m = 4, ksub = 8, sampleSize = 32, iters = 2)
      .orderBy("query_id", "rank")
    val r = run().collect().map(_.toSeq).toSeq
    assert(r.nonEmpty && r == run().collect().map(_.toSeq).toSeq)
    val offGroup = r.count { row =>
      row(0).asInstanceOf[Long] % 4 != row(1).asInstanceOf[Long] % 4
    }
    assert(offGroup == 0, s"$offGroup of ${r.size} IVF+PQ neighbors left the query's group")
  }

  test("ivfadc index: persisted residual search ≡ the retrain path; probed-cell pruning") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(29)
    val corpus = (0 until 48).map { i =>
      val base = Array.fill(8)(0.05 + rnd.nextDouble() * 0.1)
      base(i % 4) = 1.0 + rnd.nextDouble()
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 12 === 0)
    Similarity.writeIvfPqResIndex(corpus, "ivfadc_test_idx",
      centroids = 4, m = 4, ksub = 8, sampleSize = 32, iters = 2, buckets = 4)
    try {
      val indexed = Similarity.ivfPqResSearchIndexed(spark, "ivfadc_test_idx",
        queries, k = 5, nprobe = 2).orderBy("query_id", "rank")
      val retrained = Similarity.ivfPqResidualTopK(corpus, queries, k = 5,
        centroids = 4, nprobe = 2, m = 4, ksub = 8, sampleSize = 32, iters = 2)
        .orderBy("query_id", "rank")
      val a = indexed.collect().map(_.toSeq).toSeq
      val b = retrained.collect().map(_.toSeq).toSeq
      assert(a.nonEmpty && a == b, s"indexed $a != retrained $b")

      // the codes read must prune to the probed cells' buckets
      val plan = indexed.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(plan)
      assert(m.nonEmpty, s"codes scan must be bucket-pruned:\n$plan")
      assert(m.get.group(1).toInt < m.get.group(2).toInt,
        s"pruning must select a strict subset of buckets: ${m.get.matched}")
    } finally Similarity.dropIvfPqResIndex(spark, "ivfadc_test_idx")
  }

  test("ivfadc residual encoding beats raw codes on clustered data at identical bits") {
    import graft.functions.Similarity
    // the regime residual encoding exists for: cluster centers and
    // intra-cluster structure SHARE subspaces, so a raw codebook spends
    // its ksub codes spanning the center separation and has nothing left
    // for the fine structure, while the residual codebook — centers
    // already absorbed by the coarse quantizer — spends every code on the
    // within-cluster detail that actually decides the top-k ranking.
    // Measured here (fixed seed, deterministic): residual ≈ 2× raw recall
    // at the same m/ksub. On near-uniform corpora the ordering flips
    // (q_sim_recall_ivfpq 0.56 vs _res 0.44 on the real sf0.01
    // embeddings): with no cluster structure to absorb, subtracting 8
    // different centroids makes ONE shared codebook cover 8 shifted
    // distributions — residual is a tool for clustered data, and both
    // numbers are oracle-certified so the regime choice is measurable.
    val rnd = new scala.util.Random(41)
    val corpus = (0 until 320).map { i =>
      val cl = i % 8
      val v = Array.fill(16)(rnd.nextDouble() * 0.3)
      v(cl * 2) += 1.0
      v((cl * 2 + 9) % 16) += 0.6
      (i.toLong, v.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter($"vec_id" % 20 === 0)
    val exact = Similarity.bruteForceTopK(corpus, qs, k = 5).localCheckpoint(true)
    def meanRecall(a: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(a, exact, k = 5).agg(avg($"recall")).head().getDouble(0)
    val raw = meanRecall(Similarity.ivfPqTopK(corpus, qs, k = 5,
      centroids = 8, nprobe = 2, m = 4, ksub = 8, sampleSize = 96, iters = 4))
    val res = meanRecall(Similarity.ivfPqResidualTopK(corpus, qs, k = 5,
      centroids = 8, nprobe = 2, m = 4, ksub = 8, sampleSize = 96, iters = 4))
    assert(res >= raw + 0.05 && res >= 0.25,
      s"residual recall $res must measurably beat raw $raw on clustered data")

    // determinism across runs (fit, encode, base term, LUT fold)
    def run() = Similarity.ivfPqResidualTopK(corpus, qs, k = 5,
      centroids = 8, nprobe = 2, m = 4, ksub = 8, sampleSize = 96, iters = 4)
      .orderBy("query_id", "rank")
    assert(run().collect().map(_.toSeq).toSeq ==
      run().collect().map(_.toSeq).toSeq, "residual IVFADC must be deterministic")
  }

  test("recallAtK: per-query hit fraction, zero-hit queries kept") {
    import graft.functions.Similarity
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L), (3L, 98L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.recallAtK(approx, exact, k = 2)
      .orderBy("query_id").collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getDouble(2)))
    assert(r.toSeq === Seq((1L, 1L, 0.5), (2L, 2L, 1.0), (3L, 0L, 0.0)))
  }

  test("z-order: curve value interleaves bits; 2-D box touches fewer files than a 1-D sort") {
    import graft.sources.Layout
    // hand-interleave: x=0b011, y=0b101, 3 bits, bit i of col j → i*2+j:
    // x bit0→pos0, x bit1→pos2; y bit0→pos1, y bit2→pos5 = 1+4+2+32
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 3).as("z"))
      .head().getLong(0)
    assert(z == 39L, s"interleave(3,5)@3bits must be 39, got $z")

    // 64×64 grid, one row per cell: z-cluster into 16 files vs sort by y
    // alone into 16 files, then count files a 8×8 box must open per the
    // parquet zone maps. The 1-D sort bounds only y; x spans every file.
    val grid = spark.range(64L * 64L)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))
    val zDir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val sDir = java.nio.file.Files.createTempDirectory("graft_sorted").toString
    try {
      Layout.zorderWrite(grid, Seq("x", "y"), bits = 6, numFiles = 16, zDir)
      grid.repartitionByRange(16, col("y")).sortWithinPartitions("y")
        .write.mode("overwrite").parquet(sDir)
      val box = Map("x" -> (8L, 15L), "y" -> (8L, 15L))
      val zTouched = Layout.filesTouchedByBox(spark, zDir, box)
      val sTouched = Layout.filesTouchedByBox(spark, sDir, box)
      assert(sTouched >= 2L, s"1-D layout should bound y (got $sTouched files)")
      assert(zTouched < sTouched,
        s"z-order must prune the 2-D box harder: z=$zTouched vs sorted=$sTouched")
      assert(spark.read.parquet(zDir).count() == 64L * 64L,
        "clustering must lose nothing")
    } finally {
      Seq(zDir, sDir).foreach(p => scala.reflect.io.Path(p).deleteRecursively())
    }
  }

  test("runtime bloom filter prunes the fact scan under a selective dim filter") {
    // The 100 TB fact-dim shape: the dim side's selective predicate should
    // reach the FACT side before the shuffle — Catalyst injects a bloom
    // filter built from the filtered dim keys into the fact scan, so the
    // exchange moves only candidate rows. Thresholds are tuned down to
    // fire at test scale; at cluster scale the defaults gate on real sizes.
    val base = java.nio.file.Files.createTempDirectory("graft_bloom")
    val (factDir, dimDir) = (base.resolve("fact").toString, base.resolve("dim").toString)
    spark.range(100000L)
      .select((col("id") % 1000).as("k"), (col("id") * 2.0).as("amount"))
      .write.mode("overwrite").parquet(factDir)
    spark.range(1000L)
      .select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
      .write.mode("overwrite").parquet(dimDir)
    try {
      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1", // broadcast would hide the filter
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB") {
        val fact = spark.read.parquet(factDir)
        val dim = spark.read.parquet(dimDir).filter(col("name").isin("d7", "d13"))
        val joined = fact.join(dim, "k")
        assert(joined.count() == 200L)
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("might_contain"),
          s"fact scan must carry the runtime bloom filter:\n$plan")
        assert(plan.contains("bloom_filter_agg"),
          s"the filter must be built from the filtered dim keys:\n$plan")
      }
    } finally {
      scala.reflect.io.Path(base.toString).deleteRecursively()
    }
  }

  test("bm25 index build survives a stale warehouse dir with no catalog entry") {
    import graft.functions.TextAnalysis
    val corpus = Seq((1L, "apple banana")).toDF("doc_id", "text")
    // simulate a crashed prior build: the table DIRECTORY exists but the
    // (in-memory) catalog has no entry — saveAsTable refuses such a
    // location unless the build clears it first
    val dbLoc = new org.apache.hadoop.fs.Path(
      spark.catalog.getDatabase(spark.catalog.currentDatabase).locationUri)
    val stale = new org.apache.hadoop.fs.Path(dbLoc, "bm25_stale_idx_postings")
    val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(stale)
    fs.create(new org.apache.hadoop.fs.Path(stale, "junk.parquet")).close()
    try {
      TextAnalysis.writeSearchIndex(corpus, "bm25_stale_idx", buckets = 2)
      val out = TextAnalysis.bm25SearchIndexed(spark, "bm25_stale_idx",
        Seq("apple"), 1).collect()
      assert(out.length == 1 && out.head.getLong(0) == 1L)
    } finally TextAnalysis.dropSearchIndex(spark, "bm25_stale_idx")
  }

  test("bm25 deletion of token-less docs still corrects n_docs/avgdl (ADVICE r13)") {
    import graft.functions.TextAnalysis
    // doc 8 is empty-ish (whitespace) and doc 9 is NULL text: both are
    // counted in n_docs at build time yet have no meaningful postings —
    // deleting them must still shrink the globals, which only works if
    // the tombstone dl comes from the build-time doclens table, not from
    // a postings join (which would silently skip them)
    val full = Seq(
      (1L, "apple banana apple"),
      (2L, "apple cherry"),
      (3L, "banana mango banana"),
      (8L, ""),
      (9L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val without = full.filter($"doc_id" < 8L)
    TextAnalysis.writeSearchIndex(full, "bm25_nulldel_idx", buckets = 2)
    TextAnalysis.writeSearchIndex(without, "bm25_nulldel_ref", buckets = 2)
    try {
      TextAnalysis.deleteFromSearchIndex(spark, "bm25_nulldel_idx", Seq(8L, 9L))
      val terms = Seq("apple", "banana")
      def rows(name: String) =
        TextAnalysis.bm25SearchIndexed(spark, name, terms, 5)
          .collect().map(_.toSeq).toSeq
      assert(rows("bm25_nulldel_idx") == rows("bm25_nulldel_ref"),
        "tombstoned read must equal the rebuild-without-deleted ranking " +
          "(n_docs/avgdl corrected for token-less docs)")
      // repeated delete must not double-subtract
      TextAnalysis.deleteFromSearchIndex(spark, "bm25_nulldel_idx", Seq(8L, 9L))
      assert(rows("bm25_nulldel_idx") == rows("bm25_nulldel_ref"))
      // compaction bakes the corrected pair in and stays equal
      TextAnalysis.compactSearchIndex(spark, "bm25_nulldel_idx")
      assert(!spark.catalog.tableExists("bm25_nulldel_idx_deletes"))
      assert(rows("bm25_nulldel_idx") == rows("bm25_nulldel_ref"))
    } finally {
      TextAnalysis.dropSearchIndex(spark, "bm25_nulldel_idx")
      TextAnalysis.dropSearchIndex(spark, "bm25_nulldel_ref")
    }
  }

  // --- persisted MinHash-LSH dedup index ------------------------------

  /** Seen corpus with two near-twin families and one decoy; the batch
    * carries one near-dup of each family, one exact dup, and one novel
    * document — so the screen must find exactly the cross pairs the live
    * recompute finds, including jaccard 1.0 for the exact dup.
    */
  private def mhSeen = Seq(
    (10L, "the quick brown fox jumps over the lazy dog today"),
    (11L, "the quick brown fox jumps over the lazy dog tonight"),
    (12L, "spark query engines compile plans into distributed stages now"),
    (13L, "completely unrelated words about cooking pasta dinner tonight ok"))
    .toDF("doc_id", "text")

  private def mhBatch = Seq(
    (100L, "the quick brown fox jumps over the lazy dog today"),
    (101L, "spark query engines compile plans into distributed stages here"),
    (102L, "entirely novel text that matches no seen document at all"))
    .toDF("doc_id", "text")

  test("minhash index screen == live cross recompute; candidate cap enforced") {
    import graft.functions.{Dedup, MinhashIndex}
    MinhashIndex.write(mhSeen, "mh_test_idx", buckets = 2)
    try {
      val screened = MinhashIndex.screen(spark, "mh_test_idx", mhBatch, 0.5)
        .orderBy("batch_doc", "seen_doc")
        .as[(Long, Long, Double)].collect().toSeq
      val live = Dedup.crossNgramJaccardPairs(mhBatch, mhSeen, 0.5)
        .orderBy("batch_doc", "seen_doc")
        .as[(Long, Long, Double)].collect().toSeq
      assert(screened.nonEmpty && screened == live,
        s"screen $screened != live $live")
      assert(screened.exists { case (a, b, j) => a == 100L && b == 10L && j == 1.0 })
      assert(!screened.exists(_._1 == 102L))

      // the verification read must carry the literal candidate-id predicate
      // INTO the parquet scan (row-group pruning via the sorted layout's
      // min/max stats), not scan the corpus's shingle sets
      val plan = MinhashIndex.screen(spark, "mh_test_idx", mhBatch, 0.5)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [In(doc_id"),
        s"sets read must push the literal candidate-id In filter:\n$plan")

      val cap = intercept[IllegalArgumentException] {
        MinhashIndex.screen(spark, "mh_test_idx", mhBatch, 0.5, maxCandidates = 1)
      }
      assert(cap.getMessage.contains("candidate pairs"))
    } finally MinhashIndex.drop(spark, "mh_test_idx")
  }

  test("minhash index upsert: grown index ≡ one-shot build over the union") {
    import graft.functions.MinhashIndex
    MinhashIndex.write(mhSeen.filter($"doc_id" % 2 === 0), "mh_ups_idx", buckets = 2)
    MinhashIndex.write(mhSeen, "mh_full_idx", buckets = 2)
    try {
      MinhashIndex.upsert(spark, "mh_ups_idx", mhSeen.filter($"doc_id" % 2 =!= 0))
      val grown = MinhashIndex.screen(spark, "mh_ups_idx", mhBatch, 0.5)
        .orderBy("batch_doc", "seen_doc").as[(Long, Long, Double)].collect().toSeq
      val oneShot = MinhashIndex.screen(spark, "mh_full_idx", mhBatch, 0.5)
        .orderBy("batch_doc", "seen_doc").as[(Long, Long, Double)].collect().toSeq
      assert(grown.nonEmpty && grown == oneShot, s"grown $grown != one-shot $oneShot")
    } finally {
      MinhashIndex.drop(spark, "mh_ups_idx")
      MinhashIndex.drop(spark, "mh_full_idx")
    }
  }

  test("minhash deletion: tombstoned screen ≡ rebuild-without; compact ≡ tombstoned") {
    import graft.functions.MinhashIndex
    // seen ∪ a clone of batch doc 100's twin: the clone WOULD match at
    // jaccard 1.0; deleting it must restore the seen-only answer, first
    // through the tombstone read, then through the physical compaction
    val clone = Seq((99L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    MinhashIndex.write(mhSeen.unionByName(clone), "mh_del_idx", buckets = 2)
    MinhashIndex.write(mhSeen, "mh_ref_idx", buckets = 2)
    try {
      val want = MinhashIndex.screen(spark, "mh_ref_idx", mhBatch, 0.5)
        .orderBy("batch_doc", "seen_doc").as[(Long, Long, Double)].collect().toSeq
      MinhashIndex.deleteIds(spark, "mh_del_idx", Seq(99L))
      val tomb = MinhashIndex.screen(spark, "mh_del_idx", mhBatch, 0.5)
        .orderBy("batch_doc", "seen_doc").as[(Long, Long, Double)].collect().toSeq
      assert(tomb == want, s"tombstoned screen $tomb != rebuild-without $want")
      assert(!tomb.exists(_._2 == 99L))
      MinhashIndex.compact(spark, "mh_del_idx")
      assert(!spark.catalog.tableExists("mh_del_idx_deletes"),
        "compact must clear the tombstone table")
      val compacted = MinhashIndex.screen(spark, "mh_del_idx", mhBatch, 0.5)
        .orderBy("batch_doc", "seen_doc").as[(Long, Long, Double)].collect().toSeq
      assert(compacted == want, "compacted screen changed the answer")
      // the purge is physical: the deleted doc's rows left both tables
      assert(spark.table("mh_del_idx_sets").filter($"doc_id" === 99L).isEmpty)
      assert(spark.table("mh_del_idx_bands").filter($"doc_id" === 99L).isEmpty)
    } finally {
      MinhashIndex.drop(spark, "mh_del_idx")
      MinhashIndex.drop(spark, "mh_ref_idx")
    }
  }

  test("ann deletion: tombstoned search and graph exclude ids; compact ≡ tombstoned") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(41)
    val corpus = (0 until 120).map { i =>
      val base = Array.fill(8)(0.02 + rnd.nextDouble() * 0.05)
      base(2 * (i % 4)) = 1.0 + rnd.nextDouble() * 0.2
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter($"vec_id" % 30 === 0)
    Similarity.writeAnnIndex(corpus, "ann_del_idx", centroids = 4,
      sampleSize = 48, iters = 4)
    try {
      val want = Similarity.annSearchIndexed(spark, "ann_del_idx", qs,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      // clones of the queries would each answer at cosine 1.0, rank 1
      Similarity.upsertAnnIndex(spark, "ann_del_idx",
        qs.select(($"vec_id" + 1000L).as("vec_id"), $"embedding"))
      val cloneIds = qs.collect().map(_.getLong(0) + 1000L).toSeq
      Similarity.deleteFromAnnIndex(spark, "ann_del_idx", cloneIds)
      val tomb = Similarity.annSearchIndexed(spark, "ann_del_idx", qs,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(tomb == want, "tombstoned search differs from pre-upsert answer")
      // the graph reader shares the tombstone set: no deleted id on
      // either side of an edge
      val g = Similarity.knnGraphIndexed(spark, "ann_del_idx", k = 3,
        nprobe = 1)
      assert(g.filter($"query_id" >= 1000L || $"neighbor_id" >= 1000L)
        .isEmpty, "graph build leaked a tombstoned vector")
      Similarity.compactAnnIndex(spark, "ann_del_idx")
      assert(!spark.catalog.tableExists("ann_del_idx_deletes"))
      val compacted = Similarity.annSearchIndexed(spark, "ann_del_idx", qs,
          k = 5, nprobe = 2)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(compacted == want, "compacted search changed the answer")
      assert(spark.table("ann_del_idx_assignments")
        .filter($"vec_id" >= 1000L).isEmpty, "compaction left deleted rows")
    } finally Similarity.dropAnnIndex(spark, "ann_del_idx")
  }

  test("code-family deletion: tombstoned ≡ rank-refilled ≡ compacted for SQ, PQ, IVFADC") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(47)
    val corpus = (0 until 160).map { i =>
      val base = Array.fill(8)(0.02 + rnd.nextDouble() * 0.05)
      base(2 * (i % 4)) = 1.0 + rnd.nextDouble() * 0.2
      (i.toLong, base.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter($"vec_id" % 40 === 0)

    def checkFamily(tag: String,
        build: String => Unit,
        search: (String, Int) => Seq[(Long, Long, Int)],
        delete: (String, Seq[Long]) => Unit,
        compact: String => Unit,
        drop: String => Unit): Unit = {
      val name = s"codes_del_$tag"
      build(name)
      try {
        // delete every query's top neighbor: the ids provably matter
        val wide = search(name, 10)
        val del = wide.filter(_._3 == 1).map(_._2).distinct
        assert(del.nonEmpty, s"$tag: fixture produced no rank-1 neighbors")
        // expected = the SAME deterministic ranking with deleted rows
        // removed and ranks refilled from the deeper list
        val want = wide.filterNot(r => del.contains(r._2))
          .groupBy(_._1).flatMap { case (q, rs) =>
            rs.sortBy(_._3).take(5).zipWithIndex
              .map { case (r, i) => (q, r._2, i + 1) }
          }.toSeq.sorted
        delete(name, del)
        val tomb = search(name, 5).sorted
        assert(tomb == want,
          s"$tag: tombstoned search != rank-refilled expectation")
        assert(!tomb.exists(r => del.contains(r._2)),
          s"$tag: a deleted id surfaced")
        compact(name)
        assert(!spark.catalog.tableExists(s"${name}_deletes"))
        assert(search(name, 5).sorted == tomb,
          s"$tag: compacted search changed the answer")
        assert(spark.table(s"${name}_codes")
          .filter($"vec_id".isin(del.map(Long.box): _*)).isEmpty,
          s"$tag: compaction left deleted code rows")
      } finally drop(name)
    }

    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Int)] =
      df.select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq

    checkFamily("sq",
      n => Similarity.writeSqIndex(corpus, n),
      (n, k) => rows(Similarity.sqSearchIndexed(spark, n, qs, k)),
      (n, ids) => Similarity.deleteFromSqIndex(spark, n, ids),
      n => Similarity.compactSqIndex(spark, n),
      n => Similarity.dropSqIndex(spark, n))
    checkFamily("pq",
      n => Similarity.writePqIndex(corpus, n, m = 8, ksub = 16,
        sampleSize = 64, iters = 2),
      (n, k) => rows(Similarity.pqSearchIndexed(spark, n, qs, k)),
      (n, ids) => Similarity.deleteFromPqIndex(spark, n, ids),
      n => Similarity.compactPqIndex(spark, n),
      n => Similarity.dropPqIndex(spark, n))
    checkFamily("ivfpqres",
      n => Similarity.writeIvfPqResIndex(corpus, n, centroids = 4,
        m = 8, ksub = 16, sampleSize = 64, iters = 2),
      (n, k) => rows(Similarity.ivfPqResSearchIndexed(spark, n, qs, k,
        nprobe = 4)),
      (n, ids) => Similarity.deleteFromIvfPqResIndex(spark, n, ids),
      n => Similarity.compactIvfPqResIndex(spark, n),
      n => Similarity.dropIvfPqResIndex(spark, n))
  }

  test("cluster-table deletion re-elects and SPLITS: a removed bridge severs its cluster") {
    import graft.functions.Dedup
    // the case tombstones cannot express: 2 bridges 1–3; delete 2 and
    // the component must fall apart into singletons {1} and {3}
    val docs = Seq(1L, 2L, 3L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0))
      .toDF("doc_a", "doc_b", "jaccard")
    Dedup.writeClusterTable(docs, pairs, "cl_del_idx", buckets = 2)
    try {
      val before = Dedup.clusterTable(spark, "cl_del_idx")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(before == Seq((1L, 1L, true), (2L, 1L, false),
        (3L, 1L, false), (9L, 9L, true)))
      Dedup.deleteFromClusterTable(spark, "cl_del_idx", Seq(2L), pairs)
      val after = Dedup.clusterTable(spark, "cl_del_idx")
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(after == Seq((1L, 1L, true), (3L, 3L, true), (9L, 9L, true)),
        s"bridge removal must split the cluster into singletons: $after")
      // meta re-aggregated from the stored rows
      val meta = spark.table("cl_del_idx_meta").first()
      assert((meta.getLong(0), meta.getLong(1)) == (3L, 3L))
    } finally Dedup.dropClusterTable(spark, "cl_del_idx")
  }

  test("minhash index screen with zero candidates returns an empty, schema-stable frame") {
    import graft.functions.MinhashIndex
    MinhashIndex.write(mhSeen, "mh_empty_idx", buckets = 2)
    try {
      val novel = Seq((200L, "totally fresh words nowhere near anything stored before"))
        .toDF("doc_id", "text")
      val out = MinhashIndex.screen(spark, "mh_empty_idx", novel, 0.5)
      assert(out.columns.toSeq == Seq("batch_doc", "seen_doc", "jaccard"))
      assert(out.count() == 0)
    } finally MinhashIndex.drop(spark, "mh_empty_idx")
  }

  test("sq8: int8 quantization is deterministic and near-lossless at 256 levels") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 60).map { i =>
      (i.toLong, Array.fill(8)((rnd.nextDouble() - 0.5).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 15 === 0)
    def run() = Similarity.sqTopK(corpus, queries, k = 5)
      .orderBy("query_id", "rank")
    val a = run().collect().map(_.toSeq).toSeq
    assert(a == run().collect().map(_.toSeq).toSeq, "SQ8 must be deterministic")
    assert(a.forall(r => r(0) != r(1)), "self-exclusion")
    // 8 bits per dim is near-lossless: rank recall vs brute force stays high
    val recall = Similarity.recallAtK(run(),
      Similarity.bruteForceTopK(corpus, queries, k = 5), k = 5)
      .agg(avg($"recall")).head().getDouble(0)
    assert(recall >= 0.9, s"SQ8 recall@5 collapsed: $recall")
  }

  test("sq index: persisted params+codes search ≡ the one-shot path") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 50).map { i =>
      (i.toLong, Array.fill(6)((rnd.nextDouble() - 0.5).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 10 === 0)
    val name = "graft_sq_spec_idx"
    Similarity.writeSqIndex(corpus, name)
    try {
      val oneShot = Similarity.sqTopK(corpus, queries, k = 5)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      val indexed = Similarity.sqSearchIndexed(spark, name, queries, k = 5)
        .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(indexed == oneShot)
    } finally Similarity.dropSqIndex(spark, name)
  }

  test("bigram LM index: stored-model scoring ≡ self-trained; unseen mass lands on add-k smoothing") {
    import graft.functions.TextAnalysis
    val train = Seq((1L, "a b"), (2L, "a b a")).toDF("doc_id", "text")
    // model: c(a,b)=2, c(b,a)=1; contexts: a=2, b=1; V = |{a,b}| = 2
    val name = "graft_lm_spec_idx"
    TextAnalysis.writeLmTable(train, name)
    try {
      // write→read fidelity: stored-model self-score equals the live fit
      val live = TextAnalysis.bigramScore(train).orderBy("doc_id")
        .collect().map(_.toSeq).toSeq
      val stored = TextAnalysis.bigramScoreIndexed(spark, name, train)
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(live == stored)
      // cross-corpus scoring: unseen bigram (b,z) and unseen context (z,·)
      // take the add-1 smoothing mass against the TRAINING V
      val batch = Seq((9L, "a b z"), (10L, "z z")).toDF("doc_id", "text")
      val out = TextAnalysis.bigramScoreIndexed(spark, name, batch)
        .orderBy("doc_id")
        .as[(Long, Long, Double)].collect().toSeq
      val p_ab = 3.0 / 4.0   // (2+1)/(2+2)
      val p_bz = 1.0 / 3.0   // (0+1)/(1+2)
      val p_zz = 1.0 / 2.0   // (0+1)/(0+2)
      assert(out == Seq(
        (9L, 2L, (0.0 + p_ab + p_bz) / 2.0),
        (10L, 1L, (0.0 + p_zz) / 1.0)))
    } finally TextAnalysis.dropLmTable(spark, name)
  }

  test("attribute-filtered top-k: neighbors stay in the query's category and match brute force on that slice") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(31)
    val corpus = (0 until 40).map { i =>
      val v = Array.fill(6)(rnd.nextDouble() - 0.5)
      (i.toLong, v.map(_.toFloat).toSeq, i % 3)
    }.toDF("vec_id", "embedding", "label")
    val queries = corpus.filter($"vec_id" < 3) // one query per label
    val out = Similarity.attributeFilteredTopK(corpus, queries, k = 4,
      attrCol = "label").orderBy("query_id", "rank")
    val labelOf = (0 until 40).map(i => i.toLong -> i % 3).toMap
    val rows = out.as[(Long, Long, Int, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall { case (q, n, _, _) => labelOf(q) == labelOf(n) },
      "a neighbor escaped its query's category")
    // per query, the filtered result IS brute force over that category
    for (lbl <- 0 until 3) {
      val slice = corpus.filter($"label" === lbl)
      val expect = Similarity.bruteForceTopK(slice,
        queries.filter($"label" === lbl), k = 4)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Int, Double)].collect().toSeq
      val got = rows.filter(r => labelOf(r._1) == lbl).toSeq
      assert(got == expect, s"label $lbl slice diverged from brute force")
    }
  }

  test("rrf fusion: exact reciprocal sums, one-arm-only items kept, id tiebreak") {
    import graft.functions.Similarity
    val armA = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val armB = Seq((3L, 1), (4L, 2)).toDF("doc_id", "rank")
    val out = Similarity.rrfFuse(Seq("a" -> armA, "b" -> armB), k = 10)
      .orderBy("rank")
      .select("doc_id", "rrf_score", "rank")
      .as[(Long, Double, Int)].collect().toSeq
    // exact IEEE expectations: each term one division, left-nested add
    val s3 = 1.0 / (60.0 + 3.0) + 1.0 / (60.0 + 1.0)
    val s1 = 1.0 / (60.0 + 1.0)
    val s2 = 1.0 / (60.0 + 2.0)
    val s4 = 1.0 / (60.0 + 2.0)
    assert(out == Seq((3L, s3, 1), (1L, s1, 2), (2L, s2, 3), (4L, s4, 4)),
      "fused order/scores diverged (2 before 4 is the id tiebreak on equal doubles)")
    // an item only one arm saw survives fusion (the property rerank lacks)
    assert(out.map(_._1).contains(4L))
    intercept[IllegalArgumentException] {
      Similarity.rrfFuse(Seq("a" -> armA), k = 5)
    }
    intercept[IllegalArgumentException] {
      Similarity.rrfFuse(Seq("a" -> armA, "a" -> armB), k = 5)
    }
    // multi-query fusion: ranking restarts per query_id
    val qa = Seq((10L, 1L, 1), (10L, 2L, 2), (20L, 2L, 1))
      .toDF("query_id", "doc_id", "rank")
    val qb = Seq((10L, 2L, 1), (20L, 9L, 1)).toDF("query_id", "doc_id", "rank")
    val fusedQ = Similarity.rrfFuse(Seq("a" -> qa, "b" -> qb), k = 10,
      keyCols = Seq("query_id", "doc_id"))
      .select("query_id", "doc_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(fusedQ == Set((10L, 2L, 1), (10L, 1L, 2), (20L, 2L, 1), (20L, 9L, 2)))
  }

  test("ndcg@k: hand-worked fixture, perfect ranking = 1.0, zero-relevant = 0.0") {
    import graft.functions.Similarity
    val corpus = Seq((100L, 1), (1L, 1), (2L, 0), (3L, 1), (200L, 2),
      (4L, 0), (5L, 0), (300L, 3), (6L, 3), (7L, 3),
      (400L, 4), (8L, 4), (9L, 4))
      .toDF("vec_id", "label")
    // q100: rel at ranks 1 and 3 → dcg = w1 + w3 = 1.0 + 0.5 = 1.5,
    //       idcg(2) = 1.0 + 1/log2(3); q200: nothing relevant → 0;
    // q300: rel at ranks 1,2 of 2 retrieved → dcg = idcg(2) → ndcg 1.0;
    // q400: 2 relevant EXIST in the corpus but only 1 was retrieved —
    //       standard nDCG must charge the miss (IDCG over min(R, k),
    //       NOT over relevant-in-list, which scored this a flattering 1.0)
    val results = Seq(
      (100L, 1L, 1), (100L, 2L, 2), (100L, 3L, 3),
      (200L, 4L, 1), (200L, 5L, 2),
      (300L, 6L, 1), (300L, 7L, 2),
      (400L, 8L, 1))
      .toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.ndcgAtK(results, corpus, k = 10)
      .orderBy("query_id")
      .select("query_id", "n_relevant", "n_rel_total", "dcg", "ndcg")
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    val w2 = 1.0 / (math.log(3.0) / math.log(2.0))
    val idcg2 = 1.0 + w2
    assert(out.size == 4)
    assert(out(0) == ((100L, 2L, 2L, 1.0 + 0.5, (1.0 + 0.5) / idcg2)))
    assert(out(1) == ((200L, 0L, 0L, 0.0, 0.0)))
    assert(out(2) == ((300L, 2L, 2L, idcg2, 1.0)),
      "perfect complete retrieval must score exactly 1.0")
    assert(out(3) == ((400L, 1L, 2L, 1.0, 1.0 / idcg2)),
      "a partial retrieval must be charged for the corpus-level miss")
    // weight table sanity: w1 = 1 exactly, prefix sums are the left fold
    val (ws, ps) = Similarity.ndcgWeights(10)
    assert(ws.head == 1.0 && ps.head == ws.head)
    assert(ps == ws.scanLeft(0.0)(_ + _).tail)
  }

  test("centroid drift: self-batch is exactly zero shift; a collapsed batch is flagged") {
    import graft.functions.Similarity
    val emb = Tables.embeddings(spark, sf)
    // the batch IS the training distribution → identical integer counts,
    // identical totals, bit-identical shares → shift exactly 0.0
    val same = Similarity.centroidDrift(emb, emb, centroids = 8,
      sampleSize = 256, iters = 2)
      .select("n_indexed", "n_batch", "shift", "drifted")
      .as[(Long, Long, Double, Boolean)].collect()
    assert(same.length == 8)
    assert(same.forall { case (ni, nb, s, d) => ni == nb && s == 0.0 && !d },
      "a batch drawn from the training distribution must show zero drift")
    // a batch collapsed onto one vector occupies exactly one cell:
    // share_batch = 1.0 there → flagged; every populated other cell
    // shows negative shift
    val one = emb.filter($"vec_id" === 0L)
    val drift = Similarity.centroidDrift(emb, one, centroids = 8,
      sampleSize = 256, iters = 2)
      .select("n_batch", "share_batch", "drifted")
      .as[(Long, Double, Boolean)].collect()
    assert(drift.map(_._1).sum == 1L)
    assert(drift.count(_._3) >= 1, "collapsed batch must flag drift")
    assert(drift.filter(_._1 == 1L).forall(_._2 == 1.0))
  }

  test("binary quantization: full shortlist ≡ brute force; recall floors; deeper shortlist helps") {
    import graft.functions.Similarity
    val emb = Tables.embeddings(spark, sf)
    val qs = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.bruteForceTopK(emb, qs, 10)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Int, Double)].collect().toSeq
    // with the shortlist covering the whole corpus, the exact rescore
    // IS brute force — quantization error cannot reach the final order
    val n = emb.count().toInt
    val full = Similarity.bqRefinedTopK(emb, qs, 10, shortlist = n)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "rank", "score")
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(full == exact, "full-shortlist BQ must equal brute force")
    // measured floors on the real corpus (0.66 / 0.84 at recording time)
    def recall(sl: Int): Double = {
      val ex = Similarity.bruteForceTopK(emb, qs, 10)
      Similarity.recallAtK(Similarity.bqRefinedTopK(emb, qs, 10, sl), ex, 10)
        .agg(avg($"recall")).collect()(0).getDouble(0)
    }
    val r40 = recall(40); val r100 = recall(100)
    assert(r40 >= 0.55, s"1-bit + rescore recall@10 fell to $r40 at sl=40")
    assert(r100 >= 0.75, s"recall@10 fell to $r100 at sl=100")
    assert(r100 >= r40, "a deeper shortlist can only help recall")
  }

  test("binary quantization widths: production-shaped dims > 64 pack, search, and persist (round-16)") {
    import graft.functions.Similarity
    // an 80-dim corpus — the former two-word packing (hardwired
    // dims <= 64) could not represent this width at all; 80 also
    // exercises the partial trailing word (32 + 32 + 16 bits)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 120).map { i =>
      (i.toLong, Seq.fill(80)((rnd.nextDouble() * 2 - 1).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val qs = emb.filter($"vec_id" % 20 === 0)
    val exact = Similarity.bruteForceTopK(emb, qs, 5)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    // full shortlist => the exact rescore IS brute force, at any width
    val full = Similarity.bqRefinedTopK(emb, qs, 5, shortlist = 120,
        dims = 80)
      .orderBy("query_id", "rank")
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSeq
    assert(full == exact, "full-shortlist 80-dim BQ must equal brute force")
    // persisted twin: the migrated array<bigint> words schema carries
    // ceil(80/32) = 3 words per vector and answers identically
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val bqName = "graft_bq80_" + tag
    val vecName = "graft_bq80v_" + tag
    Similarity.writeBqIndex(emb, bqName, dims = 80)
    Similarity.writeVecTable(emb, vecName)
    try {
      val wordCounts = spark.table(s"${bqName}_words")
        .select(size($"words")).distinct().as[Int].collect().toSeq
      assert(wordCounts == Seq(3),
        s"80-dim index must store 3 sign words/vector, got $wordCounts")
      val indexed = Similarity.bqRefinedSearchIndexed(spark, bqName,
          vecName, qs, k = 5, shortlist = 120, dims = 80)
        .orderBy("query_id", "rank")
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSeq
      assert(indexed == exact,
        "persisted 80-dim BQ search must equal the from-scratch result")
    } finally {
      Similarity.dropBqIndex(spark, bqName)
      Similarity.dropVecTable(spark, vecName)
    }
  }

  test("diversity selection: one pick per region before any repeat; radius curve non-decreasing") {
    import graft.functions.Similarity
    val rnd = new scala.util.Random(11)
    // 4 tight clusters on orthogonal axes: farthest-first must visit all
    // four regions before returning to any of them
    val rows = (0 until 40).map { i =>
      val v = Array.fill(8)((rnd.nextDouble() - 0.5) * 0.1)
      v((i % 4) * 2) += 1.0
      (i.toLong, v.map(_.toFloat).toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.diversitySelect(emb, k = 8)
      .orderBy("sel_rank")
      .select("sel_rank", "vec_id", "nearest_sel_cos")
      .as[(Int, Long, Option[Double])].collect().toSeq
    assert(out.size == 8)
    assert(out.head == ((1, 0L, None)), "seed must be the lowest id, cos NULL")
    val regionOf = rows.map { case (id, _) => id -> id % 4 }.toMap
    assert(out.take(4).map(r => regionOf(r._2)).distinct.size == 4,
      s"first four picks must cover all four regions: $out")
    // the coverage radius curve: each later pick is no more novel
    val curve = out.drop(1).map(_._3.get)
    assert(curve == curve.sorted,
      s"nearest_sel_cos must be non-decreasing: $curve")
    // determinism
    val again = Similarity.diversitySelect(emb, k = 8)
      .orderBy("sel_rank")
      .select("sel_rank", "vec_id", "nearest_sel_cos")
      .as[(Int, Long, Option[Double])].collect().toSeq
    assert(again == out)
    // k larger than the corpus stops at the corpus (every vector once)
    val tiny = rows.take(3).toDF("vec_id", "embedding")
    assert(Similarity.diversitySelect(tiny, k = 10).count() == 3L)
  }
}
