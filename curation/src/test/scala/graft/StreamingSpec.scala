package graft

import graft.streaming.EventsStream
import graft.streaming.EventsStream.{Event, UserRunning}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming: watermarked windows + custom keyed state, driven
  * synchronously through MemoryStream micro-batches.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("watermarked hourly windows aggregate per event type") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = EventsStream.hourlyTypeCounts(events)
      .writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(
        (ts("2024-01-01 10:05:00"), "view", 10.0),
        (ts("2024-01-01 10:55:00"), "view", 5.0),
        (ts("2024-01-01 11:05:00"), "view", 7.0),
        (ts("2024-01-01 10:30:00"), "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .as[(java.sql.Timestamp, String, Long, BigDecimal)]
        .collect().sortBy(r => (r._1.getTime, r._2))
      assert(rows.map(r => (r._1.toString, r._2, r._3, r._4.toString)).toSeq == Seq(
        ("2024-01-01 10:00:00.0", "click", 1L, "1.00"),
        ("2024-01-01 10:00:00.0", "view", 2L, "15.00"),
        ("2024-01-01 11:00:00.0", "view", 1L, "7.00")))
    } finally q.stop()
  }

  test("late data beyond the watermark: dropped rows = batch recompute's, state evicted") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    // Append mode: a window row is emitted exactly once, when the applied
    // watermark passes its end — the mode where late-drop semantics and
    // state eviction are observable
    val q = EventsStream.hourlyTypeCounts(events, watermark = "2 hours")
      .writeStream.format("memory").queryName("late_hourly")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: hours 10/11 plus a 13:30 driver → watermark after this
      // batch = 11:30
      in.addData(
        (ts("2024-01-01 10:05:00"), "view", 10.0),
        (ts("2024-01-01 10:55:00"), "view", 5.0),
        (ts("2024-01-01 11:05:00"), "view", 7.0),
        (ts("2024-01-01 13:30:00"), "click", 2.0))
      q.processAllAvailable()
      // batch 2: 10:15 is LATE (event time < 11:30 applied watermark →
      // dropped, its 99.0 must never surface); 12:40's window is still
      // open → accepted
      in.addData(
        (ts("2024-01-01 10:15:00"), "view", 99.0),
        (ts("2024-01-01 12:40:00"), "click", 3.0))
      q.processAllAvailable()
      // successive far-future drivers advance the watermark in steps so
      // every data window through hour 16 closes and its state evicts
      in.addData((ts("2024-01-01 16:30:00"), "view", 1.0))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 19:30:00"), "view", 1.0))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 22:30:00"), "click", 4.0))
      q.processAllAvailable()

      val streamed = spark.table("late_hourly")
        .as[(java.sql.Timestamp, String, Long, BigDecimal)].collect()
        .filter(_._1.before(ts("2024-01-01 17:00:00")))
        .map(r => (r._1.toString, r._2, r._3, r._4.toString)).sorted.toSeq

      // batch recompute over the SAME transform (watermark is a no-op on a
      // batch frame) with the cutoff applied by hand: every row except the
      // one the stream dropped
      val survivors = Seq(
        (ts("2024-01-01 10:05:00"), "view", 10.0),
        (ts("2024-01-01 10:55:00"), "view", 5.0),
        (ts("2024-01-01 11:05:00"), "view", 7.0),
        (ts("2024-01-01 13:30:00"), "click", 2.0),
        (ts("2024-01-01 12:40:00"), "click", 3.0),
        (ts("2024-01-01 16:30:00"), "view", 1.0),
        (ts("2024-01-01 19:30:00"), "view", 1.0),
        (ts("2024-01-01 22:30:00"), "click", 4.0)).toDF("ts", "event_type", "value")
      val expected = EventsStream.hourlyTypeCounts(survivors)
        .as[(java.sql.Timestamp, String, Long, BigDecimal)].collect()
        .filter(_._1.before(ts("2024-01-01 17:00:00")))
        .map(r => (r._1.toString, r._2, r._3, r._4.toString)).sorted.toSeq

      assert(streamed == expected,
        s"stream-with-watermark must equal batch-minus-dropped-rows:\n" +
          s"stream $streamed\nbatch  $expected")
      // the drop itself mattered: hour 10 totals 15.00, not 114.00
      assert(streamed.exists(r => r._1.startsWith("2024-01-01 10:00") &&
        r._4 == "15.00"))
      assert(!streamed.exists(_._4.contains("99")))

      // state bounded: 7 distinct windows entered state over the run, but
      // closed windows were EVICTED — only the still-open tail may remain
      val finalState = q.lastProgress.stateOperators(0).numRowsTotal
      assert(finalState <= 3,
        s"closed-window state must be evicted, still holding $finalState rows")
    } finally q.stop()
  }

  test("mapGroupsWithState: running per-user totals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = EventsStream.runningUserTotals(in.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode(EventsStream.RunningTotalsOutputMode).start()
    try {
      in.addData(Event(1L, ts("2024-01-01 10:00:00"), 10.0))
      q.processAllAvailable()
      in.addData(
        Event(1L, ts("2024-01-01 10:10:00"), 5.0),
        Event(2L, ts("2024-01-01 10:11:00"), 3.0))
      q.processAllAvailable()
      val latest = spark.table("running").as[UserRunning].collect()
        .groupBy(_.user_id).map { case (u, rs) => u -> rs.maxBy(_.n_events) }
      // state carried across batches: user 1 accumulated 2 events / 15.0
      assert(latest(1L) == UserRunning(1L, 2L, 15.0))
      assert(latest(2L) == UserRunning(2L, 1L, 3.0))
    } finally q.stop()
  }

  test("session windows merge events within the gap, split beyond it") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val events = in.toDF().toDF("ts", "user_id", "value")
    val q = EventsStream.userSessions(events, gap = "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete()).start()
    try {
      in.addData(
        (ts("2024-01-01 10:00:00"), 1L, 1.0),
        (ts("2024-01-01 10:05:00"), 1L, 2.0),  // same session (≤10 min gap)
        (ts("2024-01-01 11:00:00"), 1L, 3.0),  // new session
        (ts("2024-01-01 10:00:00"), 2L, 4.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .as[(java.sql.Timestamp, java.sql.Timestamp, Long, Long, BigDecimal)]
        .collect().sortBy(r => (r._3, r._1.getTime))
      assert(rows.map(r => (r._3, r._4, r._5.toString)).toSeq == Seq(
        (1L, 2L, "3.00"), (1L, 1L, "3.00"), (2L, 1L, "4.00")))
      // first session spans first event → last event + gap
      assert(rows.head._1.toString == "2024-01-01 10:00:00.0")
      assert(rows.head._2.toString == "2024-01-01 10:15:00.0")
    } finally q.stop()
  }

  test("streaming dedup keeps the first occurrence per fingerprint across batches") {
    import graft.streaming.DocsStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = in.toDF().toDF("doc_id", "ts", "text")
    val q = DocsStream.dedupStream(docs)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (1L, ts("2024-01-01 10:00:00"), "hello world"),
        (2L, ts("2024-01-01 10:01:00"), "something else"))
      q.processAllAvailable()
      in.addData(
        (3L, ts("2024-01-01 10:05:00"), "Hello   WORLD"), // same normalized fp as 1
        (4L, ts("2024-01-01 10:06:00"), "brand new text"))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 2L, 4L), "duplicate doc 3 must be dropped")
    } finally q.stop()
  }

  test("streaming curation gate: per-batch verdicts equal the batch verdict; survivors partitioned by batch") {
    import graft.streaming.DocsStream
    implicit val sqlCtx = spark.sqlContext
    val clean = "the red fox and his kit ran out of the old barn is " +
      "with them came four more foxes over green hills toward warm sun " +
      "while birds sang songs about long summer days ahead"
    val b1 = Seq((1L, clean, "en"), (2L, "word " * 10, "en"))
    val b2 = Seq((3L, clean.replace("red", "grey"), "en"), (4L, clean, "fr"))
    val out = java.nio.file.Files.createTempDirectory("graft_curate_gate")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_curate_ckpt")

    val in = MemoryStream[(Long, String, String)]
    val q = DocsStream.curateGateSink(
      in.toDF().toDF("doc_id", "text", "lang"), out.toString,
      expectedLangCol = Some("lang"))
      .option("checkpointLocation", ckpt.toString).start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val curated = spark.read.parquet(out.toString)
      val kept = curated.select("doc_id").as[Long].collect().sorted.toSeq
      // batch equivalence: the same docs survive the batch verdict
      val batchKept = graft.functions.TextAnalysis.filterVerdict(
        (b1 ++ b2).toDF("doc_id", "text", "lang"))
        .filter($"keep").select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == batchKept && kept == Seq(1L, 3L))
      // survivors carry verdict stats and land in their trigger's partition
      assert(curated.columns.contains("quality_score"))
      assert(curated.filter($"doc_id" === 1L).select("batch")
        .as[Int].head() == 0)
      assert(curated.filter($"doc_id" === 3L).select("batch")
        .as[Int].head() == 1)
    } finally q.stop()
  }

  test("curation gate: zero-survivor batches still leave a readable output tree") {
    import graft.streaming.DocsStream
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_curate_empty")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_curate_empty_ckpt")
    val in = MemoryStream[(Long, String, String)]
    val q = DocsStream.curateGateSink(
      in.toDF().toDF("doc_id", "text", "lang"), out.toString,
      expectedLangCol = Some("lang"))
      .option("checkpointLocation", ckpt.toString).start()
    try {
      // a NON-empty batch whose every document fails the verdict: the
      // batch=0 dir must still hold a schema-bearing (0-row) parquet file,
      // or reading an all-rejected corpus dies on schema inference
      in.addData((1L, "word " * 10, "en"), (2L, "x", "en"))
      q.processAllAvailable()
      val curated = spark.read.parquet(out.toString)
      assert(curated.count() == 0L)
      assert(curated.columns.contains("quality_score"))
    } finally q.stop()
  }

  test("stream-static incremental dedup drops digests already in the seen corpus") {
    import graft.streaming.DocsStream
    implicit val sqlCtx = spark.sqlContext
    val seen = Seq((100L, "already ingested")).toDF("doc_id", "text")
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val (deduped, seenHashes) = DocsStream.incrementalDedupStream(
      in.toDF().toDF("doc_id", "ts", "text"), seen)
    val q = deduped
      .writeStream.format("memory").queryName("inc_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        (1L, ts("2024-01-01 10:00:00"), "already ingested"), // known → dropped
        (2L, ts("2024-01-01 10:01:00"), "novel content"))
      q.processAllAvailable()
      in.addData((3L, ts("2024-01-01 10:05:00"), "already ingested")) // still dropped
      q.processAllAvailable()
      val kept = spark.table("inc_dedup").select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq == Seq(2L))
      // the static digest set is cached, not recomputed per micro-batch
      assert(seenHashes.storageLevel.useMemory || seenHashes.storageLevel.useDisk)
    } finally { q.stop(); seenHashes.unpersist() }
  }

  test("quality gate is stateless: stream output == batch output") {
    import graft.streaming.DocsStream
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), "the quick brown fox is one of the good docs and it is long enough"),
      (2L, ts("2024-01-01 10:01:00"), "!!! ??? ..."))
    val batchOut = DocsStream.qualityStream(
      rows.toDF("doc_id", "ts", "text"), minQuality = 0.4)
      .select("doc_id", "quality_score", "lang")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq

    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = DocsStream.qualityStream(in.toDF().toDF("doc_id", "ts", "text"), 0.4)
      .select("doc_id", "quality_score", "lang")
      .writeStream.format("memory").queryName("quality_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val streamOut = spark.table("quality_stream")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
      assert(streamOut.sorted == batchOut.sorted && batchOut.map(_._1) == Seq(1L))
      assert(batchOut.head._3 == "en")
    } finally q.stop()
  }

  test("classifier gate is stateless: stream ≡ batch ≡ the join-form scorer") {
    import graft.streaming.DocsStream
    implicit val sqlCtx = spark.sqlContext
    val w = Seq("spark" -> 500000L, "the" -> -300000L)
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), "spark spark the"), // 725000 ≥ 25000·3
      (2L, ts("2024-01-01 10:01:00"), "the the the"),     // negative: drops
      (3L, ts("2024-01-01 10:02:00"), "   "),             // blank: drops
      (4L, ts("2024-01-01 10:03:00"), null.asInstanceOf[String]))
    def gate(df: org.apache.spark.sql.DataFrame) =
      DocsStream.classifierStream(df, w, bias = 25000L,
        thresholdMicros = 25000L).select("doc_id", "n_tokens", "score")
    val batchOut = gate(rows.toDF("doc_id", "ts", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = gate(in.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("classifier_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val streamOut = spark.table("classifier_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(streamOut.sorted == batchOut.sorted)
      assert(batchOut.map(_._1) == Seq(1L), s"$batchOut")
      // the gate's verdict is the JOIN-form batch scorer's verdict
      val joinKeep = graft.functions.TextAnalysis.classifierScore(
          rows.toDF("doc_id", "ts", "text"), w, bias = 25000L,
          thresholdMicros = 25000L)
        .filter($"keep").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(joinKeep == batchOut.map(_._1))
    } finally q.stop()
  }

  test("blocklist gate is stateless: stream output == batch output") {
    import graft.streaming.DocsStream
    implicit val sqlCtx = spark.sqlContext
    val pats = Seq("bad phrase", "forbidden")
    val rows = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a clean document"),
      (2L, ts("2024-01-01 10:01:00"), "contains a bad phrase right here"),
      (3L, ts("2024-01-01 10:02:00"), "also clean"),
      (4L, ts("2024-01-01 10:03:00"), "strictly forbidden content"))
    def gate(df: org.apache.spark.sql.DataFrame) =
      DocsStream.blocklistStream(df, pats).select("doc_id")
    val batchOut = gate(rows.toDF("doc_id", "ts", "text"))
      .collect().map(_.getLong(0)).toSeq

    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = gate(in.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("blocklist_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val streamOut = spark.table("blocklist_stream")
        .collect().map(_.getLong(0)).toSeq
      assert(streamOut.sorted == batchOut.sorted && batchOut.sorted == Seq(1L, 3L))
    } finally q.stop()
  }

  test("streaming DSIR gate: stored-model weights gate the stream exactly like batch; unscorable docs drop") {
    import graft.streaming.DocsStream
    import graft.functions.Sampling
    implicit val sqlCtx = spark.sqlContext
    // fit: target = alpha/beta bigrams, raw adds zeta/eta off-distribution
    val raw = Seq((100L, "alpha beta alpha beta"), (101L, "alpha beta gamma"),
      (102L, "zeta eta theta zeta"), (103L, "theta zeta eta"))
      .toDF("doc_id", "text")
    val target = raw.filter($"doc_id" <= 101L)
    val name = "graft_dsir_gate_idx"
    Sampling.writeDsirModel(spark, name, raw, target, buckets = 64)
    val out = java.nio.file.Files.createTempDirectory("graft_dsir_gate")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dsir_gate_ckpt")
    // stream: target-like (keep), off-distribution (drop), unscorable (drop)
    val b1 = Seq((1L, "alpha beta alpha"), (2L, "zeta eta theta"))
    val b2 = Seq((3L, "alpha beta gamma alpha beta"), (4L, "solo"))
    try {
      val in = MemoryStream[(Long, String)]
      val q = DocsStream.dsirGateSink(in.toDF().toDF("doc_id", "text"),
          name, out.toString, minWeightQ = 0L)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val gated = spark.read.parquet(out.toString)
        val kept = gated.select("doc_id").as[Long].collect().sorted.toSeq
        // stream ≡ batch: same docs pass the same stored-model threshold
        val scored = Sampling.dsirScoreIndexed(spark, name,
          (b1 ++ b2).toDF("doc_id", "text"))
        val batchKept = scored.filter($"weight_q" >= 0L)
          .select("doc_id").as[Long].collect().sorted.toSeq
        assert(kept == batchKept && kept == Seq(1L, 3L))
        // the off-distribution doc really scored NEGATIVE, not unscorable
        assert(scored.filter($"doc_id" === 2L)
          .select("weight_q").as[Long].head() < 0L)
        // survivors carry exact weights and land in their trigger's partition
        assert(gated.filter($"doc_id" === 1L).select("batch").as[Int].head() == 0)
        assert(gated.filter($"doc_id" === 3L).select("batch").as[Int].head() == 1)
        val w1stream = gated.filter($"doc_id" === 1L)
          .select("weight_q").as[Long].head()
        val w1batch = scored.filter($"doc_id" === 1L)
          .select("weight_q").as[Long].head()
        assert(w1stream == w1batch)
      } finally q.stop()
    } finally Sampling.dropDsirModel(spark, name)
  }

  test("streaming Min-K membership screen: stored-model audit gates the stream exactly like batch") {
    import graft.streaming.DocsStream
    import graft.functions.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    // audit model trained on "a b" prose; a member-looking doc (all
    // high-probability bigrams ⇒ HIGH min-k ⇒ probable member ⇒ DROP
    // from the eval set), a non-member (novel bigrams at the smoothing
    // floor drag the bottom-k down ⇒ keep), an unscorable doc (drop)
    val train = Seq((100L, "a b a b a b"), (101L, "a b c a b"))
      .toDF("doc_id", "text")
    val name = "graft_mink_gate_idx"
    TextAnalysis.writeLmTable(train, name)
    val out = java.nio.file.Files.createTempDirectory("graft_mink_gate")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mink_gate_ckpt")
    val b1 = Seq((1L, "a b a b"), (2L, "z q w e r t"))
    val b2 = Seq((3L, "b a b a"), (4L, "solo"))
    try {
      val in = MemoryStream[(Long, String)]
      val q = DocsStream.minKGateSink(in.toDF().toDF("doc_id", "text"),
          name, out.toString, maxMinK = 0.4)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val gated = spark.read.parquet(out.toString)
        val kept = gated.select("doc_id").as[Long].collect().sorted.toSeq
        val batchKept = TextAnalysis.minKProbIndexed(spark, name,
            (b1 ++ b2).toDF("doc_id", "text"))
          .filter($"min_k_prob" < 0.4)
          .select("doc_id").as[Long].collect().sorted.toSeq
        assert(kept == batchKept && kept == Seq(2L),
          s"only the non-member may enter the eval set, got $kept")
        // the member-looking docs really scored HIGH, not unscorable
        val scores = TextAnalysis.minKProbIndexed(spark, name,
            (b1 ++ b2).toDF("doc_id", "text"))
          .collect().map(r => r.getLong(0) ->
            (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
        assert(scores(1L).get >= 0.4 && scores(3L).get >= 0.4)
        assert(scores(4L).isEmpty)
      } finally q.stop()
    } finally TextAnalysis.dropLmTable(spark, name)
  }

  test("streaming Gopher repetition gate: per-document Table A1 screen gates the stream exactly like batch") {
    import graft.streaming.DocsStream
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_gopher_gate")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_gopher_gate_ckpt")
    // clean prose (keep), 2-gram spam (drop: top-2-gram ≈ 0.5),
    // duplicated line (drop: dup_line_frac 1/3 > 0.30 AND 5/6-gram
    // coverage 12/18 > caps), clean multi-line page (keep)
    val b1 = Seq(
      (1L, (1 to 30).map(i => s"w$i").mkString(" ")),
      (2L, ("spam ham " * 40).trim))
    val b2 = Seq(
      (3L, "x y z a b c\nx y z a b c\nq r s t u v"),
      // clean multi-line page, long enough that its (unique) top n-grams
      // sit under the character-fraction caps
      (4L, (31 to 66).map(i => s"v$i").grouped(6)
        .map(_.mkString(" ")).mkString("\n")))
    try {
      val in = MemoryStream[(Long, String)]
      val q = DocsStream.gopherGateSink(in.toDF().toDF("doc_id", "text"),
          out.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val gated = spark.read.parquet(out.toString)
        val kept = gated.select("doc_id").as[Long].collect().sorted.toSeq
        // stream ≡ batch: trigger boundaries cannot change a per-doc verdict
        val batchKept = DocsStream.gopherKeep(
            (b1 ++ b2).toDF("doc_id", "text"),
            0.30, 0.30, 0.20, 0.20, Seq(0.20, 0.18, 0.16),
            Seq(0.15, 0.14, 0.13, 0.12, 0.11, 0.10))
          .as[Long].collect().sorted.toSeq
        assert(kept == batchKept && kept == Seq(1L, 4L))
        // survivors land in their own trigger's partition
        assert(gated.filter($"doc_id" === 1L).select("batch").as[Int].head() == 0)
        assert(gated.filter($"doc_id" === 4L).select("batch").as[Int].head() == 1)
      } finally q.stop()
    } finally ()
  }

  test("streaming Moore-Lewis gate: stored two-LM ce_diff gates the stream exactly like batch; unscorable docs drop") {
    import graft.streaming.DocsStream
    import graft.functions.{Sampling, TextAnalysis}
    implicit val sqlCtx = spark.sqlContext
    // two frozen LMs: target = alpha/beta in-domain; raw adds a zeta/eta
    // block heavy enough that raw assigns its bigrams MORE mass than the
    // target's unseen-smoothing floor (1/Vt with a small vocab is easy to
    // beat from below — the fixture must make raw genuinely dominant on
    // the off-domain bigrams for ce_diff to go negative)
    val raw = Seq((100L, "alpha beta alpha beta"), (101L, "alpha beta gamma"),
      (102L, "zeta eta zeta eta zeta eta"))
      .toDF("doc_id", "text")
    val target = raw.filter($"doc_id" <= 101L)
    val tName = "graft_ce_gate_t"; val rName = "graft_ce_gate_r"
    TextAnalysis.writeLmTable(target, tName)
    TextAnalysis.writeLmTable(raw, rName)
    val out = java.nio.file.Files.createTempDirectory("graft_ce_gate")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ce_gate_ckpt")
    // stream: target-like (keep), off-distribution (drop), unscorable (drop)
    val b1 = Seq((1L, "alpha beta alpha"), (2L, "zeta eta zeta"))
    val b2 = Seq((3L, "alpha beta gamma alpha beta"), (4L, "solo"))
    try {
      val in = MemoryStream[(Long, String)]
      val q = DocsStream.ceGateSink(in.toDF().toDF("doc_id", "text"),
          tName, rName, out.toString, minCeDiff = 0.0)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val gated = spark.read.parquet(out.toString)
        val kept = gated.select("doc_id").as[Long].collect().sorted.toSeq
        // stream ≡ batch: same docs pass the same stored-model threshold
        val scored = Sampling.crossEntropyScoreIndexed(spark, tName, rName,
          (b1 ++ b2).toDF("doc_id", "text"))
        val batchKept = scored.filter($"ce_diff" >= 0.0)
          .select("doc_id").as[Long].collect().sorted.toSeq
        assert(kept == batchKept && kept == Seq(1L, 3L))
        // the off-distribution doc really scored NEGATIVE, not unscorable
        assert(scored.filter($"doc_id" === 2L)
          .select("ce_diff").as[Double].head() < 0.0)
        // survivors carry the exact stored fixed-point diff and land in
        // their trigger's partition
        assert(gated.filter($"doc_id" === 1L).select("batch").as[Int].head() == 0)
        assert(gated.filter($"doc_id" === 3L).select("batch").as[Int].head() == 1)
        val d1stream = gated.filter($"doc_id" === 1L)
          .select("diff_q").as[Long].head()
        val d1batch = scored.filter($"doc_id" === 1L)
          .select("diff_q").as[Long].head()
        assert(d1stream == d1batch)
      } finally q.stop()
    } finally {
      TextAnalysis.dropLmTable(spark, tName)
      TextAnalysis.dropLmTable(spark, rName)
    }
  }

  test("streaming LM gate: stored-model scoring gates the stream exactly like batch; unscorable docs drop") {
    import graft.streaming.DocsStream
    import graft.functions.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    // model: c(a,b)=5 c(b,a)=2 c(b,c)=1 c(c,a)=1; ctx a=5 b=3 c=1; V=3
    val train = Seq((100L, "a b a b a b"), (101L, "a b c a b"))
      .toDF("doc_id", "text")
    val name = "graft_lm_gate_idx"
    TextAnalysis.writeLmTable(train, name)
    val out = java.nio.file.Files.createTempDirectory("graft_lm_gate")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lm_gate_ckpt")
    // stream: fluent (0.667), junk (0.333), mid (0.583), unscorable
    val b1 = Seq((1L, "a b a b"), (2L, "z q w e r t"))
    val b2 = Seq((3L, "b a b a"), (4L, "solo"))
    try {
      val in = MemoryStream[(Long, String)]
      val q = DocsStream.lmGateSink(in.toDF().toDF("doc_id", "text"),
          name, out.toString, minScore = 0.55)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
        val gated = spark.read.parquet(out.toString)
        val kept = gated.select("doc_id").as[Long].collect().sorted.toSeq
        // stream ≡ batch: the same docs pass the same stored-model filter
        val batchKept = TextAnalysis.bigramScoreIndexed(spark, name,
            (b1 ++ b2).toDF("doc_id", "text"))
          .filter($"bigram_score" >= 0.55)
          .select("doc_id").as[Long].collect().sorted.toSeq
        assert(kept == batchKept && kept == Seq(1L, 3L))
        // survivors carry their scores and land in their trigger's partition
        assert(gated.filter($"doc_id" === 1L).select("batch").as[Int].head() == 0)
        assert(gated.filter($"doc_id" === 3L).select("batch").as[Int].head() == 1)
        assert(gated.filter($"doc_id" === 1L).select("bigram_score")
          .as[Double].head() == (0.0 + 6.0 / 8.0 + 3.0 / 6.0 + 6.0 / 8.0) / 3.0)
      } finally q.stop()
    } finally TextAnalysis.dropLmTable(spark, name)
  }

  test("continuous segment equals batch materialization for the same data") {
    import graft.model.Condition
    import graft.streaming.SegmentStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val conds = Seq(
      Condition("transaction_amount", ">", "50"),
      Condition("total_spend", ">", "100"))

    val in = MemoryStream[(Long, Double, String)]
    val tx = in.toDF().toDF("user_id", "amount", "transaction_type")
    val q = SegmentStream.continuousSegment(tx, conds)
      .writeStream.format("memory").queryName("cont_seg")
      .outputMode(SegmentStream.SegmentOutputMode).start()
    try {
      in.addData((1L, 60.0, "UPI"), (1L, 55.555, "CC"), (2L, 70.0, "UPI"))
      q.processAllAvailable()
      in.addData((1L, 80.0, "UPI"), (2L, 20.0, "UPI"), (3L, 200.005, "CC"))
      q.processAllAvailable()

      // latest update per user (Update mode appends each revision; count is
      // monotone so max-by-count is the latest); membership = latest flag
      val streamed = spark.table("cont_seg")
        .groupBy("user_id")
        .agg(max(struct(col("total_transactions"), col("total_spent"),
          col("transaction_types"), col("in_segment"))).as("s"))
        .select(col("user_id"), col("s.*"))
        .filter(col("in_segment"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .toSet

      val allRows = Seq(
        (1L, 60.0, "UPI"), (1L, 55.555, "CC"), (2L, 70.0, "UPI"),
        (1L, 80.0, "UPI"), (2L, 20.0, "UPI"), (3L, 200.005, "CC"))
        .toDF("user_id", "amount", "transaction_type")
      val batch = graft.operators.SegmentEngine.materializeBase(allRows, conds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .toSet

      // user 2 never passes HAVING (only 70.0 > 50 counts); users 1 and 3 do
      assert(batch.map(_._1) == Set(1L, 3L))
      assert(streamed == batch,
        "streaming running state must equal batch aggregate incl. exact rounding")
    } finally q.stop()
  }

  test("continuous segment retracts membership when a non-monotone HAVING stops holding") {
    import graft.model.Condition
    import graft.streaming.SegmentStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double, String)]
    val q = SegmentStream.continuousSegment(
        in.toDF().toDF("user_id", "amount", "transaction_type"),
        Seq(Condition("total_spend", "<", "100")))
      .writeStream.format("memory").queryName("retract_seg")
      .outputMode(SegmentStream.SegmentOutputMode).start()
    try {
      in.addData((1L, 60.0, "UPI"))
      q.processAllAvailable()
      in.addData((1L, 80.0, "UPI")) // total 140: membership must retract
      q.processAllAvailable()
      val revisions = spark.table("retract_seg")
        .orderBy("total_transactions")
        .collect().map(r => (r.getAs[Long]("total_transactions"),
          r.getAs[Boolean]("in_segment"))).toSeq
      assert(revisions == Seq((1L, true), (2L, false)),
        "the sink must see the false revision, not silence")
    } finally q.stop()
  }

  test("foreachBatch store sink upserts members and deletes retractions") {
    import graft.model.Condition
    import graft.streaming.SegmentStream
    implicit val sqlCtx = spark.sqlContext
    val wh = java.nio.file.Files.createTempDirectory("graft_sink_store")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ckpt")
    val store = new graft.sources.SegmentStore(spark, wh.toString)
    val in = MemoryStream[(Long, Double, String)]
    val seg = SegmentStream.continuousSegment(
      in.toDF().toDF("user_id", "amount", "transaction_type"),
      Seq(Condition("total_spend", "<", "100"))) // non-monotone: retractable
    val q = SegmentStream.sinkToStore(seg, store, ruleId = 42L)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      in.addData((1L, 60.0, "UPI"))
      q.processAllAvailable()
      assert(store.read(42L).select("user_id").as[Long].collect().toSeq == Seq(1L))
      in.addData((1L, 80.0, "UPI"), (2L, 50.0, "CC")) // user 1 → 140: retract
      q.processAllAvailable()
      val rows = store.read(42L).orderBy("user_id").collect()
      assert(rows.map(_.getAs[Long]("user_id")).toSeq == Seq(2L),
        "user 1 must be deleted from the store on retraction")
      assert(rows.head.getAs[Double]("total_spent") == 50.0)
    } finally {
      q.stop()
      import scala.reflect.io.Directory
      new Directory(wh.toFile).deleteRecursively()
      new Directory(ckpt.toFile).deleteRecursively()
    }
  }

  test("store sink after a crashed swap keeps the earlier members (roll back)") {
    import graft.model.Condition
    import graft.streaming.SegmentStream
    import java.nio.file.{Files, Path}
    implicit val sqlCtx = spark.sqlContext
    val wh = Files.createTempDirectory("graft_sink_crash")
    val ckpt = Files.createTempDirectory("graft_sink_crash_ckpt")
    val store = new graft.sources.SegmentStore(spark, wh.toString)
    val in = MemoryStream[(Long, Double, String)]
    val seg = SegmentStream.continuousSegment(
      in.toDF().toDF("user_id", "amount", "transaction_type"),
      Seq(Condition("total_spend", "<", "100")))
    val q = SegmentStream.sinkToStore(seg, store, ruleId = 42L)
      .option("checkpointLocation", ckpt.toString)
      .start()
    def copyTree(from: Path, to: Path): Unit = {
      val walk = Files.walk(from)
      try walk.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
      finally walk.close()
    }
    try {
      in.addData((1L, 60.0, "UPI"))
      q.processAllAvailable()
      // a crash between the swap's two renames: the segment moved aside,
      // the crashed swap's complete copy still in staging
      Files.move(wh.resolve("segment_output_42"), wh.resolve("segment_output_42__old"))
      copyTree(wh.resolve("segment_output_42__old"), wh.resolve("segment_output_42__staging"))
      in.addData((2L, 50.0, "CC"))
      q.processAllAvailable()
      assert(store.read(42L).select("user_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L),
        "batch 1's member must survive the crashed swap")
      assert(wh.toFile.list().filter(_.startsWith("segment_output_42")).toSeq == Seq("segment_output_42"),
        "the next swap discards the staging copy and the moved-aside segment")
    } finally {
      q.stop()
      import scala.reflect.io.Directory
      new Directory(wh.toFile).deleteRecursively()
      new Directory(ckpt.toFile).deleteRecursively()
    }
  }

  test("streaming near-dup gate: stream kept set == batch minhashNearDups keep rule") {
    import graft.streaming.DocsStream
    import graft.functions.{Dedup, MinhashIndex}
    implicit val sqlCtx = spark.sqlContext
    // pre-seen corpus (ids < every streamed id: arrival order == id order,
    // so the batch operator's lower-id keep rule models the stream exactly)
    val seen = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "spark query engines compile plans into distributed stages now"),
      (12L, "completely unrelated words about cooking pasta dinner tonight ok"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 10
      (101L, "large language models train on carefully deduplicated text corpora"),
      (102L, "large language models train on carefully deduplicated web corpora"))
    val b2 = Seq(
      (200L, "large language models train on carefully deduplicated text corpora"), // dup of 101
      (201L, "large language models learn on carefully deduplicated web corpora"),  // near 102
      (202L, "entirely novel subject matter nothing resembles this sentence anywhere"))
    val out = java.nio.file.Files.createTempDirectory("graft_mh_gate")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mh_gate_ckpt")
    MinhashIndex.write(seen, "mh_gate_idx", buckets = 2)
    try {
      val in = MemoryStream[(Long, String)]
      val q = DocsStream.minhashGateSink(
        in.toDF().toDF("doc_id", "text"), "mh_gate_idx", out.toString, 0.5)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      val kept = spark.read.parquet(out.toString)
        .select("doc_id").as[Long].collect().sorted.toSeq

      // batch analog over the concatenated corpus at the INDEX's geometry:
      // a streamed doc is dropped iff it appears as doc_b (the higher id)
      // in any near-dup pair — whether the lower side is seen, an earlier
      // batch, or a lower-id sibling, and whether or not that lower side
      // itself survived
      val all = seen.union(b1.toDF("doc_id", "text")).union(b2.toDF("doc_id", "text"))
      val dropped = Dedup.minhashNearDups(all, 0.5, numHashes = 64, bands = 32)
        .filter($"doc_b" >= 100L).select("doc_b").as[Long].collect().toSet
      val expected = (b1 ++ b2).map(_._1).filterNot(dropped).sorted
      assert(kept == expected, s"stream kept $kept != batch keep rule $expected")
      // the hand-checkable anchors: exact dup of the seen corpus dropped,
      // novel docs kept, cross-batch dup dropped via the upsert
      assert(!kept.contains(100L) && kept.contains(101L))
      assert(!kept.contains(200L) && kept.contains(202L))
    } finally MinhashIndex.drop(spark, "mh_gate_idx")
  }

  test("streaming near-dup gate: retried micro-batch replays idempotently") {
    import graft.streaming.DocsStream
    import graft.functions.MinhashIndex
    val seen = Seq((10L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "novel words that match nothing stored in the index at all"))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_mh_retry")
    MinhashIndex.write(seen, "mh_retry_idx", buckets = 2)
    try {
      def snapshot() = (
        spark.table("mh_retry_idx_sets").select("doc_id")
          .as[Long].collect().sorted.toSeq,
        spark.table("mh_retry_idx_bands").count(),
        spark.read.parquet(s"$out/batch=0").select("doc_id")
          .as[Long].collect().sorted.toSeq)
      DocsStream.minhashGateBatch(batch, "mh_retry_idx", out.toString, 0L, 0.5, "text")
      val first = snapshot()
      // the retry: same batch, same id — a failure re-run must not append
      // duplicate index rows, re-drop survivors against their own first
      // attempt, or double the output partition
      DocsStream.minhashGateBatch(batch, "mh_retry_idx", out.toString, 0L, 0.5, "text")
      val second = snapshot()
      assert(first == second, s"retry changed state: $first -> $second")
      assert(first._3 == Seq(101L)) // dup of seen dropped, novel kept
      assert(first._1 == Seq(10L, 100L, 101L)) // whole batch folded in, once
    } finally MinhashIndex.drop(spark, "mh_retry_idx")
  }

  test("streaming semantic gate: stream kept set == batch semanticDedup keep rule") {
    import graft.streaming.EmbedStream
    import graft.functions.{Dedup, Similarity}
    implicit val sqlCtx = spark.sqlContext
    // 4 well-separated regions with in-region spread: random same-region
    // pairs sit ≈0.9 cosine, deliberate near-dups ≈0.999 — threshold 0.98
    // separates them. Regions are tight enough that the seen-corpus fit
    // and the union fit partition identically (what makes stream ≡ batch
    // well-defined under the frozen quantizer), and seen ids < batch ids
    // so arrival order is id order.
    val rnd = new scala.util.Random(31)
    def vec(region: Int, jitter: Double): Seq[Float] = {
      val v = Array.fill(8)((rnd.nextDouble() - 0.5) * jitter)
      v(region * 2) += 1.0
      v.map(_.toFloat).toSeq
    }
    val seen = (0 until 20).map(i => (i.toLong, vec(i % 4, 0.6))).toDF("vec_id", "embedding")
    val seen0 = seen.collect().find(_.getLong(0) == 0L).get
      .getAs[scala.collection.Seq[Float]]("embedding").toSeq
    // ADDITIVE nudges (a scalar copy keeps the exact direction; adding δ
    // on one coordinate bends it — cos(v, v+δe) ≈ 0.99, cos(v, v+2δe)
    // ≈ 0.96, which is what makes the A≈B≈C, A≉C chain constructible)
    def plus(v: Seq[Float], j: Int, d: Float): Seq[Float] = v.updated(j, v(j) + d)
    val v21 = vec(1, 0.6)
    val batch1 = Seq(
      (20L, seen0.map(x => x * 1.0001f)), // exact direction of seen 0 → dropped
      (21L, v21),                         // fresh direction in region 1 → kept
      (22L, vec(2, 0.6)),                 // fresh in region 2 → kept
      (23L, plus(v21, 7, 0.16f)))         // ≈ 21 (same batch, lower id) → dropped
    val batch2 = Seq(
      (24L, plus(v21, 5, 0.12f)),         // ≈ 21 (earlier batch) → dropped
      (25L, plus(plus(v21, 7, 0.16f), 7, 0.16f)), // ≈ 23 only — 23 was DROPPED,
                                          // but the index remembers it → dropped
      (26L, vec(3, 0.6)))                 // fresh in region 3 → kept
    val out = java.nio.file.Files.createTempDirectory("graft_sem_gate")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sem_gate_ckpt")
    Similarity.writeAnnIndex(seen, "sem_gate_idx", centroids = 4,
      sampleSize = 20, iters = 3)
    try {
      val in = MemoryStream[(Long, Seq[Float])]
      val q = EmbedStream.semanticGateSink(
        in.toDF().toDF("vec_id", "embedding"), "sem_gate_idx",
        out.toString, threshold = 0.98)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        in.addData(batch1: _*); q.processAllAvailable()
        in.addData(batch2: _*); q.processAllAvailable()
      } finally q.stop()
      val kept = spark.read.parquet(out.toString)
        .select("vec_id").as[Long].collect().sorted.toSeq

      // batch analog: semanticDedup over the concatenated corpus — a
      // streamed vector survives iff no lower-id vector of its cluster
      // sits at ≥ threshold, whether or not that vector itself survived
      val union = seen.union((batch1 ++ batch2).toDF("vec_id", "embedding"))
      val expected = Dedup.semanticDedup(union, threshold = 0.98,
        centroids = 4, sampleSize = 20, iters = 3)
        .filter($"keep" && $"vec_id" >= 20L)
        .select("vec_id").as[Long].collect().sorted.toSeq
      assert(kept == expected, s"stream kept $kept != batch keep rule $expected")
      assert(kept == Seq(21L, 22L, 26L),
        s"hand-checkable fixture: dup-of-seen, siblings, and chains drop; $kept")
    } finally Similarity.dropAnnIndex(spark, "sem_gate_idx")
  }

  test("streaming semantic gate: retried micro-batch replays idempotently") {
    import graft.streaming.EmbedStream
    import graft.functions.Similarity
    val seen = (0 until 8).map { i =>
      val v = Array.fill(8)(0.01 * i)
      v(i % 4 * 2) += 1.0
      (i.toLong, v.map(_.toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, seen.collect()(0).getAs[scala.collection.Seq[Float]]("embedding")
        .map(x => x * 1.0001f).toSeq), // dup of seen 0 → dropped
      (101L, { val v = Array.fill(8)(0.02); v(1) += 1.0; v.map(_.toFloat).toSeq }))
      .toDF("vec_id", "embedding")
    val out = java.nio.file.Files.createTempDirectory("graft_sem_retry")
    Similarity.writeAnnIndex(seen, "sem_retry_idx", centroids = 4,
      sampleSize = 8, iters = 2)
    try {
      def snapshot() = (
        spark.table("sem_retry_idx_assignments").select("vec_id")
          .as[Long].collect().sorted.toSeq,
        spark.read.parquet(s"$out/batch=0").select("vec_id")
          .as[Long].collect().sorted.toSeq)
      EmbedStream.semanticGateBatch(batch, "sem_retry_idx", out.toString, 0L, 0.98)
      val first = snapshot()
      EmbedStream.semanticGateBatch(batch, "sem_retry_idx", out.toString, 0L, 0.98)
      val second = snapshot()
      assert(first == second, s"retry changed state: $first -> $second")
      assert(first._2 == Seq(101L), "dup of seen dropped, novel kept")
      assert(first._1 == (0L until 8L) ++ Seq(100L, 101L),
        "whole batch folded in, once")
    } finally Similarity.dropAnnIndex(spark, "sem_retry_idx")
  }

  test("streaming image gate: stream kept set == batch phashNearDups keep rule; undecodables pass") {
    import graft.streaming.MediaStream
    import graft.functions.Multimodal
    implicit val sqlCtx = spark.sqlContext
    // deterministic 18×16 pixel images: per-image red gradient slope
    // separates images; a one-pixel nudge is a near-dup
    def pngOf(slope: Int, nudge: Boolean = false): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        18, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 18) {
        val r = (x * slope + y * 3) % 256
        val rr = if (nudge && x == 7 && y == 5) (r + 4) % 256 else r
        img.setRGB(x, y, (rr << 16) | (((x * 5 + y * 11) % 256) << 8) |
          ((x * 2 + y * 7) % 256))
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val seen = Seq(
      Multimodal.MediaRow(10L, "image", pngOf(14)),
      Multimodal.MediaRow(11L, "image", pngOf(33))).toDS()
    val batch1 = Seq(
      (20L, "image", pngOf(14, nudge = true)), // ≈ seen 10 → dropped
      (21L, "image", pngOf(51)),               // fresh → kept
      (22L, "image", pngOf(51, nudge = true))) // ≈ 21 (same batch) → dropped
    val batch2 = Seq(
      (30L, "image", pngOf(51)),               // twin of 21 (earlier batch) → dropped
      (31L, "image", pngOf(77)),               // fresh → kept
      (32L, "image", "not an image".getBytes)) // undecodable → passes through
    val out = java.nio.file.Files.createTempDirectory("graft_img_gate")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_img_gate_ckpt")
    Multimodal.writePhashTable(seen, "img_gate_sigs", buckets = 2)
    try {
      val in = MemoryStream[(Long, String, Array[Byte])]
      val q = MediaStream.phashGateSink(
        in.toDF().toDF("doc_id", "media_type", "content"),
        "img_gate_sigs", out.toString, maxHamming = 3)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        in.addData(batch1: _*); q.processAllAvailable()
        in.addData(batch2: _*); q.processAllAvailable()
      } finally q.stop()
      val kept = spark.read.parquet(out.toString)
        .select("doc_id").as[Long].collect().sorted.toSeq

      // batch analog over every decodable signature: a streamed image is
      // dropped iff it appears as doc_b in any ≤3-bit pair (seen ids <
      // batch1 ids < batch2 ids = arrival order)
      val allSigs = Multimodal.imageDhash(
        seen.union((batch1 ++ batch2).map(t =>
          Multimodal.MediaRow(t._1, t._2, t._3)).toDS()))
        .toDF().select($"doc_id", $"dhash")
      val dropped = Multimodal.phashNearDups(allSigs, maxHamming = 3)
        .filter($"doc_b" >= 20L).select("doc_b").as[Long].collect().toSet
      val expected = ((batch1 ++ batch2).map(_._1).filterNot(dropped)).sorted
      assert(kept == expected, s"stream kept $kept != batch keep rule $expected")
      assert(kept == Seq(21L, 31L, 32L),
        s"dup-of-seen/sibling/cross-batch drop, fresh + undecodable pass: $kept")
      // only decodable signatures are stored
      assert(spark.table("img_gate_sigs").select("doc_id").as[Long]
        .collect().sorted.toSeq == Seq(10L, 11L, 20L, 21L, 22L, 30L, 31L))
    } finally Multimodal.dropPhashTable(spark, "img_gate_sigs")
  }

  test("streaming video gate: stream kept set == batch videoNearDups keep rule; non-GIFs pass") {
    import graft.streaming.MediaStream
    import graft.functions.Multimodal
    implicit val sqlCtx = spark.sqlContext
    // 6-frame animations; `slope` separates videos, `reversed` flips the
    // gradient (a different video), re-encoding drifts a few bits/frame
    def gifOf(slope: Int, typ: Int): Array[Byte] = {
      val frames = (0 until 6).map { f =>
        val img = new java.awt.image.BufferedImage(18, 16, typ)
        for (y <- 0 until 16; x <- 0 until 18) {
          val g = ((x * slope + y * 8 + f * 40) % 248) / 8 * 8
          img.setRGB(x, y, (g << 16) | (g << 8) | g)
        }
        img
      }
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      val w = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      w.setOutput(ios); w.prepareWriteSequence(null)
      frames.foreach(fi => w.writeToSequence(
        new javax.imageio.IIOImage(fi, null, null), w.getDefaultWriteParam))
      w.endWriteSequence(); w.dispose(); ios.close()
      bos.toByteArray
    }
    val rgb = java.awt.image.BufferedImage.TYPE_INT_RGB
    val gray = java.awt.image.BufferedImage.TYPE_BYTE_GRAY
    val seen = Seq(Multimodal.MediaRow(10L, "video", gifOf(16, rgb))).toDS()
    val batch1 = Seq(
      (20L, "video", gifOf(16, gray)),  // re-encode of seen 10 → dropped
      (21L, "video", gifOf(40, rgb)),   // fresh → kept
      (22L, "video", gifOf(40, gray)))  // re-encode of 21 (same batch) → dropped
    val batch2 = Seq(
      (30L, "video", gifOf(40, rgb)),   // twin of 21 (earlier batch) → dropped
      (31L, "video", gifOf(88, rgb)),   // fresh → kept
      (32L, "video", "not a gif".getBytes)) // non-GIF → passes through
    val out = java.nio.file.Files.createTempDirectory("graft_vid_gate")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_vid_gate_ckpt")
    Multimodal.writeVideoSignatureTable(
      Multimodal.videoFrameDhash(seen, k = 4).toDF()
        .select($"doc_id", $"slot", $"dhash"),
      "vid_gate_sigs", buckets = 2)
    try {
      val in = MemoryStream[(Long, String, Array[Byte])]
      val q = MediaStream.videoGateSink(
        in.toDF().toDF("doc_id", "media_type", "content"),
        "vid_gate_sigs", out.toString, maxHamming = 6, minMatchFrac = 0.75)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        in.addData(batch1: _*); q.processAllAvailable()
        in.addData(batch2: _*); q.processAllAvailable()
      } finally q.stop()
      val kept = spark.read.parquet(out.toString)
        .select("doc_id").as[Long].collect().sorted.toSeq

      // batch analog: a streamed video drops iff it is doc_b of a
      // majority pair (seen < batch1 < batch2 = arrival order)
      val allSigs = Multimodal.videoFrameDhash(
        seen.union((batch1 ++ batch2).map(t =>
          Multimodal.MediaRow(t._1, t._2, t._3)).toDS()), k = 4)
        .toDF().select($"doc_id", $"slot", $"dhash")
      val dropped = Multimodal.videoNearDups(allSigs, maxHamming = 6,
          minMatchFrac = 0.75)
        .filter($"doc_b" >= 20L).select("doc_b").as[Long].collect().toSet
      val expected = ((batch1 ++ batch2).map(_._1).filterNot(dropped)).sorted
      assert(kept == expected, s"stream kept $kept != batch keep rule $expected")
      assert(kept == Seq(21L, 31L, 32L),
        s"dup-of-seen/sibling/cross-batch drop, fresh + non-GIF pass: $kept")
      // only signed (GIF) arrivals' frames are stored: 4 slots per video
      assert(spark.table("vid_gate_sigs").groupBy("doc_id").count()
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq ==
        Seq(10L, 20L, 21L, 22L, 30L, 31L).map((_, 4L)))
    } finally Multimodal.dropPhashTable(spark, "vid_gate_sigs")
  }

  test("streaming image gate: retried micro-batch replays idempotently") {
    import graft.streaming.MediaStream
    import graft.functions.Multimodal
    def png(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 9)
        img.setRGB(x, y, ((x * seed) % 256) << 16)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val seen = Seq(Multimodal.MediaRow(1L, "image", png(10))).toDS()
    val batch = Seq(
      (100L, "image", png(10)),  // twin of seen 1 → dropped
      (101L, "image", png(200))) // fresh → kept
      .toDF("doc_id", "media_type", "content")
    val out = java.nio.file.Files.createTempDirectory("graft_img_retry")
    Multimodal.writePhashTable(seen, "img_retry_sigs", buckets = 2)
    try {
      def snapshot() = (
        spark.table("img_retry_sigs").select("doc_id")
          .as[Long].collect().sorted.toSeq,
        spark.table("img_retry_sigs").count(),
        spark.read.parquet(s"$out/batch=0").select("doc_id")
          .as[Long].collect().sorted.toSeq)
      MediaStream.phashGateBatch(batch, "img_retry_sigs", out.toString, 0L, 3)
      val first = snapshot()
      MediaStream.phashGateBatch(batch, "img_retry_sigs", out.toString, 0L, 3)
      val second = snapshot()
      assert(first == second, s"retry changed state: $first -> $second")
      assert(first._3 == Seq(101L) && first._1 == Seq(1L, 100L, 101L))
    } finally Multimodal.dropPhashTable(spark, "img_retry_sigs")
  }

  test("file-based jsonl ingest streams through the quality gate end-to-end") {
    import graft.sources.TextFormats
    import graft.streaming.DocsStream
    // the crawl landing zone: jsonl files appear in a directory; the
    // stream picks each up exactly once and the gate scores it
    val landing = java.nio.file.Files.createTempDirectory("graft_landing")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_landing_ckpt")
    val goodText = "the quick brown fox is one of the good docs and it is long enough"
    def drop(name: String, rows: Seq[(Long, String)]): Unit = {
      // one jsonl FILE per drop (the file source tracks whole files)
      val lines = rows.map { case (id, t) =>
        val esc = t.replace("\\", "\\\\").replace("\"", "\\\"")
        s"""{"doc_id": $id, "text": "$esc"}"""
      }
      java.nio.file.Files.write(landing.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    drop("b1.json", Seq((1L, goodText), (2L, "!!! ??? ...")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val in = TextFormats.streamJsonl(spark, landing.toString, schema)
    val q = DocsStream.qualityStream(in, minQuality = 0.4)
      .select("doc_id", "quality_score", "lang")
      .writeStream.format("memory").queryName("jsonl_ingest")
      .option("checkpointLocation", ckpt.toString)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      drop("b2.json", Seq((3L, goodText + " again today"), (4L, "x")))
      q.processAllAvailable()
      val kept = spark.table("jsonl_ingest").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 3L),
        s"good docs from both files pass, junk drops: $kept")
    } finally q.stop()
  }

  test("stream-stream attribution join: matches the batch interval join across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = in.toDF().toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsStream.attributionJoin(events)
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()
    val rows = Seq(
      // user 1: click at 10:00, purchases at 10:30 (in horizon) and 11:30 (out)
      (1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0),
      (2L, ts("2024-01-01 10:30:00"), 1L, "purchase", 9.0),
      (3L, ts("2024-01-01 11:30:00"), 1L, "purchase", 7.0),
      // user 2's click must NOT attribute user 1's purchase
      (4L, ts("2024-01-01 10:20:00"), 2L, "click", 0.0),
      // boundary: click exactly horizon before the purchase — inclusive
      (5L, ts("2024-01-01 12:00:00"), 2L, "click", 0.0),
      (6L, ts("2024-01-01 13:00:00"), 2L, "purchase", 5.0))
    try {
      // split across micro-batches: causes arrive before their conversions
      in.addData(rows.take(2))
      q.processAllAvailable()
      in.addData(rows.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("attrib")
        .select("user_id", "conv_id", "cause_id", "value")
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
      // batch parity: the SAME operator over the same rows as one frame
      val batch = EventsStream.attributionJoin(
          rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
        .select("user_id", "conv_id", "cause_id", "value")
        .as[(Long, Long, Long, Double)].collect().sorted.toSeq
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(batch == Seq((1L, 2L, 1L, 9.0), (2L, 6L, 5L, 5.0)),
        "in-horizon and boundary pairs only, per user")
    } finally q.stop()
  }

  test("streaming drift monitor: per-batch report equals batch driftReport; shifted batch alerts") {
    import graft.functions.DataQuality
    implicit val sqlCtx = spark.sqlContext
    val baseline = (0L until 100L).map(i => (i, i.toDouble))
      .toDF("event_id", "value")
    val in = MemoryStream[(Long, Double)]
    val events = in.toDF().toDF("event_id", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_sink").toString
    val q = DataQuality.driftMonitorSink(events, baseline, dir).start()
    try {
      val batch0 = (0L until 50L).map(i => (i, i.toDouble * 2))
      val batch1 = (0L until 50L).map(i => (i, i.toDouble + 1000.0))
      in.addData(batch0: _*)
      q.processAllAvailable()
      in.addData(batch1: _*)
      q.processAllAvailable()
      // stream ≡ batch: the per-trigger report is exactly the batch
      // operator over the same rows
      val streamed = spark.read.parquet(s"$dir/batch=0")
        .orderBy("bucket").collect().map(_.toSeq).toSeq
      val batch = DataQuality.driftReport(baseline,
          batch0.toDF("event_id", "value"), "event_id", "value")
        .orderBy("bucket").collect().map(_.toSeq).toSeq
      assert(streamed == batch, "per-trigger report must equal the batch report")
      // the shifted batch lands its whole mass in the top bucket → alert
      val rows1 = spark.read.parquet(s"$dir/batch=1")
        .orderBy("bucket").collect()
      assert(rows1.last.getBoolean(7), "shifted batch must flag drift")
      assert(rows1.init.exists(r => r.getLong(4) == 0L && r.getBoolean(7)),
        "vanished lower buckets must flag too")
    } finally q.stop()
  }

  test("streaming and batch compute the same hourly windows") {
    val batch = Seq(
      (ts("2024-01-01 10:05:00"), "view", 10.0),
      (ts("2024-01-01 11:05:00"), "view", 7.0))
      .toDF("ts", "event_type", "value")
    val out = EventsStream.hourlyTypeCounts(batch)
      .orderBy("hour_start")
      .as[(java.sql.Timestamp, String, Long, BigDecimal)].collect()
    assert(out.map(_._1.toString).toSeq ==
      Seq("2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0"))
    assert(out.map(_._3).toSeq == Seq(1L, 1L))
  }

  test("streaming drift monitor: per-trigger report ≡ batch centroidDriftIndexed; replay identical; read-only") {
    import graft.streaming.EmbedStream
    import graft.functions.Similarity
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(47)
    def vec(region: Int): Seq[Float] = {
      val v = Array.fill(8)((rnd.nextDouble() - 0.5) * 0.4)
      v(region * 2) += 1.0
      v.map(_.toFloat).toSeq
    }
    val indexed = (0 until 24).map(i => (i.toLong, vec(i % 4)))
      .toDF("vec_id", "embedding")
    // batch 1 mirrors the index mix; batch 2 collapses onto one region
    val b1 = (100 until 108).map(i => (i.toLong, vec(i % 4)))
    val b2 = (200 until 208).map(i => (i.toLong, vec(1)))
    val out = java.nio.file.Files.createTempDirectory("graft_drift_mon")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_drift_ckpt")
    Similarity.writeAnnIndex(indexed, "drift_mon_idx", centroids = 4,
      sampleSize = 24, iters = 3)
    try {
      val before = spark.table("drift_mon_idx_assignments").count()
      val in = MemoryStream[(Long, Seq[Float])]
      val q = EmbedStream.driftMonitorSink(
        in.toDF().toDF("vec_id", "embedding"), "drift_mon_idx",
        out.toString, tol = 0.2)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      def report(dir: String) = spark.read.parquet(dir)
        .orderBy("cluster")
        .select("cluster", "n_indexed", "n_batch", "shift", "drifted")
        .as[(Int, Long, Long, Double, Boolean)].collect().toSeq
      // stream ≡ batch, trigger for trigger
      assert(report(s"$out/batch=0") ==
        Similarity.centroidDriftIndexed(spark, "drift_mon_idx",
          b1.toDF("vec_id", "embedding"), tol = 0.2).orderBy("cluster")
          .select("cluster", "n_indexed", "n_batch", "shift", "drifted")
          .as[(Int, Long, Long, Double, Boolean)].collect().toSeq)
      val r2 = report(s"$out/batch=1")
      assert(r2 ==
        Similarity.centroidDriftIndexed(spark, "drift_mon_idx",
          b2.toDF("vec_id", "embedding"), tol = 0.2).orderBy("cluster")
          .select("cluster", "n_indexed", "n_batch", "shift", "drifted")
          .as[(Int, Long, Long, Double, Boolean)].collect().toSeq)
      // the collapsed batch is flagged; its whole mass sits in one cell
      assert(r2.exists(_._5), s"collapsed batch must drift: $r2")
      assert(r2.map(_._3).sum == 8L && r2.count(_._3 == 8L) == 1)
      // monitoring is READ-ONLY: the index did not grow
      assert(spark.table("drift_mon_idx_assignments").count() == before)
      // replayed trigger overwrites with the identical report
      EmbedStream.driftMonitorBatch(b2.toDF("vec_id", "embedding"),
        "drift_mon_idx", out.toString, 1L, tol = 0.2)
      assert(report(s"$out/batch=1") == r2)
    } finally Similarity.dropAnnIndex(spark, "drift_mon_idx")
  }

  test("streaming frontier gate: verdicts per trigger, novel canonicals fold once, replay idempotent") {
    import graft.streaming.DocsStream
    import graft.functions.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val fr = "front_gate_idx"
    val seen = Seq((1L, "https://a.com/x"), (2L, "https://b.com/y"))
      .toDF("doc_id", "url")
    TextAnalysis.writeFrontierTable(seen, fr, buckets = 2)
    val out = java.nio.file.Files.createTempDirectory("graft_front_gate")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_front_ckpt")
    try {
      val b1 = Seq(
        (10L, "HTTPS://WWW.A.com:443/x"),   // seen -> no fetch
        (11L, "https://c.com/p?utm_source=z"), // novel -> fetch
        (12L, "https://c.com/p"))            // same canonical, higher id
      val b2 = Seq(
        (20L, "https://c.com/p#frag"),       // folded by batch 1 -> no
        (21L, "not a url"),                  // unparseable -> fetch
        (22L, "https://d.com/q"))            // novel -> fetch
      val in = MemoryStream[(Long, String)]
      val q = DocsStream.frontierGateSink(
          in.toDF().toDF("doc_id", "url"), fr, out.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      def verdicts(dir: String) = spark.read.parquet(dir)
        .select("doc_id", "should_fetch")
        .as[(Long, Boolean)].collect().toMap
      val v1 = verdicts(s"$out/batch=0")
      val v2 = verdicts(s"$out/batch=1")
      assert(v1 == Map(10L -> false, 11L -> true, 12L -> false))
      assert(v2 == Map(20L -> false, 21L -> true, 22L -> true))
      val grown = spark.table(s"${fr}_frontier").count()
      assert(grown == 4L, s"frontier must hold a,b,c,d canonicals: $grown")
      // replayed trigger: verdicts byte-identical, frontier unchanged
      DocsStream.frontierGateBatch(b1.toDF("doc_id", "url"), fr,
        out.toString, 0L)
      assert(verdicts(s"$out/batch=0") == v1,
        "a replayed trigger must reproduce the first attempt's verdicts")
      assert(spark.table(s"${fr}_frontier").count() == 4L)
    } finally TextAnalysis.dropFrontierTable(spark, fr)
  }
}
