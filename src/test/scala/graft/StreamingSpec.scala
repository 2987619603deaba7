package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.Ingest

class StreamingSpec extends SparkTestBase {

  test("streaming minute bars: dedup + windowed OHLCV into the lake layout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val ticks = input.toDF().toDF("event_id", "ts", "event_type", "value")

    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "stream-lake").toString
    val ckpt = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "stream-ckpt").toString
    val q = Ingest.toLake(Ingest.minuteBars(ticks, "2 minutes"), root, ckpt).start()

    input.addData(
      (1L, Timestamp.valueOf("2024-01-01 00:00:05"), "X", 10.0),
      (2L, Timestamp.valueOf("2024-01-01 00:00:30"), "X", 12.0),
      (2L, Timestamp.valueOf("2024-01-01 00:00:30"), "X", 12.0), // dup id
      (3L, Timestamp.valueOf("2024-01-01 00:01:10"), "X", 11.0))
    q.processAllAvailable()
    // advance watermark far enough to close the 00:00 window
    input.addData((9L, Timestamp.valueOf("2024-01-01 00:30:00"), "X", 1.0))
    q.processAllAvailable()
    q.stop()

    val bars = spark.read.parquet(root)
    val first = bars.where(col("bar_ts_ms") === 1704067200000L).collect()
    assert(first.length == 1)
    assert(first(0).getAs[Double]("open") == 10.0)
    assert(first(0).getAs[Double]("close") == 12.0)
    assert(first(0).getAs[Long]("n_trades") == 2L) // dup dropped
    // partitioned layout materialized
    assert(new java.io.File(root + "/symbol=X/year=2024/month=1").exists())
  }

  test("stateful gap detector emits gaps across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ingest.Tick]
    val out = Ingest.gapDetector(input.toDS())
    val q = out.writeStream.format("memory").queryName("gaps_out")
      .outputMode("append").start()

    input.addData(Ingest.Tick("A", 0L, 1.0), Ingest.Tick("A", 60000L, 1.0))
    q.processAllAvailable()
    input.addData(Ingest.Tick("A", 300000L, 1.0)) // 3 missing minutes
    q.processAllAvailable()
    q.stop()

    val gaps = spark.table("gaps_out").as[Ingest.GapEvent].collect()
    assert(gaps.length == 1)
    assert(gaps(0).gapMinutes == 3L)
    assert(gaps(0).prevMs == 60000L && gaps(0).tsMs == 300000L)
  }

  test("streaming gated tf aggregation emits only complete buckets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (symbol, bar_ts, open, high, low, close, volume, n_trades)
    val input = MemoryStream[(String, Timestamp, Double, Double, Double, Double, Double, Long)]
    val bars = input.toDF()
      .toDF("symbol", "bar_ts", "open", "high", "low", "close", "volume", "n_trades")
    val q = Ingest.tfAggregate(bars, stepMs = 60000L, n = 2, watermark = "2 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("tf_out").start()

    input.addData(
      // complete 2-minute bucket [00:00, 00:02)
      ("X", Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, 3.0, 0.5, 2.0, 10.0, 5L),
      ("X", Timestamp.valueOf("2024-01-01 00:01:00"), 2.0, 4.0, 1.5, 3.0, 20.0, 7L),
      // incomplete bucket [00:04, 00:06): only one bar
      ("X", Timestamp.valueOf("2024-01-01 00:04:00"), 9.0, 9.0, 9.0, 9.0, 1.0, 1L))
    q.processAllAvailable()
    input.addData(("X", Timestamp.valueOf("2024-01-01 01:00:00"), 1.0, 1.0, 1.0, 1.0, 1.0, 1L))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("tf_out").orderBy("bucket_ms").collect()
    assert(out.length == 1) // only the complete bucket emitted
    assert(out(0).getAs[Long]("bucket_ms") == 1704067200000L)
    assert(out(0).getAs[Double]("open") == 1.0 && out(0).getAs[Double]("close") == 3.0)
    assert(out(0).getAs[Double]("high") == 4.0 && out(0).getAs[Double]("low") == 0.5)
    assert(out(0).getAs[Long]("n_trades") == 12L)
  }

  test("streaming session windows close after the watermark and match batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val events = input.toDF().toDF("user_id", "ts", "value")

    val q = Ingest.sessionSummaries(events, gapMs = 60000L, watermark = "2 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("sessions_out").start()

    input.addData(
      (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (1L, Timestamp.valueOf("2024-01-01 00:00:30"), 2.0),  // same session
      (1L, Timestamp.valueOf("2024-01-01 00:05:00"), 3.0))  // new session
    q.processAllAvailable()
    // push the watermark far past both sessions so both emit
    input.addData((2L, Timestamp.valueOf("2024-01-01 01:00:00"), 9.0))
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sessions_out")
      .orderBy("user_id", "session_start_ms").collect()
    assert(sessions.length == 2) // user 2's session still open at stop
    assert(sessions(0).getAs[Long]("n_events") == 2L)
    assert(sessions(0).getAs[Double]("sum_value") == 3.0)
    assert(sessions(1).getAs[Long]("n_events") == 1L)

    // same expression, batch mode: identical sessions (plus the open one)
    val batch = graft.operators.Sessions.sessionize(
      spark.table("sessions_out").sparkSession.createDataFrame(Seq(
        (1L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
        (1L, Timestamp.valueOf("2024-01-01 00:00:30"), 2.0),
        (1L, Timestamp.valueOf("2024-01-01 00:05:00"), 3.0),
        (2L, Timestamp.valueOf("2024-01-01 01:00:00"), 9.0)))
        .toDF("user_id", "ts", "value"),
      "user_id", "ts", "value", gapMs = 60000L)
    assert(batch.count() == 3)
    val b1 = batch.where($"user_id" === 1L).orderBy("session_id").collect()
    assert(b1(0).getAs[Long]("n_events") == 2L &&
      b1(0).getAs[Double]("sum_value") == 3.0)
  }

  test("streaming lake sink recovers from its checkpoint; compacted lake equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    def ticksDf = input.toDF().toDF("event_id", "ts", "event_type", "value")

    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "stream-recover-lake").toString
    val ckpt = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "stream-recover-ckpt").toString

    // run 1: two minutes of ticks commit to the lake, then the query stops
    // (deploy/crash); offsets + sink manifest live in the checkpoint
    val q1 = Ingest.toLake(Ingest.minuteBars(ticksDf, "2 minutes"), root, ckpt)
      .start()
    val phase1 = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:00:05"), "X", 10.0),
      (2L, Timestamp.valueOf("2024-01-01 00:00:40"), "X", 12.0),
      (3L, Timestamp.valueOf("2024-01-01 00:01:10"), "X", 11.0),
      (4L, Timestamp.valueOf("2024-01-01 00:01:50"), "X", 9.0))
    input.addData(phase1: _*)
    q1.processAllAvailable()
    val pusher1 = (5L, Timestamp.valueOf("2024-01-01 00:10:00"), "X", 8.0)
    input.addData(pusher1)
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(root).count() == 2L) // 00:00 + 00:01 committed

    // run 2: a NEW query restarts from the SAME checkpoint; later ticks
    // arrive and the earlier committed bars must not double-commit
    val phase2 = Seq(
      (6L, Timestamp.valueOf("2024-01-01 00:10:30"), "X", 7.0),
      (7L, Timestamp.valueOf("2024-01-01 00:11:10"), "X", 6.0))
    input.addData(phase2: _*)
    val q2 = Ingest.toLake(Ingest.minuteBars(ticksDf, "2 minutes"), root, ckpt)
      .start()
    val pusher2 = (8L, Timestamp.valueOf("2024-01-01 00:30:00"), "X", 1.0)
    input.addData(pusher2)
    q2.processAllAvailable()
    q2.stop()

    // exactly-once across the restart: the four closed minutes, once each
    // (00:30 stays open — its watermark never passed)
    val lake = spark.read.parquet(root)
    assert(lake.count() == 4L)
    assert(lake.select(countDistinct(col("bar_ts_ms"))).head.getLong(0) == 4L)

    // the dedup-compact pass (the batch staging remedy) is a no-op here,
    // and the compacted lake matches the batch bars over the same ticks
    val compacted = root + "-compact"
    graft.sources.Lake.compact(spark, root, compacted,
      dedupKeys = Seq("symbol", "bar_ts_ms"))
    val allTicks = (phase1 :+ pusher1) ++ (phase2 :+ pusher2)
    val batch = graft.sources.Bars.fromTicks(
        allTicks.toDF("event_id", "ts", "event_type", "value"), "minute")
      .where(col("bar_ts_ms") < unix_millis(lit(
        Timestamp.valueOf("2024-01-01 00:30:00")))) // only closed minutes
      .select("symbol", "bar_ts_ms", "open", "high", "low", "close",
        "volume", "n_trades")
      .orderBy("bar_ts_ms")
    val got = spark.read.parquet(compacted)
      .select("symbol", "bar_ts_ms", "open", "high", "low", "close",
        "volume", "n_trades")
      .orderBy("bar_ts_ms")
    assert(rowsOf(got) == rowsOf(batch))
  }

  test("streaming CVD state equals the batch cumulative window across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ingest.FlowBar]
    val q = Ingest.cvdStream(input.toDS())
      .writeStream.format("memory").queryName("cvd_out")
      .outputMode("append").start()

    // out-of-order within a batch; state carries across batches
    input.addData(
      Ingest.FlowBar("A", 60000L, 3.0, 5.0),
      Ingest.FlowBar("A", 0L, 6.0, 4.0))
    q.processAllAvailable()
    input.addData(
      Ingest.FlowBar("A", 120000L, 7.0, 1.0),
      Ingest.FlowBar("B", 0L, 1.0, 0.0))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("cvd_out").as[Ingest.CvdPoint].collect()
      .map(p => (p.symbol, p.tsMs) -> p.cvdProxy).toMap
    // A: deltas +2 (ts 0), -2 (ts 60k), +6 (ts 120k) -> cvd 2, 0, 6
    assert(got(("A", 0L)) == 2.0 && got(("A", 60000L)) == 0.0 &&
      got(("A", 120000L)) == 6.0)
    assert(got(("B", 0L)) == 1.0)

    // identical numbers from the batch window operator
    val bars = Seq(
      ("A", 0L, 0.0, 6.0, 4.0), ("A", 60000L, 0.0, 3.0, 5.0),
      ("A", 120000L, 0.0, 7.0, 1.0), ("B", 0L, 0.0, 1.0, 0.0))
      .toDF("symbol", "bar_ts_ms", "close", "aggr_buy", "aggr_sell")
    val batchCvd = graft.operators.Flow.withFlowFeatures(bars)
      .select($"symbol", $"bar_ts_ms", $"cvd_proxy")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.forall { case (k, v) => batchCvd(k) == v })
  }

  test("corpus-clean gating runs as a streaming map stage and matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then it runs " +
        "away into the woods before anyone can see where it went"),
      (2L, "le renard brun rapide saute par dessus le chien paresseux et " +
        "il court dans les bois avant que quiconque puisse le voir"),
      (3L, "too short"),
      (4L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( ))) !!! ??? ### $$$ %%% ^^^"),
      (5L, "this is a good long english document with many common words " +
        "that should pass the quality gate easily because it is plain text"),
      (6L, "here is another plain english sentence that is long enough and " +
        "contains the usual stopwords so the gate keeps it as well"))

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = Ingest.cleanDocs(stream).writeStream.format("memory")
      .queryName("clean_out").outputMode("append").start()
    input.addData(docs.take(4): _*)
    q.processAllAvailable()
    input.addData(docs.drop(4): _*)  // stateless: batch boundaries irrelevant
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("clean_out").orderBy("doc_id").collect().toSeq
    val batch = Ingest.cleanDocs(docs.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    val kept = batch.map(_.getAs[Long]("doc_id")).toSet
    assert(kept.contains(1L) && kept.contains(5L) && kept.contains(6L))
    assert(!kept.contains(2L) && !kept.contains(3L)) // french / too short
  }

  test("normalize + gopher gate stream as stateless stages and match batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val words60 = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, "<p>" + words60 + "</p>"),           // markup-wrapped, passes
      (2L, "too &amp; short"),                  // fails word count
      (3L, words60 + "   \t " + words60))       // ragged ws, passes
    def stage(df: org.apache.spark.sql.DataFrame) =
      graft.llm.TextAnalysis.gopherRules(
        df.withColumn("text", graft.llm.TextAnalysis.normalize(col("text"))))
        .select(col("doc_id"), col("n_words"), col("pass_gopher"))

    val input = MemoryStream[(Long, String)]
    val q = stage(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("norm_gate_out")
      .outputMode("append").start()
    input.addData(docs.take(2): _*)
    q.processAllAvailable()
    input.addData(docs.drop(2): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("norm_gate_out").orderBy("doc_id")
      .collect().toSeq
    val batch = stage(docs.toDF("doc_id", "text")).orderBy("doc_id")
      .collect().toSeq
    assert(streamed == batch)
    val byId = batch.map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_words"), r.getAs[Int]("pass_gopher")))).toMap
    assert(byId(1L) == ((60L, 1)))   // tags stripped before counting
    assert(byId(2L)._2 == 0)
    assert(byId(3L) == ((120L, 1))) // whitespace collapsed, both halves kept
  }

  test("curateDocs: full stateless curation stage streams and matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good1 = (1 to 60).map(i => s"alpha$i").mkString(" ")
    val good2 = (1 to 60).map(i => s"bravo$i").mkString(" ")
    val leaked = (1 to 60).map(i => s"leak$i").mkString(" ")
    val docs = Seq(
      (1L, "<p>" + good1 + "</p>"),   // markup-wrapped, survives everything
      (2L, good2),                    // survives everything
      (3L, leaked),                   // == benchmark text -> bloom-flagged
      (4L, "too &amp; short"))        // fails the gopher word floor
    val benchmark = Seq((100L, leaked)).toDF("doc_id", "text")
    // a real exported model: positives are the alpha/bravo vocabulary,
    // negatives junk — so the quality stage is a fitted scorer, not a
    // constant
    val labeled = Seq((good1, 1.0), (good2, 1.0),
      ((1 to 60).map(_ => "zzz").mkString(" "), 0.0),
      ((1 to 60).map(i => s"junk$i junk").mkString(" "), 0.0))
      .toDF("text", "label")
    val (b0, w) = graft.ml.QualityClassifier.exportModel(labeled,
      numFeatures = 512)
    def stage(df: org.apache.spark.sql.DataFrame) =
      Ingest.curateDocs(df, benchmark, b0, w)

    val input = MemoryStream[(Long, String)]
    val q = stage(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    input.addData(docs.take(2): _*)
    q.processAllAvailable()
    input.addData(docs.drop(2): _*)  // stateless: batch boundaries irrelevant
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("curate_out").orderBy("doc_id").collect().toSeq
    val batch = stage(docs.toDF("doc_id", "text")).orderBy("doc_id")
      .collect().toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(batch.map(_.getAs[Long]("doc_id")) == Seq(1L, 2L))
    // the survivors are clean of benchmark grams and scored by the model
    assert(batch.forall(_.getAs[Double]("flag_frac") == 0.0))
    assert(batch.forall(_.getAs[Double]("quality_prob") >= 0.5))
    // the leaked doc is dropped by the bloom probe specifically: with the
    // probe disarmed (empty benchmark) but the same model, it survives
    val noBench = Ingest.curateDocs(docs.toDF("doc_id", "text"),
      benchmark.where(lit(false)), b0, w, minQualityProb = 0.0)
    assert(noBench.where(col("doc_id") === 3L).count() == 1L)
  }

  test("contamination scrub runs per micro-batch and matches the batch " +
      "pass (decisions depend only on doc + fixed benchmark)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val leaked = (1 to 12).map(i => s"leak$i").mkString(" ")
    val docs = Seq(
      (1L, "intro words here then " + leaked + " and a clean tail"),
      (2L, (1 to 20).map(i => s"clean$i").mkString(" ")),
      (3L, leaked),
      (4L, (1 to 20).map(i => s"other$i").mkString(" ")))
    val benchmark = Seq((100L, leaked)).toDF("doc_id", "text")
    val outDir = java.nio.file.Files
      .createTempDirectory("scrub_stream").toString
    def stage(df: org.apache.spark.sql.DataFrame) =
      graft.llm.Dedup.contaminationScrub(df, benchmark, n = 8)

    val input = MemoryStream[(Long, String)]
    // foreachBatch because the scrub aggregates per doc (start collection)
    // — but its decisions depend only on the doc and the STATIC benchmark,
    // so per-batch-final output is identical to the full batch pass
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          stage(b.toDF()).write.mode("append").parquet(outDir)
          ()
      }.start()
    input.addData(docs.take(2): _*)
    q.processAllAvailable()
    input.addData(docs.drop(2): _*) // batch boundaries irrelevant
    q.processAllAvailable()
    q.stop()

    val streamed = spark.read.parquet(outDir).orderBy("doc_id")
      .collect().toSeq
    val batch = stage(docs.toDF("doc_id", "text")).orderBy("doc_id")
      .collect().toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // the leaked span is scrubbed wherever it appears; clean docs intact
    val byId = batch.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(3L).getAs[String]("kept_text") == "")
    assert(byId(1L).getAs[Int]("n_removed_tokens") == 12)
    assert(byId(2L).getAs[Int]("n_removed_tokens") == 0)
  }

  test("streaming doc dedup: canonical fingerprint survivors across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 00:00:10")
    val t1 = Timestamp.valueOf("2024-01-01 00:01:00")
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = Ingest.dedupDocs(input.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("dedup_docs_out")
      .outputMode("append").start()
    // batch 1: an original and a byte-identical replay
    input.addData((1L, t0, "the quick brown fox"), (2L, t0, "another doc"),
      (3L, t0, "the quick brown fox"))
    q.processAllAvailable()
    // batch 2 (inside the watermark): a case/whitespace variant must ALSO
    // dedup (canonical fingerprint, not byte equality), a new doc survives
    input.addData((4L, t1, "  THE   Quick BROWN fox "), (5L, t1, "fresh text"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("dedup_docs_out").select("doc_id")
      .as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 5L), kept.toString)
  }

  test("DSIR scoring streams as a stateless map stage and matches batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // train on a small "lake" corpus, score a stream against the exported
    // model: the serve half must be stateless (no watermark, no state
    // store), so batch boundaries cannot change any score
    val lake = Seq(
      (1L, "good clean text good", true), (2L, "good text", true),
      (3L, "spam junk spam junk", false), (4L, "good clean", false))
      .toDF("doc_id", "text", "tgt")
    val (model, oov) = graft.llm.Selection.exportModel(lake,
      isTarget = col("tgt"))
    val streamDocs = Seq((10L, "good clean text"), (11L, "junk spam"),
      (12L, "brand new tokens"), (13L, "good junk"))

    val input = MemoryStream[(Long, String)]
    val q = graft.llm.Selection.scoreStateless(
        input.toDF().toDF("doc_id", "text"), model, oov)
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    input.addData(streamDocs.take(2): _*)
    q.processAllAvailable()
    input.addData(streamDocs.drop(2): _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("dsir_out").orderBy("doc_id").collect().toSeq
    val batch = graft.llm.Selection.scoreStateless(
        streamDocs.toDF("doc_id", "text"), model, oov)
      .orderBy("doc_id").collect().toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    val byId = batch.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Double]("log_weight")).toMap
    assert(byId(10L) > 0 && byId(11L) < 0, byId.toString) // separation holds
  }

  test("streaming dual-engine backtest equals batch across micro-batch splits") {
    import spark.implicits._
    import graft.operators.Backtest
    import graft.operators.Backtest.DualBar
    implicit val sqlCtx = spark.sqlContext

    // deterministic walk with mode blocks, NA holes, and enough signals to
    // exercise entries, BE arming, flips, and the cooldown across batches
    def mkBars(sym: String, seed: Int): Seq[DualBar] = (0 until 80).map { i =>
      val base = 100.0 + 6.0 * math.sin((i + seed) * 0.7) + (i % 7)
      val mode =
        if (i % 23 == 0) None
        else if ((i / 10) % 2 == 0) Some("TREND") else Some("RANGE")
      val isTrend = mode.contains("TREND")
      DualBar(sym, i * 60000L,
        open = base, high = base + 3.0, low = base - 3.0,
        close = base + (if (i % 3 == 0) -2.0 else 1.5),
        atr = if (i < 2) None else Some(4.0),
        signal = Some(if (i % 6 == 0) 1 else 0),
        mode = mode,
        tpR = if (isTrend) 2.0 else 1.2,
        slK = if (isTrend) 1.0 else 0.8,
        horizonBars = if (isTrend) 16 else 8,
        beAtR = if (isTrend) None else Some(0.5))
    }
    val bars = mkBars("A", 0) ++ mkBars("B", 3)

    // batch: the SeqScan fold over the same rows (column-name adapter)
    val batchDf = bars.toDF()
      .withColumnRenamed("barTsMs", "bar_ts_ms")
      .withColumnRenamed("tpR", "tp_r")
      .withColumnRenamed("slK", "sl_k")
      .withColumnRenamed("horizonBars", "horizon_bars")
      .withColumnRenamed("beAtR", "be_at_r")
    val batch = Backtest.runDualEngine(batchDf, "signal", "mode", cooldownBars = 5)
      .select("symbol", "engine", "entry_ts", "entry_price", "exit_ts",
        "exit_price", "exit_reason", "r_mult", "bars_held")
      .collect().map(_.toSeq).toSet

    val input = MemoryStream[DualBar]
    val q = Ingest.dualBacktestStream(input.toDS(), cooldownBars = 5)
      .writeStream.format("memory").queryName("dual_bt_out")
      .outputMode("append").start()
    // split so positions open in one micro-batch and close in another
    val (a, b) = bars.partition(_.barTsMs < 30 * 60000L)
    input.addData(a: _*)
    q.processAllAvailable()
    input.addData(b: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("dual_bt_out").as[Backtest.DualTrade].collect()
      .map(t => Seq[Any](t.symbol, t.engine, t.entryTs, t.entryPrice,
        t.exitTs, t.exitPrice, t.exitReason, t.rMult, t.barsHeld)).toSet
    assert(batch.nonEmpty, "scenario produced no trades")
    assert(streamed == batch,
      s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
    // the scenario must actually exercise multiple exit paths
    val reasons = batch.map(_(6).asInstanceOf[String])
    assert(reasons.size >= 2, s"only exit reasons $reasons fired")

    // late-arrival hygiene: re-feeding bars from the FIRST window in a
    // later micro-batch (cross-batch out-of-order) must be dropped by the
    // lastTsMs high-watermark, leaving the trade set identical rather than
    // silently re-folding old bars into current state
    val input2 = MemoryStream[DualBar]
    val q2 = Ingest.dualBacktestStream(input2.toDS(), cooldownBars = 5)
      .writeStream.format("memory").queryName("dual_bt_late")
      .outputMode("append").start()
    input2.addData(a: _*)
    q2.processAllAvailable()
    input2.addData((b ++ a.takeRight(6)): _*) // 6 stale bars arrive late
    q2.processAllAvailable()
    q2.stop()
    val lateSet = spark.table("dual_bt_late").as[Backtest.DualTrade].collect()
      .map(t => Seq[Any](t.symbol, t.engine, t.entryTs, t.entryPrice,
        t.exitTs, t.exitPrice, t.exitReason, t.rMult, t.barsHeld)).toSet
    assert(lateSet == batch,
      s"late bars changed trades: extra=${lateSet -- batch} missing=${batch -- lateSet}")
  }

  test("streaming single-engine router backtest equals batch (degenerate dual config)") {
    import spark.implicits._
    import graft.operators.Backtest
    import graft.operators.Backtest.DualBar
    implicit val sqlCtx = spark.sqlContext

    // walk with signals, an explicit flip column, and enough both-touch
    // bars to exercise SL/TP/FLIP/TIME plus break-even and cooldown
    def mkRows(sym: String, seed: Int): Seq[(String, Long, Double, Double,
        Double, Double, Option[Double], Int, Int)] =
      (0 until 90).map { i =>
        val base = 100.0 + 5.0 * math.sin((i + seed) * 0.9) + (i % 5)
        (sym, i * 60000L, base, base + 2.5, base - 2.5,
          base + (if (i % 4 == 0) -1.8 else 1.2),
          if (i < 2) None else Some(3.5),
          if (i % 7 == 0) 1 else 0,
          if (i % 29 == 0) 1 else 0)
      }
    val rows = mkRows("A", 0) ++ mkRows("B", 4)
    val barsDf = rows.toDF("symbol", "bar_ts_ms", "open", "high", "low",
      "close", "atr", "signal", "flip")

    val batch = Backtest.run(barsDf, "signal", short = true, tpR = 1.5,
        slK = 1.0, horizon = 12, feeBps = 2.0, flipCol = Some("flip"),
        breakEvenAtR = Some(0.5), cooldownBars = 4)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "scenario produced no trades")

    // the stream consumes the SAME rows as degenerate-dual DualBars:
    // constant mode/config, the flip column as the explicit flip signal
    val dualBars = rows.map { case (s, ts, o, h, l, c, atr, sig, flip) =>
      DualBar(s, ts, o, h, l, c, atr, Some(sig), mode = Some("E"),
        tpR = 1.5, slK = 1.0, horizonBars = 12, beAtR = Some(0.5),
        flip = Some(flip))
    }
    val input = MemoryStream[DualBar]
    val q = Ingest.dualBacktestStream(input.toDS(), cooldownBars = 4, feeBps = 2.0)
      .writeStream.format("memory").queryName("single_bt_out")
      .outputMode("append").start()
    val (a, b) = dualBars.partition(_.barTsMs < 40 * 60000L)
    input.addData(a: _*)
    q.processAllAvailable()
    input.addData(b: _*)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("single_bt_out").as[Backtest.DualTrade].collect()
      .map(t => Seq[Any](t.symbol, t.entryTs, t.entryPrice, t.exitTs,
        t.exitPrice, t.exitReason, t.rMult, t.barsHeld)).toSet
    assert(streamed == batch,
      s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
    val reasons = batch.map(_(5).asInstanceOf[String])
    assert(reasons.size >= 2, s"only exit reasons $reasons fired")
  }

  test("relation-model scoring stream equals the batch scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val trainDocs = Seq(
      (1L, "good clean text good", true), (2L, "good text", true),
      (3L, "spam junk spam junk", false), (4L, "good clean", false))
      .toDF("doc_id", "text", "tgt")
    val (model, oov) = graft.llm.Selection.exportModelRelation(
      trainDocs, isTarget = col("tgt"))
    // model relation is consumed once per micro-batch — pin it
    val m = model.cache()

    val streamDocs = Seq((10L, "good clean text"), (11L, "junk spam"),
      (12L, "brand new tokens"), (13L, "good junk"))
    val got = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val input = MemoryStream[(Long, String)]
    val q = Ingest.scoreDocsStream(
        input.toDF().toDF("doc_id", "text"), m, oov) { (scored, _) =>
        got.synchronized { got ++= scored.collect().map(_.toSeq) }
      }.start()
    input.addData(streamDocs.take(2): _*)
    q.processAllAvailable()
    input.addData(streamDocs.drop(2): _*)
    q.processAllAvailable()
    q.stop()

    val batch = graft.llm.Selection.scoreWithRelation(
        streamDocs.toDF("doc_id", "text"), m, oov)
      .collect().map(_.toSeq)
    assert(got.sortBy(_.head.asInstanceOf[Long].toString) ==
      batch.sortBy(_.head.asInstanceOf[Long].toString).toSeq,
      s"stream=$got batch=${batch.toSeq}")
    // and the relation path agrees with the typedLit serving path on the
    // same stream input (the two serving halves are interchangeable)
    val (lit, oovLit) = graft.llm.Selection.exportModel(
      trainDocs, isTarget = col("tgt"))
    val stateless = graft.llm.Selection.scoreStateless(
        streamDocs.toDF("doc_id", "text"), lit, oovLit)
      .collect().map(_.toSeq)
    assert(stateless.map(_.head).toSet == batch.map(_.head).toSet)
    m.unpersist()
  }

  test("streaming shard writer reproduces the batch shard-lake layout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val allDocs = (0 until 40).map(i =>
      (i.toLong, ("tok " * (i % 5 + 1)).trim))

    val streamRoot = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "stream-shards").toString
    val input = MemoryStream[(Long, String)]
    val q = Ingest.shardWriter(input.toDF().toDF("doc_id", "text"),
        streamRoot, tokensPerPack = 6L, nShards = 4).start()
    // single delivery => identical packing input to the batch writer
    input.addData(allDocs: _*)
    q.processAllAvailable()
    q.stop()

    val batchRoot = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "batch-shards").toString
    graft.sources.Lake.writeShards(graft.llm.TextAnalysis.packShards(
      allDocs.toDF("doc_id", "text"), tokensPerPack = 6L, nShards = 4),
      batchRoot)

    // identical hive layout: same shard dirs, one part per shard
    (0 until 4).foreach { s =>
      val parts = new java.io.File(s"$streamRoot/shard=$s")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts == 1, s"shard $s has $parts parts")
    }
    // identical rows INCLUDING pack assignment, and pack-sequential order
    // within the streamed part
    val a = spark.read.parquet(streamRoot)
      .select("shard", "pack_id", "doc_id", "n_tokens", "cum_tokens")
    val b = spark.read.parquet(batchRoot)
      .select("shard", "pack_id", "doc_id", "n_tokens", "cum_tokens")
    assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet)
    val shard0 = spark.read.parquet(s"$streamRoot/shard=0")
      .select("pack_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(shard0.toSeq == shard0.sortBy(p => (p._1, p._2)).toSeq)

    // a second delivery appends new parts without disturbing layout: docs
    // land in their id-stable shard dirs, every row still present once
    val more = (40 until 56).map(i => (i.toLong, ("tok " * (i % 5 + 1)).trim))
    val input2 = MemoryStream[(Long, String)]
    // a DIFFERENT logical query on the same root: its batch ids restart at
    // 0, so it needs its own commitId namespace (paired with its own
    // checkpoint in production)
    val q2 = Ingest.shardWriter(input2.toDF().toDF("doc_id", "text"),
        streamRoot, tokensPerPack = 6L, nShards = 4,
        commitId = "second-feed").start()
    input2.addData(more: _*)
    q2.processAllAvailable()
    q2.stop()
    val after = spark.read.parquet(streamRoot)
    assert(after.count() == 56)
    assert(after.select("doc_id").distinct().count() == 56)
    assert(after.where(expr("shard <> doc_id % 4")).count() == 0)

    // foreachBatch replay-idempotence: re-running an already-committed
    // batch id must write NOTHING (the restart path re-executes the last
    // uncommitted batch; the commit marker is what makes that safe)
    val replay = (100 until 110).map(i =>
      (i.toLong, ("tok " * (i % 5 + 1)).trim)).toDF("doc_id", "text")
    assert(Ingest.writeShardBatch(replay, batchId = 777L, streamRoot,
      tokensPerPack = 6L, nShards = 4))
    val afterBatch = spark.read.parquet(streamRoot).count()
    assert(afterBatch == 66)
    assert(!Ingest.writeShardBatch(replay, batchId = 777L, streamRoot,
      tokensPerPack = 6L, nShards = 4), "replayed batch must be skipped")
    assert(spark.read.parquet(streamRoot).count() == afterBatch)
    // but the same batch id under ANOTHER query's namespace is fresh work
    assert(Ingest.writeShardBatch(replay.withColumn("doc_id",
        col("doc_id") + 100), batchId = 777L, streamRoot,
      tokensPerPack = 6L, nShards = 4, commitId = "second-feed"))
    assert(spark.read.parquet(streamRoot).count() == afterBatch + 10)
  }

  test("streaming incremental near-dup: stream loop equals the batch " +
      "loop, replay cannot grow the index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.MinHashLsh

    def mkDoc(i: Long, drop: Int = 0): (Long, String) =
      (i, (0 until 12 - drop).map(j => s"w${(i * 7 + j * 13) % 97}")
        .mkString(" "))
    // wave 1: 30 originals; wave 2: 10 near-dups of wave-1 docs (last two
    // tokens dropped) + 10 fresh docs
    val wave1 = (0L until 30L).map(mkDoc(_))
    val wave2 = (0L until 10L).map(i => mkDoc(i, drop = 2))
      .map { case (i, t) => (i + 1000, t) } ++ (100L until 110L).map(mkDoc(_))

    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "neardup-ix").toString
    val input = MemoryStream[(Long, String)]
    val q = Ingest.nearDupWriter(input.toDF().toDF("doc_id", "text"),
        root, threshold = 0.3).start()
    input.addData(wave1: _*); q.processAllAvailable()
    input.addData(wave2: _*); q.processAllAvailable()
    q.stop()

    // reference: the same two waves through the BATCH loop
    val ix1 = MinHashLsh.buildIndex(wave1.toDF("doc_id", "text").limit(0))
    val d1 = MinHashLsh.nearDupIncremental(wave1.toDF("doc_id", "text"),
      ix1, threshold = 0.3)
    val acc1 = wave1.toDF("doc_id", "text").join(
      d1.where(col("status") === "accepted").select("doc_id"), Seq("doc_id"))
    val ix2 = ix1.unionByName(MinHashLsh.buildIndex(acc1))
    val d2 = MinHashLsh.nearDupIncremental(wave2.toDF("doc_id", "text"),
      ix2, threshold = 0.3)
    val expected = d1.unionByName(d2).collect().map(_.toSeq).toSet

    val decisions = spark.read.parquet(s"$root/decisions")
    assert(decisions.drop("batch_id").collect().map(_.toSeq).toSet
      == expected)
    // the near-dups were actually caught against the CROSS-batch index
    assert(decisions.where(col("status") === "dup_of_index" &&
      col("doc_id") >= 1000).count() > 0)
    // index holds exactly the accepted docs
    val ixIds = spark.read.parquet(s"$root/index")
      .select("doc_id").as[Long].collect().toSet
    val accIds = decisions.where(col("status") === "accepted")
      .select("doc_id").as[Long].collect().toSet
    assert(ixIds == accIds)

    // committed batch id: skipped outright
    val ixCount = spark.read.parquet(s"$root/index").count()
    assert(!Ingest.nearDupBatch(wave2.toDF("doc_id", "text"), batchId = 1L,
      root, threshold = 0.3))
    assert(spark.read.parquet(s"$root/index").count() == ixCount)
    // crash-window replay of the SAME batch id: own index residue is
    // excluded and both slices are overwritten in place → byte-identical
    // decisions (no accepted→self-dup flips persisting in the log), index
    // unchanged, no duplicate signature rows (a flat append would inflate
    // maxBucket's combined band-bucket population for every later batch)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(
      root, "_committed_batches/stream/1"), false)
    assert(Ingest.nearDupBatch(wave2.toDF("doc_id", "text"), batchId = 1L,
      root, threshold = 0.3))
    assert(spark.read.parquet(s"$root/decisions/batch_id=1")
      .collect().map(_.toSeq).toSet == d2.collect().map(_.toSeq).toSet)
    val idxAfter = spark.read.parquet(s"$root/index")
    assert(idxAfter.count() == ixCount)
    assert(idxAfter.count() == idxAfter.dropDuplicates("doc_id").count())
    // re-ingest of already-accepted docs under a genuinely NEW batch id
    // still self-heals: dup_of_index at jaccard 1.0, match_id == doc_id,
    // index does not grow
    assert(Ingest.nearDupBatch(wave2.toDF("doc_id", "text"), batchId = 99L,
      root, threshold = 0.3))
    assert(spark.read.parquet(s"$root/index").count() == ixCount)
    val replayed = spark.read.parquet(s"$root/decisions")
      .where(col("batch_id") === 99L)
    assert(replayed.where(col("status") === "accepted").count() == 0)
    assert(replayed.where(col("status") === "dup_of_index" &&
      col("match_id") === col("doc_id") && col("jaccard") === 1.0).count()
      >= accIds.count(_ >= 100))
  }

  test("near-dup batch writes its decisions slice in at most " +
      "leafNodeDefaultParallelism part files") {
    // the decisions are a union over the batch's cached relations; a cache
    // that kept all spark.sql.shuffle.partitions partitions wrote one
    // near-empty part file per partition
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") < 80L).select(col("doc_id"), col("text"))
    assert(docs.count() == 80)
    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "neardup-files").toString
    assert(Ingest.nearDupBatch(docs, 0L, root, threshold = 0.3))
    val parts = new java.io.File(s"$root/decisions/batch_id=0").listFiles()
      .count(f => f.getName.startsWith("part-"))
    val leaf = spark.conf.getOption("spark.sql.leafNodeDefaultParallelism")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    info(s"decisions/batch_id=0: $parts part files")
    assert(parts >= 1 && parts <= leaf, s"$parts part files, limit $leaf")
    assert(spark.read.parquet(s"$root/decisions/batch_id=0").count() == 80)
  }

  test("near-dup loop compaction: compacted decisions ≡ uncompacted, " +
      "index file count bounded, replay across the boundary safe, " +
      "foreign commitId rejected") {
    import spark.implicits._
    import graft.llm.MinHashLsh

    def mkDoc(i: Long, drop: Int = 0): (Long, String) =
      (i, (0 until 12 - drop).map(j => s"w${(i * 7 + j * 13) % 97}")
        .mkString(" "))
    val wave1 = (0L until 30L).map(mkDoc(_))
    val wave2 = (0L until 10L).map(i => mkDoc(i, drop = 2))
      .map { case (i, t) => (i + 1000, t) } ++ (100L until 110L).map(mkDoc(_))
    // wave 3: an exact copy of wave-1 doc 5 (J=1.0 — every band collides,
    // so it is caught iff compacted history survives) + fresh docs
    val wave3 = Seq((2005L, mkDoc(5)._2)) ++ (200L until 205L).map(mkDoc(_))
    val waves = Seq(wave1, wave2, wave3)

    // reference: the same three waves through the plain (uncompacted) loop
    val plainRoot = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "neardup-plain").toString
    val compactRoot = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "neardup-compact").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      assert(Ingest.nearDupBatch(w.toDF("doc_id", "text"), i.toLong,
        plainRoot, threshold = 0.3))
      assert(Ingest.nearDupBatch(w.toDF("doc_id", "text"), i.toLong,
        compactRoot, threshold = 0.3, compactEvery = 2))
    }
    val dPlain = spark.read.parquet(s"$plainRoot/decisions")
      .collect().map(_.toSeq).toSet
    assert(spark.read.parquet(s"$compactRoot/decisions")
      .collect().map(_.toSeq).toSet == dPlain)
    // the cross-compaction catch really happened: doc 2005 dups a BASE row
    assert(spark.read.parquet(s"$compactRoot/decisions/batch_id=2")
      .where(col("doc_id") === 2005L && col("status") === "dup_of_index" &&
        col("match_id") === 5L).count() == 1)
    // batches 0-1 folded into one committed base; only newer deltas live
    val fs = new org.apache.hadoop.fs.Path(compactRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marks = fs.listStatus(new org.apache.hadoop.fs.Path(
      compactRoot, "_compaction_marks/stream")).map(_.getPath.getName.toLong)
    assert(marks.nonEmpty && marks.max >= 1L)
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(
        compactRoot, "index"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
    assert(live.forall(_ > marks.max), live.mkString(","))
    // crash-window replay of an UNFOLDED batch across the boundary:
    // byte-identical decisions, accepted ids unchanged
    val d2Before = spark.read.parquet(s"$compactRoot/decisions/batch_id=2")
      .collect().map(_.toSeq).toSet
    fs.delete(new org.apache.hadoop.fs.Path(
      compactRoot, "_committed_batches/stream/2"), false)
    assert(Ingest.nearDupBatch(wave3.toDF("doc_id", "text"), 2L,
      compactRoot, threshold = 0.3, compactEvery = 2))
    assert(spark.read.parquet(s"$compactRoot/decisions/batch_id=2")
      .collect().map(_.toSeq).toSet == d2Before)
    // foreign commitId on the compacted index fails loudly
    val mismatch = intercept[IllegalStateException] {
      Ingest.nearDupBatch(wave3.toDF("doc_id", "text"), 77L, compactRoot,
        threshold = 0.3, commitId = "other")
    }
    assert(mismatch.getMessage.contains("commitId"))
  }

  test("streaming incremental repeated-gram trim: stream loop equals the " +
      "batch loop; crash-window replay is byte-identical (no " +
      "double-counting of the batch's own grams)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Dedup

    val wave1 = Seq(
      (1L, "a b c d e f g h"),
      (2L, "z1 z2 a b c z3 z4 z5"),   // "a b c" dups within wave 1
      (3L, "k1 k2 k3 k4 k5 k6"),
      (4L, "n1 n2 n3 n4 n5 n6"))
    val wave2 = Seq(
      (11L, "m1 m2 a b c m3 m4"),     // caught ONLY via the index
      (12L, "u1 u2 u3 u4 u5 u6"))

    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "trim-ix").toString
    val input = MemoryStream[(Long, String)]
    val q = Ingest.repeatedTrimWriter(input.toDF().toDF("doc_id", "text"),
        root, n = 3, minCount = 2).start()
    input.addData(wave1: _*); q.processAllAvailable()
    input.addData(wave2: _*); q.processAllAvailable()
    q.stop()

    // reference: the same two waves through the BATCH loop
    val w1 = wave1.toDF("doc_id", "text")
    val w2 = wave2.toDF("doc_id", "text")
    val d1 = Dedup.repeatedNgramTrimIncremental(w1,
      Dedup.buildGramIndex(w1.limit(0), n = 3), n = 3, minCount = 2)
    val d2 = Dedup.repeatedNgramTrimIncremental(w2,
      Dedup.buildGramIndex(w1, n = 3), n = 3, minCount = 2)
    val expected = d1.unionByName(d2).collect().map(_.toSeq).toSet

    val trimmed = spark.read.parquet(s"$root/trimmed")
    assert(trimmed.drop("batch_id").collect().map(_.toSeq).toSet == expected)
    // the cross-batch catch actually happened: doc 11 lost its "a b c"
    assert(trimmed.where(col("doc_id") === 11L)
      .select("kept_text").as[String].collect().head == "m1 m2 m3 m4")
    // committed batch id: skipped outright
    val trimCount = trimmed.count()
    assert(!Ingest.repeatedTrimBatch(w2, batchId = 1L, root,
      n = 3, minCount = 2))
    assert(spark.read.parquet(s"$root/trimmed").count() == trimCount)
    // crash-window replay: remove batch 1's marker and re-run — the index
    // read excludes batch 1's own partition, so the recomputation sees
    // exactly the pre-crash view and emits byte-identical rows, and the
    // own-subdir overwrite leaves ZERO residue (a flat append would leave
    // duplicate gram counts that double-count history for later batches)
    val marker = new org.apache.hadoop.fs.Path(
      root, "_committed_batches/stream/1")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    val gramIxCount = spark.read.parquet(s"$root/gram_index").count()
    assert(Ingest.repeatedTrimBatch(w2, batchId = 1L, root,
      n = 3, minCount = 2))
    val after = spark.read.parquet(s"$root/trimmed")
    assert(after.count() == trimCount,
      "replay must overwrite its own slice, not append residue")
    assert(after.drop("batch_id").collect().map(_.toSeq).toSet == expected,
      "replayed rows must be byte-identical to the originals")
    // the gram index carries no duplicate rows either — a later batch's
    // count merge would otherwise see doubled history
    assert(spark.read.parquet(s"$root/gram_index").count() == gramIxCount)
    // and the replayed batch did not double-count its own grams: doc 12
    // stays untouched on replay too
    assert(after.where(col("doc_id") === 12L)
      .select("kept_text").distinct().as[String].collect().toSeq
      == Seq("u1 u2 u3 u4 u5 u6"))
  }

  test("streaming incremental span dedup: stream loop equals the batch " +
      "loop; crash-window replay is byte-identical (the batch's own " +
      "hashes must not masquerade as history)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Dedup

    val wave1 = Seq(
      (1L, "aa bb. cc dd. ee ff"),
      (2L, "cc dd. gg hh"))           // "cc dd" dups within wave 1
    val wave2 = Seq(
      (11L, "ee ff. ii jj"),          // caught ONLY via the index
      (12L, "kk ll. kk ll"))          // within-doc repeat

    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "span-ix").toString
    val input = MemoryStream[(Long, String)]
    val q = Ingest.spanDedupWriter(input.toDF().toDF("doc_id", "text"),
        root).start()
    input.addData(wave1: _*); q.processAllAvailable()
    input.addData(wave2: _*); q.processAllAvailable()
    q.stop()

    // reference: the same two waves through the batch operator
    val w1 = wave1.toDF("doc_id", "text")
    val w2 = wave2.toDF("doc_id", "text")
    val d1 = Dedup.spanDedupIncremental(w1, Dedup.spanHashes(w1.limit(0)))
    val d2 = Dedup.spanDedupIncremental(w2, Dedup.spanHashes(w1))
    val expected = d1.unionByName(d2).collect().map(_.toSeq).toSet

    val deduped = spark.read.parquet(s"$root/deduped")
    assert(deduped.drop("batch_id").collect().map(_.toSeq).toSet == expected)
    // the cross-batch catch actually happened: doc 11 lost "ee ff"
    assert(deduped.where(col("doc_id") === 11L)
      .select("kept_text").as[String].collect().head == "ii jj")
    // within-batch rule still active: doc 12 keeps one "kk ll"
    assert(deduped.where(col("doc_id") === 12L)
      .select("kept_text").as[String].collect().head == "kk ll")
    // committed batch id: skipped outright
    val n0 = deduped.count()
    assert(!Ingest.spanDedupBatch(w2, batchId = 1L, root))
    assert(spark.read.parquet(s"$root/deduped").count() == n0)
    // crash-window replay: remove batch 1's marker and re-run — the index
    // read excludes batch 1's own partition, so the batch's own span
    // hashes cannot masquerade as history (which would wipe every span on
    // replay), the rows come back byte-identical, and the own-subdir
    // overwrite leaves zero residue
    val marker = new org.apache.hadoop.fs.Path(
      root, "_committed_batches/stream/1")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    val spanIxCount = spark.read.parquet(s"$root/span_index").count()
    assert(Ingest.spanDedupBatch(w2, batchId = 1L, root))
    val after = spark.read.parquet(s"$root/deduped")
    assert(after.count() == n0,
      "replay must overwrite its own slice, not append residue")
    assert(after.drop("batch_id").collect().map(_.toSeq).toSet == expected,
      "replayed rows must be byte-identical to the originals")
    assert(spark.read.parquet(s"$root/span_index").count() == spanIxCount)
  }

  test("streaming URL dedup loop: decisions equal the batch operator, the " +
      "folded delta index equals one full pass, and a crash-window replay " +
      "is byte-identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Dedup

    val wave1 = Seq(
      (1L, "https://a.com/p", 10.0), (2L, "https://a.com/p/", 30.0),
      (3L, "https://b.com/q", 20.0))
    val wave2 = Seq(
      (11L, "HTTPS://A.com/p#x", 25.0),              // loses to id 2
      (12L, "https://b.com/q?utm_source=z", 99.0),   // improves
      (13L, "https://c.com/r", 7.0))                 // new address

    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "url-ix").toString
    val input = MemoryStream[(Long, String, Double)]
    val q = Ingest.urlDedupWriter(
      input.toDF().toDF("doc_id", "url", "quality"), root).start()
    input.addData(wave1: _*); q.processAllAvailable()
    input.addData(wave2: _*); q.processAllAvailable()
    q.stop()

    val w1 = wave1.toDF("doc_id", "url", "quality")
    val w2 = wave2.toDF("doc_id", "url", "quality")
    val idxCols = Seq("canonical_url", "n_copies", "keep_id", "keep_quality")
    val idx0 = Dedup.urlKeepBest(w1, col("url"), col("quality"))
      .select(idxCols.map(col): _*)
    val expected2 = Dedup.urlKeepBestIncremental(w2, idx0, col("url"),
      col("quality")).collect().map(_.toSeq).toSet

    val decisions = spark.read.parquet(s"$root/decisions")
    assert(decisions.where(col("batch_id") === 1).drop("batch_id")
      .collect().map(_.toSeq).toSet == expected2)
    // the monoid fold of the stored deltas IS the full-pass index
    val folded = Dedup.mergeUrlIndex(
      spark.read.parquet(s"$root/state").drop("batch_id"))
    val full = Dedup.urlKeepBest(w1.unionByName(w2), col("url"),
      col("quality")).select(idxCols.map(col): _*)
    assert(folded.collect().map(_.toSeq).toSet ==
      full.collect().map(_.toSeq).toSet)
    // committed batch id: skipped outright
    assert(!Ingest.urlDedupBatch(w2, 1L, root))
    // crash-window replay: decisions recompute byte-identical against the
    // pre-batch index (own delta excluded from the fold), no residue
    val marker = new org.apache.hadoop.fs.Path(
      root, "_committed_batches/stream/1")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    assert(Ingest.urlDedupBatch(w2, 1L, root))
    assert(spark.read.parquet(s"$root/decisions")
      .where(col("batch_id") === 1).drop("batch_id")
      .collect().map(_.toSeq).toSet == expected2)
    assert(Dedup.mergeUrlIndex(
        spark.read.parquet(s"$root/state").drop("batch_id"))
      .collect().map(_.toSeq).toSet ==
      full.collect().map(_.toSeq).toSet)
  }

  test("streaming URL dedup compaction: compacted loop ≡ uncompacted loop " +
      "≡ one full pass; deltas reclaimed; replay across the compaction " +
      "boundary is byte-identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Dedup

    val waves = Seq(
      Seq((1L, "https://a.com/p", 10.0), (2L, "https://a.com/p/", 30.0)),
      Seq((11L, "HTTPS://A.com/p#x", 25.0), (12L, "https://b.com/q", 9.0)),
      Seq((21L, "https://b.com/q?utm_source=z", 99.0),
        (22L, "https://c.com/r", 7.0)))

    def runStream(compactEvery: Int): String = {
      val root = Files.createTempDirectory(
        java.nio.file.Paths.get("target"), s"url-cx$compactEvery").toString
      val input = MemoryStream[(Long, String, Double)]
      val q = Ingest.urlDedupWriter(
        input.toDF().toDF("doc_id", "url", "quality"), root,
        compactEvery = compactEvery).start()
      waves.foreach { w => input.addData(w: _*); q.processAllAvailable() }
      q.stop()
      root
    }
    val plainRoot = runStream(0)
    val compactRoot = runStream(2)

    // decisions identical per batch whatever the compaction cadence
    val dPlain = spark.read.parquet(s"$plainRoot/decisions")
      .collect().map(_.toSeq).toSet
    val dCompact = spark.read.parquet(s"$compactRoot/decisions")
      .collect().map(_.toSeq).toSet
    assert(dPlain == dCompact)

    // snapshot ≡ uncompacted fold ≡ one full pass
    val full = Dedup.urlKeepBest(
        waves.flatten.toDF("doc_id", "url", "quality"),
        col("url"), col("quality"))
      .select("canonical_url", "n_copies", "keep_id", "keep_quality")
      .collect().map(_.toSeq).toSet
    assert(Ingest.urlIndexSnapshot(spark, plainRoot)
      .collect().map(_.toSeq).toSet == full)
    assert(Ingest.urlIndexSnapshot(spark, compactRoot)
      .collect().map(_.toSeq).toSet == full)

    // compaction actually ran and reclaimed: a committed base exists and
    // only deltas NEWER than it remain on disk
    val fs = new org.apache.hadoop.fs.Path(compactRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marks = fs.listStatus(new org.apache.hadoop.fs.Path(
      compactRoot, "_compaction_marks/stream")).map(_.getPath.getName.toLong)
    assert(marks.nonEmpty)
    val k = marks.max
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(
        compactRoot, "state")).map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
    assert(leftover.forall(_ > k), leftover.mkString(","))

    // crash-window replay of the batch AFTER the compaction boundary:
    // prior fold = committed base + later deltas minus own residue →
    // byte-identical decisions, snapshot unmoved
    val replayId = k + 1
    val w = waves(replayId.toInt).toDF("doc_id", "url", "quality")
    val marker = new org.apache.hadoop.fs.Path(
      compactRoot, s"_committed_batches/stream/$replayId")
    fs.delete(marker, false)
    assert(Ingest.urlDedupBatch(w, replayId, compactRoot, compactEvery = 2))
    assert(spark.read.parquet(s"$compactRoot/decisions")
      .collect().map(_.toSeq).toSet == dPlain)
    assert(Ingest.urlIndexSnapshot(spark, compactRoot)
      .collect().map(_.toSeq).toSet == full)

    // commitId mismatch on a compacted state fails LOUDLY: markers are
    // commitId-scoped but compacted bases are not, so a foreign commitId
    // would see baseK = -1 and silently fold only the surviving deltas —
    // omitting all compacted history whose deltas were deleted
    val mismatch = intercept[IllegalStateException] {
      Ingest.urlIndexSnapshot(spark, compactRoot, commitId = "other")
    }
    assert(mismatch.getMessage.contains("commitId") &&
      mismatch.getMessage.contains("stream"), mismatch.getMessage)
    val mismatch2 = intercept[IllegalStateException] {
      Ingest.urlDedupBatch(w, 999L, compactRoot, commitId = "other",
        compactEvery = 2)
    }
    assert(mismatch2.getMessage.contains("commitId"))
    // the writer's own commitId still reads fine (crash residue —
    // an UNMARKED newer base — must not trip the guard either way)
    assert(Ingest.urlIndexSnapshot(spark, compactRoot)
      .collect().map(_.toSeq).toSet == full)
  }

  test("streaming perceptual dedup loop: decisions equal the batch " +
      "operator, accepted hashes join the index, replay is byte-identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Multimodal

    val base = "the quick brown fox jumps over the lazy dog " * 12
    val wave1 = Seq((1L, base), (2L, base + "second image payload here"))
    // 11: in-place twin of 1 (dup_of_index); 12: fresh; 13: empty
    val wave2 = Seq(
      (11L, base.updated(5, 'Q').updated(200, 'x')),
      (12L, "completely different payload bytes " * 14),
      (13L, ""))

    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "perc-ix").toString
    val input = MemoryStream[(Long, String)]
    val q = Ingest.perceptualDedupWriter(
      input.toDF().toDF("doc_id", "text")
        .select(col("doc_id"), encode(col("text"), "utf-8").as("payload")),
      root).start()
    input.addData(wave1: _*); q.processAllAvailable()
    input.addData(wave2: _*); q.processAllAvailable()
    q.stop()

    val w1 = wave1.toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
    val w2 = wave2.toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
    val expected2 = Multimodal.perceptualNearDupIncremental(
        w2, Multimodal.buildDHashIndex(w1), maxHamming = 10)
      .collect().map(_.toSeq).toSet
    val decisions2 = spark.read.parquet(s"$root/decisions/batch_id=1")
    assert(decisions2.collect().map(_.toSeq).toSet == expected2)
    // the index holds exactly the accepted hashes of both waves
    val idx = spark.read.parquet(s"$root/index")
    val acc1 = Multimodal.perceptualNearDupIncremental(
        w1, Multimodal.buildDHashIndex(w1.limit(0)), maxHamming = 10)
      .where(col("status") === "accepted").count()
    assert(idx.where(col("batch_id") === 0).count() == acc1)
    val acc2 = expected2.count(_.contains("accepted"))
    assert(idx.where(col("batch_id") === 1).count() == acc2.toLong)
    // committed batch id: skipped outright
    assert(!Ingest.perceptualDedupBatch(w2, 1L, root))
    // crash-window replay: own index residue excluded → byte-identical
    val marker = new org.apache.hadoop.fs.Path(
      root, "_committed_batches/stream/1")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    assert(Ingest.perceptualDedupBatch(w2, 1L, root))
    assert(spark.read.parquet(s"$root/decisions/batch_id=1")
      .collect().map(_.toSeq).toSet == expected2)
    // the replay OVERWROTE its own index/batch_id=1 slice — no duplicate
    // dHash rows persist (a flat append would inflate maxBucket's
    // per-(band, chunk) population counts for every later batch)
    val idxAfter = spark.read.parquet(s"$root/index")
    assert(idxAfter.where(col("batch_id") === 1).count() == acc2.toLong)
    assert(idxAfter.count() == idxAfter.dropDuplicates("doc_id").count())
  }

  test("streaming overlap data card: 3-batch stream state is bit-identical " +
      "to the one-shot full-pass state; replay neither grows the state " +
      "nor moves the card") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Dedup

    // three micro-batches, overlap seeded ACROSS batches: "t3"/"t4" appear
    // under A in batch 1 and under B in batches 2-3, so the card's A-B row
    // only becomes visible through the cross-batch merge
    val waves = Seq(
      Seq((1L, "A", "t1 one"), (2L, "A", "t2 two"), (3L, "A", "t3 three")),
      Seq((4L, "B", "t3 three"), (5L, "B", "t5 five"), (6L, "C", "t7 seven")),
      Seq((7L, "A", "t4 four"), (8L, "B", "t4 four"), (9L, "C", "t8 eight")))

    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "overlap-card").toString
    val input = MemoryStream[(Long, String, String)]
    val q = Ingest.overlapCardWriter(
      input.toDF().toDF("doc_id", "source", "text"), root, k = 16).start()
    waves.foreach { w => input.addData(w: _*); q.processAllAvailable() }
    q.stop()

    // stream state ≡ one-shot: merged signatures bit-identical, matrix
    // equal row for row
    val all = waves.flatten.toDF("doc_id", "source", "text")
    val oneShot = Dedup.sourceOverlapState(all, k = 16)
    val streamed = Dedup.mergeOverlapStates(
      spark.read.parquet(s"$root/state").drop("batch_id"))
    val sigDiff = oneShot.select(col("_src"), col("_sig"))
      .join(streamed.select(col("_src"), col("_sig").as("_sig2")), "_src")
      .where(col("_sig") =!= col("_sig2"))
    assert(sigDiff.count() == 0)
    assert(oneShot.count() == streamed.count())
    val mOne = Dedup.overlapFromState(oneShot)
    val card = spark.read.parquet(s"$root/card/batch_id=2")
    assert(mOne.exceptAll(card).count() == 0 &&
      card.exceptAll(mOne).count() == 0)
    // the cross-batch A-B overlap is on the card with both shared docs
    assert(card.where(col("src_a") === "A" && col("src_b") === "B" &&
      col("est_jaccard") > 0).count() == 1)
    // committed batch id: skipped outright
    val w2 = waves(1).toDF("doc_id", "source", "text")
    assert(!Ingest.overlapCardBatch(w2, batchId = 1L, root, k = 16))
    // crash-window replay: drop batch 1's marker and re-run — the replay
    // overwrites its own batch_id=1 state dir (no growth) and the merge
    // algebra is idempotent, so the refreshed card is unchanged
    val stateRows = spark.read.parquet(s"$root/state").count()
    val marker = new org.apache.hadoop.fs.Path(
      root, "_committed_batches/stream/1")
    marker.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(marker, false)
    assert(Ingest.overlapCardBatch(w2, batchId = 1L, root, k = 16))
    assert(spark.read.parquet(s"$root/state").count() == stateRows)
    val cardReplay = spark.read.parquet(s"$root/card/batch_id=1")
    val mergedNow = Dedup.overlapFromState(Dedup.mergeOverlapStates(
      spark.read.parquet(s"$root/state").drop("batch_id")))
    assert(cardReplay.exceptAll(mergedNow).count() == 0 &&
      mergedNow.exceptAll(cardReplay).count() == 0)
  }

  test("streaming semantic dedup loop: codebook bootstraps once, " +
      "decisions equal the hand-composed batch loop, replay is " +
      "byte-identical, compaction bounds the index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Similarity

    val w1 = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(2.0, 0.0, 0.0, 0.0)))   // dup of 1 within wave 1
    val w2 = Seq(
      (10L, Seq(3.0, 0.0, 0.0, 0.0)),  // dup_of_index (1)
      (12L, Seq(0.0, 0.0, 1.0, 0.0)),  // accepted
      (13L, Seq(0.0, 0.0, 0.9, -0.1))) // dup_in_batch (12)
    val w3 = Seq(
      (20L, Seq(0.0, 0.0, 2.0, 0.0)),  // dup_of_index (12, cross-batch)
      (21L, Seq(1.0, 1.0, 0.0, 0.0)))  // cos .707 to anchors → accepted

    val root = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "sem-ix").toString
    val input = MemoryStream[(Long, Seq[Double])]
    val q = Ingest.semanticDedupWriter(
      input.toDF().toDF("vec_id", "embedding"), root, k = 2, tau = 0.95,
      compactEvery = 2).start()
    Seq(w1, w2, w3).foreach { w => input.addData(w: _*); q.processAllAvailable() }
    q.stop()

    // reference: the same three waves hand-composed through the batch API
    // (codebook frozen from wave 1, index = accumulated accepted vectors)
    def df(w: Seq[(Long, Seq[Double])]) = w.toDF("vec_id", "embedding")
    val centers = Similarity.trainCodebook(df(w1), k = 2)
    def emptyIdx = df(w1).limit(0).select(col("vec_id"),
      lit(0).cast("int").as("cluster"), col("embedding"))
    var idx = emptyIdx
    val refs = Seq(w1, w2, w3).map { w =>
      val d = Similarity.semanticDedupIncremental(df(w), idx, centers,
        tau = 0.95)
      idx = idx.unionByName(df(w).join(
        d.where(col("status") === "accepted").select("vec_id", "cluster"),
        "vec_id").select("vec_id", "cluster", "embedding"))
      d.collect().map(_.toSeq).toSet
    }
    Seq(0, 1, 2).foreach { b =>
      val got = spark.read.parquet(s"$root/decisions/batch_id=$b")
        .collect().map(_.toSeq).toSet
      assert(got == refs(b), s"batch $b decisions diverge")
    }
    // cross-batch catch really happened
    assert(spark.read.parquet(s"$root/decisions/batch_id=2")
      .where(col("vec_id") === 20L && col("status") === "dup_of_index" &&
        col("match_id") === 12L).count() == 1)
    // the frozen codebook was written once and round-trips
    val cb = spark.read.parquet(s"$root/codebook").orderBy("cell")
      .collect().map(_.getSeq[Double](1).toArray)
    assert(cb.length == 2 && cb.zip(centers).forall {
      case (a, b2) => a.sameElements(b2) })
    // compaction bounded the index: batches 0-1 folded into one base,
    // only newer deltas live
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marks = fs.listStatus(new org.apache.hadoop.fs.Path(
      root, "_compaction_marks/stream")).map(_.getPath.getName.toLong)
    assert(marks.nonEmpty && marks.max >= 1L)
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(root, "index"))
      .map(_.getPath.getName).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
    assert(live.forall(_ > marks.max), live.mkString(","))
    // committed batch id: skipped outright
    assert(!Ingest.semanticDedupBatch(df(w3), 2L, root, k = 2, tau = 0.95,
      compactEvery = 2))
    // crash-window replay of an UNFOLDED batch: byte-identical decisions,
    // index unchanged (own-partition exclusion + own-subdir overwrite)
    val marker = new org.apache.hadoop.fs.Path(
      root, "_committed_batches/stream/2")
    fs.delete(marker, false)
    val idxCount = spark.read.parquet(s"$root/index").count()
    assert(Ingest.semanticDedupBatch(df(w3), 2L, root, k = 2, tau = 0.95,
      compactEvery = 2))
    assert(spark.read.parquet(s"$root/decisions/batch_id=2")
      .collect().map(_.toSeq).toSet == refs(2))
    assert(spark.read.parquet(s"$root/index").count() == idxCount)

    // an EMPTY first batch (streams can open with one) commits as a
    // no-op without freezing a vacuous codebook; the first non-empty
    // batch bootstraps normally
    val root2 = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "sem-ix2").toString
    assert(Ingest.semanticDedupBatch(df(w1).limit(0), 0L, root2, k = 2))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      root2, "_codebook_mark/stream")))
    // the committed empty batch still has a readable (schema-only)
    // decisions slice — consumers enumerating decisions by committed
    // batch ids must never hit a missing parquet path
    val emptySlice = spark.read.parquet(s"$root2/decisions/batch_id=0")
    assert(emptySlice.count() == 0)
    assert(emptySlice.columns.toSeq ==
      Seq("vec_id", "cluster", "status", "match_id", "sim"))
    assert(!Ingest.semanticDedupBatch(df(w1).limit(0), 0L, root2, k = 2),
      "the empty batch must still commit its marker")
    assert(Ingest.semanticDedupBatch(df(w1), 1L, root2, k = 2))
    assert(spark.read.parquet(s"$root2/decisions/batch_id=1").count() == 3)
    // and the union over ALL committed slices reads cleanly
    assert(spark.read.parquet(s"$root2/decisions").count() == 3)

    // foreign commitId against an existing codebook fails LOUDLY instead
    // of silently retraining and overwriting it (the stored index
    // clusters would disagree with new assignments and cell-confined
    // probes would miss duplicates)
    val cbMismatch = intercept[IllegalStateException] {
      Ingest.semanticDedupBatch(df(w2), 0L, root2, k = 2,
        commitId = "other")
    }
    assert(cbMismatch.getMessage.contains("commitId") &&
      cbMismatch.getMessage.contains("stream"), cbMismatch.getMessage)
    // the writer's own commitId is unaffected
    assert(Ingest.semanticDedupBatch(df(w2), 2L, root2, k = 2))
    // own-commitId crash residue (codebook written, mark lost) stays
    // self-healing: the deterministic trainer rewrites the identical
    // codebook from the replayed batch instead of wedging the stream
    val root3 = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "sem-ix3").toString
    assert(Ingest.semanticDedupBatch(df(w1), 0L, root3, k = 2))
    val cb3 = spark.read.parquet(s"$root3/codebook").orderBy("cell")
      .collect().map(_.getSeq[Double](1).toArray)
    fs.delete(new org.apache.hadoop.fs.Path(
      root3, "_codebook_mark/stream"), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      root3, "_committed_batches/stream/0"), false)
    assert(Ingest.semanticDedupBatch(df(w1), 0L, root3, k = 2))
    val cb3b = spark.read.parquet(s"$root3/codebook").orderBy("cell")
      .collect().map(_.getSeq[Double](1).toArray)
    assert(cb3.length == cb3b.length && cb3.zip(cb3b).forall {
      case (a, b2) => a.sameElements(b2) })
  }

  test("overlap-card compaction: compacted card ≡ uncompacted card ≡ " +
      "one-shot, state file count bounded, replay across the boundary " +
      "safe, foreign commitId rejected") {
    import spark.implicits._
    import graft.llm.Dedup

    // five batches; cross-batch overlap (A's tokens reappear under B/C in
    // later batches) so the card depends on history surviving compaction
    val waves = (0 until 5).map { b =>
      Seq((b * 10L + 1, "A", s"tok$b alpha shared phrase"),
        (b * 10L + 2, "B", s"tok${math.max(b - 1, 0)} alpha shared phrase"),
        (b * 10L + 3, if (b % 2 == 0) "A" else "C", s"solo$b gamma delta"))
    }
    val plainRoot = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ovl-plain").toString
    val compactRoot = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ovl-compact").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      val df = w.toDF("doc_id", "source", "text")
      assert(Ingest.overlapCardBatch(df, i.toLong, plainRoot, k = 16))
      assert(Ingest.overlapCardBatch(df, i.toLong, compactRoot, k = 16,
        compactEvery = 2))
    }
    // final refreshed cards identical, and both equal the one-shot card
    val cardPlain = spark.read.parquet(s"$plainRoot/card/batch_id=4")
    val cardCompact = spark.read.parquet(s"$compactRoot/card/batch_id=4")
    assert(cardPlain.exceptAll(cardCompact).count() == 0 &&
      cardCompact.exceptAll(cardPlain).count() == 0)
    val oneShot = Dedup.overlapFromState(Dedup.sourceOverlapState(
      waves.flatten.toDF("doc_id", "source", "text"), k = 16))
    assert(oneShot.exceptAll(cardCompact).count() == 0 &&
      cardCompact.exceptAll(oneShot).count() == 0)
    // compaction ran and bounded the state dir: a committed base exists,
    // live deltas < compactEvery + this batch, total dirs bounded
    val fs = new org.apache.hadoop.fs.Path(compactRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marks = fs.listStatus(new org.apache.hadoop.fs.Path(
      compactRoot, "_compaction_marks/stream")).map(_.getPath.getName.toLong)
    assert(marks.nonEmpty)
    val k9 = marks.max
    val liveDeltas = fs.listStatus(new org.apache.hadoop.fs.Path(
        compactRoot, "state")).map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
    assert(liveDeltas.forall(_ > k9), liveDeltas.mkString(","))
    assert(liveDeltas.length <= 2,
      s"state dir not bounded: ${liveDeltas.length} live deltas")
    // replay across the compaction boundary: byte-identical card, no
    // state growth
    val last = waves.last.toDF("doc_id", "source", "text")
    val marker = new org.apache.hadoop.fs.Path(
      compactRoot, "_committed_batches/stream/4")
    fs.delete(marker, false)
    assert(Ingest.overlapCardBatch(last, 4L, compactRoot, k = 16,
      compactEvery = 2))
    val cardAfter = spark.read.parquet(s"$compactRoot/card/batch_id=4")
    assert(cardAfter.exceptAll(cardPlain).count() == 0 &&
      cardPlain.exceptAll(cardAfter).count() == 0)
    // a foreign commitId cannot silently read past the compaction
    val boom = intercept[IllegalStateException] {
      Ingest.overlapCardBatch(last, 99L, compactRoot, k = 16,
        commitId = "other")
    }
    assert(boom.getMessage.contains("commitId"))
  }

  test("trim-index compaction: bounded gram-index file count; trimmed " +
      "rows and cross-batch catches identical to the uncompacted loop") {
    import spark.implicits._

    // the shared phrase appears ONCE in batch 0 and once in batch 4 —
    // batch 4 can only trim it if batch 0's gram counts survived the
    // compactions at batches 1 and 3
    val phrase = "w1 w2 w3"
    val waves = Seq(
      Seq((1L, s"$phrase a0 b0 c0"), (2L, "x0 y0 z0 q0")),
      Seq((11L, "x1 y1 z1 q1"), (12L, "r1 s1 t1 u1")),
      Seq((21L, "x2 y2 z2 q2")),
      Seq((31L, "x3 y3 z3 q3")),
      Seq((41L, s"m4 n4 $phrase o4"), (42L, "x4 y4 z4 q4")))
    val plainRoot = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "trim-plain").toString
    val compactRoot = Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "trim-compact").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      val df = w.toDF("doc_id", "text")
      assert(Ingest.repeatedTrimBatch(df, i.toLong, plainRoot,
        n = 3, minCount = 2))
      assert(Ingest.repeatedTrimBatch(df, i.toLong, compactRoot,
        n = 3, minCount = 2, compactEvery = 2))
    }
    // per-batch trimmed rows byte-identical across the two loops
    val tPlain = spark.read.parquet(s"$plainRoot/trimmed")
      .collect().map(_.toSeq).toSet
    val tCompact = spark.read.parquet(s"$compactRoot/trimmed")
      .collect().map(_.toSeq).toSet
    assert(tCompact == tPlain)
    // the cross-batch catch REALLY rode the compacted base: doc 41 lost
    // the phrase that entered the index at batch 0
    val d41 = spark.read.parquet(s"$compactRoot/trimmed")
      .where(col("doc_id") === 41L)
      .select("kept_text").as[String].collect().head
    assert(d41 == "m4 n4 o4", d41)
    // gram-index file count bounded: live deltas above the newest mark,
    // at most compactEvery of them, plus exactly one compacted base
    val fs = new org.apache.hadoop.fs.Path(compactRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val marks = fs.listStatus(new org.apache.hadoop.fs.Path(
      compactRoot, "_compaction_marks/stream")).map(_.getPath.getName.toLong)
    assert(marks.nonEmpty)
    val live = fs.listStatus(new org.apache.hadoop.fs.Path(
        compactRoot, "gram_index")).map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
    assert(live.forall(_ > marks.max) && live.length <= 2,
      live.mkString(","))
    val bases = fs.listStatus(new org.apache.hadoop.fs.Path(
      compactRoot, "compacted")).map(_.getPath.getName)
    assert(bases.length == 1 && bases.head == s"upto=${marks.max}",
      bases.mkString(","))
    // and the uncompacted loop still carries one delta dir per batch
    // (the growth the compaction exists to bound)
    val plainDirs = fs.listStatus(new org.apache.hadoop.fs.Path(
        plainRoot, "gram_index")).map(_.getPath.getName)
      .count(_.startsWith("batch_id="))
    assert(plainDirs == waves.length)
  }
}
