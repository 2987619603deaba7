package perfbench

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SaveMode}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.llm.{Cluster, Dedup, MinHashLsh, Sampling, Selection, TextAnalysis}
import graft.operators.TfAggregate
import graft.sources.{Bars, Checkpoint, Lake, Tables}
import graft.streaming.Ingest

/** `curation`: the `corpus_pipeline_v5` contract key itself, built by
  * `SparkEntry.queries` over the generated documents (its stage pins run
  * eagerly as the frame is built) and consumed by a full noop-sink write.
  * The cold check pass is the unmeasured warm-up. */
final class CurationWorkload(ctx: Ctx) extends Workload {
  import ctx.{op, spark}
  private val key = "corpus_pipeline_v5"
  private var rows = 0L
  /** The key's output fingerprint on the check pass. */
  private var keyPrint = ""

  def stage(): Unit = rows = Tables.documents(spark, ctx.input).count()
  def inputBytes: Double = ctx.duBytes(s"${ctx.input}/documents.parquet").toDouble
  def inputRows: Double = rows.toDouble

  /** Drop every block-manager pin the key left behind (its stage
    * boundaries), so each pass starts from the same storage state. */
  private def releasePins(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def pass(i: Int, check: Boolean, rootId: Long): PassOut = {
    var out: DataFrame = null
    var print: () => String = null
    val dump = s"${ctx.work}/check/$key"
    ctx.root(rootId, "workload.curation") {
      op(s"llm.$key") {
        out = SparkEntry.queries(key)(spark, ctx.input)
        val (o, p) = Check.observed(out)
        print = p
        // the unmeasured check pass consumes the output by writing the
        // dump the oracle comparison reads
        if (check) o.write.mode(SaveMode.Overwrite).parquet(dump)
        else ctx.noop(o)
      }
    }
    // stage-pin bytes the output still reads from at the end of the chain
    // (pins it no longer references are released whenever the JVM's
    // garbage collector lets Spark's context cleaner see them)
    val outPins = out.queryExecution.analyzed.collect {
      case r: LogicalRDD => r.rdd.id
    }.toSet
    val pinnedBytes = spark.sparkContext.getRDDStorageInfo
      .filter(r => outPins(r.id)).map(r => r.memSize + r.diskSize).sum.toDouble
    // every pass reproduces the check pass's output fingerprint
    if (check) keyPrint = print()
    releasePins()
    // the closed-loop operation is one run of the key over the corpus
    val chainUs = ctx.durations(rootId, "workload.curation").sum
    PassOut(Seq(("curation.chain", chainUs, ctx.tracePass)),
      pinnedBytes, pinnedBytes, inputRows, Map(key -> print()), Map.empty,
      if (check) Map(key -> dump) else Map.empty)
  }

  private val stages = Seq("url_dedup", "normalize", "gopher", "lines", "decontam",
    "span_dedup", "trim", "clusters", "dsir", "shard_shuffle")

  /** The curation funnel: the key's chain decomposed into its ten library
    * stages with the key's parameters, an eager local checkpoint after each,
    * so every stage's time and rows-out are its own. It runs outside any
    * measured wall, and its output must equal the key's. */
  private def funnel(): Map[String, Double] = {
    val pins = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
    def st(name: String)(df: => DataFrame): DataFrame =
      op(s"llm.$name") {
        val p = df.localCheckpoint(eager = true)
        pins(name) = p
        p
      }
    val id = ctx.tracer.newId()
    val out = ctx.tracer.spanWithId(id, "probe.curation_funnel", "probe") {
      val d = Tables.documents(spark, ctx.input)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(". - subscribe now..."))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(". 12 345 6789"))
            .otherwise(lit(""))))
      // stage 0 keeps one rendition per canonical address: the keep set
      // of the `url_dedup` key, which derives the same synthetic URLs
      val s0 = st("url_dedup") {
        d.join(SparkEntry.queries("url_dedup")(spark, ctx.input)
          .select(col("keep_id").as("doc_id")), "doc_id")
      }
      val norm = st("normalize") {
        s0.withColumn("text", TextAnalysis.normalize(col("text")))
      }
      val benchmark = norm.where(col("doc_id") % 10 === 0).select("doc_id", "text")
      val corpus = norm.where(col("doc_id") % 10 =!= 0)
      val gated = st("gopher") {
        TextAnalysis.gopherRules(corpus)
          .where(col("pass_gopher") === 1).select("doc_id", "text", "source")
      }
      val lined = st("lines") {
        TextAnalysis.lineQualityRules(gated, sepRegex = "\\. ", joinSep = ". ")
          .where(col("keep_doc") === 1 && col("kept_text") =!= "")
          .select(col("doc_id"), col("kept_text").as("text"),
            col("n_flagged").as("n_line_flagged"))
          .join(gated.select("doc_id", "source"), "doc_id")
      }
      val clean = st("decontam") {
        val contaminated =
          Dedup.contaminationNgram(benchmark, lined.select("doc_id", "text"), n = 8)
            .where(col("share_frac") >= 0.3)
            .select(col("test_id").as("doc_id"))
        lined.join(contaminated, Seq("doc_id"), "left_anti")
      }
      val span = st("span_dedup") {
        Dedup.spanDedup(clean.select("doc_id", "text"))
          .where(col("kept_text") =!= "")
          .join(clean.select("doc_id", "source", "n_line_flagged"), "doc_id")
      }
      val trimStage = st("trim") {
        Dedup.repeatedNgramTrim(
            span.select(col("doc_id"), col("kept_text").as("text")),
            n = 10, minCount = 2)
          .select(col("doc_id"),
            col("n_removed_tokens").as("n_trim_removed"),
            col("kept_text").as("trim_text"))
          .where(col("trim_text") =!= "")
          .join(span.select("doc_id", "source", "n_spans", "n_removed",
            "n_line_flagged"), "doc_id")
      }
      val canon = st("clusters") {
        val clusters = Cluster.nearDupClusters(
            trimStage.select(col("doc_id"), col("trim_text").as("text")))
          .where(col("is_canonical") === 1)
          .select(col("doc_id"), col("cluster_size"))
        trimStage.join(clusters, "doc_id")
      }
      val kept = st("dsir") {
        val selected = Selection.importanceSample(
            canon.select(col("doc_id"), col("trim_text").as("text"),
              col("source")),
            isTarget = col("source").isin("src0", "src1"), quantile = 0.5)
          .where(col("kept") === 1)
          .select(col("doc_id"), col("avg_log_weight"))
        canon.join(selected, "doc_id")
      }
      st("shard_shuffle") {
        Sampling.shardShuffle(kept, "doc_id", nShards = 4, seed = "v5")
          .select(col("doc_id"), col("shard"), col("pos_in_shard"),
            col("cluster_size"), col("n_spans"), col("n_removed"),
            col("n_line_flagged"), col("n_trim_removed"),
            col("avg_log_weight"),
            size(TextAnalysis.tokens(col("trim_text"))).as("n_tokens"))
          .orderBy("shard", "pos_in_shard")
      }
    }
    val got = Check.fingerprint(out)
    require(got == keyPrint,
      s"curation funnel output $got != $key output $keyPrint")
    val rowsOut = pins.map { case (k, df) => s"llm.${k}_rows_out" -> df.count().toDouble }
    pins.values.foreach(GraftBridge.releasePinned)
    rowsOut.toMap ++ stages.map(s => s"llm.${s}_ms" ->
      ctx.durations(id, s"llm.$s").sum / 1e3).toMap
  }

  /** The funnel, plus the native expressions of the chain, each timed as a
    * lone projection over the corpus (replicated 4x to amortize job
    * overhead) minus the same projection of `doc_id` alone, plus the LSH
    * useful-to-attempted ratio. */
  override def probes(): Map[String, Double] = {
    val docs = Tables.documents(spark, ctx.input).select(col("doc_id"), col("text"))
    val rep = docs.withColumn("_r", explode(sequence(lit(0), lit(3))))
      .select((col("doc_id") * 4 + col("_r")).as("doc_id"), col("text"),
        transform(sequence(lit(0), lit(15)),
          j => (pmod(xxhash64(col("text"), j), lit(2001L)) - 1000).cast("double") / 1000.0)
          .as("vec"))
      .localCheckpoint(eager = true)
    val n = rep.count().toDouble
    val bloom = docs.select(xxhash64(col("text")).as("h"))
      .where(col("doc_id") % 2 === 0).stat.bloomFilter("h", 20000L, 0.01)
    def timeNs(f: DataFrame => DataFrame): Double = {
      ctx.noop(f(rep))
      Main.median((0 until 3).map { _ =>
        val t0 = System.nanoTime(); ctx.noop(f(rep)); (System.nanoTime() - t0).toDouble
      })
    }
    def proj(c: Column): DataFrame => DataFrame = _.select(c)
    val base = timeNs(proj(col("doc_id")))
    val planes = Array.tabulate(16, 16)((a, b) => math.sin(a * 16.0 + b + 1.0))
    def ex(c: Column) = GraftBridge.expression(c)
    val exprs: Seq[(String, DataFrame => DataFrame)] = Seq(
      "shingles" -> proj(Dedup.shingles(col("text"), 3)),
      "minhash" -> (df => MinHashLsh.withSignature(df).select("minhash_sig")),
      "posgram" -> proj(GraftBridge.column(graft.functions.PositionalGramHashes(
        ex(split(lower(col("text")), " ")), 8))),
      "bloom" -> proj(GraftBridge.column(graft.functions.BloomMightContain(
        ex(xxhash64(col("text"))), bloom))),
      "lsh_buckets" -> proj(GraftBridge.column(graft.functions.LshBandBuckets(
        ex(col("vec")), planes, 2))))
    val fn = exprs.map { case (k, f) =>
      s"functions.${k}_ns_per_row" -> math.max(0.0, (timeNs(f) - base) / n)
    }.toMap
    GraftBridge.releasePinned(rep)
    val cand = MinHashLsh.candidatePairs(MinHashLsh.withSignature(docs)).count()
    val verified = MinHashLsh.nearDupPairs(docs, threshold = 0.5).count()
    funnel() ++ fn + ("llm.lsh_verified_frac" -> verified.toDouble / math.max(1L, cand))
  }
}

/** `ingest`: a stream of micro-batches, each committed through the
  * replay-safe streaming loops and the month-partitioned lake. One pass is
  * the whole stream into fresh state. */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import ctx.{op, spark}
  // every batch folds its delta into a new compacted base, so each run
  // cycles compaction once per batch
  private val compactEvery = 1
  spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  private var rows = 0L
  private var nBatches = 0

  /** Index the stream's micro-batches (row count per batch id). The
    * generated files are batch-ordered with several row groups, so a batch
    * read prunes to its own groups. */
  def stage(): Unit = {
    val perBatch = spark.read.parquet(s"${ctx.input}/stream_documents.parquet")
      .groupBy("batch").count().collect()
    rows = perBatch.map(_.getLong(1)).sum
    nBatches = perBatch.map(_.getLong(0).toInt).max + 1
    spark.read.parquet(s"${ctx.input}/stream_events.parquet").count()
  }
  def inputBytes: Double =
    (ctx.duBytes(s"${ctx.input}/stream_documents.parquet") +
      ctx.duBytes(s"${ctx.input}/stream_events.parquet")).toDouble
  def inputRows: Double = rows.toDouble
  override def hasWarmup: Boolean = false
  override def traceBatches: Boolean = true

  /** Page URL of a doc: copies d + k*10^7 re-crawl page d under raw-form
    * noise that canonicalization removes. */
  private def url: Column = {
    val page = pmod(col("doc_id"), lit(10000000L))
    val k = floor(col("doc_id") / 10000000L)
    concat(when(k % 2 === 1, "HTTPS://").otherwise("https://"),
      lit("news"), page % 53, lit(".example.com/a/"), page,
      when(k % 3 === 1, "/").otherwise(""),
      when(k % 4 >= 2, "?utm_source=feed").otherwise(""))
  }

  private def batchDocs(b: Int) =
    spark.read.parquet(s"${ctx.input}/stream_documents.parquet")
      .where(col("batch") === b).drop("batch")
  private def urlFrame(docs: DataFrame) =
    docs.select(col("doc_id"), url.as("url"), col("n_chars").cast("double").as("quality"))

  private val barCols = Seq("symbol", "bar_ts_ms", "open", "high", "low",
    "close", "volume", "n_trades")
  private val m5Cols = Seq("symbol", "bucket_ms", "open", "high", "low",
    "close", "volume", "n_trades", "close_time_ms")

  /** Upsert `inc` into the month partitions of `dir` it touches. */
  private def upsert(inc: DataFrame, dir: String, cols: Seq[String],
                     keys: Seq[String], tsCol: String): Unit = {
    val withPart = inc.withColumn("year", year(timestamp_millis(col(tsCol))))
      .withColumn("month", month(timestamp_millis(col(tsCol))))
    val touched = withPart.select("symbol", "year", "month").distinct().collect()
    if (touched.isEmpty) return
    val existing =
      if (!ctx.fs.exists(new org.apache.hadoop.fs.Path(dir))) inc.limit(0).select(cols.map(col): _*)
      else spark.read.parquet(dir).where(touched.map { r =>
          col("symbol") === r.getString(0) && col("year") === r.getInt(1) &&
            col("month") === r.getInt(2)
        }.reduce(_ || _)).select(cols.map(col): _*)
    val merged = Lake.mergeUpsert(existing, inc.select(cols.map(col): _*), keys)
      .localCheckpoint(eager = true)
    Lake.writePartitioned(merged, dir, tsCol, SaveMode.Overwrite)
    GraftBridge.releasePinned(merged)
  }

  def pass(i: Int, check: Boolean, rootId: Long): PassOut = {
    val root = s"${ctx.work}/ingest/pass$i"
    ctx.rmrf(root)
    val compacted = scala.collection.mutable.ArrayBuffer.empty[Long]
    var lakeFiles = 0L
    val b0 = ctx.bytesWritten
    // a traced run's second stream stops after the last traced batch
    val n = if (ctx.comparePass) nBatches - nBatches % 2 else nBatches
    val batches = ctx.root(rootId, "workload.ingest") {
      (0 until n).map { b =>
        val t0 = Clock.nowUs
        val id = ctx.tracer.newId()
        // traced streams trace batches 1, 3, ...; each is compared with the
        // same batch of the next stream, which runs untraced in fresh state
        val traced = ctx.traceBatches && b % 2 == 1
        def commit(): Unit = op("ingest.batch", id) {
          val docs = batchDocs(b)
          op("streaming.neardup_batch") {
            require(Ingest.nearDupBatch(docs.select("doc_id", "text"), b,
              s"$root/neardup", threshold = 0.3, compactEvery = compactEvery))
          }
          op("streaming.url_batch") {
            require(Ingest.urlDedupBatch(urlFrame(docs), b, s"$root/url",
              compactEvery = compactEvery))
          }
          val inc = op("sources.merge") {
            val ticks = spark.read.parquet(s"${ctx.input}/stream_events.parquet")
              .where(col("batch") === b).drop("batch")
            val inc = Bars.fromTicks(ticks, "minute").select(barCols.map(col): _*)
              .localCheckpoint(eager = true)
            // file mtimes have one-second resolution on some file systems
            val m0 = System.currentTimeMillis() / 1000 * 1000
            upsert(inc, s"$root/lake_m1", barCols, Seq("symbol", "bar_ts_ms"), "bar_ts_ms")
            lakeFiles += ctx.dataFiles(s"$root/lake_m1").count(_.getModificationTime >= m0)
            inc
          }
          op("operators.tf") {
            val cp = Checkpoint.read(s"$root/m5", "m5")
            val syms = inc.select("symbol").distinct().collect().map(_.getString(0)).toSeq
            val first = inc.agg(min("bar_ts_ms")).head().getLong(0) / 300000L * 300000L
            val next = (syms.flatMap(cp.get) :+ first).min
            val derived = TfAggregate.incremental(
                spark.read.parquet(s"$root/lake_m1").where(col("symbol").isin(syms: _*)),
                60000L, 5, next)
              .select(m5Cols.map(col): _*)
              .localCheckpoint(eager = true)
            upsert(derived, s"$root/m5", m5Cols, Seq("symbol", "bucket_ms"), "bucket_ms")
            val adv = Checkpoint.advance(derived, 300000L)
            Checkpoint.write(s"$root/m5", "m5",
              cp ++ adv.map { case (s, v) => s -> math.max(v, cp.getOrElse(s, v)) })
            GraftBridge.releasePinned(derived)
          }
          GraftBridge.releasePinned(inc)
        }
        if (traced) ctx.withProbe(id)(commit()) else commit()
        val fs = ctx.fs
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$root/neardup/compacted/upto=$b")) ||
            fs.exists(new org.apache.hadoop.fs.Path(s"$root/url/compacted/upto=$b")))
          compacted += b
        ("ingest.batch", Clock.nowUs - t0, traced)
      }
    }
    val written = ctx.bytesWritten - b0
    // replay of a committed batch id: must be refused and write nothing
    val before = ctx.du(root)
    val r0 = System.nanoTime()
    val last = n - 1
    val replayRefused =
      !Ingest.nearDupBatch(batchDocs(last).select("doc_id", "text"), last,
        s"$root/neardup", threshold = 0.3, compactEvery = compactEvery) &&
      !Ingest.urlDedupBatch(urlFrame(batchDocs(last)), last, s"$root/url",
        compactEvery = compactEvery)
    val replayMs = (System.nanoTime() - r0) / 1e6
    val replayClean = replayRefused && ctx.du(root) == before

    val (stBytesNd, stFilesNd) = sumDu(s"$root/neardup", Seq("index", "compacted"))
    val (stBytesUrl, stFilesUrl) = sumDu(s"$root/url", Seq("state", "compacted"))
    val stateBytes = (stBytesNd + stBytesUrl).toDouble
    val live = ndDecisions(root).where(col("accepted")).count().toDouble
    val dumps =
      if (!check) Map.empty[String, String]
      else {
        val p = s"${ctx.work}/check/m1_bars"
        Check.m1Bars(spark.read.parquet(s"$root/lake_m1"))
          .write.mode(SaveMode.Overwrite).parquet(p)
        Map("m1_bars" -> p)
      }
    val ndBytes = ctx.written("streaming.")
    val srcBytes = ctx.written("sources.")
    val srcFiles = lakeFiles.toDouble
    val compactLat = batches.zipWithIndex.collect {
      case ((_, us, _), b) if compacted.contains(b.toLong) => us / 1e3 }
    val extra = Map(
      "streaming.state_files" -> (stFilesNd + stFilesUrl).toDouble,
      "streaming.state_bytes" -> stateBytes,
      "streaming.bytes_written" -> ndBytes,
      "streaming.replay_ms" -> replayMs,
      "streaming.compact_batch_ms" -> Main.median(compactLat),
      "streaming.compactions" -> compacted.size.toDouble,
      "sources.bytes_written" -> srcBytes,
      "sources.files_written" -> srcFiles) ++
      Seq("streaming.neardup_batch", "streaming.url_batch", "sources.merge",
        "operators.tf").map(m => s"${m}_ms" -> Main.median(
        ctx.durations(rootId, m).map(_ / 1e3))).toMap
    if (!check) ctx.rmrf(root) else checkRoot = root
    // one pass per run: its state is checked against the one-shot answers
    // in finalChecks
    PassOut(batches, written.toDouble, stateBytes, live, Map.empty, extra, dumps,
      Seq(("replay_writes_nothing", replayClean,
        s"refused=$replayRefused bytes/files before=$before after=${ctx.du(root)}")))
  }

  private var checkRoot = ""

  private def sumDu(base: String, subs: Seq[String]): (Long, Long) =
    subs.map(s => ctx.du(s"$base/$s")).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }

  /** The decision log reduced to what the one-shot answer must agree on:
    * accepted or not, and the survivor a duplicate points at. */
  private def ndDecisions(root: String): DataFrame =
    spark.read.parquet(s"$root/neardup/decisions")
      .select(col("doc_id"), (col("status") === "accepted").as("accepted"),
        col("match_id"))

  /** One-shot answers over the concatenated stream, against the check
    * pass's state: near-dup decisions, URL index, and m5 from the final
    * m1 lake. */
  override def finalChecks(): Seq[(String, Boolean, String)] = {
    val all = spark.read.parquet(s"${ctx.input}/stream_documents.parquet").drop("batch")
    val empty = MinHashLsh.buildIndex(all.select("doc_id", "text").limit(0))
    val oneShot = MinHashLsh.nearDupIncremental(all.select("doc_id", "text"),
        empty, threshold = 0.3)
      .select(col("doc_id"), (col("status") === "accepted").as("accepted"),
        col("match_id"))
    val ndRef = Check.fingerprint(oneShot)
    val ndGot = Check.fingerprint(ndDecisions(checkRoot))
    GraftBridge.releasePinned(oneShot)
    val urlRef = Check.fingerprint(Dedup.urlKeepBest(urlFrame(all), col("url"),
        col("quality"))
      .select("canonical_url", "n_copies", "keep_id", "keep_quality"))
    val urlGot = Check.fingerprint(Ingest.urlIndexSnapshot(spark, s"$checkRoot/url"))
    val m5Ref = Check.fingerprint(TfAggregate(spark.read.parquet(s"$checkRoot/lake_m1"),
      60000L, 5).select(m5Cols.map(col): _*))
    val m5Got = Check.fingerprint(spark.read.parquet(s"$checkRoot/m5")
      .select(m5Cols.map(col): _*))
    ctx.rmrf(checkRoot)
    Seq(("neardup_stream_eq_oneshot", ndRef == ndGot, s"$ndGot vs $ndRef"),
      ("url_stream_eq_oneshot", urlRef == urlGot, s"$urlGot vs $urlRef"),
      ("m5_stream_eq_oneshot", m5Ref == m5Got, s"$m5Got vs $m5Ref"))
  }
}
