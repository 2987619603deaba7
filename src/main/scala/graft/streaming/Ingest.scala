package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftBridge, Row,
  SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.llm.{Dedup, MinHashLsh, Multimodal, Similarity}
import graft.operators.Backtest

/** Streaming ingestion: the collector path (reference
  * /root/reference/src/bfdl/collectors/klines_m1.py:31-210 polls an API and
  * appends month-partition staging parts) re-expressed as Structured
  * Streaming — readStream → watermark → dedup → windowed OHLCV aggregation →
  * hive-partitioned parquet sink. The same canonicalization (dedup on the
  * ingestion id) and bar semantics as the batch path, incremental by
  * construction instead of by checkpoint files.
  */
object Ingest {

  /** Minute-bar aggregation over a streaming tick frame. Late data beyond
    * the watermark is dropped; duplicate event ids within the watermark are
    * deduped before aggregation (exactly-once bars per (symbol, minute) in
    * append mode once the watermark passes). */
  def minuteBars(ticks: DataFrame, watermark: String = "10 minutes"): DataFrame =
    ticks
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type").as("symbol"), window(col("ts"), "1 minute"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        sum(col("value")).as("volume"),
        count(lit(1)).as("n_trades"))
      .select(col("symbol"), col("window.start").as("bar_ts"),
        unix_millis(col("window.start")).as("bar_ts_ms"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_trades"))

  /** Append-mode sink into the partitioned lake layout (symbol=/year=/month=
    * like the batch writer). */
  def toLake(bars: DataFrame, root: String, checkpoint: String): DataStreamWriter[Row] =
    bars
      .withColumn("year", year(col("bar_ts")))
      .withColumn("month", month(col("bar_ts")))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", root)
      .option("checkpointLocation", checkpoint)
      .partitionBy("symbol", "year", "month")

  /** Streaming completeness-gated timeframe aggregation — the streaming
    * analogue of [[graft.operators.TfAggregate]] (aggregate_tf.py): n-step
    * buckets over a BAR stream, a bucket emitted (append mode, after the
    * watermark passes) only when all `n` constituent bars arrived. The
    * incremental-checkpoint machinery of the batch path is free here:
    * structured streaming's state store IS the checkpoint.
    *
    * Precondition: bars are unique per (symbol, bar_ts) — in a stream that
    * is the upstream `dropDuplicatesWithinWatermark` (see [[minuteBars]]);
    * streaming aggregation cannot countDistinct, so with dedup guaranteed
    * the count+span pair is an equivalent completeness gate. */
  def tfAggregate(bars: DataFrame, stepMs: Long, n: Int,
                  watermark: String = "10 minutes"): DataFrame =
    bars
      .withWatermark("bar_ts", watermark)
      .groupBy(col("symbol"),
        window(col("bar_ts"), s"${stepMs * n} milliseconds"))
      .agg(
        min_by(col("open"), col("bar_ts")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("bar_ts")).as("close"),
        sum(col("volume")).as("volume"),
        sum(col("n_trades")).as("n_trades"),
        count(lit(1)).as("_cnt"),
        (max(unix_millis(col("bar_ts"))) - min(unix_millis(col("bar_ts"))))
          .as("_span"))
      .where(col("_cnt") === n && col("_span") === (n - 1) * stepMs)
      .select(col("symbol"), unix_millis(col("window.start")).as("bucket_ms"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_trades"))

  /** Streaming sessionization: the SAME session_window expression as the
    * batch [[graft.operators.Sessions]] operator, under a watermark — a
    * session emits (append mode) once the watermark passes its close. This
    * is the batch/stream portability the operator was designed for: one
    * definition of "session", two execution modes. */
  def sessionSummaries(events: DataFrame, gapMs: Long,
                       watermark: String = "10 minutes",
                       keyCol: String = "user_id", tsCol: String = "ts",
                       valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol),
        session_window(col(tsCol), s"$gapMs milliseconds").as("_sw"))
      .agg(
        unix_millis(min(col(tsCol))).as("session_start_ms"),
        unix_millis(max(col(tsCol))).as("session_end_ms"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("sum_value"))
      .select(col(keyCol), col("session_start_ms"), col("session_end_ms"),
        col("n_events"), col("sum_value"))

  /** Corpus-clean gating (quality score + language ID + token floor) as a
    * STATELESS map stage: pure per-row column algebra + filter, so the same
    * call runs on a batch frame and on a readStream frame unchanged (append
    * mode, no watermark, no state store) — the LLM pipeline's filter stages
    * are streaming-safe end-to-end. The batch contract query
    * (`corpus_clean`) and StreamingSpec's batch-equality test share this
    * exact code path. */
  def cleanDocs(docs: DataFrame, lang: String = "en", minQuality: Double = 0.5,
                minTokens: Int = 10, keepText: Boolean = false): DataFrame = {
    import graft.llm.TextAnalysis
    val gated = TextAnalysis.withLangId(TextAnalysis.withQuality(docs))
      .where(col("lang_pred") === lang && col("quality_score") >= minQuality &&
        col("n_tokens") >= minTokens)
    // keepText feeds downstream stages (chunking/packing) without a
    // re-join; the default keeps the original compact survivors schema
    if (keepText)
      gated.select(col("doc_id"), col("text"), col("n_tokens"),
        round(col("quality_score"), 6).as("quality_score"))
    else
      gated.select(col("doc_id"), col("n_tokens"),
        round(col("quality_score"), 6).as("quality_score"))
  }

  /** The curation capstone's STATELESS prefix as ONE streaming stage:
    * normalize → Gopher gate → Bloom decontamination probe → stateless
    * quality-classifier score — the per-document half of
    * `corpus_pipeline_v2/v3`, runnable on a live document stream. Pure
    * per-row column algebra end to end: no watermark, no state store, no
    * aggregation, so batch and stream run the SAME plan (StreamingSpec
    * pins equality). The benchmark side is static by nature (held-out
    * eval sets don't stream): its Bloom filter is built ONCE at plan
    * time — two bounded benchmark-side jobs — and rides into every
    * micro-batch as a broadcast literal expression
    * ([[graft.functions.BloomMightContain]]), the same no-join corpus
    * pass as [[graft.llm.Dedup.contaminationBloom]] but with the per-doc
    * flag fraction folded by an `aggregate` HOF instead of a groupBy, so
    * it stays append-mode legal. The cross-document stages (span/near-dup
    * dedup, the DSIR percentile cut) stay batch or go through
    * [[dedupDocs]]/`foreachBatch` by design — they need state a pure
    * append stream cannot hold. */
  def curateDocs(docs: DataFrame, benchmark: DataFrame,
                 intercept: Double, coefs: Array[Double],
                 n: Int = 8, fpp: Double = 0.001,
                 maxFlagFrac: Double = 0.3,
                 minQualityProb: Double = 0.5): DataFrame = {
    import graft.llm.TextAnalysis
    val bg = benchmark
      .select(explode(Dedup.shingles(col("text"), n)).as("_g"))
      .select(xxhash64(col("_g")).as("_gh")).distinct()
    val bloomOpt =
      if (bg.isEmpty) None
      else Some(bg.stat.bloomFilter("_gh", math.max(bg.count(), 1L), fpp))
    val gated = TextAnalysis.gopherRules(
        docs.withColumn("norm_text", TextAnalysis.normalize(col("text"))),
        "norm_text")
      .where(col("pass_gopher") === 1)
    val probed = bloomOpt match {
      case Some(bloom) =>
        def hit(g: org.apache.spark.sql.Column) = GraftBridge.column(
          graft.functions.BloomMightContain(
            GraftBridge.expression(xxhash64(g)), bloom)).cast("int")
        gated
          .withColumn("_gs", Dedup.shingles(col("norm_text"), n))
          .withColumn("flag_frac", round(
            aggregate(col("_gs"), lit(0), (acc, g) => acc + hit(g))
              .cast("double") / greatest(size(col("_gs")), lit(1)), 6))
          .drop("_gs")
      case None => gated.withColumn("flag_frac", lit(0.0))
    }
    graft.ml.QualityClassifier.scoreStateless(
        probed.where(col("flag_frac") < maxFlagFrac),
        intercept, coefs, textCol = "norm_text")
      .where(col("quality_prob") >= minQualityProb)
      .select(col("doc_id"), col("norm_text"), col("n_words"),
        col("flag_frac"), round(col("quality_prob"), 6).as("quality_prob"))
  }

  /** Streaming exact dedup of a document stream by content FINGERPRINT
    * (case-folded, whitespace-collapsed md5 — the same canonical key as
    * the batch [[graft.llm.Dedup.exactSurvivors]]): within the watermark,
    * only the first arrival of each canonical form survives, so reworded
    * whitespace/case variants dedup too, not just byte-identical replays
    * (which is all the event-id dedup of [[minuteBars]] can see). State is
    * one fingerprint per distinct doc inside the watermark window — the
    * watermark bounds it, exactly like the reference collector's staging
    * dedup bounds its replay window. */
  def dedupDocs(docs: DataFrame, tsCol: String = "ts",
                watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("_fp", graft.llm.TextAnalysis.fingerprint(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** One cross-batch state directory `root/name` of a state loop:
    * per-batch delta slices `name/batch_id=N`, folded by `fold` into
    * versioned `compacted/upto=K` bases. `empty` builds a zero-row frame
    * with the state schema (only called when no delta slice exists);
    * every read projects to `cols`. */
  private final case class StateDir(name: String, cols: Seq[String],
                                    empty: () => DataFrame,
                                    fold: DataFrame => DataFrame = identity) {
    def project(df: DataFrame): DataFrame = df.select(cols.map(col): _*)
  }

  /** The `foreachBatch` sink behind every public `*Writer`. */
  private def eachBatch(docs: DataFrame)(
      f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        f(batch.toDF(), batchId)
      }

  /** Run micro-batch `batchId` of a replay-safe state loop at most once
    * per `commitId` — the protocol every `foreachBatch` family below
    * shares ([[nearDupBatch]], [[perceptualDedupBatch]],
    * [[semanticDedupBatch]], [[repeatedTrimBatch]], [[spanDedupBatch]],
    * [[urlDedupBatch]], [[overlapCardBatch]], and [[writeShardBatch]]
    * without a state directory). Returns false, writing nothing, when the
    * batch is already committed.
    *
    *  1. Skip: a batch whose marker `_committed_batches/<commitId>/<batchId>`
    *     exists is done. `foreachBatch` re-runs the last uncommitted batch
    *     after a restart, and batch ids restart at 0 with every new
    *     checkpoint, so pair `commitId` 1:1 with the query's
    *     checkpointLocation.
    *  1. Body: the family reads its state through [[deltaSnapshot]] with
    *     its OWN `batch_id=N` slice excluded, decides, and writes each
    *     output and its state delta to its own `batch_id=N` slice
    *     ([[overwriteSlice]]). A crash inside the body leaves only slices
    *     of batch N and no marker, so the replay decides against exactly
    *     the pre-batch state — its own residue can neither pass as history
    *     nor persist as duplicate rows — and rewrites the same slices in
    *     place: byte-identical outputs, no residue.
    *  1. Marker: touched only after the body returns, so a committed batch
    *     has every slice complete.
    *  1. Compaction ([[maybeCompactState]], when `state` is given and
    *     `compactEvery` > 0) runs after the marker, so every delta it folds
    *     is committed and a replayed batch was never folded. It writes the
    *     base, then its mark, then deletes what the base supersedes.
    *     Correctness is read-side: readers take only the newest base that
    *     carries this commitId's mark and only deltas above it (`> K`), so
    *     a crash between those steps leaves leftovers that readers ignore
    *     and the next compaction deletes, never a double count. That is
    *     what makes the non-idempotent folds (summed counts) safe.
    *
    * StateLoopCrashSpec crashes every family at every one of these steps
    * and checks that the replayed, continued stream equals an
    * uninterrupted one. */
  private def commitOnce(spark: SparkSession, root: String, commitId: String,
                         batchId: Long, state: Option[StateDir] = None,
                         compactEvery: Int = 0)(body: => Unit): Boolean = {
    val marker = new Path(root, s"_committed_batches/$commitId/$batchId")
    val fs = fileSystem(spark, marker)
    if (fs.exists(marker)) return false
    body
    touch(fs, marker)
    state.foreach(maybeCompactState(spark, root, commitId, batchId,
      compactEvery, _))
    true
  }

  /** Overwrite batch `batchId`'s own slice `root/dir/batch_id=N`; returns
    * the slice path. */
  private def overwriteSlice(df: DataFrame, root: String, dir: String,
                             batchId: Long): String = {
    val slice = new Path(root, s"$dir/batch_id=$batchId").toString
    df.write.mode(SaveMode.Overwrite).parquet(slice)
    slice
  }

  /** Write the `decisions` slice, then the `index` slice `indexOf` builds
    * from the accepted rows (projected to `cols`), read back from the
    * written slice so the index write never re-runs the decision plan. */
  private def indexAccepted(spark: SparkSession, root: String, batchId: Long,
                            decisions: DataFrame, cols: String*)(
      indexOf: DataFrame => DataFrame): Unit = {
    val accepted = spark.read.parquet(overwriteSlice(decisions, root,
        "decisions", batchId))
      .where(col("status") === "accepted").select(cols.map(col): _*)
    overwriteSlice(indexOf(accepted), root, "index", batchId)
  }

  /** Write an empty marker file (commit markers, compaction marks, the
    * codebook mark). */
  private def touch(fs: FileSystem, p: Path): Unit = {
    val out = fs.create(p, true)
    try out.write(Array.emptyByteArray) finally out.close()
  }

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def childNames(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)

  /** Ids of the `<prefix><id>` children of `dir` (delta slices, bases). */
  private def childIds(fs: FileSystem, dir: Path, prefix: String): Seq[Long] =
    childNames(fs, dir).filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toLong)

  private def basePath(root: String, k: Long): Path =
    new Path(root, s"compacted/upto=$k")

  private def markPath(root: String, commitId: String, k: Long): Path =
    new Path(root, s"_compaction_marks/$commitId/$k")

  /** Every compaction mark under `root`, as (commitId, K). */
  private def compactionMarks(fs: FileSystem,
                              root: String): Seq[(String, Long)] =
    for {
      cid <- childNames(fs, new Path(root, "_compaction_marks"))
      k <- childNames(fs, new Path(root, s"_compaction_marks/$cid"))
    } yield (cid, k.toLong)

  /** Newest committed compacted-base id under `root`, or -1. */
  private def committedBaseId(fs: FileSystem, root: String,
                              commitId: String): Long =
    compactionMarks(fs, root).collect { case (c, k) if c == commitId => k }
      .foldLeft(-1L)(math.max)

  /** Fail loudly on a commitId/compaction-state mismatch: compaction
    * markers are commitId-scoped but `compacted/upto=K` bases are not,
    * so reading an already-compacted state directory under a DIFFERENT
    * commitId sees baseK = -1 and would silently fold only the surviving
    * deltas — omitting all compacted history (the folded deltas were
    * deleted). A compacted base invisible to `commitId` (K > baseK) but
    * COMMITTED under another commitId is exactly that mismatch; an
    * unmarked base is legitimate crash residue (base written, marker
    * missing — its deltas all survive) and stays readable. */
  private def assertCompactionVisible(fs: FileSystem, root: String,
                                      commitId: String, baseK: Long): Unit = {
    val invisible = childIds(fs, new Path(root, "compacted"), "upto=")
      .filter(_ > baseK)
    val foreign = compactionMarks(fs, root).filter { case (c, k) =>
      c != commitId && invisible.contains(k) }
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"Delta-compacted state at $root was compacted under commitId(s) " +
        foreign.map(_._1).distinct.mkString("[", ", ", "]") +
        s" (bases upto=${foreign.map(_._2).distinct.sorted.mkString(",")})" +
        s" but is being read with commitId '$commitId', which cannot see " +
        "them — the fold would silently omit all compacted history " +
        "(its deltas were deleted). Use the writer's commitId.")
  }

  /** Fail loudly when a frozen codebook already exists at `cbPath` but
    * carries no `_codebook_mark/<commitId>`: [[semanticDedupBatch]] is
    * about to (re)train and OVERWRITE it, and a codebook written under a
    * DIFFERENT commitId is exactly the silent-destruction hazard — the
    * stored index clusters were assigned under the old codebook, so new
    * assignments disagree and every cell-confined probe silently misses
    * duplicates. A codebook with NO mark under ANY commitId stays
    * overwritable: that is the writer's own crash residue (codebook
    * written, mark not yet — the bootstrap writes codebook → mark →
    * index, so nothing downstream saw it), and the documented
    * crash-window replay retrains the identical codebook from the same
    * replayed batch; refusing would wedge the stream on its own
    * restart. */
  private def assertCodebookOwned(fs: FileSystem, indexRoot: String,
                                  commitId: String, cbPath: Path): Unit = {
    if (!fs.exists(cbPath)) return
    val foreign = childNames(fs, new Path(indexRoot, "_codebook_mark"))
      .filter(_ != commitId)
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"Frozen codebook at $cbPath was trained under commitId(s) " +
        foreign.mkString("[", ", ", "]") + s" but commitId '$commitId' " +
        "is about to retrain and overwrite it — the stored index clusters " +
        "would silently disagree with new assignments and cell-confined " +
        "probes would miss duplicates. Use the writer's commitId.")
  }

  /** Queryable snapshot of a state directory: newest COMMITTED base
    * (`compacted/upto=K`) ∪ the deltas with `batch_id > K` that pass
    * `keep` (a batch's own slice excluded on its write path; deltas up to
    * the new base for a compaction), projected to the state's columns.
    * Leftover ≤K deltas from a crashed deletion and unmarked bases are
    * excluded by the >K filter / marker check; partition pruning keeps
    * the scan to exactly the live delta dirs. */
  private def deltaSnapshot(spark: SparkSession, root: String,
                            commitId: String, state: StateDir,
                            keep: Column = lit(true)): DataFrame = {
    val statePath = new Path(root, state.name)
    val fs = fileSystem(spark, statePath)
    val baseK = committedBaseId(fs, root, commitId)
    assertCompactionVisible(fs, root, commitId, baseK)
    // a fully-compacted state dir can be EMPTY (every delta deleted) —
    // parquet schema inference fails on it, so gate on dir contents
    val deltas =
      if (childIds(fs, statePath, "batch_id=").nonEmpty)
        state.project(spark.read.parquet(statePath.toString)
          .where(col("batch_id") > baseK).where(keep))
      else state.project(state.empty())
    if (baseK >= 0)
      state.project(spark.read.parquet(basePath(root, baseK).toString))
        .unionByName(deltas)
    else deltas
  }

  /** Fold deltas ≤ `batchId` into a new VERSIONED committed base once
    * `compactEvery` live deltas accumulate — bounding every later
    * [[deltaSnapshot]]'s fold input by |state| + compactEvery deltas and
    * the state dir's file count by compactEvery + 1, instead of growing
    * with stream age forever. Order: base → mark → deletes (the
    * [[commitOnce]] protocol). Reclamation deletes EVERY delta at or below
    * the new base, then every older base (unless another commitId marks
    * it) and every older mark of this commitId — so the leftovers of a
    * crash inside an earlier compaction are gone after the next one. */
  private def maybeCompactState(spark: SparkSession, root: String,
                                commitId: String, batchId: Long,
                                compactEvery: Int, state: StateDir): Unit = {
    if (compactEvery <= 0) return
    val statePath = new Path(root, state.name)
    val fs = fileSystem(spark, statePath)
    val baseK = committedBaseId(fs, root, commitId)
    val deltaIds = childIds(fs, statePath, "batch_id=")
    if (deltaIds.count(k => k > baseK && k <= batchId) < compactEvery) return
    state.fold(deltaSnapshot(spark, root, commitId, state,
        col("batch_id") <= batchId))
      .write.mode(SaveMode.Overwrite).parquet(basePath(root, batchId).toString)
    touch(fs, markPath(root, commitId, batchId))
    // space reclamation only — readers never look below the new mark
    deltaIds.filter(_ <= batchId).foreach { k =>
      fs.delete(new Path(statePath, s"batch_id=$k"), true)
    }
    val marks = compactionMarks(fs, root)
    val foreign = marks.collect { case (c, k) if c != commitId => k }.toSet
    childIds(fs, new Path(root, "compacted"), "upto=")
      .filter(k => k < batchId && !foreign(k))
      .foreach(k => fs.delete(basePath(root, k), true))
    marks.collect { case (c, k) if c == commitId && k < batchId => k }
      .foreach(k => fs.delete(markPath(root, commitId, k), false))
  }

  /** Streaming incremental NEAR-dup dedup — the production growing-corpus
    * loop around [[graft.llm.MinHashLsh.nearDupIncremental]]: each
    * micro-batch dedups against the accumulated signature/shingle-hash
    * index at `indexRoot/index`, appends its accepted docs' index rows
    * back ([[graft.llm.MinHashLsh.buildIndex]]), and logs every decision
    * to `indexRoot/decisions`. `foreachBatch` because the index is
    * cross-batch state no append stream can hold (the same reasoning as
    * [[shardWriter]]'s packing); within a batch the near-dup clustering
    * elects min-id survivors exactly as the batch operator does. Each
    * batch runs the [[commitOnce]] protocol; `compactEvery` bounds the
    * index file count, and a foreign commitId on a compacted index fails
    * loudly. (A re-ingest of already-accepted docs under a genuinely NEW
    * batch id still self-heals: they match their own index rows at
    * Jaccard 1.0 and come back `dup_of_index` with `match_id == doc_id` —
    * the replay-idempotency property LlmSpec pins for the batch API.) */
  def nearDupWriter(docs: DataFrame, indexRoot: String, threshold: Double,
                    idCol: String = "doc_id", textCol: String = "text",
                    k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                    seed: Int = 42, maxBucket: Option[Int] = None,
                    commitId: String = "stream",
                    compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(nearDupBatch(_, _, indexRoot, threshold, idCol, textCol,
      k, bands, shingleN, seed, maxBucket, commitId, compactEvery))

  /** One [[commitOnce]] micro-batch of [[nearDupWriter]]: dedup against
    * the index → `decisions/batch_id=N` → the accepted docs' signature
    * slice `index/batch_id=N`. Identity fold: each accepted doc's
    * signature lives in exactly one slice, so compaction only bounds the
    * file count — and a duplicate signature row (the residue own-slice
    * overwrite rules out) would inflate maxBucket's combined band-bucket
    * population for every later batch. */
  def nearDupBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                   threshold: Double, idCol: String = "doc_id",
                   textCol: String = "text", k: Int = 32, bands: Int = 8,
                   shingleN: Int = 3, seed: Int = 42,
                   maxBucket: Option[Int] = None,
                   commitId: String = "stream",
                   compactEvery: Int = 0): Boolean = {
    val spark = batch.sparkSession
    val state = StateDir("index", Seq(idCol, "minhash_sig", "shingle_hashes"),
      () => MinHashLsh.buildIndex(batch.limit(0), idCol, textCol, k,
        shingleN, seed))
    commitOnce(spark, indexRoot, commitId, batchId, Some(state),
        compactEvery) {
      // nearDupIncremental returns an eagerly-materialized local checkpoint
      // (its internal pins already released), so the two writes read
      // settled blocks. Those blocks are RDD-persisted directly (LogicalRDD
      // leaf), which CacheManager-based unpersist does not touch: release
      // them even when a write fails, so a failing stream leaks nothing
      val decisions = MinHashLsh.nearDupIncremental(batch,
        deltaSnapshot(spark, indexRoot, commitId, state,
          col("batch_id") =!= batchId),
        threshold, idCol, textCol, k, bands, shingleN, seed, maxBucket)
      try indexAccepted(spark, indexRoot, batchId, decisions, idCol) { acc =>
        MinHashLsh.buildIndex(batch.join(acc, Seq(idCol)), idCol, textCol, k,
          shingleN, seed)
      } finally GraftBridge.releasePinned(decisions)
    }
  }

  /** Streaming perceptual image-dedup loop — the production shape of
    * [[graft.llm.Multimodal.perceptualNearDupIncremental]] for a
    * continuous multimodal crawl: each micro-batch dedups its payloads
    * against the accumulated dHash index at `indexRoot/index` (8
    * bytes/image — historical payloads are never re-read), writes its
    * decisions under `decisions/batch_id=N/`, and appends the ACCEPTED
    * images' hashes ([[graft.llm.Multimodal.buildDHashIndex]]) back to
    * the index, each batch under the [[commitOnce]] protocol.
    * `foreachBatch` because the index is cross-batch state (same
    * reasoning as [[nearDupWriter]]). */
  def perceptualDedupWriter(docs: DataFrame, indexRoot: String,
                            maxHamming: Int = 10, idCol: String = "doc_id",
                            payloadCol: String = "payload",
                            maxBucket: Option[Int] = None,
                            commitId: String = "stream",
                            compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(perceptualDedupBatch(_, _, indexRoot, maxHamming, idCol,
      payloadCol, maxBucket, commitId, compactEvery))

  /** One [[commitOnce]] micro-batch of [[perceptualDedupWriter]]: dedup
    * against the index → `decisions/batch_id=N` → the accepted hashes'
    * slice `index/batch_id=N`. Identity fold: each accepted doc's dHash
    * lives in exactly one slice, so compaction only bounds the file count
    * — and a duplicate dHash row would inflate maxBucket's per-(band,
    * chunk) population so later batches silently drop real candidates. */
  def perceptualDedupBatch(batch: DataFrame, batchId: Long,
                           indexRoot: String, maxHamming: Int = 10,
                           idCol: String = "doc_id",
                           payloadCol: String = "payload",
                           maxBucket: Option[Int] = None,
                           commitId: String = "stream",
                           compactEvery: Int = 0): Boolean = {
    val spark = batch.sparkSession
    val state = StateDir("index", Seq(idCol, "dhash"),
      () => Multimodal.buildDHashIndex(batch.limit(0), idCol, payloadCol))
    commitOnce(spark, indexRoot, commitId, batchId, Some(state),
        compactEvery) {
      val index = deltaSnapshot(spark, indexRoot, commitId, state,
        col("batch_id") =!= batchId)
      indexAccepted(spark, indexRoot, batchId,
          Multimodal.perceptualNearDupIncremental(batch, index, maxHamming,
            idCol, payloadCol, maxBucket), idCol) { acc =>
        Multimodal.buildDHashIndex(batch.join(acc, Seq(idCol)), idCol,
          payloadCol)
      }
    }
  }

  /** Streaming incremental SEMANTIC dedup — the production loop around
    * [[graft.llm.Similarity.semanticDedupIncremental]] (growing-corpus
    * SemDeDup): the FIRST batch bootstraps the frozen codebook
    * ([[graft.llm.Similarity.trainCodebook]], written once to
    * `indexRoot/codebook` behind its own marker — deterministic, so a
    * crash-window replay retrains the identical codebook from the same
    * replayed batch), and every batch then assigns under it, dedups
    * against the accumulated kept-vector index at `indexRoot/index`,
    * writes decisions to `decisions/batch_id=N`, and stores its accepted
    * vectors back to the index, each batch under the [[commitOnce]]
    * protocol. `foreachBatch` because the index and codebook are
    * cross-batch state (the [[nearDupWriter]] reasoning). */
  def semanticDedupWriter(docs: DataFrame, indexRoot: String, k: Int = 8,
                          tau: Double = 0.95, iters: Int = 0,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          maxCell: Option[Int] = None,
                          commitId: String = "stream",
                          compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(semanticDedupBatch(_, _, indexRoot, k, tau, iters, idCol,
      vecCol, maxCell, commitId, compactEvery))

  /** One [[commitOnce]] micro-batch of [[semanticDedupWriter]]: load (or
    * bootstrap: codebook → `_codebook_mark/<commitId>`) the frozen
    * codebook → dedup against the index → `decisions/batch_id=N` → the
    * accepted vectors' slice `index/batch_id=N`. Identity fold: each
    * accepted vector lives in exactly one slice. */
  def semanticDedupBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                         k: Int = 8, tau: Double = 0.95, iters: Int = 0,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         maxCell: Option[Int] = None,
                         commitId: String = "stream",
                         compactEvery: Int = 0): Boolean = {
    val spark = batch.sparkSession
    val cbPath = new Path(indexRoot, "codebook")
    val cbMark = new Path(indexRoot, s"_codebook_mark/$commitId")
    val fs = fileSystem(spark, cbPath)
    val state = StateDir("index", Seq(idCol, "cluster", vecCol),
      () => batch.limit(0).select(col(idCol),
        lit(0).cast("int").as("cluster"),
        col(vecCol).cast("array<double>").as(vecCol)))
    commitOnce(spark, indexRoot, commitId, batchId, Some(state),
        compactEvery) {
      // frozen codebook: bootstrap from the first NON-EMPTY batch, then
      // load forever. An empty batch before bootstrap (a stream can open
      // with one) commits as a no-op — it carries no vectors to decide and
      // must not crash the codebook trainer or freeze a vacuous codebook.
      if (!fs.exists(cbMark) && batch.isEmpty) {
        assertCodebookOwned(fs, indexRoot, commitId, cbPath)
        // schema-only decisions slice: every committed batch — even a
        // pre-bootstrap empty one — must have a readable
        // decisions/batch_id=N dir, or consumers enumerating decisions by
        // committed batch ids hit a missing parquet path
        overwriteSlice(batch.limit(0).select(col(idCol),
            lit(0).cast("int").as("cluster"),
            lit(null).cast("string").as("status"),
            col(idCol).as("match_id"),
            lit(null).cast("double").as("sim")),
          indexRoot, "decisions", batchId)
      } else {
        val centers: Array[Array[Double]] =
          if (fs.exists(cbMark))
            spark.read.parquet(cbPath.toString).orderBy(col("cell"))
              .collect().map(_.getSeq[Double](1).toArray)
          else {
            // the codebook is shared per indexRoot but marks are
            // commitId-scoped: retraining over a FOREIGN commitId's
            // codebook would silently OVERWRITE it — fail loudly instead
            assertCodebookOwned(fs, indexRoot, commitId, cbPath)
            val c = Similarity.trainCodebook(batch, k, iters, idCol, vecCol)
            import spark.implicits._
            c.zipWithIndex.toSeq.map { case (cv, i) => (i, cv.toSeq) }
              .toDF("cell", "cv")
              .coalesce(1)
              .write.mode(SaveMode.Overwrite)
              .parquet(cbPath.toString)
            touch(fs, cbMark)
            c
          }
        val index = deltaSnapshot(spark, indexRoot, commitId, state,
          col("batch_id") =!= batchId)
        indexAccepted(spark, indexRoot, batchId,
            Similarity.semanticDedupIncremental(batch, index, centers, tau,
              idCol, vecCol, maxCell), idCol, "cluster") { acc =>
          batch.select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
            .join(acc, Seq(idCol))
            .select(col(idCol), col("cluster"), col(vecCol))
        }
      }
    }
  }

  /** Streaming incremental repeated-gram TRIM — the production loop
    * around [[graft.llm.Dedup.repeatedNgramTrimIncremental]], completing
    * the batch+streaming pairing the exact and near-dup incremental
    * shapes already have: each micro-batch trims against the accumulated
    * gram-count index at `indexRoot/gram_index`, writes its trimmed rows
    * to `indexRoot/trimmed`, and appends its OWN gram counts
    * ([[graft.llm.Dedup.buildGramIndex]]) back to the index so later
    * batches see this batch's repetition, each batch under the
    * [[commitOnce]] protocol. `foreachBatch` because the index is
    * cross-batch state (same reasoning as [[nearDupWriter]]). */
  def repeatedTrimWriter(docs: DataFrame, indexRoot: String, n: Int = 10,
                         minCount: Int = 2, idCol: String = "doc_id",
                         textCol: String = "text",
                         commitId: String = "stream",
                         compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(repeatedTrimBatch(_, _, indexRoot, n, minCount, idCol,
      textCol, commitId, compactEvery))

  /** One [[commitOnce]] micro-batch of [[repeatedTrimWriter]]: trim against
    * the index → `trimmed/batch_id=N` → this batch's gram counts
    * `gram_index/batch_id=N`. The fold SUMS counts per (gram_hash, gram)
    * — NOT idempotent: a duplicated slice would double-count history and
    * trim unique text in every later batch, so own-slice overwrite and the
    * read-side `> K` filter are what keep it exact. The trimmed write is
    * the only consumer of the old-index plan and runs before the index
    * write, so no checkpoint pin is needed. */
  def repeatedTrimBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                        n: Int = 10, minCount: Int = 2,
                        idCol: String = "doc_id", textCol: String = "text",
                        commitId: String = "stream",
                        compactEvery: Int = 0): Boolean = {
    val spark = batch.sparkSession
    val state = StateDir("gram_index", Seq("gram_hash", "gram", "n_occurrences"),
      () => Dedup.buildGramIndex(batch.limit(0), n, idCol, textCol),
      _.groupBy(col("gram_hash"), col("gram"))
        .agg(sum(col("n_occurrences")).as("n_occurrences")))
    commitOnce(spark, indexRoot, commitId, batchId, Some(state),
        compactEvery) {
      val index = deltaSnapshot(spark, indexRoot, commitId, state,
        col("batch_id") =!= batchId)
      overwriteSlice(Dedup.repeatedNgramTrimIncremental(batch, index, n,
        minCount, idCol, textCol), indexRoot, "trimmed", batchId)
      overwriteSlice(Dedup.buildGramIndex(batch, n, idCol, textCol),
        indexRoot, "gram_index", batchId)
    }
  }

  /** Streaming incremental span-grain (paragraph) dedup — the production
    * loop around [[graft.llm.Dedup.spanDedupIncremental]] (Dolma's
    * bloom-paragraph pass as a growing-corpus stream): each micro-batch
    * keeps only spans that are (a) not in the accumulated span-hash index
    * at `indexRoot/span_index` and (b) first-occurrence within the batch,
    * writes its rebuilt docs to `indexRoot/deduped`, and appends its own
    * span hashes back to the index so later batches see this batch's
    * paragraphs, each batch under the [[commitOnce]] protocol (without
    * the own-slice exclusion the batch's own hashes would be "history"
    * and a replay would wipe every span). `foreachBatch` because the
    * index is cross-batch state (same reasoning as [[nearDupWriter]]);
    * per-batch cost is O(batch) plus the Bloom build over the index —
    * which production replaces with a PERSISTED mergeable filter unioned
    * per batch instead of rebuilt (the operator doc spells out the
    * swap). */
  def spanDedupWriter(docs: DataFrame, indexRoot: String,
                      fpp: Double = 0.01, idCol: String = "doc_id",
                      textCol: String = "text",
                      commitId: String = "stream",
                      compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(spanDedupBatch(_, _, indexRoot, fpp, idCol, textCol,
      commitId, compactEvery))

  /** One [[commitOnce]] micro-batch of [[spanDedupWriter]]: dedup against
    * the index → `deduped/batch_id=N` → this batch's span hashes
    * `span_index/batch_id=N`. Fold: `distinct()` — idempotent (a span
    * seen by several batches has one hash row per batch; membership
    * semantics make the dedup exact either way, compaction bounds index
    * rows and file count). The deduped write is the only consumer of the
    * old-index plan (the operator's Bloom build runs its index actions
    * there) and runs before the index write, so no checkpoint pin is
    * needed. */
  def spanDedupBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                     fpp: Double = 0.01, idCol: String = "doc_id",
                     textCol: String = "text",
                     commitId: String = "stream",
                     compactEvery: Int = 0): Boolean = {
    val spark = batch.sparkSession
    val state = StateDir("span_index", Seq("span_hash"),
      () => Dedup.spanHashes(batch.limit(0), textCol), _.distinct())
    commitOnce(spark, indexRoot, commitId, batchId, Some(state),
        compactEvery) {
      val index = deltaSnapshot(spark, indexRoot, commitId, state,
        col("batch_id") =!= batchId)
      overwriteSlice(Dedup.spanDedupIncremental(batch, index, fpp, idCol,
        textCol), indexRoot, "deduped", batchId)
      overwriteSlice(Dedup.spanHashes(batch, textCol), indexRoot,
        "span_index", batchId)
    }
  }

  /** Streaming URL-grain keep-best dedup loop — the production shape of
    * [[graft.llm.Dedup.urlKeepBestIncremental]] for a continuous crawl:
    * each micro-batch's decisions (new/improved/kept per touched address)
    * land under `stateRoot/decisions/batch_id=N/`, and the batch's OWN
    * within-batch election is stored as a per-batch index DELTA under
    * `stateRoot/state/batch_id=N/`, each batch under the [[commitOnce]]
    * protocol. The queryable index is the commutative-monoid fold of all
    * deltas ([[graft.llm.Dedup.mergeUrlIndex]]) — identical to one
    * full-pass [[graft.llm.Dedup.urlKeepBest]] over everything ingested,
    * which is what makes this loop exact rather than approximate.
    * Per-batch cost is O(batch) + an index-grain fold — history text is
    * never rescanned; `compactEvery` bounds the fold input by |URL index|
    * + compactEvery deltas instead of letting it grow with stream age.
    * StreamingSpec pins compacted ≡ uncompacted ≡ one full-pass
    * [[graft.llm.Dedup.urlKeepBest]], with replay identity across a
    * compaction boundary. */
  def urlDedupWriter(docs: DataFrame, stateRoot: String,
                     urlCol: String = "url", qualityCol: String = "quality",
                     idCol: String = "doc_id",
                     commitId: String = "stream",
                     compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(urlDedupBatch(_, _, stateRoot, urlCol, qualityCol, idCol,
      commitId, compactEvery))

  /** The URL-index state directory: fold [[graft.llm.Dedup.mergeUrlIndex]],
    * whose `n_copies` sum is NOT idempotent — the read-side `> K` filter,
    * not deletion, is what keeps it exact across compactions. */
  private def urlState(spark: SparkSession): StateDir = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("canonical_url", StringType),
      StructField("n_copies", LongType),
      StructField("keep_id", LongType),
      StructField("keep_quality", DoubleType)))
    StateDir("state", schema.fieldNames.toSeq,
      () => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
      Dedup.mergeUrlIndex)
  }

  /** The queryable URL index of a [[urlDedupWriter]] state directory:
    * the monoid fold of the newest COMMITTED compacted base plus every
    * newer delta — exactly one full-pass
    * [[graft.llm.Dedup.urlKeepBest]] over everything ingested,
    * whatever the compaction state (StreamingSpec pins compacted ≡
    * uncompacted ≡ full pass). */
  def urlIndexSnapshot(spark: SparkSession, stateRoot: String,
                       commitId: String = "stream"): DataFrame =
    Dedup.mergeUrlIndex(deltaSnapshot(spark, stateRoot, commitId,
      urlState(spark)))

  /** One [[commitOnce]] micro-batch of [[urlDedupWriter]]: fold the prior
    * index → incremental decisions `decisions/batch_id=N` → the batch's
    * own election `state/batch_id=N`. */
  def urlDedupBatch(batch: DataFrame, batchId: Long, stateRoot: String,
                    urlCol: String = "url", qualityCol: String = "quality",
                    idCol: String = "doc_id",
                    commitId: String = "stream",
                    compactEvery: Int = 0): Boolean = {
    val spark = batch.sparkSession
    val state = urlState(spark)
    commitOnce(spark, stateRoot, commitId, batchId, Some(state),
        compactEvery) {
      val prior = Dedup.mergeUrlIndex(deltaSnapshot(spark, stateRoot,
        commitId, state, col("batch_id") =!= batchId))
      overwriteSlice(Dedup.urlKeepBestIncremental(batch, prior, col(urlCol),
        col(qualityCol), idCol), stateRoot, "decisions", batchId)
      overwriteSlice(state.project(Dedup.urlKeepBest(batch, col(urlCol),
        col(qualityCol), idCol)), stateRoot, "state", batchId)
    }
  }

  /** Streaming cross-source overlap DATA CARD — the production loop
    * around [[graft.llm.Dedup.sourceOverlapState]]: each micro-batch
    * folds to its own per-source (MinHash signature, HLL) state, written
    * under `stateRoot/state/batch_id=N/`, and the refreshed card
    * ([[graft.llm.Dedup.overlapFromState]] over the merge of ALL stored
    * batch states) lands at `stateRoot/card/batch_id=N/`, each batch
    * under the [[commitOnce]] protocol. `foreachBatch` because the card
    * is cross-batch state (same reasoning as [[nearDupWriter]]); per-batch
    * cost is O(batch) + a merge over |sources|·batches tiny state rows —
    * history is never rescanned. StreamingSpec pins stream-state ≡
    * one-shot full-pass state bit-identically. */
  def overlapCardWriter(docs: DataFrame, stateRoot: String, k: Int = 128,
                        srcCol: String = "source", textCol: String = "text",
                        commitId: String = "stream",
                        compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(overlapCardBatch(_, _, stateRoot, k, srcCol, textCol,
      commitId, compactEvery))

  /** One [[commitOnce]] micro-batch of [[overlapCardWriter]]. Write order
    * is state FIRST: `state/batch_id=N`, then the card over every stored
    * state, this batch's included → `card/batch_id=N`. Fold:
    * [[graft.llm.Dedup.mergeOverlapStates]] — elementwise slot-min and
    * HLL register-max are associative and idempotent, so a compacted base
    * merged with later deltas is bit-identical to merging every raw
    * per-batch state, and even a duplicated state could not move the card
    * (StreamingSpec pins compacted ≡ uncompacted card and the file-count
    * bound). */
  def overlapCardBatch(batch: DataFrame, batchId: Long, stateRoot: String,
                       k: Int = 128, srcCol: String = "source",
                       textCol: String = "text",
                       commitId: String = "stream",
                       compactEvery: Int = 0): Boolean = {
    val spark = batch.sparkSession
    val state = StateDir("state", Seq("_src", "_sig", "_hll"),
      () => Dedup.sourceOverlapState(batch.limit(0), k, srcCol, textCol),
      Dedup.mergeOverlapStates(_))
    commitOnce(spark, stateRoot, commitId, batchId, Some(state),
        compactEvery) {
      overwriteSlice(Dedup.sourceOverlapState(batch, k, srcCol, textCol),
        stateRoot, "state", batchId)
      overwriteSlice(Dedup.overlapFromState(Dedup.mergeOverlapStates(
          deltaSnapshot(spark, stateRoot, commitId, state))),
        stateRoot, "card", batchId)
    }
  }

  /** Streaming serving of the relation-model DSIR scorer
    * ([[graft.llm.Selection.scoreWithRelation]]): train the model on
    * yesterday's lake ([[graft.llm.Selection.exportModelRelation]]), score
    * today's document stream per micro-batch under `foreachBatch`. The
    * per-doc sum is an aggregation, which append-mode streaming cannot run
    * unbounded — but each document arrives exactly once in exactly one
    * micro-batch, so per-BATCH aggregation already yields the per-doc
    * totals; `foreachBatch` is the standard shape for that (same pattern
    * as [[shardWriter]]). The model stays a static relation: broadcast by
    * AQE when small, shuffle-joined when web-scale — the serving path that
    * `typedLit`-based [[graft.llm.Selection.scoreStateless]] cannot take.
    */
  def scoreDocsStream(docs: DataFrame, model: DataFrame, oovWeight: Double,
                      idCol: String = "doc_id", textCol: String = "text")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    eachBatch(docs) { (batch, batchId) =>
      sink(graft.llm.Selection.scoreWithRelation(
        batch, model, oovWeight, idCol, textCol), batchId)
    }

  /** Streaming egress into the training-shard lake layout: every
    * micro-batch is packed ([[graft.llm.TextAnalysis.packShards]]) and
    * appended through the SAME physical writer as the batch path
    * ([[graft.sources.Lake.writeShards]] with `SaveMode.Append`), so the
    * on-disk contract — `shard=N/` hive directories, contiguous sorted
    * parts, pack-sequential row order within each part — is the batch
    * writer's contract (StreamingSpec asserts layout and order parity
    * against a batch-written lake). `foreachBatch` rather than a
    * partitioned file sink because pack assignment is a GREEDY
    * token-budget aggregation, not a per-row projection. Shard assignment
    * (`id mod nShards`) is id-stable, so a document lands in the same
    * shard directory regardless of batching; pack ids restart per batch
    * (each batch bin-packs what it saw — a trainer reads parts in file
    * order, exactly as with the batch writer's multi-part shards).
    *
    * Delivery: the [[commitOnce]] marker skips replays of committed batch
    * ids (StreamingSpec re-runs a batch id and asserts no growth). The
    * sink APPENDS instead of overwriting a slice, so the residual window —
    * a crash BETWEEN append and marker — degrades to at-least-once of one
    * batch; because per-batch packing is deterministic the replayed rows
    * are byte-identical, so the lake's dedup-compact remedy (keep-first on
    * (shard, id)) restores exactly-once, the same contract as the
    * collector's staging path. */
  def shardWriter(docs: DataFrame, root: String, tokensPerPack: Long,
                  nShards: Int, idCol: String = "doc_id",
                  textCol: String = "text",
                  maxRecordsPerFile: Long = 5000000L,
                  commitId: String = "stream"): DataStreamWriter[Row] =
    eachBatch(docs)(writeShardBatch(_, _, root, tokensPerPack, nShards, idCol,
      textCol, maxRecordsPerFile, commitId))

  /** One [[commitOnce]] micro-batch of [[shardWriter]]: pack → append →
    * commit marker. Returns false (and writes nothing) when the batch id
    * is already committed. */
  def writeShardBatch(batch: DataFrame, batchId: Long, root: String,
                      tokensPerPack: Long, nShards: Int,
                      idCol: String = "doc_id", textCol: String = "text",
                      maxRecordsPerFile: Long = 5000000L,
                      commitId: String = "stream"): Boolean =
    commitOnce(batch.sparkSession, root, commitId, batchId) {
      graft.sources.Lake.writeShards(graft.llm.TextAnalysis.packShards(
          batch, tokensPerPack, nShards, idCol, textCol),
        root, idCol, maxRecordsPerFile, SaveMode.Append)
    }

  final case class Tick(symbol: String, tsMs: Long, value: Double)
  final case class GapEvent(symbol: String, prevMs: Long, tsMs: Long, gapMinutes: Long)

  /** Custom keyed state example (mapGroupsWithState family): an online gap
    * detector that remembers the last minute seen per symbol and emits a
    * GapEvent whenever a tick jumps more than one grid step — the streaming
    * analogue of [[graft.operators.Gaps.gapsReport]]. */
  def gapDetector(ticks: Dataset[Tick], stepMs: Long = 60000L): Dataset[GapEvent] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_.symbol)
      .flatMapGroupsWithState[Long, GapEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, it: Iterator[Tick], state: GroupState[Long]) =>
          val sorted = it.toSeq.sortBy(t => (t.tsMs))
          val out = scala.collection.mutable.ArrayBuffer.empty[GapEvent]
          var last = state.getOption.getOrElse(Long.MinValue)
          sorted.foreach { t =>
            val minuteMs = t.tsMs / stepMs * stepMs
            if (last != Long.MinValue && minuteMs > last + stepMs) {
              out += GapEvent(symbol, last, minuteMs, (minuteMs - last) / stepMs - 1)
            }
            if (minuteMs > last) last = minuteMs
          }
          if (last != Long.MinValue) state.update(last)
          out.iterator
      }
  }

  final case class FlowBar(symbol: String, tsMs: Long,
                           aggrBuy: Double, aggrSell: Double)
  final case class CvdPoint(symbol: String, tsMs: Long, deltaAggr: Double,
                            cvdProxy: Double)

  /** Streaming CVD: the cumulative-volume-delta proxy of
    * [[graft.operators.Flow.withFlowFeatures]] as online keyed state — the
    * running sum lives in a per-symbol GroupState, so the stream emits the
    * same cvd_proxy the batch window computes. Bars are processed in ts
    * order within each micro-batch; upstream dedup/watermarking (see
    * [[minuteBars]]) owns late-data hygiene, matching the batch operator's
    * assume-canonical-input contract. */
  def cvdStream(bars: Dataset[FlowBar]): Dataset[CvdPoint] = {
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.symbol)
      .flatMapGroupsWithState[Double, CvdPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, it: Iterator[FlowBar], state: GroupState[Double]) =>
          var cvd = state.getOption.getOrElse(0.0)
          val out = it.toSeq.sortBy(_.tsMs).map { b =>
            val delta = b.aggrBuy - b.aggrSell
            cvd += delta
            CvdPoint(symbol, b.tsMs, delta, cvd)
          }
          state.update(cvd)
          out.iterator
      }
  }

  /** Streaming dual-engine backtest: the per-symbol position lifecycle of
    * [[graft.operators.Backtest.runDualEngine]] as online keyed state. Each
    * symbol's [[graft.operators.Backtest.DualState]] lives in a GroupState
    * and every bar runs the SAME `dualStep` transition the batch SeqScan
    * folds, so a stream fed the batch input emits exactly the batch trade
    * set — equivalence by shared code, asserted in StreamingSpec. Bars are
    * processed in ts order within each micro-batch; across micro-batches,
    * the state's `lastTsMs` high-watermark makes `dualStep` DROP any bar
    * at or before the last folded timestamp, so a late arrival (which the
    * batch engine would have folded in order) cannot silently diverge the
    * stream from the batch result — the same dedup/ordering hygiene
    * [[minuteBars]] applies. */
  def dualBacktestStream(bars: Dataset[Backtest.DualBar],
                         short: Boolean = true, beOffsetR: Double = 0.0,
                         cooldownBars: Int = 0,
                         feeBps: Double = 0.0): Dataset[Backtest.DualTrade] = {
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.symbol)
      .flatMapGroupsWithState[Backtest.DualState, Backtest.DualTrade](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[Backtest.DualBar],
         state: GroupState[Backtest.DualState]) =>
          var st = state.getOption.getOrElse(Backtest.DualState.init)
          val out = it.toSeq.sortBy(_.barTsMs).flatMap { b =>
            val (next, trade) =
              Backtest.dualStep(st, b, short, beOffsetR, cooldownBars, feeBps)
            st = next
            trade
          }
          state.update(st)
          out.iterator
      }
  }
}
