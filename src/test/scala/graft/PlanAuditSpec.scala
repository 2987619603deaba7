package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TfAggregate
import graft.sources.{Bars, Tables}

/** Plan-shape audits: the properties that decide whether an operator
  * survives a 100× scale-up, asserted on the actual physical plans. */
class PlanAuditSpec extends SparkTestBase {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def countOccurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("tf aggregation is a single-shuffle hash aggregate with map-side partials") {
    val h1 = Bars.fromTicks(Tables.events(spark, sfDir), "hour")
    val p = plan(TfAggregate(h1, 3600000L, 4))
    // two logical aggregations (bars, buckets) => exactly two exchanges, no more
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2, p)
    // partial aggregation present (HashAggregate appears in partial+final pairs)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("filter and projection push down to the parquet scan") {
    val li = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") > "2024-06-01")
      .select("l_orderkey", "l_quantity")
    val p = plan(li)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"), p)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), readSchema)
  }

  test("window feature pipelines reuse one exchange across all frames") {
    val h1 = Bars.fromTicks(Tables.events(spark, sfDir), "hour")
    val feats = graft.functions.Features.withRollingStats(
      graft.functions.Features.withAtrSma(h1, 14), "close", 20)
    val p = plan(feats)
    // one exchange for the bar aggregation + one for the window partitioning
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2, p)
  }

  test("value-counts dump: all columns in one aggregation exchange, no union") {
    val ev = Tables.events(spark, sfDir)
      .withColumn("state", when(col("value") > 0, "POS").otherwise("NONPOS"))
    val p = plan(graft.operators.Profile.valueCounts(
      ev, Seq("event_type", "state", "user_id")))
    // one exchange for the (col, value) hash agg + one for the tiny
    // per-column-total window — NEVER a per-column union of scans
    assert(!p.contains("Union"), p)
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("param sweep broadcasts the grid (no shuffle on the big side)") {
    val h1 = graft.functions.Features.withAtrSma(
      Bars.fromTicks(Tables.events(spark, sfDir), "hour"), 14)
    val p = plan(graft.operators.Backtest.sweepTpR(h1, Seq(1.0, 2.0)))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("brute-force ANN broadcasts the query side") {
    val e = Tables.embeddings(spark, sfDir)
    val p = plan(graft.llm.Similarity.annTopKBrute(e, e.where(col("vec_id") < 5), 3))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the fused cosine expression, not a UDF
    assert(p.contains("cosine_sim") || p.contains("CosineSimilarity"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("flow/CVD feature block shares one window exchange over the bar agg") {
    val bars = Bars.fromTicksWithAggression(Tables.events(spark, sfDir),
      "hour", buySide = col("user_id") % 2 === 0)
    val p = plan(graft.operators.Flow.withFlowFeatures(bars))
    // one exchange for the bar aggregation + one for the shared (symbol, ts)
    // window partitioning — cumsum, lags and rolling z add NO further ones
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2, p)
  }

  test("column profile reads the table once (single scan, no join)") {
    val e = Tables.events(spark, sfDir)
    val p = plan(graft.operators.Profile.columnProfile(
      e, Seq("event_id", "event_type", "value")))
    assert(countOccurrences(p, "Scan parquet") == 1, p)
    assert(!p.contains("Join"), p)
  }

  test("keep-frac sweep sketch: percentile sketch + broadcast thresholds, no window") {
    import spark.implicits._
    val scored = (0 until 100).map(i => ("A", i.toLong, i / 100.0, 1.0))
      .toDF("symbol", "bar_ts_ms", "score", "r")
    val p = plan(graft.operators.Backtest.keepFracSweepApprox(
      scored, "score", "r", Seq(0.25, 0.5)))
    assert(p.contains("percentile_approx"), p)
    assert(!p.contains("Window"), p)
    // the |fracs|-row threshold table joins broadcast (theta join on >=)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("robust scale: per-group scalars join back broadcast at runtime") {
    val h1 = Bars.fromTicks(Tables.events(spark, sfDir), "hour")
    val df = graft.operators.Stats.robustScale(h1, Seq("symbol"), "volume")
    df.collect() // let AQE finalize join strategies from runtime sizes
    val p = plan(df)
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("clustering edge-verify: bounded inverted-index join, no cartesian") {
    import spark.implicits._
    def words(seed: Int) = (0 until 12).map(i => s"w${seed}_$i").mkString(" ")
    val docs = (1 to 30).map(i => (i.toLong, words(i % 8))).toDF("doc_id", "text")
    val edges = graft.llm.Cluster.rareShingleEdges(docs)
    val p = plan(edges)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // DF-bound filter sits on the inverted index before the self-join
    assert(p.contains("HashAggregate"), p)
  }

  test("perf rollup: window and aggregate share one symbol exchange") {
    import spark.implicits._
    val trades = Seq(("A", 1L, 1.0), ("A", 2L, -0.5), ("B", 1L, 2.0))
      .toDF("symbol", "exit_ts", "r_mult")
    val p = plan(graft.operators.Backtest.perf(trades))
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("LOW+ config sweep: broadcast config explode + one hash aggregation") {
    import spark.implicits._
    val enriched = Seq(
      ("A", 7200000L, "BULL", 0.5, 15.0, true, false),
      ("A", 10800000L, "BEAR", -0.4, 30.0, false, true))
      .toDF("symbol", "bar_ts_ms", "dir_state", "dir_score", "range_pctl",
        "low_plus", "market_ready_base")
    val cfgs = Seq(
      graft.operators.LowPlus.LowPlusConfig("a"),
      graft.operators.LowPlus.LowPlusConfig("b", bullOnly = false))
    val p = plan(graft.operators.LowPlus.sweep(enriched, cfgs))
    // the config side is explicitly broadcast (BroadcastNestedLoopJoin over
    // a |configs|-row local relation is the deliberate explode shape — the
    // big side never shuffles for the join)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // one aggregation pair (partial + final) on config_id, nothing more
    assert(countOccurrences(p, "Exchange hashpartitioning") == 1, p)
  }

  test("ADD-set slicing: four groupbys run as ONE Expand + one aggregation exchange") {
    import spark.implicits._
    val enriched = Seq(
      ("A", 3600000L, 100.0, "BULL", 3.0, true),
      ("A", 7200000L, 101.0, "BEAR", 7.0, true),
      ("A", 10800000L, 99.0, "BULL", 13.0, false))
      .toDF("symbol", "bar_ts_ms", "close", "dir_state", "range_pctl", "is_add")
    val p = plan(graft.operators.LowPlus.addSlices(enriched))
    // grouping sets = one Expand feeding one partial/final aggregate pair —
    // the reference's four sequential pandas groupbys cost ONE shuffle here
    assert(p.contains("Expand"), p)
    assert(countOccurrences(p, "Exchange hashpartitioning") == 2, p) // window key + slice key
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
  }

  test("kmeans assignment is a map-only pass: no shuffle, no join, codegen'd") {
    import spark.implicits._
    val vecs = spark.range(100).select(col("id").as("vec_id"),
      array((0 until 4).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(100L)) / 50.0)): _*)
        .as("embedding"))
    val p = plan(graft.llm.Similarity.kmeansAssign(vecs, k = 16))
    // the codebook rides along as a literal reference object — the n-row
    // side never exchanges, never joins, and the fused NearestCentroid
    // loop stays inside WholeStageCodegen
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Join"), p)
    // "*(n)" node prefixes = the stage is inside WholeStageCodegen
    assert(p.contains("*(1)"), p)
    assert(p.contains("nearest_centroid"), p)
  }

  test("semantic dedup pairs only within cells: equi-join on cluster, no cartesian") {
    import spark.implicits._
    val vecs = spark.range(100).select(col("id").as("vec_id"),
      array((0 until 4).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(100L)) / 50.0)): _*)
        .as("embedding"))
    val p = plan(graft.llm.Similarity.semanticDedup(vecs, k = 16, tau = 0.95))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("selection scorers: LM relation joins on the token key, no window, no cartesian") {
    import spark.implicits._
    val docs = Seq((1L, "a b c", true), (2L, "a c d", false))
      .toDF("doc_id", "text", "tgt")
    for (df <- Seq(
        graft.llm.Selection.importanceWeight(docs, isTarget = col("tgt")),
        graft.llm.Selection.lmScore(docs, isTarget = col("tgt")))) {
      val p = plan(df)
      // per-doc scoring must stay O(tokens): equi-joins on token keys plus
      // hash aggregations only — a Window or nested-loop join would mean
      // the plan stopped being corpus-linear
      assert(!p.contains("Window"), p)
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("HashAggregate"), p)
    }
  }

  test("dsir_sample: the whole scoring chain runs ONCE at runtime " +
      "(one corpus + one target explode in the final adaptive plan)") {
    import graft.llm.Selection
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"))
    val out = Selection.importanceSample(d,
      isTarget = col("source").isin("src0", "src1"))
    out.collect() // drive to the final adaptive plan
    // AdaptiveSparkPlan.toString prints Current AND Initial plans — audit
    // only the final (current) section. r17's version of this pin passed
    // on ReusedExchange alone, which missed that the corpus explode still
    // ran once per consumer (column pruning specialized the shared
    // per-doc aggregate's first(_tgt) away under the join consumer, so no
    // two exchange subtrees canonicalized equal). The shared aggregates
    // now carry nothing prunable (grouping keys + count only; target
    // counts come from their own target-subset explode), so the threshold
    // and verdict branches reuse every scoring exchange and the ENTIRE
    // final plan holds exactly two Generates: one corpus tokenize, one
    // target-subset tokenize.
    val p = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert("\\bGenerate\\b".r.findAllIn(p).length == 2, p)
    assert(p.contains("ReusedExchange"), p)
  }

  test("contamination scrub: corpus grams never shuffle — broadcast " +
      "nomination + confirm, one doc-keyed exchange for the starts") {
    import graft.llm.Dedup
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val bench = d.where(col("doc_id") % 10 === 0)
    val out = Dedup.contaminationScrub(d, bench, n = 8)
    val p = plan(out)
    // every hash exchange is either a doc-keyed start collection (bounded
    // by matched positions) or the benchmark-side gram census — the
    // corpus positional-gram stream (keyed _gh/_pos) never shuffles: the
    // nomination and the string confirm both probe BROADCAST relations
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(l =>
      l.contains("doc_id") || l.contains("_gram")), exchanges.mkString("\n"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("source overlap: the fingerprint census exchange is reused by all " +
      "three matrix consumers at runtime") {
    import graft.llm.Dedup
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val out = Dedup.sourceOverlap(d)
    out.collect() // drive to the final adaptive plan
    val p = out.queryExecution.executedPlan.toString
    // pre-AQE the (fingerprint -> source-set) aggregation subtree feeds
    // the pair counts and both size relations; at runtime the later
    // readers must be served from the first's shuffle files, so the
    // corpus is fingerprint-aggregated once, not three times
    assert(p.contains("ReusedExchange"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("asof join is union + one window exchange, no range join explosion") {
    import spark.implicits._
    val left = Seq(("A", 5L)).toDF("symbol", "ts")
    val right = Seq(("A", 1L, 1.0)).toDF("symbol", "rts", "ctx")
    val p = plan(graft.operators.AsOf.joinBackward(left, right, "symbol", "ts", "rts"))
    assert(p.contains("Union"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
  }

  test("nearDupIncremental: the batch prep exchange is computed once and " +
      "reused by all downstream consumers at runtime") {
    import graft.llm.{MinHashLsh, Multimodal}
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).limit(200)
    val hist = d.where(col("doc_id") % 3 === 0)
    val batch = d.where(col("doc_id") % 3 =!= 0)
    // the lazy Pinned variants: the public API checkpoints eagerly (its
    // executed plan is just a checkpoint scan), so the audit must look at
    // the pre-checkpoint plan; MinHash and dHash share the incremental
    // decision pass
    Seq[(String, DataFrame => (DataFrame, () => Unit))](
      "minhash" -> (b => MinHashLsh.nearDupIncrementalPinned(
        b, MinHashLsh.buildIndex(hist), threshold = 0.3)),
      "dhash" -> (b => Multimodal.perceptualNearDupIncrementalPinned(
        Multimodal.withPayload(b),
        Multimodal.buildDHashIndex(Multimodal.withPayload(hist))))
    ).foreach { case (family, pinned) =>
      // every batch row passes this tap once per evaluation of the batch
      // map: the fingerprint pass over the batch has several consumers
      // across several jobs and must run exactly once
      val seen = spark.sparkContext.longAccumulator(s"$family-batch-rows")
      val tap = udf { (t: String) => seen.add(1); t }
      val (out, release) = pinned(batch.withColumn("text", tap(col("text"))))
      out.collect() // drive to the final adaptive plan
      val p = out.queryExecution.executedPlan.toString
      release()
      assert(seen.value == batch.count(),
        s"$family: batch map evaluated ${seen.value} rows for ${batch.count()}")
      assert(!p.contains("CartesianProduct"), s"$family: $p")
      // MinHash reads the index twice (band buckets, shingle hashes);
      // the second read is served from the first's shuffle files. The
      // dHash index is read once, so it has no exchange to reuse.
      if (family == "minhash") assert(p.contains("ReusedExchange"), p)
    }
  }

  test("char entropy: the O(len) native pass is computed once per row, " +
      "not once per consuming field") {
    import graft.llm.TextAnalysis
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // withEntropy references the _ce struct ~6 times; CollapseProject must
    // NOT inline the non-cheap CharEntropy expression into each consumer
    // (it only inlines cheap producers) — pin exactly ONE call site in the
    // optimized plan so an optimizer change can't silently multiply the
    // per-row pass (r13 ADVICE item, adjudicated: plan keeps a dedicated
    // Project computing _ce with field reads above it)
    val p = TextAnalysis.withEntropy(d).queryExecution.optimizedPlan.toString
    assert(countOccurrences(p, "char_entropy(") == 1, p)
  }

  test("relation scoring: distinct-token pre-agg feeds the model equi-join") {
    import graft.llm.Selection
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"))
    val (model, oov) = Selection.exportModelRelation(
      d, isTarget = col("source").isin("src0", "src1"))
    val out = Selection.scoreWithRelation(
      d.select(col("doc_id"), col("text")), model, oov)
    out.collect() // drive to the final adaptive plan
    val p = out.queryExecution.executedPlan.toString
    // token equi-join, no pairwise or nested-loop shape anywhere
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // two hash aggregations (per-doc-token counts, final per-doc sum)
    // bracket the join — the exchange carries distinct tokens per doc,
    // never raw occurrences
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Join"), p)
  }

  test("keep-best elections hash-aggregate: no SortAggregate anywhere in " +
      "the url_dedup / exact-keep-best / merge family") {
    import graft.llm.Dedup
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"),
        concat(lit("https://ex.com/"), col("doc_id") % 500).as("url"),
        length(col("text")).as("quality"))
    val idx = Dedup.urlKeepBest(d, col("url"), col("quality"))
      .select("canonical_url", "n_copies", "keep_id", "keep_quality")
    val hist = d.where(col("doc_id") % 7 === 0)
    for (df <- Seq(
        Dedup.urlKeepBest(d, col("url"), col("quality")),
        Dedup.urlKeepBestIncremental(d, idx, col("url"), col("quality")),
        Dedup.mergeUrlIndex(idx),
        Dedup.exactKeepBest(d, col("quality")),
        // first-occurrence elections: the packed (id, pos) decimal key
        Dedup.spanDedup(d.select(col("doc_id"), col("text"))),
        Dedup.spanDedupIncremental(d.select(col("doc_id"), col("text")),
          Dedup.spanHashes(hist.select(col("doc_id"), col("text")))))) {
      val p = plan(df)
      // the packed DECIMAL(38,0) election key has a mutable aggregation
      // buffer, so the argmax plans as HashAggregate with map-side
      // partials — the struct form's SortAggregate fallback (an
      // O(n log n) per-task sort on the group key) must never come back
      assert(!p.contains("SortAggregate"), p)
      assert(p.contains("HashAggregate"), p)
    }
  }
}
