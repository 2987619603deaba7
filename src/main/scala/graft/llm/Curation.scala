package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus curation: the stage boundary, the shared stages of the curation
  * capstone chain, and the reporting aggregations a curation run publishes
  * alongside a training set.
  *
  * The capstone chain (`corpus_pipeline_v2`–`v5`) is normalize → held-out
  * split → Gopher gate → 8-gram decontamination → pin → span dedup → pin →
  * [repeated-gram trim → pin] → near-dup canon → DSIR median cut → shard
  * shuffle. Each stage below is written once; a capstone is its source, its
  * own extra stages and its final projection around calls to them. The
  * values every capstone shares are fixed here, not parameters.
  */
object Curation {

  /** Capstone stage-boundary materialization, parameterized by the
    * session conf `graft.stage.boundary` so one code path serves both the
    * bench box and a real cluster:
    *
    *  - `local` (default): eager `localCheckpoint` — fastest, but blocks
    *    are UNREPLICATED executor-local storage, so on a multi-executor
    *    cluster one executor loss mid-capstone fails the job and the
    *    truncated lineage cannot recompute. The right trade at local[32]
    *    and for minutes-long runs.
    *  - `reliable`: eager reliable `checkpoint` into
    *    `spark.sparkContext`'s checkpoint directory (must be set) — the
    *    cluster-durable stage write every published pipeline performs
    *    between its per-doc prefix and cross-doc suffix; survives
    *    executor loss, tasks retry from the checkpoint files
    *    (FaultToleranceSpec injects first-attempt task failures through
    *    a reliable-boundary capstone and pins identical output).
    *  - `none`: passthrough — plan-shape A/Bs and debugging.
    *
    * At 100 TB the `reliable` files land on the cluster's checkpoint
    * store (HDFS/object store) exactly like the lake-materialized stage
    * dirs the streaming loops write — same durability class, chosen by
    * conf instead of a code fork. */
  private[graft] def stageBoundary(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("graft.stage.boundary", "local") match {
      case "local" => df.localCheckpoint(true)
      case "reliable" =>
        require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
          "graft.stage.boundary=reliable requires " +
            "spark.sparkContext.setCheckpointDir(...)")
        df.checkpoint(eager = true)
      case "none" => df
      case other => throw new IllegalArgumentException(
        s"graft.stage.boundary must be local|reliable|none, got '$other'")
    }

  /** Chained-call form of [[stageBoundary]]. */
  private[graft] implicit class StageBoundaryOps(df: DataFrame) {
    def stagePin(): DataFrame = stageBoundary(df)
  }

  /** Normalize → held-out split (every 10th doc is the benchmark) → Gopher
    * gate. `docs` needs `doc_id` and `text`; returns the benchmark
    * (doc_id, text) and the gated corpus with all of `docs`' columns. */
  private[graft] def heldOutGopher(docs: DataFrame): (DataFrame, DataFrame) = {
    val norm = docs.withColumn("text", TextAnalysis.normalize(col("text")))
    val benchmark = norm.where(col("doc_id") % 10 === 0)
      .select("doc_id", "text")
    val gated = TextAnalysis.gopherRules(norm.where(col("doc_id") % 10 =!= 0))
      .where(col("pass_gopher") === 1).select(docs.columns.map(col): _*)
    (benchmark, gated)
  }

  /** 8-gram decontamination against the held-out benchmark (drop a doc
    * when ≥ 0.3 of its 8-grams occur there), then the first stage
    * boundary. The decontaminated prefix is consumed twice by the span
    * stage (spanDedup's span census + rebuild join, and the carried-column
    * re-join), so without the pin the regex-heavy normalize/Gopher/8-gram
    * prefix re-evaluates per reference inside one action (measured
    * 3.4 → 0.5 + 1.9 s warm at sf0.1 for the prefix + span stages). */
  private[graft] def decontaminate(benchmark: DataFrame,
                                   docs: DataFrame): DataFrame = {
    val contaminated =
      Dedup.contaminationNgram(benchmark, docs.select("doc_id", "text"), n = 8)
        .where(col("share_frac") >= 0.3)
        .select(col("test_id").as("doc_id"))
    docs.join(contaminated, Seq("doc_id"), "left_anti").stagePin()
  }

  /** Span-grain exact dedup that drops wiped docs and carries the input's
    * other columns, then the second stage boundary: everything above is a
    * linear per-doc pipeline, everything below consumes it repeatedly (the
    * clustering loop iterates, and the canon fans out to selection and the
    * final join). These are the stage writes between the per-doc prefix
    * and the cross-doc suffix every published pipeline performs anyway;
    * without them the prefix re-evaluates per consumer (measured 2.0× on
    * the bench median, 18.7 → 9.3 s at sf0.1). Emits (doc_id, n_spans,
    * n_removed, kept_text, carried columns). */
  private[graft] def spanDedupStage(clean: DataFrame): DataFrame =
    Dedup.spanDedup(clean.select("doc_id", "text"))
      .where(col("kept_text") =!= "")
      .join(clean.drop("text"), "doc_id")
      .stagePin()

  /** Corpus-wide repeated-10-gram trim (minCount 2) of the span stage's
    * `kept_text`, the ExactSubstr scrub the published pipelines run between
    * exact and fuzzy dedup; fully-boilerplate docs (trimmed to nothing)
    * drop. Carries the span columns and pins: the trim output fans out to
    * the clustering loop, the selection LM and the final join. Emits
    * (doc_id, n_trim_removed, trim_text, the span columns except kept_text). */
  private[graft] def trimStage(span: DataFrame): DataFrame =
    Dedup.repeatedNgramTrim(
        span.select(col("doc_id"), col("kept_text").as("text")),
        n = 10, minCount = 2)
      .select(col("doc_id"), col("n_removed_tokens").as("n_trim_removed"),
        col("kept_text").as("trim_text"))
      .where(col("trim_text") =!= "")
      .join(span.drop("kept_text"), "doc_id")
      .stagePin()

  /** Near-dup canon (keep each cluster's canonical doc) → DSIR
    * importance-weight median cut, the LM trained on the survivors with
    * sources src0/src1 as the target → deterministic shuffle into 4
    * shards under `seed`. `stage` needs doc_id, `textCol` and source;
    * adds cluster_size, avg_log_weight, shard and pos_in_shard. */
  private[graft] def canonDsirShuffle(stage: DataFrame, textCol: String,
                                      seed: String): DataFrame = {
    val clusters = Cluster.nearDupClusters(
        stage.select(col("doc_id"), col(textCol).as("text")))
      .where(col("is_canonical") === 1)
      .select(col("doc_id"), col("cluster_size"))
    val canon = stage.join(clusters, "doc_id")
    val selected = Selection.importanceSample(
        canon.select(col("doc_id"), col(textCol).as("text"), col("source")),
        isTarget = col("source").isin("src0", "src1"), quantile = 0.5)
      .where(col("kept") === 1)
      .select(col("doc_id"), col("avg_log_weight"))
    Sampling.shardShuffle(canon.join(selected, "doc_id"), "doc_id",
      nShards = 4, seed = seed)
  }

  /** Per-source data card — the numbers a mixture designer feeds back
    * into [[Sampling.mixture]]'s weights: doc/char/token volumes,
    * exact-duplicate rate (fraction of docs that are NOT the first
    * occurrence of their canonical fingerprint, corpus-wide — so
    * cross-source copies count against the copying source), and the
    * Gopher-rule pass rate.
    *
    * One declarative plan: the per-doc metrics and rule flags are
    * map-side projections ([[TextAnalysis.gopherRules]]), duplicate
    * election is ONE hash aggregation on the md5 fingerprint plus an
    * equi-join back on the same key (the [[Dedup.exact]] shape), and the
    * card itself is a |sources|-row aggregation. Everything shuffles
    * O(docs) rows of (hash, id) — never text — and the final rollup is
    * map-side combined. */
  def dataCard(docs: DataFrame, sourceCol: String = "source",
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // null text counts as an EMPTY document (0 chars/tokens, fails every
    // gate, fingerprints with the empty-text group) — an audit must count
    // broken rows, not drop them: a null fingerprint would fall out of
    // the keeper equi-join and silently vanish from its source's card
    val coalesced = docs.withColumn(textCol, coalesce(col(textCol), lit("")))
    val withRules = TextAnalysis.gopherRules(coalesced, textCol)
      .withColumn("_fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("_nc", length(col(textCol)).cast("long"))
    // keeper election via a window over the SAME frame (the exactSurvivors
    // shape) — an agg+self-join here would recompute the gopherRules + md5
    // projection once per side, two corpus scans for one report
    val wFp = org.apache.spark.sql.expressions.Window.partitionBy(col("_fp"))
    withRules
      .withColumn("_keep_id", min(col(idCol)).over(wFp))
      .withColumn("_is_dup", (col(idCol) =!= col("_keep_id")).cast("int"))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_nc")).as("n_chars_total"),
        sum(col("n_words")).as("n_tokens_total"),
        round(avg(col("n_words")), 6).as("mean_tokens"),
        round(avg(col("_is_dup")), 6).as("dup_rate"),
        round(avg(col("pass_gopher")), 6).as("gopher_pass_rate"))
  }

  /** Pairwise source-divergence card: KL and Jensen-Shannon divergence
    * between the unigram token distributions of every source pair — the
    * classic corpus-comparison statistic (Kilgarriff 2001, "Comparing
    * corpora"), the quantitative half of mixture design: near-zero JS
    * pairs are redundant sources ([[Dedup.sourceOverlap]] is the doc-grain
    * complement), high-JS pairs are the diversity a temperature mixture
    * should preserve. Distributions are add-α smoothed over each PAIR's
    * union vocabulary (so both logs are finite and each smoothed
    * distribution sums to exactly 1 over the terms emitted — no
    * outside-vocabulary correction term). Emits per unordered pair:
    * union-vocab size, shared-vocab size, KL(a‖b), KL(b‖a), JS (base-2
    * bits, 6dp).
    *
    * Scale shape: ONE (source, token) count aggregation over the corpus
    * (8-byte-combinable, map-side partials), collapsed to token grain
    * with a ≤|sources| count map and PINNED (localCheckpoint) because two
    * consumers need it — the per-pair union-vocab sizes and the term sum;
    * the pair explosion is a broadcast of the |S|(|S|−1)/2-row pair list
    * against the token-grain relation (never corpus grain), and the
    * per-source totals / source list are bounded driver pulls like the
    * ANN codebooks. Token-grain blow-up is ≤ |pairs| — choose the
    * pair set, not the corpus, when |S| is large. */
  def sourceDivergence(docs: DataFrame, alpha: Double = 0.5,
                       sourceCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    require(alpha > 0, "alpha must be > 0 (unsmoothed KL can be infinite)")
    val tok = docs.select(col(sourceCol).as("source"),
      explode(filter(TextAnalysis.tokens(lower(col(textCol))), t => t =!= ""))
        .as("token"))
    val ct = tok.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    // bounded driver pulls: the source list and per-source token totals
    // (|S| rows — the codebook posture, never corpus-grain)
    val totals = ct.groupBy(col("source")).agg(sum(col("c")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sources = totals.keys.toSeq.sorted
    require(sources.size >= 2, "sourceDivergence needs >= 2 sources")
    val pairs = for {
      i <- sources.indices; j <- (i + 1) until sources.size
    } yield (sources(i), sources(j))
    val spark = docs.sparkSession
    import spark.implicits._
    val pairsDf = pairs.toDF("src_a", "src_b")
    val totalMap = map(totals.toSeq.sortBy(_._1)
      .flatMap { case (s, n) => Seq(lit(s), lit(n)) }: _*)
    // token grain with the per-source count map; pinned once for its two
    // consumers (pair union-vocab sizes, then the term sum)
    val perTok = ct
      .groupBy(col("token"))
      .agg(map_from_entries(collect_list(struct(col("source"), col("c"))))
        .as("m"))
      .localCheckpoint()
    val pt = perTok.crossJoin(broadcast(pairsDf))
      .withColumn("c_a", coalesce(element_at(col("m"), col("src_a")), lit(0L)))
      .withColumn("c_b", coalesce(element_at(col("m"), col("src_b")), lit(0L)))
      .where(col("c_a") + col("c_b") > 0)
    val vab = pt.groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("v_union"),
        sum((col("c_a") > 0 && col("c_b") > 0).cast("long")).as("v_shared"))
    val terms = pt.join(broadcast(vab), Seq("src_a", "src_b"))
      .withColumn("_na", element_at(totalMap, col("src_a")))
      .withColumn("_nb", element_at(totalMap, col("src_b")))
      .withColumn("p_a", (col("c_a") + alpha) /
        (col("_na") + lit(alpha) * col("v_union")))
      .withColumn("p_b", (col("c_b") + alpha) /
        (col("_nb") + lit(alpha) * col("v_union")))
      .withColumn("p_m", (col("p_a") + col("p_b")) / 2)
    terms.groupBy(col("src_a"), col("src_b"))
      .agg(max(col("v_union")).as("v_union"),
        max(col("v_shared")).as("v_shared"),
        round(sum(col("p_a") * log2(col("p_a") / col("p_b"))), 6)
          .as("kl_ab"),
        round(sum(col("p_b") * log2(col("p_b") / col("p_a"))), 6)
          .as("kl_ba"),
        round(sum(col("p_a") * log2(col("p_a") / col("p_m")) / 2
          + col("p_b") * log2(col("p_b") / col("p_m")) / 2), 6)
          .as("js"))
  }
}
