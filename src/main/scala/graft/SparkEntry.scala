package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.functions.Features
import graft.llm.{Bpe, Cluster, Curation, Dedup, MinHashLsh, Multimodal, Sampling, Selection, SimHash, Similarity, TextAnalysis, Unigram}
import graft.llm.Curation.StageBoundaryOps
import graft.ml.{MlFilter, QualityClassifier, RegimeEval}
import graft.operators.{AsOf, Audit, Backtest, Canonical, EmaTrend, FlatLevels, Flow, Funding, Gaps, Ichimoku, IchimokuMtf, IchimokuParams, LowPlus, Profile, RangeBoxes, Regime, RegimeCases, RegimeParams, Resample, RouterGate, Semi, Sessions, Stats, StickyState, TfAggregate, VolRegime}
import graft.sources.{Bars, Lake, Tables}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2 lands here as a `queries` entry; the
  * SQL-expressible ones also get a DuckDB oracle in `oracleSql` with column
  * names aliased identically on both sides. Timestamps are emitted as
  * epoch-ms BIGINT and double aggregates rounded to 6 dp on both sides to
  * keep the hash compare engine-agnostic.
  */
object SparkEntry {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** The LOW+ gate/router frame with the reference's rendered columns
    * (enrich_joined_low_plus.py output shape) — shared by `low_plus_gate`
    * and `router_profile` so the projections cannot diverge. */
  private def gateFrame(s: SparkSession, dir: String): DataFrame = {
    val h1 = Bars.fromTicks(events(s, dir), "hour")
    LowPlus.enrich(h1)
      .select(col("symbol"), col("bar_ts_ms"),
        round(col("dir_score"), 6).as("dir_score"),
        col("dir_state"), coalesce(col("vol_state"), lit("NA")).as("vol_state"),
        col("low_plus").cast("int").as("low_plus"),
        col("market_ready_base").cast("int").as("market_ready_base"),
        col("dir_ready").cast("int").as("dir_ready"),
        col("tradable_base").cast("int").as("tradable_base"),
        col("tradable_override").cast("int").as("tradable_override"),
        col("tradable_final").cast("int").as("tradable_final"),
        col("is_add").cast("int").as("is_add"),
        col("override_reason"), col("block_reason_base"))
  }

  /** documents ∪ seeded near-dups (every 5th doc with its last two tokens
    * dropped, id offset +1000000): the synthetic corpus has no natural
    * near-dups, so dedup queries seed deterministic ones to have something
    * real to find (and a known ground truth for recall). */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val toks = split(col("text"), "\\s+")
    val aug = d.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ",
          slice(toks, lit(1), greatest(size(toks) - 2, lit(0)))).as("text"))
    d.unionByName(aug)
  }

  /** Synthetic crawl URL for `doc_id` (shared by the url_dedup /
    * url_dedup_incremental contract keys and their oracles): every 3-doc
    * group shares one canonical address behind raw-form noise — scheme/
    * host case, default port, trailing slash, tracking params in varying
    * order, fragments. */
  private def synthUrl: Column = {
    val grp = floor(col("doc_id") / 3).cast("long")
    concat(
      when(col("doc_id") % 2 === 0, "HTTPS://").otherwise("https://"),
      when(col("doc_id") % 3 === 0, "Data.Example.COM")
        .otherwise("data.example.com"),
      when(col("doc_id") % 4 === 0, ":443").otherwise(""),
      lit("/corpus/doc-"), grp,
      when(col("doc_id") % 5 === 0, "/").otherwise(""),
      when(col("doc_id") % 3 === 0,
        concat(lit("?id="), grp, lit("&v=2&utm_source=feed")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("?v=2&utm_source=feed&id="), grp))
        .otherwise(concat(lit("?utm_medium=rss&id="), grp, lit("&v=2"))),
      when(col("doc_id") % 6 === 0, concat(lit("#sec-"), col("doc_id")))
        .otherwise(""))
  }

  /** The seeded crawl page behind `html_extract` and `ccnet_pipeline`:
    * each doc (doc_id, text, source) wrapped in title/nav/headline, two
    * body paragraphs (the first with a stopword-rich tail so block classes
    * diversify; the second opened by `secondPara`), a share-links div and
    * a footer. */
  private def seededPage(d: DataFrame, secondPara: String): DataFrame = {
    val ln2 = floor(length(col("text")) / 2).cast("int")
    d.select(col("doc_id"), concat(
      lit("<html><head><title>Doc "), col("doc_id"), lit("</title>"),
      lit("<style>p{color:red}</style><script>var x=1;</script></head><body>"),
      lit("<nav><a href=\"/\">Home</a> <a href=\"/a\">Archive</a> " +
        "<a href=\"/t\">Tags</a></nav>"),
      lit("<h1>doc "), col("doc_id"), lit(" notes</h1>"),
      lit("<p>"), col("text").substr(lit(1), ln2),
      lit(" the of to in is it that and a an.</p>"),
      lit(secondPara), col("text").substr(ln2 + 1, length(col("text"))),
      lit("</p>"),
      lit("<div>Share: <a href=\"#\">Tweet</a> <a href=\"#\">Like</a></div>"),
      lit("<footer>copyright 2024 "), col("source"),
      lit(" media group</footer>"), lit("</body></html>")).as("html"))
  }

  /** jusText block extraction with the thresholds tuned to the synthetic
    * corpus's ~6% natural stopword density: per-doc class census and
    * extracted main text. */
  private def jusText(page: DataFrame): DataFrame =
    TextAnalysis.htmlExtractDocs(
      TextAnalysis.htmlExtractBlocks(page, lengthLow = 40,
        lengthHigh = 120, stopLow = 0.06, stopHigh = 0.12,
        maxLinkDensity = 0.25))

  /** embeddings ∪ seeded near-dups (every 5th vector, position-dependent
    * jitter, id offset +1000000), all cast to array<double>. */
  private def embeddingsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val aug = e.where(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), (x, i) => x + lit(0.01) * (pmod(i, lit(7)) - lit(3)))
          .as("embedding"))
    e.unionByName(aug)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Hour-bar OHLCV build over the full stream — the reference lake's single
    * most common read shape. */
  def entry(spark: SparkSession): DataFrame =
    Bars.fromTicks(events(spark, "/root/testdata/sf0.001"), "hour")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2 #3 — OHLCV bar construction from the tick stream (klines_m1.py).
    "m1_bars" -> ((s, dir) => {
      Bars.fromTicks(events(s, dir), "minute")
        .select(col("symbol"), col("bar_ts_ms").as("minute_ms"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("volume"), 6).as("volume"), col("n_trades"))
        .orderBy("symbol", "minute_ms")
    }),

    // §2 #4 — completeness-gated timeframe aggregation (aggregate_tf.py:53-110).
    // Base unit = hour bars, bucket = 4 hours (n=4): gating passes and fails
    // meaningfully on the sparse synthetic grid.
    "tf_aggregate" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      TfAggregate(h1, stepMs = 3600000L, n = 4)
        .select(col("symbol"), col("bucket_ms"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("volume"), 6).as("volume"), col("n_trades"),
          col("close_time_ms"))
        .orderBy("symbol", "bucket_ms")
    }),

    // §2 #5 — incremental checkpointed aggregation: resume strictly after a
    // checkpoint bucket (aggregate_tf.py:122-144). Checkpoint = 2024-01-15T00Z.
    "tf_incremental" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      TfAggregate.incremental(h1, stepMs = 3600000L, n = 4,
          nextBucketOpenMs = 1705276800000L)
        .select(col("symbol"), col("bucket_ms"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("volume"), 6).as("volume"), col("n_trades"))
        .orderBy("symbol", "bucket_ms")
    }),

    // §2 #2 — canonical dedup keep-last on (symbol, minute) by ingestion id
    // (aggregate_tf.py:205).
    "dedup_canonical" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("minute_ms", unix_millis(date_trunc("minute", col("ts"))))
      Canonical.dedupKeepLast(e, Seq("event_type", "minute_ms"), col("event_id"))
        .select(col("event_type").as("symbol"), col("minute_ms"),
          col("event_id"), col("value"))
        .orderBy("symbol", "minute_ms")
    }),

    // §2 #8 — gap ranges on the minute grid (gaps_report.py:13-32).
    "gaps_report" -> ((s, dir) => {
      val m1 = Bars.fromTicks(events(s, dir), "minute")
      Gaps.gapsReport(m1, stepMs = 60000L)
        .orderBy("symbol", "gap_start_ms")
    }),

    // §2 #10 — per-symbol integrity summary (integrity_checks.py:26).
    "integrity_check" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("event_type").as("symbol"),
          unix_millis(date_trunc("minute", col("ts"))).as("ts_ms"),
          col("event_id"))
      Gaps.integrityCheck(e, stepMs = 60000L)
        .select(col("symbol"), col("n_rows"), col("n_distinct"), col("n_dups"),
          col("min_ms"), col("max_ms"), col("n_non_monotonic"),
          col("expected_rows"), col("n_missing"))
        .orderBy("symbol")
    }),

    // §2 #9 — backfill fetch plan: every missing minute, one row each
    // (backfill_gaps.py:104-195).
    "backfill_plan" -> ((s, dir) => {
      val m1 = Bars.fromTicks(events(s, dir), "minute")
      Gaps.backfillPlan(Gaps.gapsReport(m1, 60000L), 60000L)
        .orderBy("symbol", "missing_ms")
    }),

    // §2 #9b — grid forward-fill (LOCF): every minute between a symbol's
    // first and last bar, missing minutes carrying the last seen close.
    "grid_ffill" -> ((s, dir) => {
      val m1 = Bars.fromTicks(events(s, dir), "minute")
        .select(col("symbol"), col("bar_ts_ms"), col("close"))
      Gaps.gridFfill(m1, 60000L)
        .select(col("symbol"), col("grid_ms"), col("src_ms"),
          col("close"), col("is_filled"))
        .orderBy("symbol", "grid_ms")
    }),

    // §2 #13 — last-row probe per symbol (last_minute.py:17).
    "last_row" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("event_type").as("symbol"),
          unix_millis(date_trunc("minute", col("ts"))).as("ts_ms"),
          col("event_id"), col("value"))
      Gaps.lastRow(e).orderBy("symbol")
    }),

    // §2 #18 — resample minute bars to calendar days
    // (compute_ichimoku_mtf_trend_v1.py:88).
    "resample_ohlc" -> ((s, dir) => {
      val m1 = Bars.fromTicks(events(s, dir), "minute")
      Resample.ohlc(m1, "day")
        .select(col("symbol"), col("bar_ts_ms").as("day_ms"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("volume"), 6).as("volume"), col("n_trades"))
        .orderBy("symbol", "day_ms")
    }),

    // §2 #18b — weekly calendar resample (plot_weekly_candles_v1.py's
    // aggregation; exercises cross-engine week-start alignment).
    "resample_week" -> ((s, dir) => {
      val m1 = Bars.fromTicks(events(s, dir), "minute")
      Resample.ohlc(m1, "week")
        .select(col("symbol"), col("bar_ts_ms").as("week_ms"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("volume"), 6).as("volume"), col("n_trades"))
        .orderBy("symbol", "week_ms")
    }),

    // §2 #18c — monthly calendar resample (the reference's month-partition
    // unit, exercising month-boundary alignment cross-engine).
    "resample_month" -> ((s, dir) => {
      val m1 = Bars.fromTicks(events(s, dir), "minute")
      Resample.ohlc(m1, "month")
        .select(col("symbol"), col("bar_ts_ms").as("month_ms"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("volume"), 6).as("volume"), col("n_trades"))
        .orderBy("symbol", "month_ms")
    }),

    // §2 #11 — derived-table completeness audit (audit_derived.py:98-180).
    "audit_derived" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      Audit.auditDerived(h1, stepMs = 3600000L, n = 4)
        .orderBy("symbol")
    }),

    // §2 #15 — true range + ATR(14) as SMA of TR (build_m1_features.py:70-89).
    "atr" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      Features.withAtrSma(h1, len = 14)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("tr"), 6).as("tr"), round(col("atr"), 6).as("atr"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #16 — rolling mean/std/min/max + Bollinger width over 20 bars
    // (build_mtf_context_h4_v1.py:109-113).
    "rolling_stats" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      Features.withRollingStats(h1, "close", len = 20)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("roll_mean"), 6).as("roll_mean"),
          round(col("roll_std"), 6).as("roll_std"),
          round(col("roll_min"), 6).as("roll_min"),
          round(col("roll_max"), 6).as("roll_max"),
          round(col("bb_width"), 6).as("bb_width"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #16 — anchored VWAP distance z-score
    // (build_mtf_context_h4_v1.py:97-105).
    "vwap_zscore" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      Features.withVwapZ(h1, win = 24, minPeriods = 12)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("vwap"), 6).as("vwap"),
          round(col("vwap_dist"), 6).as("vwap_dist"),
          round(col("vwap_dist_z"), 6).as("vwap_dist_z"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #21 — Kaufman efficiency ratio over 10 bars
    // (build_h1_regime_router_v2.py:53-57).
    "efficiency_ratio" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      Features.withEfficiencyRatio(h1, n = 10)
        .select(col("symbol"), col("bar_ts_ms"), round(col("er"), 6).as("er"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #21 — rolling percentile of close within its trailing 24-bar window
    // (build_h1_regime_router_v2.py:44-50).
    "rolling_percentile" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      Features.withRollingPercentile(h1, "close", "close_pctl", n = 24)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("close_pctl"), 6).as("close_pctl"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #20 — anti-lookahead as-of join: each minute row picks up the close
    // of the last COMPLETED 4h bucket strictly before its own bucket
    // (build_mtf_context_h4_v1.py:228, merge_asof backward + shift(1)).
    "asof_join" -> ((s, dir) => {
      val m1 = Bars.fromTicks(events(s, dir), "minute")
        .select(col("symbol"), col("bar_ts_ms").as("minute_ms"), col("close"))
      val h4 = TfAggregate(Bars.fromTicks(events(s, dir), "hour"), 3600000L, 4)
      val wb = Window.partitionBy("symbol").orderBy("bucket_ms")
      val ctx = h4.select(col("symbol"), col("bucket_ms"),
        lag(col("close"), 1).over(wb).as("ctx_close"))
      AsOf.joinBackward(m1, ctx, "symbol", "minute_ms", "bucket_ms",
          matchedTsCol = "ctx_bucket_ms")
        .select(col("symbol"), col("minute_ms"), col("close"),
          col("ctx_bucket_ms"), col("ctx_close"))
        .orderBy("symbol", "minute_ms")
    }),

    // §2 #6 — month-partition merge/upsert: incoming slice replaces existing
    // rows on key collision (aggregate_tf.py:164-179). Existing = bars built
    // before Jan 20; incoming = bars rebuilt from Jan 10 on; the 10-day
    // overlap is where keep-incoming semantics bite.
    "merge_upsert" -> ((s, dir) => {
      val e = events(s, dir)
      val old = Bars.fromTicks(e.where(col("ts") < lit("2024-01-20").cast("timestamp")), "minute")
        .select(col("symbol"), col("bar_ts_ms").as("minute_ms"),
          col("open"), col("close"), col("n_trades"))
      val inc = Bars.fromTicks(e.where(col("ts") >= lit("2024-01-10").cast("timestamp")), "minute")
        .select(col("symbol"), col("bar_ts_ms").as("minute_ms"),
          col("open"), col("close"), col("n_trades"))
      Lake.mergeUpsert(old, inc, Seq("symbol", "minute_ms"))
        .orderBy("symbol", "minute_ms")
    }),

    // §2 #19 — Ichimoku trend scoring with lagged cloud visibility
    // (compute_ichimoku_mtf_trend_v1.py:99-165).
    "ichimoku" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      Ichimoku(h1, IchimokuParams())
        .select(col("symbol"), col("bar_ts_ms"), col("bull_score"),
          col("bear_score"), col("label"), col("score_display"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #19d — multi-timeframe ichimoku consensus: h1 + lagged 4h verdicts
    // combined 1:2 (compute_ichimoku_mtf_trend_v1.py end-to-end).
    // Composed ichimoku chains + ASOF in DuckDB; also IchimokuRegimeSpec.
    "ichimoku_mtf" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      IchimokuMtf(h1, stepMs = 3600000L, coarseMult = 4)
        .select(col("symbol"), col("bar_ts_ms"), col("label_base"),
          col("label_coarse"), col("mtf_score"), col("mtf_label"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #22c — strict multi-TF router gate: h1+h4 verdict consensus with
    // d1 veto, anti-lookahead coarse projection, both-direction
    // neutralization (build_router_gate_from_audit_v1.py gate algebra).
    "router_gate" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      RouterGate(h1, stepMs = 3600000L)
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #22d — multi-TF regime-case taxonomy with confluence-scored
    // sizing (audit_regime_cases_v1.py cascade; breakout/fake-breakout
    // resolved with two window lags — no stateful scan).
    "regime_cases" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      RegimeCases(h1, stepMs = 3600000L)
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #22 — CHAOS/TREND/RANGE regime router
    // (build_h1_regime_router_v2.py:96-135).
    "regime_router" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      Regime.router(h1, RegimeParams())
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("er"), 6).as("er"),
          round(col("atr_pct_pctl"), 6).as("atr_pct_pctl"),
          col("aligned_bull"), col("aligned_bear"),
          round(col("trend_score"), 6).as("trend_score"),
          col("regime"), col("router_mode"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #24 — MAE/MFE excursion diagnostics for hypothetical SHORT entries
    // (trade_diagnostics_mae_mfe_short.py:65-82).
    "mae_mfe" -> ((s, dir) => {
      val h1 = Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14)
      Backtest.maeMfeShort(h1, horizon = 16, slK = 1.0)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("entry"), 6).as("entry"),
          round(col("mae_r"), 6).as("mae_r"),
          round(col("mfe_r"), 6).as("mfe_r"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #25 — tp-R parameter sweep with conservative both-touch
    // (trade_sweep_tpR_short.py).
    "param_sweep" -> ((s, dir) => {
      val h1 = Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14)
      Backtest.sweepTpR(h1, Seq(1.0, 1.5, 2.0, 3.0), horizon = 16, slK = 1.0)
        .select(col("tp_r"), col("n_trades"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("wr"), 6).as("wr"),
          round(col("pf"), 6).as("pf"))
        .orderBy("tp_r")
    }),

    // §2 #24b — volatility-bucketed MAE excursion report
    // (trade_diagnostics_mae_mfe_short.py:47-82): rp buckets over the
    // range percentile, perf-series stats of mae_r per bucket.
    "trade_report" -> ((s, dir) => {
      val h1 = Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14)
        .withColumn("range_pct",
          (col("high") - col("low")) / when(col("close") =!= 0.0, col("close")))
      val withPctl = Features.withRollingPercentile(h1, "range_pct", "range_pctl", 48)
      val exc = Backtest.maeMfeShort(withPctl, horizon = 16, slK = 1.0)
      Backtest.bucketReport(exc, "mae_r", "range_pctl")
        .select(col("rp_bucket"), col("n"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("wr"), 6).as("wr"),
          round(col("std_r"), 6).as("std_r"),
          round(col("p05"), 6).as("p05"),
          round(col("p95"), 6).as("p95"),
          round(col("min_r"), 6).as("min_r"),
          round(col("max_r"), 6).as("max_r"))
        .orderBy("rp_bucket")
    }),

    // §2 #25+ — 2-D (slK × tpR) parameter sweep
    // (trade_sweep_short_atr_tpR.py).
    "param_sweep_2d" -> ((s, dir) => {
      val h1 = Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14)
      Backtest.sweepGrid(h1, slKs = Seq(0.5, 1.5), tpRs = Seq(1.0, 2.0))
        .select(col("sl_k"), col("tp_r"), col("n_trades"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("wr"), 6).as("wr"),
          round(col("pf"), 6).as("pf"))
        .orderBy("sl_k", "tp_r")
    }),

    // §2 #25m2 — 3-D (horizon × slK × tpR) sweep with exit-reason counts
    // (_tmp_trade_sweep_short_atr_tpR.py H_LIST × SL_K_LIST × TP_R_LIST):
    // extra horizons are extra window frames on one sort, not extra passes.
    "param_sweep_3d" -> ((s, dir) => {
      val h1 = Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14)
      Backtest.sweepGrid3d(h1, horizons = Seq(8, 16),
          slKs = Seq(0.5, 1.5), tpRs = Seq(1.0, 2.0))
        .select(col("horizon_bars"), col("sl_k"), col("tp_r"), col("n_trades"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("wr"), 6).as("wr"),
          round(col("pf"), 6).as("pf"),
          col("n_sl"), col("n_tp"), col("n_time"))
        .orderBy("horizon_bars", "sl_k", "tp_r")
    }),

    // §2 #22+ — sticky direction regime with hysteresis + ML-ready
    // regime_id/state_age (build_m15_direction_regime.py:274-340).
    // Sequential state machine with a trigger-window oracle (transitions
    // depend only on current run lengths); StickyStateSpec covers edges.
    "direction_regime" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      val w = Window.partitionBy("symbol").orderBy("bar_ts_ms")
      def sma(len: Int) = {
        val f = w.rowsBetween(-(len - 1), Window.currentRow)
        when(count(col("close")).over(f) === len, avg(col("close")).over(f))
      }
      val sig = h1.withColumn("_s20", sma(20)).withColumn("_s50", sma(50))
        .withColumn("bull_sig",
          when(col("_s20").isNotNull && col("_s50").isNotNull &&
            col("_s20") > col("_s50"), 1).otherwise(0))
        .withColumn("bear_sig",
          when(col("_s20").isNotNull && col("_s50").isNotNull &&
            col("_s20") < col("_s50"), 1).otherwise(0))
        .select("symbol", "bar_ts_ms", "bull_sig", "bear_sig")
      StickyState(sig, enterN = 2, exitN = 3)
        .select(col("symbol"), col("bar_ts_ms"), col("dir_state"),
          col("dir_regime_id"), col("dir_state_age"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #23 — event-driven SHORT backtest: ichimoku SHORT label arms an
    // entry at next open; SL/TP/time exits, one position per symbol
    // (backtest_router_event_v1_1.py:255-475). Stateful scan with a
    // renewal-structure recursive-CTE oracle; BacktestSpec covers it
    // against hand-computed trades.
    "backtest_trades" -> ((s, dir) => {
      val h1 = Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14)
      val sig = Ichimoku(h1, IchimokuParams())
        .withColumn("signal", when(col("label") === "SHORT", 1).otherwise(0))
        .select(col("symbol"), col("bar_ts_ms"), col("open"), col("high"),
          col("low"), col("close"), col("atr"), col("signal"))
      Backtest.runShort(sig, "signal", tpR = 2.0, slK = 1.0, horizon = 16)
        .select(col("symbol"), col("entry_ts"), round(col("entry_price"), 6).as("entry_price"),
          col("exit_ts"), round(col("exit_price"), 6).as("exit_price"),
          col("exit_reason"), round(col("r_mult"), 6).as("r_mult"), col("bars_held"))
        .orderBy("symbol", "entry_ts")
    }),

    // §2 #23c — the reference's FULL router-backtest risk model
    // (backtest_router_event_v1.py): same event engine plus the break-even
    // overlay (stop moves to entry once the close shows +0.6R, :252-258)
    // and the 5-bar cooldown after a losing trade (:209-316). Every exit
    // path — armed-stop SL at 0R, plain SL at -1R, TP, TIME — and the
    // loss-gated entry chain are hash-checked against a recursive oracle.
    "backtest_router" -> ((s, dir) => {
      val h1 = Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14)
      val sig = Ichimoku(h1, IchimokuParams())
        .withColumn("signal", when(col("label") === "SHORT", 1).otherwise(0))
        .select(col("symbol"), col("bar_ts_ms"), col("open"), col("high"),
          col("low"), col("close"), col("atr"), col("signal"))
      Backtest.run(sig, "signal", short = true, tpR = 2.0, slK = 1.0,
          horizon = 16, breakEvenAtR = Some(0.6), beOffsetR = 0.0,
          cooldownBars = 5)
        .select(col("symbol"), col("entry_ts"), round(col("entry_price"), 6).as("entry_price"),
          col("exit_ts"), round(col("exit_price"), 6).as("exit_price"),
          col("exit_reason"), round(col("r_mult"), 6).as("r_mult"), col("bars_held"))
        .orderBy("symbol", "entry_ts")
    }),

    // §2 #23d — the reference's TREND/RANGE dual-engine split: the regime
    // mode at entry picks the engine and its whole risk config (TREND:
    // 1.0-ATR stop, 2R target, 16-bar time stop, no break-even; RANGE:
    // 0.8-ATR stop, 1.2R target, 8 bars, break-even at +0.6R), a FLIP exit
    // fires when the mode leaves the entry engine, and one position + the
    // 5-bar post-loss cooldown are shared across engines
    // (backtest_router_event_v1.py:200-330). Mode = efficiency-ratio
    // regime; NA mode blocks entries (VOL_EXCLUDE_NA).
    "backtest_dual_engine" -> ((s, dir) => {
      val h1 = Features.withEfficiencyRatio(
        Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14), 10)
      val sig = Ichimoku(h1, IchimokuParams())
        .withColumn("signal", when(col("label") === "SHORT", 1).otherwise(0))
        .withColumn("mode", when(col("er").isNotNull,
          when(col("er") >= 0.3, "TREND").otherwise("RANGE")))
        .withColumn("tp_r", when(col("mode") === "TREND", 2.0).otherwise(1.2))
        .withColumn("sl_k", when(col("mode") === "TREND", 1.0).otherwise(0.8))
        .withColumn("horizon_bars", when(col("mode") === "TREND", 16).otherwise(8))
        .withColumn("be_at_r", when(col("mode") === "RANGE", 0.6))
        .select(col("symbol"), col("bar_ts_ms"), col("open"), col("high"),
          col("low"), col("close"), col("atr"), col("signal"), col("mode"),
          col("tp_r"), col("sl_k"), col("horizon_bars"), col("be_at_r"))
      Backtest.runDualEngine(sig, "signal", "mode", cooldownBars = 5)
        .select(col("symbol"), col("engine"), col("entry_ts"),
          round(col("entry_price"), 6).as("entry_price"),
          col("exit_ts"), round(col("exit_price"), 6).as("exit_price"),
          col("exit_reason"), round(col("r_mult"), 6).as("r_mult"), col("bars_held"))
        .orderBy("symbol", "entry_ts")
    }),

    // §2 #23d — the per-(symbol, engine) summary table the dual-engine
    // reference script prints: n, mean R, win rate, profit factor, max
    // drawdown of each engine's own equity curve.
    "dual_engine_perf" -> ((s, dir) => {
      val h1 = Features.withEfficiencyRatio(
        Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14), 10)
      val sig = Ichimoku(h1, IchimokuParams())
        .withColumn("signal", when(col("label") === "SHORT", 1).otherwise(0))
        .withColumn("mode", when(col("er").isNotNull,
          when(col("er") >= 0.3, "TREND").otherwise("RANGE")))
        .withColumn("tp_r", when(col("mode") === "TREND", 2.0).otherwise(1.2))
        .withColumn("sl_k", when(col("mode") === "TREND", 1.0).otherwise(0.8))
        .withColumn("horizon_bars", when(col("mode") === "TREND", 16).otherwise(8))
        .withColumn("be_at_r", when(col("mode") === "RANGE", 0.6))
        .select(col("symbol"), col("bar_ts_ms"), col("open"), col("high"),
          col("low"), col("close"), col("atr"), col("signal"), col("mode"),
          col("tp_r"), col("sl_k"), col("horizon_bars"), col("be_at_r"))
      val trades = Backtest.runDualEngine(sig, "signal", "mode", cooldownBars = 5)
      Backtest.perfBy(trades, Seq("symbol", "engine"))
        .select(col("symbol"), col("engine"), col("n_trades"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("wr"), 6).as("wr"),
          round(col("pf"), 6).as("pf"),
          round(col("max_drawdown_r"), 6).as("max_dd_r"))
        .orderBy("symbol", "engine")
    }),

    // §2 #23b — per-symbol equity/performance rollup of the event backtest:
    // n, mean R, win rate, profit factor, max drawdown of the cumulative R
    // curve (trade_backtest_router_short.py:23-96 max_drawdown + summary).
    "equity_curve" -> ((s, dir) => {
      val h1 = Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14)
      val sig = Ichimoku(h1, IchimokuParams())
        .withColumn("signal", when(col("label") === "SHORT", 1).otherwise(0))
        .select(col("symbol"), col("bar_ts_ms"), col("open"), col("high"),
          col("low"), col("close"), col("atr"), col("signal"))
      val trades = Backtest.runShort(sig, "signal", tpR = 2.0, slK = 1.0,
        horizon = 16)
      Backtest.perf(trades)
        .select(col("symbol"), col("n_trades"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("wr"), 6).as("wr"),
          round(col("pf"), 6).as("pf"),
          round(col("max_drawdown_r"), 6).as("max_dd_r"))
        .orderBy("symbol")
    }),

    // §2 #17h — order-flow / CVD feature block over hour bars with buy/sell
    // aggression split (run_ml_m15_v2_flow.py:171-215). The tick stream has
    // no taker-side flag, so even/odd user_id stands in for taker-buy/sell —
    // deterministic on both engines.
    "flow_features" -> ((s, dir) => {
      val bars = Bars.fromTicksWithAggression(events(s, dir), "hour",
        buySide = col("user_id") % 2 === 0)
      Flow.withFlowFeatures(bars)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("delta_aggr_norm"), 6).as("delta_aggr_norm"),
          round(col("cvd_proxy"), 6).as("cvd_proxy"),
          round(col("cvd_ret1"), 6).as("cvd_ret1"),
          round(col("cvd_slope_3"), 6).as("cvd_slope_3"),
          round(col("cvd_slope_8"), 6).as("cvd_slope_8"),
          round(col("cvd_ret1_z"), 6).as("cvd_ret1_z"),
          round(col("price_slope_3"), 6).as("price_slope_3"),
          col("div_cvd_price_3"), col("div_cvd_price_8"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #22c — LOW+ tradability enrichment: low-vol override gating with
    // reason codes (enrich_joined_low_plus.py:22-60).
    "low_plus_gate" -> ((s, dir) =>
      gateFrame(s, dir).orderBy("symbol", "bar_ts_ms")),

    // §2 #22c6 — router-frame inspection dump
    // (inspect_router_columns_and_counts_v1_1.py:104-114 VALUE COUNTS):
    // per-column value-counts with in-column fractions over the enriched
    // router/gate frame's state columns, nulls bucketed as 'NULL'
    // (dropna=False). One map-side explode + one hash aggregation for ALL
    // columns — single shuffle, vs the inspector's pass per column.
    "router_profile" -> ((s, dir) =>
      Profile.valueCounts(
          gateFrame(s, dir).withColumn(
            "hour_utc",
            ((col("bar_ts_ms") / lit(3600000L)).cast("long") % 24).cast("int")),
          Seq("dir_state", "vol_state", "dir_ready", "tradable_final",
            "is_add", "override_reason", "block_reason_base", "hour_utc"))
        .orderBy("col_name", "value")),

    // §2 #22c2 — LOW+ policy sweep: interval-union allow/block config
    // algebra over the enriched frame, ≥3 configs evaluated in ONE pass via
    // broadcast config explode (router_low_plus_sweep.py:20-107
    // LowPlusConfig + apply_low_plus_override_filter over a config grid).
    "low_plus_sweep" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      val cfgs = Seq(
        LowPlus.LowPlusConfig("c1_strict"),
        LowPlus.LowPlusConfig("c2_wide_hours",
          allowHoursUtc = 0 until 24, dirScoreMin = 0.15,
          allowRangePctl = Seq(LowPlus.Interval(0.0, 20.0)),
          blockRangePctl = Seq(LowPlus.Interval(-2.0, -1.0))),
        LowPlus.LowPlusConfig("c3_both_sides",
          allowHoursUtc = 0 until 24, dirScoreMin = -1.0,
          bullOnly = false, forbidNeutral = false,
          allowRangePctl = Seq(LowPlus.Interval(0.0, 10.0),
            LowPlus.Interval(12.0, 14.5)),
          blockRangePctl = Seq(LowPlus.Interval(5.0, 6.0))))
      LowPlus.sweep(LowPlus.enrich(h1), cfgs).orderBy("config_id")
    }),

    // §2 #22c3 — ADD-set diagnostics: per-dimension value counts (hour,
    // side, vol state, dir-score bin, range-pctl bucket) of the cohort the
    // LOW+ override ADDS beyond base readiness
    // (analyze_low_plus_debug.py:149-174,263-269) — five groupby passes in
    // the reference, one explode + one hash agg here.
    "low_plus_debug" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      val cfg = LowPlus.LowPlusConfig("dbg",
        allowHoursUtc = 0 until 24, dirScoreMin = -1.0, bullOnly = false,
        forbidNeutral = false,
        allowRangePctl = Seq(LowPlus.Interval(0.0, 14.5)),
        blockRangePctl = Seq(LowPlus.Interval(-2.0, -1.0)))
      LowPlus.addSetBreakdown(
          LowPlus.applyConfigs(LowPlus.enrich(h1), Seq(cfg)))
        .orderBy("config_id", "dim", "bucket")
    }),

    // §2 #25b5 — ADD-set forward-return slicing (_tmp_add_slices.py family):
    // 4/8-bar forward LOG returns of the override-only rows, the
    // reference's four sequential groupbys (side, range bucket, hour,
    // side×bucket) as ONE grouping-sets aggregation. dirAbsMin=0.15 sets
    // the readiness floor AT the neutral band edge (dir_ready ≡ non-
    // NEUTRAL) — the synthetic month is too calm for the reference's 0.30
    // floor to admit any ADD rows; the slicing semantics are identical.
    "add_slices" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      LowPlus.addSlices(LowPlus.enrich(h1, dirAbsMin = 0.15))
        .select(col("slice_dir"), col("slice_bucket"), col("slice_hour"),
          col("n"),
          round(col("mean_sret8"), 6).as("mean_sret8"),
          round(col("wr_sret8"), 6).as("wr_sret8"),
          round(col("mean_sret4"), 6).as("mean_sret4"),
          round(col("std_sret8"), 6).as("std_sret8"))
        .orderBy("slice_dir", "slice_bucket", "slice_hour")
    }),

    // §2 #25s — confidence keep-fraction sweep: keep the top-f fraction of
    // bars by impulse score, report the kept cohort's forward-return stats
    // (run_ml_m15_v2_flow.py:238-263 choose_keep_frac_val).
    "keep_frac_sweep" -> ((s, dir) => {
      val h1 = Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14)
      val w = Window.partitionBy("symbol").orderBy("bar_ts_ms")
      val scored = h1
        .withColumn("score",
          (col("close") - col("open")) / when(col("atr") > 0.0, col("atr")))
        .withColumn("r_fwd",
          lead(col("close"), 4).over(w) /
            when(col("close") =!= 0.0, col("close")) - 1.0)
      Backtest.keepFracSweep(scored, "score", "r_fwd",
          Seq(0.2, 0.4, 0.6, 0.8, 1.0), Seq("symbol", "bar_ts_ms"))
        .select(col("keep_frac"), col("n_kept"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("wr"), 6).as("wr"),
          round(col("pf"), 6).as("pf"))
        .orderBy("keep_frac")
    }),

    // §2 #25s (sketch path) — the 100 TB keep-fraction plan, executed under
    // the driver contract: one mergeable percentile_approx sketch for every
    // fraction, broadcast threshold join, one hash agg — no window, no
    // global sort. Rows-only by design: cohort membership differs from the
    // rank form by sketch error and score ties; ScaleHygieneSpec pins
    // sketch-vs-exact tolerance and PlanAuditSpec pins the no-Window plan.
    "keep_frac_sweep_sketch" -> ((s, dir) => {
      val h1 = Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14)
      val w = Window.partitionBy("symbol").orderBy("bar_ts_ms")
      val scored = h1
        .withColumn("score",
          (col("close") - col("open")) / when(col("atr") > 0.0, col("atr")))
        .withColumn("r_fwd",
          lead(col("close"), 4).over(w) /
            when(col("close") =!= 0.0, col("close")) - 1.0)
      Backtest.keepFracSweepApprox(scored, "score", "r_fwd",
          Seq(0.2, 0.4, 0.6, 0.8, 1.0))
        .select(col("keep_frac"), col("n_kept"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("wr"), 6).as("wr"),
          round(col("pf"), 6).as("pf"))
        .orderBy("keep_frac")
    }),

    // §2 #27b — near-dup clustering: rare-shingle blocking edges (DF-bounded
    // inverted-index join, no all-pairs) → connected components (min-label
    // propagation) → cluster sizes + canonical survivor per cluster.
    "dedup_clusters" -> ((s, dir) => {
      val docs = docsWithNearDups(s, dir)
      Cluster.nearDupClusters(docs, maxDf = 5, minCommon = 2)
        .orderBy("doc_id")
    }),

    // §2 #53 — rolling cross-asset correlation/beta: 'click' vs 'view'
    // hour closes joined on the time grid, 24-bar Pearson from primitive
    // window aggregates (pairs/hedge co-movement feature).
    "rolling_corr" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      val a = h1.where(col("symbol") === "click")
        .select(col("bar_ts_ms"), col("close").as("x"))
      val b = h1.where(col("symbol") === "view")
        .select(col("bar_ts_ms"), col("close").as("y"))
      val joined = a.join(b, "bar_ts_ms").withColumn("pair", lit("click/view"))
      Features.withRollingCorr(joined, "x", "y", n = 24, keyCols = Seq("pair"))
        .select(col("pair"), col("bar_ts_ms"),
          round(col("x"), 6).as("x"), round(col("y"), 6).as("y"),
          round(col("roll_corr"), 6).as("roll_corr"),
          round(col("roll_beta"), 6).as("roll_beta"))
        .orderBy("bar_ts_ms")
    }),

    // §2 #29b — asymmetric n-gram containment (quote/subset detection):
    // each doc vs its seeded truncation; containment(trunc in orig) ≈ 1
    // while Jaccard already dips — the case symmetric scores miss.
    "ngram_containment" -> ((s, dir) => {
      val d = docsWithNearDups(s, dir)
      // pair every seeded truncation with its source by the +1e6 id offset
      // as a pure id-offset self-join — NOT by an id-range split, which
      // silently drops sources whose ids are themselves >= 1e6 (the sf1.0
      // replica universes; caught by the full-surface sf1 gate)
      val pairs = d.select(col("doc_id").as("id1"), col("text").as("_t1"))
        .join(d.select(col("doc_id").as("id2"), col("text").as("_t2")),
          col("id2") === col("id1") + 1000000)
      Dedup.withContainment(pairs, "_t1", "_t2", n = 3)
        .select(col("id1"), col("id2"), col("n_inter"), col("n_union"),
          round(col("jaccard"), 6).as("jaccard"),
          round(col("containment_a_in_b"), 6).as("cont_orig_in_trunc"),
          round(col("containment_b_in_a"), 6).as("cont_trunc_in_orig"))
        .orderBy("id1")
    }),

    // §2 #52 — robust per-symbol scaling of bar volume: median/MAD z-score
    // + MAD-band winsorization (heavy-tail-safe normalization).
    "robust_scale" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      Stats.robustScale(h1, Seq("symbol"), "volume", clipK = 3.0)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("volume"), 6).as("volume"),
          round(col("robust_z"), 6).as("robust_z"),
          round(col("volume_clipped"), 6).as("volume_clipped"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #52 (sketch path) — robust scaling on percentile_approx sketches:
    // fixed memory per group, map-side-mergeable partials — the 100 TB
    // variant of robust_scale run under the driver contract. Rows-only
    // (sketch medians aren't bit-identical to exact percentiles);
    // ScaleHygieneSpec pins sketch-vs-exact tolerance.
    "robust_scale_approx" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      Stats.robustScale(h1, Seq("symbol"), "volume", clipK = 3.0,
          useApprox = true)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("volume"), 6).as("volume"),
          round(col("robust_z"), 6).as("robust_z"),
          round(col("volume_clipped"), 6).as("volume_clipped"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #50 — token-window document chunking with overlap (training-
    // sequence construction; map-side explode, no shuffle).
    "doc_chunks" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      TextAnalysis.chunk(d, chunkSize = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")
    }),

    // §2 #50b — token-budget shard packing: stable hash shards, per-shard
    // running token sum → fixed-budget training packs (the shard-assembly
    // step after cleaning/chunking; per-shard windows, no global sort).
    "pack_shards" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      TextAnalysis.packShards(d, tokensPerPack = 256L, nShards = 8)
        .orderBy("shard", "doc_id")
    }),

    // §2 #50b2 — LPT/snake shard packing (Graham 1969): token-balanced
    // training shards via a boustrophedon deal over the (n_tokens DESC,
    // id) rank — the rank computed DISTRIBUTED (histogram offsets +
    // within-length window), never a single-task global window.
    "pack_shards_lpt" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      TextAnalysis.packShardsLpt(d, nShards = 8).orderBy("lpt_rank")
    }),

    // §2 #51 — per-doc top-k terms by smoothed TF-IDF (keyword extraction).
    "tfidf_topk" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      TextAnalysis.tfidfTopK(d, k = 5)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "rank")
    }),

    // §2 #49 — deterministic stratified sampling / dataset mixing: md5-hash
    // bucket membership (reproducible across engines, runs, partitionings;
    // map-only), per-stratum mix weights.
    // §2 #49g — exact-k weighted sampling without replacement (Efraimidis
    // & Spirakis 2006): keep the k rows with the largest md5-derived
    // ln(u)/w election key (ln(u) 9dp-rounded BEFORE the IEEE-exact
    // weight division — scale-invariant resolution; ties to id).
    // Map-only key derivation + ONE distributed top-k, no shuffle.
    "weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(
          Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
          "doc_id", col("n_chars"), k = 50)
        .orderBy(col("sample_key").desc, col("doc_id"))),

    "stratified_sample" -> ((s, dir) => {
      val fr = Map("click" -> 0.30, "view" -> 0.10, "purchase" -> 1.0,
        "signup" -> 0.55)
      Sampling.stratified(events(s, dir), "event_id", "event_type", fr)
        .select(col("event_type").as("stratum"), col("event_id"),
          col("user_id"), round(col("value"), 6).as("value"))
        .orderBy("stratum", "event_id")
    }),

    // §2 #49b — mixture-TARGETED sampling (the Doremi-style data-mixture
    // pass): target weights + target size -> per-source keep fractions
    // min(1, w·T/n) with the availability cap engaging on the two
    // over-weighted sources, then the deterministic md5 membership.
    // Emits the per-source mixture audit (avail, fraction, kept,
    // achieved share).
    "mixture_sample" -> ((s, dir) => {
      val w = Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.15,
        "src3" -> 0.1, "src4" -> 0.05)
      val kept = Sampling.mixture(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "doc_id", "source", w, targetRows = 100)
      kept.groupBy(col("source"), col("n_avail"))
        .agg(count(lit(1)).as("n_kept"), first(col("keep_frac")).as("_kf"))
        .select(col("source"), col("n_avail"),
          round(col("_kf"), 6).as("keep_frac"), col("n_kept"),
          round(col("n_kept") / sum(col("n_kept")).over(Window.partitionBy()), 6)
            .as("achieved_frac"))
        .orderBy("source")
    }),

    // §2 #49e — per-stratum top-fraction keep (the FineWeb-style adaptive
    // threshold: the best 40% of EACH source by raw length, ties to the
    // lowest id, ceil so every non-empty source keeps at least one doc) —
    // the curation rule that stops one low-quality source's absolute bar
    // from starving a high-quality one.
    "source_quantile_filter" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      Sampling.topFractionPerStratum(d, "source", col("n_chars"), frac = 0.4)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("stratum_rank"), col("n_stratum"))
        .orderBy("source", "stratum_rank")
    }),

    // §2 #49f — temperature-scaled source mixture (the multilingual
    // exponential-smoothing rule, α = 0.3): raw token share → p^α
    // renormalized, with the up/down-sampling factor and the expected
    // token allocation at a 1M-token budget. One hash agg to |sources|
    // rows; the third standard mixture recipe next to UniMax (#49d) and
    // DoReMi (#54d).
    "mixture_temperature" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Sampling.temperatureWeights(
          d.select(col("source"), col("text")), "source",
          massCol = size(TextAnalysis.tokens(col("text"))),
          alpha = 0.3, budget = 1000000.0)
        .orderBy("source")
    }),

    // §2 #49c — deterministic global training-order shuffle: md5(seed:key)
    // sort key -> shard (top 32 hash bits mod n) + position within shard.
    // Reproducible across runs/engines/partitionings (orderBy(rand()) is
    // not); per-shard windows only, no global sort.
    "shard_shuffle" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"))
      Sampling.shardShuffle(d, "doc_id", nShards = 8, seed = "epoch0")
        .select(col("doc_id"), col("shard"), col("pos_in_shard"))
        .orderBy("shard", "pos_in_shard")
    }),

    // §2 #49d — UniMax budget allocation (the pass that COMPUTES the
    // mixture #49b consumes): per-source token mass -> epoch-capped
    // waterfill of a fixed token budget, closed-form over rank windows
    // (saturated prefix + common watermark). At sf0.01 the ±15% source
    // spread straddles the watermark, exercising both branches.
    "unimax_alloc" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Sampling.unimaxAlloc(
          d.select(col("source"), col("text")),
          "source", size(TextAnalysis.tokens(col("text"))),
          budget = 50000.0, epochCap = 2.0)
        .orderBy("source")
    }),

    // §2 #54d — DoReMi exponentiated-gradient domain weights: per-source
    // mean excess loss (chars-per-token fertility proxy vs a 0.5
    // reference) -> 5 EG steps with uniform smoothing. The corpus is
    // touched once (the per-domain agg); the steps iterate a |domains|-row
    // frame.
    "doremi_weights" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Selection.doremiWeights(
          d.select(col("source"), col("text")),
          "source",
          proxyLoss = length(col("text")) /
            (size(TextAnalysis.tokens(col("text"))) * lit(10.0)),
          refLoss = lit(0.5), steps = 5, eta = 20.0, smoothing = 0.1)
        .orderBy("source")
    }),

    // §2 #57b — cluster-balanced sampling: k-means cell assignment (#56)
    // capped at 40 survivors per cell by md5(vec_id) rank — the
    // diversity-preserving cap after clustering (big topic blobs stop
    // dominating, small cells keep everything).
    "cluster_sample" -> ((s, dir) =>
      Sampling.clusterBalancedSample(
          Similarity.kmeansAssign(embeddingsWithNearDups(s, dir), k = 8)
            .select(col("vec_id"), col("cluster")),
          "vec_id", "cluster", perCellCap = 40)
        .orderBy("vec_id")),

    // §2 #48b — semi-structured extraction: typed parse of the JSON props
    // column (one codegen'd schema-pruned Jackson pass per row, malformed
    // rows counted not dropped) + per-type field profile.
    "props_extract" -> ((s, dir) =>
      Semi.jsonFieldProfile(events(s, dir), "event_type", "props", "k")
        .orderBy("event_type")),

    // §2 #48 — one-pass table/column profile: row, null, distinct counts and
    // string min/max per column (inspect_router_columns_and_counts_v1_1.py).
    // ts excluded: timestamp→string rendering is engine-specific.
    "column_profile" -> ((s, dir) => {
      val e = events(s, dir)
      Profile.columnProfile(e,
          Seq("event_id", "user_id", "event_type", "value", "props"))
        .orderBy("column_name")
    }),

    // §2 #22b — LOW/MID/HIGH volatility regime from the range percentile
    // (build_m5_vol_regime.py:148-185).
    "vol_regime" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      VolRegime(h1, lookback = 48, pLow = 25.0, pHigh = 70.0)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("range_pctl"), 6).as("range_pctl"),
          col("vol_state"), col("market_ready"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #19b — flat kijun plateau levels via run-length encoding
    // (find_ichimoku_flat_levels_v1.py:93-131).
    "flat_levels" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      val w = Window.partitionBy("symbol").orderBy("bar_ts_ms")
        .rowsBetween(-25, Window.currentRow)
      val kijun = when(count(col("high")).over(w) === 26,
        (max(col("high")).over(w) + min(col("low")).over(w)) / 2.0)
      FlatLevels(h1.withColumn("kijun", kijun), "kijun", minFlatBars = 3)
        .select(col("symbol"), round(col("level"), 6).as("level"),
          col("start_ms"), col("end_ms"), col("length_bars"))
        .orderBy("symbol", "start_ms")
    }),

    // §2 #20b — multi-TF context composition: two chained anti-lookahead
    // as-of joins (h4 + day) onto minute rows (build_joined_m1_long_v1.py,
    // build_mtf_context_day_v1.py).
    "mtf_join" -> ((s, dir) => {
      val m1 = Bars.fromTicks(events(s, dir), "minute")
        .select(col("symbol"), col("bar_ts_ms").as("minute_ms"), col("close"))
      val wb = Window.partitionBy("symbol").orderBy("bucket_ms")
      val h4ctx = TfAggregate(Bars.fromTicks(events(s, dir), "hour"), 3600000L, 4)
        .select(col("symbol"), col("bucket_ms"),
          lag(col("close"), 1).over(wb).as("h4_close"))
      val wd = Window.partitionBy("symbol").orderBy("bar_ts_ms")
      val dayctx = Resample.ohlc(Bars.fromTicks(events(s, dir), "minute"), "day")
        .select(col("symbol"), col("bar_ts_ms"),
          lag(col("close"), 1).over(wd).as("day_close"))
      val j1 = AsOf.joinBackward(m1, h4ctx, "symbol", "minute_ms", "bucket_ms",
        matchedTsCol = "h4_bucket_ms")
      AsOf.joinBackward(j1, dayctx, "symbol", "minute_ms", "bar_ts_ms",
          matchedTsCol = "day_bucket_ms")
        .select(col("symbol"), col("minute_ms"), col("close"),
          col("h4_bucket_ms"), col("h4_close"),
          col("day_bucket_ms"), col("day_close"))
        .orderBy("symbol", "minute_ms")
    }),

    // §2 #23b — MLlib logistic-regression trade filter over bar features
    // (run_ml_filter_v1.py family). Model training — no SQL oracle;
    // MlSpec covers learnability on a separable corpus.
    "ml_filter" -> ((s, dir) => {
      val h1 = Features.withVwapZ(
        Features.withEfficiencyRatio(
          Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14), 10))
        .withColumn("atr_pct", col("atr") / when(col("close") =!= 0.0, col("close")))
      val scored = MlFilter.trainScore(
        MlFilter.withLabel(h1), Seq("atr_pct", "er", "vwap_dist_z"))
      MlFilter.confusion(scored).orderBy("symbol")
    }),

    // §2 #25e — the deterministic half of ml_filter as its own hash-checked
    // key: the labeled training frame (features at t, label = sign of the
    // NEXT bar's close move, warm-up/last-bar rows dropped) is pure SQL
    // semantics, so it gets a full DuckDB oracle — leaving only the
    // LBFGS/GBT fit itself rows-only under ml_filter. Mirrors the
    // regime_frame split of ml_regime_month.
    "ml_filter_frame" -> ((s, dir) => {
      val feats = Seq("atr_pct", "er", "vwap_dist_z")
      val h1 = Features.withVwapZ(
        Features.withEfficiencyRatio(
          Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14), 10))
        .withColumn("atr_pct", col("atr") / when(col("close") =!= 0.0, col("close")))
      MlFilter.withLabel(h1).na.drop(feats :+ "label")
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("atr_pct"), 6).as("atr_pct"),
          round(col("er"), 6).as("er"),
          round(col("vwap_dist_z"), 6).as("vwap_dist_z"),
          col("label"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #34c — GPT-3-style model-based quality filter: hashed-BoW
    // logistic regression trained to separate a curated seed source
    // (src0 as the WebText stand-in) from a deterministic sample of the
    // rest, scoring every doc with P(seed-like). The fit is rows-only
    // (LBFGS float accumulation); QualityClassifierSpec pins separation
    // and held-out generalization.
    "quality_classifier" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val scored = QualityClassifier.trainScore(
        d, QualityClassifier.labeled(d, seedSource = "src0"))
      scored.select(col("doc_id"), col("source"),
          round(col("quality_prob"), 6).as("quality_prob"))
        .orderBy("doc_id")
    }),

    // §2 #34c (serving half) — the exported-model scoring path: fit once,
    // export (intercept, coefficients) = the ENTIRE model state, score
    // through pure column algebra with the native HashingTfBucket
    // expression (exact HashingTF parity — SQL hash() is a different
    // murmur variant). Stateless, so the same column scores streams.
    // Rows-only like the fit; QualityClassifierSpec pins batch/stream
    // parity at 1e-9.
    "quality_serve" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val (b, w) = QualityClassifier.exportModel(
        QualityClassifier.labeled(d, seedSource = "src0"))
      QualityClassifier.scoreStateless(d, b, w)
        .select(col("doc_id"), col("source"),
          round(col("quality_prob"), 6).as("quality_prob"))
        .orderBy("doc_id")
    }),

    // §2 #34c (deterministic half) — the weak-supervision training frame:
    // label 1.0 on the seed source, 0.0 on the md5-bucket negative sample
    // sized 2:1, class counts derived in-plan. Pure SQL semantics ->
    // full oracle, mirroring the ml_filter_frame split.
    "quality_labels" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      QualityClassifier.labeled(d, seedSource = "src0")
        .select(col("doc_id"), col("source"), col("label"))
        .orderBy("doc_id")
    }),

    // §2 #25e2 — period-grain 3-class regime evaluation: coarse-period
    // OHLC + last-feature frame, forward-return quantile labels, multinomial
    // logistic fit on the TRAIN slice, per-slice accuracy / macro-F1 /
    // class distribution (run_ml_regime_month_v1.py:99-113,155-199; the
    // weekly variant is the same at another truncUnit). The period rule is
    // parameterized; the testdata spans one calendar month, so the driver
    // query runs the day grain — at lake scale the same call takes
    // "month"/"week". Model training — rows-only; RegimeEval learnability
    // and frame semantics covered in MlVolFlatSpec.
    "ml_regime_month" -> ((s, dir) => {
      val feats = Seq("atr_pct", "er", "vwap_dist_z")
      val h1 = Features.withVwapZ(
        Features.withEfficiencyRatio(
          Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14), 10))
        .withColumn("atr_pct", col("atr") / when(col("close") =!= 0.0, col("close")))
      val frame = RegimeEval.periodFrame(h1, "day", feats)
      RegimeEval.evaluate(frame, feats, horizon = 3, trendQuantile = 0.6,
          trainEndMs = 1705622400000L, // 2024-01-19T00Z
          valEndMs = 1706140800000L)   // 2024-01-25T00Z
        .orderBy("set_name")
    }),

    // §2 #25e2 — the deterministic half of the regime evaluation as its own
    // hash-checked key: the coarse-period frame (OHLC via min_by/max_by +
    // last NON-NULL context feature per period,
    // run_ml_regime_month_v1.py:99-113) is pure SQL semantics, so it gets a
    // full DuckDB arg_min/arg_max oracle — leaving only the LBFGS fit
    // itself rows-only under ml_regime_month/_week.
    "regime_frame" -> ((s, dir) => {
      val feats = Seq("atr_pct", "er", "vwap_dist_z")
      val h1 = Features.withVwapZ(
        Features.withEfficiencyRatio(
          Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14), 10))
        .withColumn("atr_pct", col("atr") / when(col("close") =!= 0.0, col("close")))
      RegimeEval.periodFrame(h1, "day", feats)
        .select(col("symbol"), col("period_ms"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("atr_pct"), 6).as("atr_pct"),
          round(col("er"), 6).as("er"),
          round(col("vwap_dist_z"), 6).as("vwap_dist_z"))
        .orderBy("symbol", "period_ms")
    }),

    // §2 #25e3 — the WEEK-grain period frame (run_ml_regime_week_v1.py's
    // deterministic half) hash-checked too: same min_by/max_by + last
    // non-null feature semantics over Monday-truncated weeks.
    "regime_frame_week" -> ((s, dir) => {
      val feats = Seq("atr_pct", "er", "vwap_dist_z")
      val h1 = Features.withVwapZ(
        Features.withEfficiencyRatio(
          Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14), 10))
        .withColumn("atr_pct", col("atr") / when(col("close") =!= 0.0, col("close")))
      RegimeEval.periodFrame(h1, "week", feats)
        .select(col("symbol"), col("period_ms"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("atr_pct"), 6).as("atr_pct"),
          round(col("er"), 6).as("er"),
          round(col("vwap_dist_z"), 6).as("vwap_dist_z"))
        .orderBy("symbol", "period_ms")
    }),

    // §2 #25e3 — the same evaluation at WEEK grain (run_ml_regime_week_v1
    // .py): identical pipeline, truncUnit="week", horizon 1. The testdata
    // month holds 5 ISO weeks, so the split leaves TRAIN=3 / VAL=1 weekly
    // periods per symbol and the final week's forward return is undefined
    // (dropped) — thin on purpose at test scale; at lake scale the same
    // call sees years of weeks. Model training — rows-only.
    "ml_regime_week" -> ((s, dir) => {
      val feats = Seq("atr_pct", "er", "vwap_dist_z")
      val h1 = Features.withVwapZ(
        Features.withEfficiencyRatio(
          Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14), 10))
        .withColumn("atr_pct", col("atr") / when(col("close") =!= 0.0, col("close")))
      val frame = RegimeEval.periodFrame(h1, "week", feats)
      RegimeEval.evaluate(frame, feats, horizon = 1, trendQuantile = 0.6,
          trainEndMs = 1705881600000L, // 2024-01-22T00Z (Mon)
          valEndMs = 1706486400000L)   // 2024-01-29T00Z (Mon)
        .orderBy("set_name")
    }),

    // §2 #14b — funding pipeline: settlement-window premium → 8h funding
    // rates → cumulative accrual projected anti-lookahead onto hour bars
    // (premium_index_m1.py + funding_events.py domain).
    "funding_accrual" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      val rates = Funding.ratesFromBars(h1)
      Funding.accrueOntoBars(h1, rates)
        .select(col("symbol"), col("bar_ts_ms"), col("last_pay_ms"),
          round(col("cum_funding"), 6).as("cum_funding"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #19c — consolidation range boxes: RLE over the inside-band
    // predicate (build_range_boxes_from_flats_v2.py).
    "range_boxes" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      RangeBoxes(h1, smaLen = 20, atrLen = 14, bandK = 1.0, minBars = 6)
        .select(col("symbol"), col("start_ms"), col("end_ms"), col("n_bars"),
          round(col("box_low"), 6).as("box_low"),
          round(col("box_high"), 6).as("box_high"))
        .orderBy("symbol", "start_ms")
    }),

    // §2 #26 — exact dedup on the canonical-form content hash. Seeded exact
    // dups: every 7th doc re-appears under id+1000000.
    "exact_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val dup = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      Dedup.exact(d.unionByName(dup))
        .orderBy("fingerprint")
    }),

    // §2 #26h — exact dedup electing the BEST raw rendition per canonical
    // fingerprint (the published survivor rule: duplicates under the
    // case/whitespace-insensitive hash differ in raw form — keep the
    // longest, ties to the lowest id). Seeds two raw-variant families
    // (uppercased twins and whitespace-inflated twins) so the election is
    // exercised in both directions; one hash agg, argmax-as-max-of-struct.
    "dedup_keep_best" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val dupUp = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          upper(col("text")).as("text"))
      val dupWs = d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(lit(" "), regexp_replace(col("text"), " ", "  ")).as("text"))
      Dedup.exactKeepBest(d.unionByName(dupUp).unionByName(dupWs),
          quality = length(col("text")))
        .orderBy("fingerprint")
    }),

    // §2 #26i — URL-grain keep-best dedup: crawl records of the same page
    // under cosmetically different addresses (scheme/host case, default
    // ports, tracking params, param order, trailing slash, fragments)
    // collapse on the canonicalized URL, keeping the best-quality copy.
    // URLs are built deterministically from doc_id (3 docs per canonical
    // group, every messiness axis varied by residue) — the same
    // build-then-parse pattern as the PNG/WAV/JPEG container keys.
    "url_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
      Dedup.urlKeepBest(d.withColumn("url", synthUrl), col("url"),
          quality = col("n_chars"))
        .orderBy("canonical_url")
    }),

    // §2 #26i2 — incremental URL-grain keep-best dedup (the growing-crawl
    // upsert): history = docs %3!=0 builds the per-URL index (2 raw copies
    // per address), the batch brings each group's third copy (%3==0,
    // original ids — 'kept' or 'improved' depending on the election) plus
    // re-fetches at fresh addresses (%5==0 shifted +1M — 'new'). The
    // election is a commutative monoid, so the merged rows are EXACTLY
    // the full-pass keep-best over history ∪ batch restricted to
    // batch-touched URLs — the oracle checks the production upsert
    // itself, no restriction caveat.
    "url_dedup_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"))
      val hist = d.where(col("doc_id") % 3 =!= 0)
      val batch = d.where(col("doc_id") % 3 === 0)
        .unionByName(d.where(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), col("n_chars")))
      val index = Dedup.urlKeepBest(hist.withColumn("url", synthUrl),
          col("url"), quality = col("n_chars"))
        .select(col("canonical_url"), col("n_copies"), col("keep_id"),
          col("keep_quality"))
      Dedup.urlKeepBestIncremental(batch.withColumn("url", synthUrl),
          index, col("url"), quality = col("n_chars"))
        .orderBy("canonical_url")
    }),

    // §2 #26b — span-grain exact dedup (RefinedWeb/Dolma line-dedup, at
    // sentence grain): every distinct sentence keeps its corpus-wide first
    // occurrence, documents rebuilt from surviving spans — the
    // cross-document boilerplate pass doc-level dedup cannot see.
    "span_dedup" -> ((s, dir) =>
      Dedup.spanDedup(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .orderBy("doc_id")),

    // §2 #26b2 — incremental span-grain dedup with the Bloom-prefiltered
    // history probe (Dolma's paragraph-dedup production shape): documents
    // gain paragraph structure (12-token sentences + a shared boilerplate
    // footer on every 3rd doc), a batch (docs %5==0, ids +1M, each with a
    // unique tail paragraph) dedups against the history span-hash index
    // (docs %7!=0) — the Bloom probe nominates map-only, an exact
    // semi-join verifies only the suspects, so the output is bit-identical
    // to the exact batch-vs-index join (oracle checks exactly that).
    "span_dedup_bloom" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val toks = split(col("text"), "\\s+")
      val para = array_join(transform(
        sequence(lit(0), greatest(
          floor((size(toks) - 1) / 12).cast("int"), lit(0))),
        c => concat_ws(" ", slice(toks, c * 12 + 1, lit(12)))), ". ")
      val pd = d.select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(para, lit(". shared boilerplate footer zz")))
          .otherwise(para).as("text"))
      val hist = pd.where(col("doc_id") % 7 =!= 0)
      val batch = pd.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(". batch unique "), col("doc_id"),
            lit(" tail")).as("text"))
      // the span-hash index is the STORED lake relation in production;
      // materialize once here (three consumers: size count, Bloom build,
      // exact-verify probe)
      val idx = Dedup.spanHashes(hist).stagePin()
      Dedup.spanDedupIncremental(batch, idx, fpp = 0.01)
        .orderBy("doc_id")
    }),

    // §2 #29 — n-gram Jaccard verification over an explicit pair list
    // (consecutive doc ids).
    "ngram_jaccard" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val pairs = d.select(col("doc_id").as("id1"), col("text").as("_text1"))
        .join(d.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2"),
          col("text").as("_text2")), "id1")
      Dedup.withJaccard(pairs, "_text1", "_text2", n = 3)
        .select(col("id1"), col("id2"), col("n_inter"), col("n_union"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1")
    }),

    // §2 #27 — MinHash+LSH near-dup detection on the seeded corpus. Banded
    // equi-join candidates only — no all-pairs (DedupSpec asserts no
    // CartesianProduct in the plan). Hash-specific → no SQL oracle.
    "minhash_lsh" -> ((s, dir) => {
      MinHashLsh.nearDupPairs(docsWithNearDups(s, dir), threshold = 0.3)
        .select(col("id1"), col("id2"), col("n_inter"), col("n_union"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy("id1", "id2")
    }),

    // §2 #27c — incremental near-dup dedup: a batch of edit variants
    // dedups against the signature/shingle-hash INDEX of the accepted
    // corpus (docs with doc_id % 7 != 0), never against historical text.
    // v1 (+1M, last-2-tokens dropped) exists for every doc; v2 (+2M,
    // first-token dropped) for even ids — variants of indexed docs land
    // dup_of_index, variant pairs of UN-indexed docs exercise
    // dup_in_batch/accepted. Hash-specific blocking → no SQL oracle;
    // LlmSpec pins ≡ the full-corpus nearDupPairs pass.
    "neardup_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val toks = split(col("text"), "\\s+")
      val v1 = d.select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ",
          slice(toks, lit(1), greatest(size(toks) - 2, lit(0)))).as("text"))
      val v2 = d.where(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat_ws(" ", slice(toks, lit(2), size(toks) - 1)).as("text"))
      // stage boundary on the index: production reads a STORED lake
      // relation here (the streaming loop probes a parquet deltaSnapshot);
      // built inline for the bench key it is referenced by TWO
      // differently-keyed consumers (the band-bucket derivation and the
      // shingle-hash verify side), which re-ran the signature+shingle map
      // over 6/7 of the corpus once each — materialize it once, exactly
      // the relation the lake would hold
      val index = MinHashLsh.buildIndex(d.where(col("doc_id") % 7 =!= 0))
        .stagePin()
      MinHashLsh.nearDupIncremental(v1.unionByName(v2), index, threshold = 0.3)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("doc_id")
    }),

    // §2 #37g — incremental perceptual dedup (the growing-image-corpus
    // production shape): history (docs %5 != 0) builds the 8-byte dHash
    // index; the batch carries in-place-edited twins of history docs
    // (→ dup_of_index), within-batch twin pairs (→ dup_in_batch), fresh
    // docs (→ accepted) and an empty payload (→ unhashable). Rows-only;
    // LlmSpec pins incremental ≡ full-pass restriction.
    "perceptual_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val hist = d.where(col("doc_id") % 5 =!= 0)
      val editTwin = overlay(overlay(col("text"), lit("Q"), lit(5)),
        lit("!"), greatest(length(col("text")) - 3, lit(1)))
      val batch = d.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), editTwin.as("text"))
        .unionByName(d.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" fresh-"), col("doc_id")).as("text")))
        .unionByName(d.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(col("text"), lit(" fresh-"), col("doc_id"), lit("?"))
              .as("text")))
        .unionByName(s.range(1).select(lit(9999999L).as("doc_id"),
          lit("").as("text")))
      val index = Multimodal.buildDHashIndex(Multimodal.withPayload(hist))
      Multimodal.perceptualNearDupIncremental(
          Multimodal.withPayload(batch), index, maxHamming = 10)
        .orderBy("doc_id")
    }),

    // §2 #28 — SimHash 64-bit fingerprints + banded near-dup pairs.
    "simhash" -> ((s, dir) => {
      SimHash.nearDupPairs(docsWithNearDups(s, dir), maxHamming = 12)
        .select(col("id1"), col("id2"), col("hamming"))
        .orderBy("id1", "id2")
    }),

    // §2 #31 — brute-force cosine top-k (exact ANN baseline): 30 query
    // vectors against the full table, k=5.
    "ann_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopKBrute(e, e.where(col("vec_id") < 30), k = 5)
        .orderBy("query_id", "rank")
    }),

    // §2 #31b — int8 scalar quantization of the embedding store (absmax /
    // SQ8): per-vector scale, code checksums, RMS reconstruction error.
    // Map-only column algebra — the 4x memory ladder under the ANN family.
    "embed_quantize" -> ((s, dir) => {
      Similarity.quantizeReport(Tables.embeddings(s, dir))
        .orderBy("vec_id")
    }),

    // §2 #31c — Achlioptas sign random projection (JL transform): 64 -> 16
    // dims with a ±1/sqrt(16) matrix whose signs derive from md5(seed:j:i)
    // — engine-reproducible, precomputed to a literal so the corpus pass
    // is a map-side matrix multiply. Exploded scalar output.
    "embed_project" -> ((s, dir) => {
      Similarity.randomProject(Tables.embeddings(s, dir),
          inDim = 64, outDim = 16, seed = "jl")
        .orderBy("vec_id", "out_dim")
    }),

    // §2 #30b — chunk->doc embedding mean-pooling: synthesized chunk
    // grouping (vec_id % 50 as the parent doc), element-wise average via
    // one (group, dim) hash aggregation with partial combine. Exploded
    // scalar output.
    "embed_pool" -> ((s, dir) => {
      Similarity.meanPool(
          Tables.embeddings(s, dir)
            .withColumn("parent_doc", col("vec_id") % 50),
          "parent_doc")
        .orderBy("group_id", "dim")
    }),

    // §2 #31d — the compressed-ANN ladder composed: JL-projected (64->32)
    // + int8-quantized candidate index (~6x smaller), coarse search on
    // dequantized codes, exact re-rank of a 100-shortlist on the float
    // vectors. This corpus is near-orthogonal (low pairwise cosine), the
    // hard case for JL rank preservation — 32 dims holds recall where 16
    // does not. Rows-only (compression-specific); LlmSpec pins recall vs
    // the uncompressed brute baseline.
    "ann_topk_compressed" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopKCompressed(e, e.where(col("vec_id") < 30), k = 5,
          inDim = 64, projDim = 32, shortlist = 100)
        .orderBy("query_id", "rank")
    }),

    // §2 #31e — product quantization (the third rung of the memory
    // ladder: 8 sub-codebooks x 16 centroids = 4 bytes/vector vs 256
    // float bytes): driver-trained per-subspace Euclidean codebooks over
    // the deterministic lowest-id sample, map-side encode, per-vector
    // code checksum + RMS reconstruction error. Rows-only (k-means has
    // no SQL oracle); LlmSpec pins code ranges, determinism, and that
    // error shrinks as ksub grows.
    "embed_pq" -> ((s, dir) => {
      // the sf0.1 embedding store is ONE parquet file = one scan task;
      // PQ encoding is compute-dense (m·ksub interpreted sub-distances
      // per row), so give it input parallelism here — a lake-scale store
      // is already partitioned and needs no such shaping
      Similarity.quantizePqReport(
          Tables.embeddings(s, dir).repartition(32), inDim = 64)
        .orderBy("vec_id")
    }),

    // §2 #31f — PQ-compressed ANN with asymmetric-distance scoring (faiss
    // ADC): coarse score = cos(float query, PQ-decoded candidate) over
    // the 4-byte-code index, exact float re-rank of a 100-shortlist via
    // equi-join. Rows-only; LlmSpec pins recall vs the uncompressed
    // brute baseline.
    "ann_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // repartition for the same single-scan-task reason as embed_pq:
      // the candidate-side PQ encode is the compute-dense stage
      Similarity.annTopKPq(e.repartition(32), e.where(col("vec_id") < 30),
          k = 5, inDim = 64, m = 8, ksub = 16, shortlist = 100)
        .orderBy("query_id", "rank")
    }),

    // §2 #32 — LSH-bucketed approximate top-k (the scale path; recall vs
    // brute verified in LlmSpec). 8 short bands: this corpus has low
    // pairwise similarity, so recall needs band-collision probability up.
    "ann_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopKLsh(e, e.where(col("vec_id") < 30), k = 5, dim = 64,
          nPlanes = 16, bands = 8)
        .orderBy("query_id", "rank")
    }),

    // §2 #32b — IVF-bucketed approximate top-k (k-means coarse quantizer,
    // nProbe cell search). Model training — no SQL oracle; LlmSpec asserts
    // recall vs brute.
    "ann_ivf" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopKIvf(e, e.where(col("vec_id") < 30), k = 5)
        .orderBy("query_id", "rank")
    }),

    // §2 #32c — IVF × SQ8 composed (the faiss IVF-SQ8 shape, the actual
    // 100 TB ANN plan): cell-probe on the k-means coarse quantizer, coarse
    // scan over JL+int8 codes only, exact float re-rank of the shortlist
    // via equi-join. Model training — no SQL oracle; LlmSpec pins recall
    // vs brute, full-probe ≡ compressed-brute, and the no-cartesian /
    // cell-pruned plan; DeterminismSpec pins partitioning stability.
    "ann_ivf_compressed" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopKIvfCompressed(e, e.where(col("vec_id") < 30), k = 5,
          inDim = 64, projDim = 32, nCells = 16, nProbe = 8, shortlist = 100)
        .orderBy("query_id", "rank")
    }),

    // §2 #32d — IVF × PQ composed (faiss IVFADC, the layout faiss ships
    // at corpus scale): cell-probe on the k-means coarse quantizer, ADC
    // coarse scan over the m-byte PQ codes only (query stays float),
    // exact float re-rank of the shortlist via equi-join. Model training
    // — no SQL oracle; LlmSpec pins recall vs brute, full-probe ≡ ann_pq,
    // and the no-cartesian cell-keyed plan; DeterminismSpec pins
    // partitioning stability.
    "ann_ivf_pq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopKIvfPq(e.repartition(32), e.where(col("vec_id") < 30),
          k = 5, inDim = 64, m = 8, ksub = 16, nCells = 16, nProbe = 8,
          shortlist = 100)
        .orderBy("query_id", "rank")
    }),

    // §2 #31g — OPQ rotation rung (Ge et al. 2014 / faiss OPQMatrix):
    // a driver-trained orthogonal rotation (bounded sample, the codebook
    // posture) balances variance across the PQ subspaces before encode —
    // same m·log2(ksub) bits/vector as embed_pq, lower reconstruction
    // error. Rows-only; LlmSpec pins rmse(OPQ) ≤ rmse(PQ) at equal
    // m/ksub, R orthogonality, and determinism.
    "embed_opq" -> ((s, dir) => {
      Similarity.quantizeOpqReport(
          Tables.embeddings(s, dir).repartition(32), inDim = 64, m = 8,
          ksub = 16, opqIters = 3)
        .orderBy("vec_id")
    }),

    // §2 #31h — OPQ-compressed ANN (ADC under the learned rotation):
    // coarse cos(R·query, decode(codes)) over rotated-code
    // reconstructions, exact float re-rank of the shortlist. Rows-only;
    // LlmSpec pins recall ≥ ann_pq at equal m/ksub vs brute.
    "ann_opq" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.annTopKOpq(e.repartition(32), e.where(col("vec_id") < 30),
          k = 5, inDim = 64, m = 8, ksub = 16, shortlist = 50, opqIters = 3)
        .orderBy("query_id", "rank")
    }),

    // §2 #30 — embedding cosine near-dup via hyperplane-LSH buckets on the
    // seeded corpus.
    "embed_neardup" -> ((s, dir) => {
      Similarity.nearDupPairs(embeddingsWithNearDups(s, dir),
          threshold = 0.98, dim = 64)
        .orderBy("id1", "id2")
    }),

    // §2 #55b — CCNet head/middle/tail split: perplexity terciles over
    // the lm_score frame (head = most target-like third), the published
    // pipeline's bucketing step.
    "ccnet_buckets" -> ((s, dir) =>
      Selection.ccnetBuckets(
        Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source")),
        isTarget = col("source").isin("src0", "src1"), alpha = 0.1)
        .orderBy("doc_id")),

    // §2 #55b (sketch path) — lake-scale tercile cuts via approx_percentile
    // (bounded sketch buffers). Rows-only by design: bucket edges can move
    // by the sketch's rank error; SelectionSpec pins the monotone-partition
    // and drift bounds vs the exact ladder.
    "ccnet_buckets_approx" -> ((s, dir) =>
      Selection.ccnetBuckets(
        Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source")),
        isTarget = col("source").isin("src0", "src1"), alpha = 0.1,
        useApprox = true)
        .orderBy("doc_id")),

    // §2 #56 — deterministic k-means assignment over the seeded embedding
    // corpus (SemDeDup clustering stage): codebook = 8 lowest-id vectors,
    // one max-cosine assignment pass, ties to the lowest cell.
    "embed_kmeans" -> ((s, dir) =>
      Similarity.kmeansAssign(embeddingsWithNearDups(s, dir), k = 8)
        .orderBy("vec_id")),

    // §2 #56b — distributed Lloyd refinement (one full-corpus iteration):
    // assignment under the refined codebook — centroids recomputed as
    // element-wise member means via ONE (cell, pos) hash aggregation.
    "embed_kmeans_lloyd" -> ((s, dir) =>
      Similarity.kmeansLloyd(embeddingsWithNearDups(s, dir), k = 8,
          iters = 1)
        .orderBy("vec_id")),

    // §2 #57 — SemDeDup within-cluster semantic dedup on the seeded
    // corpus: the seeded jittered twins land in their source's cell and
    // are dropped (kept=0) at tau=0.95; organic 64-dim vectors are
    // near-orthogonal and survive.
    "semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(embeddingsWithNearDups(s, dir), k = 8,
          tau = 0.95)
        .orderBy("vec_id")),

    // §2 #57e — INCREMENTAL SemDeDup (the growing-corpus production
    // shape, completing the batch+incremental pairing of every other
    // dedup family): history (2/3 of the seeded corpus) bootstraps the
    // FROZEN codebook (lowest-id init — production freezes clustering at
    // index bootstrap; re-clustering would reshuffle every historical
    // cell) and dedups itself into the kept-vector index; the batch
    // (1/3) assigns under the same codebook, dedups against the index
    // cell-confined, then the survivors run the within-batch keep-first
    // rule. Statuses dup_of_index (min kept partner + that pair's 6dp
    // cosine) / dup_in_batch / accepted — the accepted rows are what the
    // lake appends, so the loop composes with itself (the streaming pair
    // is Ingest.semanticDedupWriter).
    "semantic_dedup_incremental" -> ((s, dir) => {
      val e = embeddingsWithNearDups(s, dir)
      val hist = e.where(col("vec_id") % 3 =!= 0)
      val batch = e.where(col("vec_id") % 3 === 0)
      val centers = Similarity.trainCodebook(hist, k = 8)
      val kept = Similarity.semanticDedupWith(hist, centers, tau = 0.95)
        .where(col("kept") === 1).select("vec_id", "cluster")
      val keptIdx = hist.join(kept, "vec_id")
      Similarity.semanticDedupIncremental(batch, keptIdx, centers,
          tau = 0.95)
        .orderBy("vec_id")
    }),

    // §2 #57c — SSL-prototype pruning (Sorscher et al. 2022): rank every
    // vector by cosine to its (1-Lloyd-iteration) cluster centroid, drop
    // the most prototypical 25% of each cell and flag the least
    // prototypical 10% as outliers. One map-only assignment pass + one
    // window shuffle on cluster; verdict-frame output like semantic_dedup.
    "prototype_prune" -> ((s, dir) =>
      Similarity.prototypePrune(embeddingsWithNearDups(s, dir), k = 8,
          pruneFrac = 0.25, outlierFrac = 0.10, refineIters = 1)
        .orderBy("vec_id")),

    // §2 #57d — embedding-stage CAPSTONE: the SemDeDup/D4 published chain
    // as ONE declarative plan over the seeded corpus — JL compression
    // 64→32 (#31c, components 6dp-rounded so every downstream cosine has
    // engine-identical inputs) → within-cell semantic dedup at tau=0.9
    // over the PROJECTED store (#56+#57: the jittered twins stay ≥0.98
    // after projection, organics ≤0.76 — but the oracle match is
    // threshold-independent: both engines compute identical rounded sims)
    // → SSL-prototype prune on the survivors (#57c: fresh lowest-id init
    // + 1 Lloyd iteration over the DEDUPED corpus, the D4 ordering —
    // prune after dedup so clone mass cannot crown itself prototypical)
    // → cluster-balanced cap (#57b, 30/cell by md5 rank). Stage
    // boundaries materialize via stageBoundary (reliable-checkpoint mode
    // for clusters): the projected store feeds the dedup's assignment +
    // pair join + the survivor join; the survivor store feeds the
    // prune's init collect, Lloyd passes, and final assignment. Scale:
    // 2x less cosine bandwidth than raw 64-dim, pairwise work confined
    // to cells, every exchange carries 32-double vectors or verdicts.
    "embed_pipeline" -> ((s, dir) => {
      val e = embeddingsWithNearDups(s, dir)
      val proj = e.select(col("vec_id"),
          transform(
            Similarity.projectVec(col("embedding"), inDim = 64,
              outDim = 32, seed = "jl"),
            x => round(x, 6)).as("embedding"))
        .stagePin()
      val verdicts = Similarity.semanticDedup(proj, k = 8, tau = 0.9)
      val survivors = proj.join(
          verdicts.where(col("kept") === 1).select("vec_id"), "vec_id")
        .stagePin()
      val pruned = Similarity.prototypePrune(survivors, k = 8,
        pruneFrac = 0.25, outlierFrac = 0.10, refineIters = 1)
      Sampling.clusterBalancedSample(
          pruned.where(col("kept") === 1)
            .select("vec_id", "cluster", "centroid_sim", "proto_rank",
              "n_cell"),
          "vec_id", "cluster", perCellCap = 30)
        .select(col("vec_id"), col("cluster"), col("centroid_sim"),
          col("proto_rank"), col("n_cell"), col("cell_rank"))
        .orderBy("vec_id")
    }),

    // §2 #26b — composed corpus-cleaning pipeline: exact-dedup survivors
    // (lowest id per canonical form) that pass quality and language gates —
    // the LLM training-data filter chain as one declarative plan.
    "corpus_clean" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val dup = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val survivors = graft.llm.Dedup.exactSurvivors(d.unionByName(dup))
      // the gating stage is the SAME stateless map stage the streaming
      // path runs (Ingest.cleanDocs); StreamingSpec pins batch equality
      graft.streaming.Ingest
        .cleanDocs(survivors.select(col("doc_id"), col("text")))
        .orderBy("doc_id")
    }),

    // §2 #26c — the training-data pipeline CAPSTONE as one declarative
    // plan: exact-dedup survivors → quality/language gates (the shared
    // streaming-safe stage) → token-window chunking → token-budget shard
    // packing. The full clean→dedup→chunk→pack shard-assembly path a
    // 100 TB corpus takes, composed from the individually-oracled stages
    // and verified end-to-end by its own DuckDB oracle.
    "corpus_pipeline" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val dup = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val survivors = graft.llm.Dedup.exactSurvivors(d.unionByName(dup))
      val cleaned = graft.streaming.Ingest.cleanDocs(
        survivors.select(col("doc_id"), col("text")), keepText = true)
      val chunks = TextAnalysis.chunk(
          cleaned.select(col("doc_id"), col("text")), chunkSize = 32,
          overlap = 8)
        .withColumn("cid", col("doc_id") * 1000 + col("chunk_idx"))
      TextAnalysis.packByTokens(chunks, tokensPerPack = 128L, nShards = 8,
          idCol = "cid", nTokensCol = "n_tokens")
        .select(col("shard"), col("doc_id"), col("chunk_idx"),
          col("n_tokens"), col("cum_tokens"), col("pack_id"))
        .orderBy("shard", "doc_id", "chunk_idx")
    }),

    // §2 #33 — stopword-profile language ID.
    "lang_id" -> ((s, dir) => {
      TextAnalysis.withLangId(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"), col("sw_en"), col("sw_fr"),
          col("sw_de"), col("sw_es"), col("lang_pred"))
        .orderBy("doc_id")
    }),

    // §2 #34 — length/punct/stopword quality scoring.
    "quality_score" -> ((s, dir) => {
      TextAnalysis.withQuality(Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stop_ratio"), 6).as("stop_ratio"),
          round(col("mean_token_len"), 6).as("mean_token_len"),
          round(col("quality_score"), 6).as("quality_score"))
        .orderBy("doc_id")
    }),

    // §2 #34e — character-entropy gibberish signal: per-doc code-point
    // count, distinct code points and Shannon entropy (bits/char) in ONE
    // native JVM pass (graft.functions.CharEntropy — the HOF form is
    // O(distinct·len), the corpus-grain explode form shuffles; this is
    // map-only), with the two-sided plausibility gate (near-zero =
    // repeated-char padding, implausibly high = base64/binary spill).
    "char_entropy" -> ((s, dir) => {
      TextAnalysis.withEntropy(
          Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("n_cp"), col("n_distinct_cp"),
          col("entropy_bits"), col("pass_entropy"))
        .orderBy("doc_id")
    }),

    // §2 #34b — Gopher quality rules: the published word-level document
    // filters (word-count bounds, mean-word-length bounds, symbol-to-word
    // ratio, alphabetic-word fraction) as one stateless projection with
    // per-rule pass flags + the overall gate.
    "gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("alpha_frac"), col("pass_word_count"),
          col("pass_mean_word_len"), col("pass_symbol_ratio"),
          col("pass_alpha_frac"), col("pass_gopher"))
        .orderBy("doc_id")),

    // §2 #34g — line-grain quality rules (RefinedWeb line-wise
    // corrections): documents gain line structure (sentences → lines,
    // plus deterministic nav-bullet / SHOUTING-header / numeric-counter
    // lines on doc_id strata), each line is flagged independently
    // (bullet/ellipsis/short/upper/numeric), and the doc verdict is
    // char-weighted drop-or-clean. Explode + ONE doc-grain hash agg.
    "line_quality" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          regexp_replace(col("text"), "\\. ", "\n"),
          when(col("doc_id") % 3 === 0, lit("\n- click here..."))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit("\nBREAKING NEWS UPDATE"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("\n1 2 3 45"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.lineQualityRules(d).orderBy("doc_id")
    }),

    // §2 #34d — per-source curation data card: doc/char/token volumes,
    // corpus-wide exact-dup rate (non-first fingerprint occurrences),
    // Gopher pass rate. Map-side metrics + one fingerprint agg/join +
    // a |sources|-row rollup; the numbers a mixture design feeds on.
    "curation_report" -> ((s, dir) =>
      Curation.dataCard(Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("text")))
        .orderBy("source")),

    // §2 #34f — pairwise source-divergence card (Kilgarriff 2001 corpus
    // comparison): add-α-smoothed unigram KL/JS per source pair over the
    // pair's union vocabulary — the quantitative redundancy/diversity
    // signal for mixture design (doc-grain complement: source_overlap).
    "source_divergence" -> ((s, dir) =>
      Curation.sourceDivergence(Tables.documents(s, dir), alpha = 0.5)
        .orderBy("src_a", "src_b")),

    // §2 #26c — incremental exact dedup: a new crawl batch elects its
    // within-batch survivors, then anti-joins the HISTORICAL fingerprint
    // index (never historical text). Seeded: history = every 3rd doc;
    // batch = the rest + cross-batch copies (dropped by the anti-join) +
    // within-batch copies of %3==1 docs (collapse to n_copies=2).
    "dedup_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val seen = d.where(col("doc_id") % 3 === 0)
        .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      val batch = d.where(col("doc_id") % 3 =!= 0)
        .unionByName(d.where(col("doc_id") % 3 === 0)
          .select((col("doc_id") + 5000000).as("doc_id"), col("text")))
        .unionByName(d.where(col("doc_id") % 3 === 1)
          .select((col("doc_id") + 6000000).as("doc_id"), col("text")))
      Dedup.exactIncremental(batch, seen).orderBy("keep_id")
    }),

    // §2 #35b — tokenizer-vocabulary coverage audit: top-V corpus tokens
    // (deterministic tie-break) as the unigram vocabulary, per-doc OOV
    // counts/rate. TakeOrdered top-V + broadcast vocab join — the per-doc
    // pass is map-side. V=10 so the synthetic corpus has real OOV mass.
    "vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        vocabSize = 10)
        .orderBy("doc_id")),

    // §2 #35c — tokenizer fertility audit per (lang, source): the
    // multilingual tokenizer-parity data card (mT5/XLM-R/BLOOM fertility
    // tables — subwords/word and bytes/subword by language drive vocab
    // and mixture decisions). One low-cardinality hash aggregation.
    "tokenizer_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir))
        .orderBy("lang", "source")),

    // §2 #33b — C4-style text normalization on a seeded messy wrap (markup
    // tags, entities, a control char, ragged whitespace): strip -> unescape
    // -> blank control chars -> collapse -> trim, with before/after char
    // counts. Pure per-row regex projection.
    "text_normalize" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val messy = d.withColumn("text",
        concat(lit("<div class=\"doc\">"), col("text"),
          lit("</div> &amp; <br/>\u0001 tail &lt;EOS&gt;")))
      TextAnalysis.withNormalized(messy)
        .select(col("doc_id"), col("norm_text"),
          col("n_chars_raw"), col("n_chars_norm"))
        .orderBy("doc_id")
    }),

    // §2 #33c — HTML boilerplate-block extraction (jusText class; the
    // trafilatura stage RefinedWeb §3.1.2 / CCNet run before any quality
    // gate): each doc is wrapped in a seeded page (title/nav/headline/two
    // body paragraphs — the first with a stopword-rich tail so classes
    // diversify — share-links div, footer), segmented at block tags,
    // classified by link/stopword density and length, short/near-good
    // blocks rescued next to good prose, and rolled up to the per-doc
    // class census + extracted main text. Thresholds tuned to the
    // synthetic corpus's ~6% natural stopword density.
    "html_extract" -> ((s, dir) =>
      jusText(seededPage(Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("source")),
        secondPara = "<p>")).orderBy("doc_id")),

    // §2 #55c — CCNet capstone: the COMPLETE published CCNet chain
    // (Wenzek et al. 2020) as ONE declarative plan, every stage the
    // library operator itself: jusText HTML extraction (stage 0, the
    // trafilatura slot; the seeded page carries a shared promo sentence
    // in the second body paragraph so the dedup stage has real cross-doc
    // boilerplate) → language split keeping the en shard → target-LM
    // perplexity terciles (head/middle/tail, the src0/src1 target) →
    // span-grain dedup run PER BUCKET (CCNet processes each shard as a
    // separate corpus — three operator applications, prunable to one
    // scan each when the lake partitions by bucket).
    "ccnet_pipeline" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val extracted = jusText(seededPage(d,
          secondPara = "<p>subscribe to our newsletter today. "))
        .where(col("n_good") > 0)
        .select(col("doc_id"), col("extracted_text").as("text"))
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      // stage boundary (the v3/v4/v5 rationale): the jusText extraction
      // feeds the LM's four aggregation passes, the bucket join and three
      // per-bucket dedup branches — without the pin each consumer re-runs
      // the whole block-classification subtree
      val en = TextAnalysis.withLangId(extracted)
        .where(col("lang_pred") === "en")
        .select(col("doc_id"), col("text"), col("source"))
        .stagePin()
      val buckets = Selection.ccnetBuckets(en,
        isTarget = col("source").isin("src0", "src1"), alpha = 0.1)
      val withB = en.join(
        buckets.select(col("doc_id"), col("ppl"), col("bucket")), Seq("doc_id"))
        .stagePin()
      // per-bucket dedup as ONE scoped pass: electing first occurrences
      // within (bucket, span-hash) is bit-identical to three independent
      // per-bucket spanDedup runs unioned (buckets partition the docs),
      // for one explode + one election exchange instead of three of each
      val deduped = Dedup.spanDedup(withB, sepRegex = "\\n|\\. ",
        joinSep = ". ", scopeCols = Seq("bucket"))
      withB.select(col("doc_id"), col("ppl"), col("bucket"))
        .join(deduped, Seq("doc_id"))
        .select(col("doc_id"), col("ppl"), col("bucket"), col("n_spans"),
          col("n_removed"), col("kept_text"))
        .orderBy("doc_id")
    }),

    // §2 #50d — curation CAPSTONE v2, composing the round-9 surface as ONE
    // declarative plan with an end-to-end oracle: normalize -> split off
    // the held-out benchmark (every 10th doc) -> Gopher gate -> 8-gram
    // decontamination vs the benchmark (drop share >= 0.3) -> span-grain
    // exact dedup (drop wiped docs) -> deterministic training-order
    // shuffle into 4 shards. Every stage is the library operator itself,
    // not a re-implementation.
    "corpus_pipeline_v2" -> ((s, dir) => {
      val (benchmark, gated) = Curation.heldOutGopher(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
      val deduped = Dedup.spanDedup(Curation.decontaminate(benchmark, gated))
        .where(col("kept_text") =!= "")
      Sampling.shardShuffle(deduped, "doc_id", nShards = 4, seed = "v2")
        .select(col("doc_id"), col("shard"), col("pos_in_shard"),
          col("n_spans"), col("n_removed"),
          size(TextAnalysis.tokens(col("kept_text"))).as("n_tokens"))
        .orderBy("shard", "pos_in_shard")
    }),

    // §2 #50e — curation CAPSTONE v3: the full published-pipeline shape
    // (RefinedWeb / FineWeb / Dolma), seven library stages in ONE run:
    // normalize -> held-out benchmark split -> Gopher gate -> 8-gram
    // decontamination -> span-grain exact dedup -> NEAR-dup clustering
    // (rare-shingle blocking -> Jaccard verify -> connected components;
    // keep the canonical survivor per cluster) -> DSIR importance-weight
    // selection (median cut, LM trained on the survivors themselves) ->
    // deterministic shard shuffle. Every stage is the library operator,
    // end-to-end oracled in DuckDB including the recursive-closure
    // clustering and the n-gram LM weights.
    "corpus_pipeline_v3" -> ((s, dir) => {
      val (benchmark, gated) = Curation.heldOutGopher(Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source")))
      val span =
        Curation.spanDedupStage(Curation.decontaminate(benchmark, gated))
      Curation.canonDsirShuffle(span, "kept_text", seed = "v3")
        .select(col("doc_id"), col("shard"), col("pos_in_shard"),
          col("cluster_size"), col("n_spans"), col("n_removed"),
          col("avg_log_weight"),
          size(TextAnalysis.tokens(col("kept_text"))).as("n_tokens"))
        .orderBy("shard", "pos_in_shard")
    }),

    // §2 #50f — curation CAPSTONE v4: v3 plus the ExactSubstr stage the
    // published pipelines run between exact and fuzzy dedup (RefinedWeb's
    // exact-substring scrub, Dolma's paragraph/span dedup): after
    // span-grain exact dedup, REPEATED-10-GRAM TRIMMING removes every
    // token span that still repeats corpus-wide, and near-dup clustering
    // + DSIR selection then run on the TRIMMED text. Eight library
    // stages, one run, end-to-end oracled (the trim joins v3's ~22-CTE
    // recursive oracle as four more CTEs).
    "corpus_pipeline_v4" -> ((s, dir) => {
      val (benchmark, gated) = Curation.heldOutGopher(Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source")))
      val stage = Curation.trimStage(
        Curation.spanDedupStage(Curation.decontaminate(benchmark, gated)))
      Curation.canonDsirShuffle(stage, "trim_text", seed = "v4")
        .select(col("doc_id"), col("shard"), col("pos_in_shard"),
          col("cluster_size"), col("n_spans"), col("n_removed"),
          col("n_trim_removed"), col("avg_log_weight"),
          size(TextAnalysis.tokens(col("trim_text"))).as("n_tokens"))
        .orderBy("shard", "pos_in_shard")
    }),

    // §2 #50g — curation CAPSTONE v5: the COMPLETE RefinedWeb-shaped
    // chain — URL-grain keep-best dedup FIRST (the crawl-snapshot stage
    // the published pipelines run before any content filtering), then
    // normalize → Gopher doc rules → LINE-wise corrections (#34g: nav
    // bullets / numeric counters injected on doc strata are flagged and
    // removed; char-weighted drop) → 8-gram decontamination → span dedup
    // → repeated-gram trim → near-dup clustering → DSIR selection →
    // shard shuffle. TEN library stages, one run, end-to-end oracled
    // (the URL canonicalization and line CTEs join v4's recursive
    // oracle).
    "corpus_pipeline_v5" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
        .withColumn("text", concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(". - subscribe now..."))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(". 12 345 6789"))
            .otherwise(lit(""))))
      // stage 0: one rendition per canonical address
      val urls = Dedup.urlKeepBest(d.withColumn("url", synthUrl),
          col("url"), quality = col("n_chars"))
        .select(col("keep_id").as("doc_id"))
      val (benchmark, gated) = Curation.heldOutGopher(d.join(urls, "doc_id"))
      // NEW stage: line-wise corrections — flagged lines removed, docs
      // whose flagged lines carry > half their chars drop
      val lined = TextAnalysis.lineQualityRules(gated,
          sepRegex = "\\. ", joinSep = ". ")
        .where(col("keep_doc") === 1 && col("kept_text") =!= "")
        .select(col("doc_id"), col("kept_text").as("text"),
          col("n_flagged").as("n_line_flagged"))
        .join(gated.select("doc_id", "source"), "doc_id")
      val stage = Curation.trimStage(
        Curation.spanDedupStage(Curation.decontaminate(benchmark, lined)))
      Curation.canonDsirShuffle(stage, "trim_text", seed = "v5")
        .select(col("doc_id"), col("shard"), col("pos_in_shard"),
          col("cluster_size"), col("n_spans"), col("n_removed"),
          col("n_line_flagged"), col("n_trim_removed"),
          col("avg_log_weight"),
          size(TextAnalysis.tokens(col("trim_text"))).as("n_tokens"))
        .orderBy("shard", "pos_in_shard")
    }),

    // §2 #35 — token counting: whitespace + BPE-ish regex pre-tokenizer.
    "token_count" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).as("n_ws_tokens"),
          size(TextAnalysis.tokensBpeIsh(col("text"))).as("n_bpeish_tokens"))
        .orderBy("doc_id")
    }),

    // §2 #36 — canonical-form document fingerprint.
    "doc_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // §2 #36b — winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003,
    // the MOSS algorithm): 3-gram hashes, window w=4, per-window minimum
    // (rightmost on ties) selected via the integer key hash·2^21 − pos so
    // the election is plain int64 math on both engines. Every shared run
    // of w+k−1 = 6 tokens between two docs shares a fingerprint at ~2/(w+1)
    // the density of the full gram table — the tractable local-similarity
    // sketch. Map-only HOF algebra (no explode until the winnowed set).
    "winnow_fingerprint" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      TextAnalysis.winnowFingerprints(d, k = 3, w = 4)
        .orderBy("doc_id", "pos")
    }),

    // §2 #36c — winnowing candidate pairs (the MOSS index join): docs
    // sharing ≥2 distinct selected hashes pair up, df-capped (hashes in
    // >10 docs are boilerplate and excluded from blocking — a blocking
    // choice, same posture as the MinHash band join, never all-pairs),
    // with the containment estimate n_shared/min(|fp|). Seeded truncation
    // near-dups (the #27 set) must surface as pairs.
    "winnow_candidates" -> ((s, dir) =>
      Dedup.winnowCandidates(docsWithNearDups(s, dir),
          k = 3, w = 4, maxDf = 10, minShared = 2)
        .orderBy("doc_a", "doc_b")),

    // §2 #36d — incremental winnowing candidates: a batch of truncation
    // variants (+1M, last-2-tokens dropped, every 5th doc) pairs against
    // the fingerprint INDEX of the accepted corpus (docs % 7 != 0) plus
    // within-batch — history enters through one hash-set semi filter,
    // O(batch + matched), never O(index). Oracle = the full-pass
    // construction over index ∪ batch restricted to pairs whose ids sit
    // in the explicit batch id set (NOT an id threshold — the scale
    // gates' replica ids exceed the +1M offset).
    "winnow_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // materialize the index ONCE (the capstones' stage-boundary
      // pattern): the operator consumes it twice (hash-set semi filter +
      // candidate-sizes probe), and production reads a STORED lake
      // relation here — without the checkpoint the native winnow pass
      // over 6/7 of the corpus executes once per consumer (r13 verdict)
      val fpIndex = TextAnalysis
        .winnowFingerprints(d.where(col("doc_id") % 7 =!= 0))
        .select(col("doc_id"), col("gram_hash")).distinct()
        .stagePin()
      val toks = split(col("text"), "\\s+")
      val batch = d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat_ws(" ",
            slice(toks, lit(1), greatest(size(toks) - 2, lit(0)))).as("text"))
      // the operator pins its batch fingerprint relation: that subtree
      // feeds every consumer branch (semi-filter build, df census, both
      // pair sides, batch sizes) — exchange reuse already dedupes its
      // EXECUTION, but the replicated subtree made this the repo's largest
      // static plan (698 nodes, 42 winnow copies) and every AQE round
      // re-processed it; the pin truncates the plan (191k -> 103k chars,
      // ~-0.6 s/key warm at sf0.1: OPTIMIZATION_r18.md item 10)
      Dedup.winnowCandidatesIncremental(batch, fpIndex,
          k = 3, w = 4, maxDf = 10, minShared = 2)
        .orderBy("doc_a", "doc_b")
    }),

    // §2 #37 — multimodal payload + typed metadata (decode stage is the
    // batched stub covered by MultimodalSpec).
    "multimodal_meta" -> ((s, dir) => {
      Multimodal.withPayload(Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.content_id").as("content_id"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("doc_id")
    }),

    // §2 #37f — perceptual near-dup over the binary payload column
    // (dHash): docs %10==0 gain a twin (id +1M) whose payload carries
    // three in-place point edits — bytes differ, "pixels" barely do —
    // and the dHash + Hamming-banded join (the SimHash band machinery)
    // must pair them without ever going all-pairs. Rows-only;
    // MultimodalSpec pins seeded recall and the no-cartesian plan.
    "perceptual_neardup" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val twins = d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          overlay(overlay(overlay(col("text"), lit("Q"), lit(5)),
            lit("x"), greatest(length(col("text")) / 2, lit(1))),
            lit("!"), greatest(length(col("text")) - 3, lit(1))).as("text"))
      val withP = Multimodal.withPayload(d.unionByName(twins))
      Multimodal.perceptualNearDup(withP, maxHamming = 10)
        .orderBy("id1", "id2")
    }),

    // §2 #37h — perceptual near-dup over REAL container bytes: the
    // #37c/#37e header parses (PNG fixed offsets, JPEG marker walk)
    // locate each payload's decoded region + pixel width, and the dHash
    // grid tiles THAT region row-major (DHash64Container) — so the
    // variable-length JPEG comment a re-save rewrites never smears into
    // the fingerprint. Even ids ride PNG containers; odd ids ride JPEG
    // with an id-keyed comment LENGTH, so every twin's header offset
    // differs from its source's — the drift case the opaque byte-stream
    // hash cannot survive and the container hash ignores. Rows-only
    // (grid+marker-walk hashing has no SQL oracle); LlmSpec pins recall
    // on seeded in-place edits across both container families plus the
    // hand-built fixture battery in MultimodalSpec-style asserts.
    "perceptual_container" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // % 5, not % 10: multiples of 10 are all EVEN, which would starve
      // the odd-id JPEG family of twins entirely
      val twins = d.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          overlay(col("text"), lit("Q"),
            greatest(length(col("text")) / 2, lit(1))).as("text"))
      val all = d.unionByName(twins)
      val png = Multimodal.withPngPayload(
        all.where(pmod(col("doc_id"), lit(2)) === 0))
      val jpg = Multimodal.withPayload(
          all.where(pmod(col("doc_id"), lit(2)) === 1))
        .withColumn("payload", Multimodal.jpegHeader(
          col("meta.width"), col("meta.height"),
          concat(lit("resave-comment-padding-padding-"), col("doc_id"))
            .substr(lit(1), (lit(5) + pmod(col("doc_id"), lit(23))).cast("int")),
          encode(col("text"), "utf-8")))
      Multimodal.perceptualNearDupContainers(
          png.select("doc_id", "payload")
            .unionByName(jpg.select("doc_id", "payload")),
          maxHamming = 10)
        .orderBy("id1", "id2")
    }),

    // §2 #37c — REAL PNG container round-trip: build a signature+IHDR-
    // faithful payload (big-endian dims via unhex(lpad(hex))), then parse
    // it back with actual PNG header parsing (magic check + fixed IHDR
    // offsets — works on real .png bytes, pinned on a hand-written header
    // in MultimodalSpec). Pure codegen'd binary column algebra, map-only.
    "png_meta" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      Multimodal.pngMeta(Multimodal.withPngPayload(d))
        .select(col("doc_id"), col("is_png"), col("png_width"),
          col("png_height"), col("png_bit_depth"), col("png_color_type"),
          octet_length(col("payload")).as("n_payload_bytes"))
        .orderBy("doc_id")
    }),

    // §2 #37d — REAL WAV/RIFF container round-trip (the little-endian
    // dual of png_meta): canonical 44-byte PCM header built with
    // byte-reversed hex algebra, parsed back from actual .wav byte layout
    // (magic + fixed offsets), duration derived from rate/channels/bits.
    "wav_meta" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      Multimodal.wavMeta(Multimodal.withWavPayload(d))
        .select(col("doc_id"), col("is_wav"), col("wav_channels"),
          col("wav_sample_rate"), col("wav_bits"), col("wav_data_bytes"),
          col("wav_duration_ms"))
        .orderBy("doc_id")
    }),

    // §2 #37e — REAL JPEG container round-trip with VARIABLE-offset
    // parsing: build a multi-segment header (APP0/JFIF + a per-row
    // variable-length COM + SOF0) so the frame header lands at a
    // data-dependent offset, then parse it back with a genuine marker-
    // stream walk (graft.functions.JpegSofMeta, a native codegen'd
    // expression — works on real .jpg bytes, pinned on a hand-written
    // APP1+COM+DQT+SOF2 stream in LlmSpec). Map-only.
    "jpeg_meta" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      Multimodal.jpegMeta(Multimodal.withJpegPayload(d))
        .select(col("doc_id"), col("is_jpeg"), col("jpeg_marker"),
          col("jpeg_width"), col("jpeg_height"), col("jpeg_precision"),
          col("jpeg_components"),
          octet_length(col("payload")).as("n_payload_bytes"))
        .orderBy("doc_id")
    }),

    // §2 #37b — batched decode/feature-extract stage over the binary
    // payload (deterministic stub codec; plumbing is real). The histogram
    // is surfaced as scalar columns: the driver's compare engine (and any
    // SQL consumer) can't sort/hash array cells.
    "multimodal_decode" -> ((s, dir) => {
      Multimodal.decodeFeatures(
          Multimodal.withPayload(Tables.documents(s, dir).select(col("doc_id"), col("text"))))
        .select(col("doc_id"), round(col("mean_byte"), 6).as("mean_byte"),
          col("max_byte"),
          col("byte_hist")(0).as("hist_0"), col("byte_hist")(1).as("hist_1"),
          col("byte_hist")(2).as("hist_2"), col("byte_hist")(3).as("hist_3"))
        .orderBy("doc_id")
    }),

    // §2 #37c — multimodal frame sampling: fixed-size frames from the
    // binary payload, every 2nd kept, per-frame decode stats (the explode
    // plumbing of real video frame extraction; codec stubbed).
    "frame_sample" -> ((s, dir) => {
      Multimodal.frameSample(
          Multimodal.withPayload(
            Tables.documents(s, dir).select(col("doc_id"), col("text"))),
          frameBytes = 256, everyN = 2)
        .select(col("doc_id"), col("frame_idx"),
          octet_length(col("frame")).as("frame_bytes"),
          round(col("mean_byte"), 6).as("mean_byte"), col("max_byte"))
        .orderBy("doc_id", "frame_idx")
    }),

    // §2 #17 — EMA trend block: ema20/50/200 spreads+slopes, Keltner width,
    // squeeze ratio, composite trend score (build_mtf_context_h4_v1.py:90-120).
    // Recursive smoothing, verified via a DuckDB list_reduce prefix-fold
    // oracle (same IEEE fold order); also covered by FeatureSpec.
    "ema_trend" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      EmaTrend(h1)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("ema20"), 6).as("ema20"),
          round(col("ema50"), 6).as("ema50"),
          round(col("ema200"), 6).as("ema200"),
          round(col("ema20_50_spread"), 6).as("ema20_50_spread"),
          round(col("kc_width"), 6).as("kc_width"),
          round(col("squeeze_ratio"), 6).as("squeeze_ratio"),
          round(col("trend_score"), 6).as("trend_score"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #16b — m1-structure feature block: daily-anchored VWAP (resets per
    // calendar day), HH/LL swing-break state, all features shifted 1 bar
    // anti-lookahead (feature_builder_m1_structure_v1.py).
    "structure_features" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      val feats = Features.withSwingBreaks(Features.withDailyVwap(h1), swing = 12)
      Features.shiftFeatures(feats,
          Seq("vwap_d", "vwap_d_dist", "is_hh", "is_ll", "hh_hl_state"), n = 1)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("vwap_d"), 6).as("vwap_d"),
          round(col("vwap_d_dist"), 6).as("vwap_d_dist"),
          col("is_hh"), col("is_ll"), col("hh_hl_state"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #16e — rolling volume z-score (build_mtf_context_h4_v1.py:156).
    "volume_z" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      Features.withZScore(h1, "volume", "volume_z", win = 24, minPeriods = 12)
        .select(col("symbol"), col("bar_ts_ms"),
          round(col("volume"), 6).as("volume"),
          round(col("volume_z"), 6).as("volume_z"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #16f — impulse-bar features: body in ATRs, close position in
    // range, range in ATRs + long/short impulse flags
    // (run_sweep_router_v3_breakout.py delta_norm/close_pos/range_rel gates).
    "impulse_features" -> ((s, dir) => {
      val h1 = Features.withAtrSma(Bars.fromTicks(events(s, dir), "hour"), 14)
      val atrOk = when(col("atr") > 0.0, col("atr"))
      val span = col("high") - col("low")
      val deltaNorm = (col("close") - col("open")) / atrOk
      val closePos = (col("close") - col("low")) / when(span =!= 0.0, span)
      val rangeRel = span / atrOk
      h1.select(col("symbol"), col("bar_ts_ms"),
          round(deltaNorm, 6).as("delta_norm"),
          round(closePos, 6).as("close_pos"),
          round(rangeRel, 6).as("range_rel"),
          when(deltaNorm > 0.5 && closePos > 0.7 && rangeRel > 1.2, 1)
            .otherwise(0).as("impulse_long"),
          when(deltaNorm < -0.5 && closePos < 0.3 && rangeRel > 1.2, 1)
            .otherwise(0).as("impulse_short"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #16c — forward returns at multiple horizons (anti-lookahead
    // evaluation targets; analyze_low_plus_policy.py _synth_signed_returns).
    "fwd_returns" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      val w = Window.partitionBy("symbol").orderBy("bar_ts_ms")
      def ret(h: Int) =
        round(lead(col("close"), h).over(w) /
          when(col("close") =!= 0.0, col("close")) - 1.0, 6)
      h1.select(col("symbol"), col("bar_ts_ms"),
          ret(1).as("ret_1"), ret(4).as("ret_4"), ret(16).as("ret_16"))
        .orderBy("symbol", "bar_ts_ms")
    }),

    // §2 #16d — hour-of-day seasonality profile: event count, mean forward
    // return and hit rate per (symbol, UTC hour)
    // (analyze_low_plus_policy.py by-hour report).
    "hourly_profile" -> ((s, dir) => {
      val h1 = Bars.fromTicks(events(s, dir), "hour")
      val w = Window.partitionBy("symbol").orderBy("bar_ts_ms")
      val ret1 = lead(col("close"), 1).over(w) /
        when(col("close") =!= 0.0, col("close")) - 1.0
      h1.withColumn("_r", ret1)
        .withColumn("hour_utc", pmod(col("bar_ts_ms") / 3600000L, lit(24)).cast("int"))
        .groupBy("symbol", "hour_utc")
        .agg(count(col("_r")).as("n"),
          round(avg(col("_r")), 6).as("mean_ret"),
          round(avg(when(col("_r") > 0.0, 1.0).otherwise(0.0)), 6).as("up_share"))
        .orderBy("symbol", "hour_utc")
    }),

    // §2 #38 — gap-based sessionization of the raw event stream per user
    // (session_window; 30-minute inactivity gap).
    "sessionize" -> ((s, dir) => {
      Sessions.sessionize(events(s, dir), "user_id", "ts", "value",
          gapMs = 1800000L)
        .select(col("user_id"), col("session_id"), col("session_start_ms"),
          col("session_end_ms"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value"))
        .orderBy("user_id", "session_id")
    }),

    // §2 #39 — train/test contamination check: seeded test set = every 10th
    // doc verbatim (contaminated) ∪ every (10k+5)th doc reversed (clean).
    "contamination" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val test = d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 2000000).as("doc_id"),
            reverse(col("text")).as("text")))
      Dedup.contamination(d, test).orderBy("test_id")
    }),

    // §2 #44b — corpus-common-gram boilerplate profile (C4-style
    // duplicated-span detection): per doc, the fraction of its distinct
    // 8-grams appearing in >= 2 corpus documents. Runs over the seeded
    // near-dup corpus so cross-document repetition actually exists: the
    // seeded pairs profile high, the organic docs near zero.
    "boilerplate_profile" -> ((s, dir) =>
      Dedup.boilerplateProfile(docsWithNearDups(s, dir), n = 8, minDf = 2)
        .orderBy("doc_id")),

    // §2 #44d — repeated n-gram SPAN TRIMMING (ExactSubstr dedup at token
    // grain, Lee et al. 2022): remove every token covered by a 10-gram
    // occurring >= 2 times corpus-wide, keep the unique remainder.
    // Seeded repetition: every 5th doc gains a shared boilerplate tail
    // (cross-doc repeats), every (5k+2)th doc is self-concatenated
    // (within-doc repeats) — both trim; organic docs survive intact.
    "repeated_ngram_trim" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val boiler = " please subscribe to our newsletter for daily updates" +
        " and exclusive offers available today"
      val seeded = d.withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(boiler)))
          .when(col("doc_id") % 5 === 2,
            concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")))
      Dedup.repeatedNgramTrim(seeded, n = 10, minCount = 2)
        .orderBy("doc_id")
    }),

    // §2 #26e — INCREMENTAL repeated n-gram trim: the same seeded corpus
    // split 2:1 into history and batch; the batch trims against the
    // history's gram-count index PLUS its own repetition — identical to
    // the full pass restricted to batch rows (the oracle IS the full-pass
    // SQL with the batch filter), while history contributes only its
    // (gram, count) relation, never text.
    "trim_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val boiler = " please subscribe to our newsletter for daily updates" +
        " and exclusive offers available today"
      val seeded = d.withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(boiler)))
          .when(col("doc_id") % 5 === 2,
            concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")))
      val hist = seeded.where(col("doc_id") % 3 =!= 0)
      val batch = seeded.where(col("doc_id") % 3 === 0)
      Dedup.repeatedNgramTrimIncremental(batch,
          Dedup.buildGramIndex(hist, n = 10), n = 10, minCount = 2)
        .orderBy("doc_id")
    }),

    // §2 #54 — DSIR importance weights: every document scored by
    // log(p_target/p_raw) under smoothed unigram LMs, the target
    // distribution estimated from the src0/src1 subset (the stand-in
    // "high-quality" corpus). The model-based selection stage that runs
    // after the heuristic gates in corpus_clean.
    "importance_weight" -> ((s, dir) =>
      Selection.importanceWeight(
        Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source")),
        isTarget = col("source").isin("src0", "src1"), alpha = 1.0)
        .orderBy("doc_id")),

    // §2 #54c — the RELATION serving path end to end: train the LLR model
    // as a (token, weight) frame (exportModelRelation; only three scalar
    // totals touch the driver), score the corpus through the token
    // equi-join (scoreWithRelation). In-vocabulary — the model is trained
    // on the scored corpus — this reproduces importance_weight's
    // n_tokens/log_weight exactly, so the web-scale serving path carries
    // the SAME DuckDB oracle as the direct scorer.
    "dsir_score_relation" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val (model, oov) = Selection.exportModelRelation(
        d, isTarget = col("source").isin("src0", "src1"), alpha = 1.0)
      Selection.scoreWithRelation(
          d.select(col("doc_id"), col("text")), model, oov)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("log_weight"))
        .orderBy("doc_id")
    }),

    // §2 #54b — DSIR selection end to end: importance weights → exact
    // 75th-percentile keep threshold → per-doc keep verdict (the
    // deterministic counterpart of the paper's Gumbel-top-k resampling).
    "dsir_sample" -> ((s, dir) =>
      Selection.importanceSample(
        Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source")),
        isTarget = col("source").isin("src0", "src1"), quantile = 0.75)
        .orderBy("doc_id")),

    // §2 #54b (sketch path) — the lake-scale DSIR cut: approx_percentile
    // threshold (bounded, combinable sketch buffer) instead of the exact
    // single-buffer percentile. Rows-only by design: the verdict can
    // differ from the exact form by the sketch's rank error at the cut;
    // SelectionSpec pins sketch-vs-exact tolerance.
    "dsir_sample_approx" -> ((s, dir) =>
      Selection.importanceSample(
        Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source")),
        isTarget = col("source").isin("src0", "src1"), quantile = 0.75,
        useApprox = true)
        .orderBy("doc_id")),

    // §2 #55 — CCNet-style LM quality scoring: per-doc cross-entropy and
    // perplexity under an add-alpha bigram LM trained on the src0/src1
    // target subset. Low ppl = target-like; the head/middle/tail split is
    // a quantile cut over this column downstream.
    "lm_score" -> ((s, dir) =>
      Selection.lmScore(
        Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source")),
        isTarget = col("source").isin("src0", "src1"), alpha = 0.1)
        .orderBy("doc_id")),

    // §2 #44c — dedup-rate threshold curve on the seeded corpus: per
    // candidate Jaccard threshold, the near-dup pair count and the docs
    // the keep-first rule would drop. The seeded twins (last two tokens
    // removed) sit at jac ≈ (L-9)/(L-7), so the curve falls off exactly
    // where the seeding predicts.
    "dedup_rate_curve" -> ((s, dir) =>
      Dedup.dedupRateCurve(docsWithNearDups(s, dir),
        thresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9), n = 8)),

    // §2 #39b — n-gram overlap decontamination (the GPT-3/PaLM 8-gram
    // recipe; exact contamination above only catches verbatim copies).
    // Seeded test set: full copies (share every gram), half-docs with a
    // junk suffix (partial overlap — only grams fully inside the kept
    // half match), and reversed text (shares nothing, absent from the
    // output by the inner join).
    "contamination_ngram" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val toks = split(col("text"), "\\s+")
      val half = greatest((size(toks) / 2).cast("int"), lit(1))
      val test = d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
        .unionByName(d.where(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 3000000).as("doc_id"),
            concat(concat_ws(" ", slice(toks, lit(1), half)),
              lit(" zq zw ze zr zt zy zu zi zo zp")).as("text")))
        .unionByName(d.where(col("doc_id") % 10 === 7)
          .select((col("doc_id") + 4000000).as("doc_id"),
            reverse(col("text")).as("text")))
      Dedup.contaminationNgram(d, test, n = 8).orderBy("test_id")
    }),

    // §2 #39c — Bloom-filter decontamination (the 100 TB plan for #39b when
    // the corpus dwarfs the benchmark): benchmark grams -> one Bloom filter
    // shipped inside a native codegen probe; the corpus pass is map-only,
    // no join/shuffle of corpus grams. Benchmark = every 10th doc (full
    // gram overlap on itself) so the flagged set is stable; no-oracle (the
    // fpp makes row content approximate) — LlmSpec pins the superset-of-
    // exact property and the fpp bound against the equi-join twin.
    "contamination_bloom" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val benchmark = d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      Dedup.contaminationBloom(d, benchmark, n = 8).orderBy("doc_id")
    }),

    // §2 #39d — Bloom-prefiltered EXACT decontamination: the #39c map-only
    // corpus pass nominates suspects, the #39b equi-join verifies only
    // them. No Bloom false negatives + exact confirm => output is
    // bit-identical to the full exact join, so the 100 TB composition is
    // hash-checked by the same oracle shape as contamination_ngram —
    // the approximation affects cost, never the answer.
    "contamination_bloom_verified" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val benchmark = d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      Dedup.contaminationBloomVerified(d, benchmark, n = 8)
        .orderBy("test_id")
    }),

    // §2 #39e — span-grain decontamination: instead of dropping every
    // training doc sharing an 8-gram with the eval suite, REMOVE exactly
    // the matching token spans (trimAssemble's complement-interval
    // rebuild) and keep the remainder. Benchmark = every 10th doc, so
    // those docs scrub to empty (full self-overlap) while organic docs
    // lose only genuinely shared spans; corpus grams never shuffle (the
    // benchmark (hash, gram) relation broadcasts for both the nomination
    // and the exact-string confirm).
    "contamination_scrub" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val benchmark = d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
      Dedup.contaminationScrub(d, benchmark, n = 8).orderBy("doc_id")
    }),

    // §2 #26g — cross-source duplicate-overlap matrix: the mixture-design
    // data card (snapshot-over-snapshot / curated-vs-crawl overlap).
    // Seeded: every 7th doc's text also appears under the NEXT source id
    // (mod 20), so adjacent source pairs show real overlap and the rest
    // pin the zero row.
    "source_overlap" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val copies = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 5000000).as("doc_id"),
          concat(lit("src"),
            ((regexp_extract(col("source"), "(\\d+)", 1).cast("int") + 1) % 20)
              .cast("string")).as("source"),
          col("text"))
      Dedup.sourceOverlap(d.unionByName(copies))
        .orderBy("src_a", "src_b")
    }),

    // §2 #26g sketch twin — per-source k-slot MinHash signatures in ONE
    // corpus pass, pairwise slot-agreement estimate over the
    // |sources|-row frame; sizes are HLL estimates (est_n_a/est_n_b), so
    // the path has no fingerprint-grain distinct agg at all. No oracle
    // (the estimate is hash-specific); LlmSpec pins |est − exact| within
    // the 1/sqrt(k) band on the same seeded frame.
    "source_overlap_sketch" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val copies = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 5000000).as("doc_id"),
          concat(lit("src"),
            ((regexp_extract(col("source"), "(\\d+)", 1).cast("int") + 1) % 20)
              .cast("string")).as("source"),
          col("text"))
      // materialized once for the state's documented two-pass scan, as in
      // the incremental key below
      Dedup.sourceOverlapSketch(d.unionByName(copies).stagePin(),
          k = 128)
        .orderBy("src_a", "src_b")
    }),

    // §2 #26g3 — INCREMENTAL overlap data card: the same seeded corpus
    // split 2:1 into history and batch, each folded to a per-source
    // (MinHash signature, HLL sketch) state, states MERGED (elementwise
    // slot min + HLL union — both batching-independent), matrix estimated
    // from the |sources|-row merged state. No oracle (sketch path);
    // LlmSpec pins merged-state signatures bit-identical to the full
    // single-pass state and the matrix equal to the full-pass sketch's.
    "source_overlap_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val copies = d.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 5000000).as("doc_id"),
          concat(lit("src"),
            ((regexp_extract(col("source"), "(\\d+)", 1).cast("int") + 1) % 20)
              .cast("string")).as("source"),
          col("text"))
      // materialized once: both state builds scan their slice twice (the
      // documented two-pass sig+HLL shape) and need the SAME columns, so
      // unlike a column-pruned lazy index this re-synthesis (4x regex
      // seeding) has no pruning to save it — measured 2.3 -> 1.6 s
      val seeded = d.unionByName(copies).stagePin()
      val hist = Dedup.sourceOverlapState(seeded.where(col("doc_id") % 3 =!= 0))
      val batch = Dedup.sourceOverlapState(seeded.where(col("doc_id") % 3 === 0))
      Dedup.overlapFromState(Dedup.mergeOverlapStates(hist, batch))
        .orderBy("src_a", "src_b")
    }),

    // §2 #40 — grouped distribution profile: exact per-(symbol, day) value
    // quantiles (the sketch path percentile_approx is pinned to these in
    // StatsSessionSpec).
    "daily_quantiles" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_type").as("symbol"),
        unix_millis(date_trunc("day", col("ts"))).as("day_ms"), col("value"))
      Stats.groupQuantiles(e, Seq("symbol", "day_ms"), "value",
          Seq(0.5, 0.9, 0.99))
        .select(col("symbol"), col("day_ms"),
          round(col("p50"), 6).as("p50"),
          round(col("p90"), 6).as("p90"),
          round(col("p99"), 6).as("p99"), col("n"))
        .orderBy("symbol", "day_ms")
    }),

    // §2 #41 — corpus-wide bigram frequency table (vocabulary/LM stats
    // pass; explode + one hash-shuffle count).
    "ngram_freq" -> ((s, dir) => {
      TextAnalysis.ngramFreq(Tables.documents(s, dir), n = 2)
        .orderBy("ngram")
    }),

    // §2 #41b — Count-Min-sketch frequency profile (the sketch path under
    // ngram_freq): one-pass CMS over gram hashes, native point-query
    // probe, estimate-vs-exact audit on the top-20. Rows-only (no CMS in
    // the oracle engine); LlmSpec pins est >= exact and the eps·N bound.
    "ngram_freq_sketch" -> ((s, dir) => {
      TextAnalysis.ngramCmsProfile(Tables.documents(s, dir), n = 2, k = 20)
        .orderBy(col("exact_count").desc, col("ngram").asc)
    }),

    // §2 #41e — EXACT corpus heavy hitters via CMS-nominate → exact
    // confirm (the 39d nominate-verify pattern at vocabulary grain): the
    // output is exactly the tokens with true freq >= 200 and their exact
    // counts — hash-identical to a naive full-vocabulary groupBy — while
    // the exact aggregation's exchange carries only CMS-suspect tokens,
    // never the web-scale distinct vocabulary.
    "heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitters(Tables.documents(s, dir), minCount = 200L)
        .orderBy(col("cnt").desc, col("token").asc)),

    // §2 #41c — BPE pair statistics: the exact first-iteration view of
    // tokenizer training — char-grain adjacent-pair frequencies over the
    // word-frequency relation, deterministic top-100.
    "bpe_pairs" -> ((s, dir) => {
      Bpe.pairStats(Tables.documents(s, dir), k = 100).orderBy("pair_rank")
    }),

    // §2 #41d — BPE merge training (Sennrich et al. 2016): ONE distributed
    // corpus pass to word counts, then the published bounded-dict merge
    // loop (trainBounded; the fully-distributed Bpe.train loop exists for
    // unbounded vocabularies and is pinned ≡ this one in BpeSpec).
    // Rows-only (iterative argmax has no SQL oracle); BpeSpec pins the
    // full merge sequence against an independent reference
    // implementation, plus encode-≡-training and partitioning
    // determinism.
    "bpe_merges" -> ((s, dir) => {
      Bpe.trainBounded(Tables.documents(s, dir), numMerges = 32)
        .orderBy("merge_rank")
    }),

    // §2 #41f — unigram-LM tokenizer seeding (Kudo 2018 / SentencePiece):
    // substring-piece frequencies over the word relation, the exact
    // oracle-checkable half of the trainer (the bpe_pairs counterpart).
    "unigram_seed" -> ((s, dir) => {
      Unigram.seedStats(Tables.documents(s, dir), k = 100, maxPieceLen = 4)
        .orderBy("seed_rank")
    }),

    // §2 #41g — unigram-LM tokenizer training: seed → Viterbi-EM over the
    // bounded word-frequency dict → char-preserving prune (the
    // SentencePiece --model_type=unigram algorithm; one distributed
    // corpus pass, the Bpe.trainBounded posture). Rows-only (iterative
    // EM has no SQL oracle); UnigramSpec pins the vocabulary against an
    // independent reference implementation, encode-≡-training, and
    // partitioning determinism.
    "unigram_vocab" -> ((s, dir) => {
      Unigram.trainBounded(Tables.documents(s, dir), vocabSize = 80,
          emIters = 2, seedSize = 400, maxPieceLen = 4)
        .withColumn("logprob", round(col("logprob"), 6))
        .orderBy("rank")
    }),

    // §2 #42 — distinct-cardinality profile per symbol (exact; the HLL
    // approx_count_distinct column is the at-scale path, pinned in tests).
    "distinct_users" -> ((s, dir) => {
      Stats.distinctProfile(
          events(s, dir).select(col("event_type").as("symbol"), col("user_id")),
          Seq("symbol"), "user_id")
        .select(col("symbol"), col("n_distinct"), col("n_rows"))
        .orderBy("symbol")
    }),

    // §2 #44 — per-doc repetition profile (Gopher-style repetitive-content
    // quality filter) over word bigrams.
    "repetition_score" -> ((s, dir) => {
      TextAnalysis.repetitionProfile(
          Tables.documents(s, dir).select(col("doc_id"), col("text")), n = 2)
        .orderBy("doc_id")
    }),

    // §2 #45 — PII detection/redaction stats: seeded emails/phones appended
    // deterministically, counted and redacted; the fingerprint proves the
    // redacted text is byte-identical cross-engine.
    "pii_redact" -> ((s, dir) => {
      val emailPat = "[a-z0-9]+@[a-z.]+"
      val phonePat = "\\d{3}-\\d{4}"
      val aug = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@mail.com tel 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" cc admin"), col("doc_id").cast("string"), lit("@backup.org")))
          .otherwise(lit("")))
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .withColumn("_aug", aug)
        .select(col("doc_id"),
          regexp_count(col("_aug"), lit(emailPat)).cast("int").as("n_emails"),
          regexp_count(col("_aug"), lit(phonePat)).cast("int").as("n_phones"),
          md5(regexp_replace(
            regexp_replace(col("_aug"), emailPat, "<EMAIL>"),
            phonePat, "<PHONE>")).as("redacted_fp"))
        .orderBy("doc_id")
    }),

    // §2 #46 — TPC-H Q1-shape pricing summary over lineitem (the largest
    // testdata table). Big-group money sums go through DECIMAL so the
    // aggregation is exact and order-independent — the same trick a 100 TB
    // revenue rollup needs for reproducibility. (double→decimal casts are
    // tie-free — a binary double never sits exactly on a decimal midpoint —
    // so the per-row quantization is engine-independent, unlike round().)
    "pricing_summary" -> ((s, dir) => {
      val ep = col("l_extendedprice").cast("decimal(24,4)")
      // fold the unit-scale factors in double (deterministic IEEE per-row),
      // quantize once to decimal — keeps the decimal multiply inside both
      // engines' 38-digit budget
      val disc = (lit(1.0) - col("l_discount")).cast("decimal(12,10)")
      val dt = ((lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
        .cast("decimal(12,10)")
      def dsum(c: org.apache.spark.sql.Column, alias: String) =
        round(sum(c).cast("double"), 4).as(alias)
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity").cast("decimal(18,4)"), "sum_qty"),
          dsum(ep, "sum_base_price"),
          dsum(ep * disc, "sum_disc_price"),
          dsum(ep * dt, "sum_charge"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // §2 #47 — revenue by nation: lineitem ⋈ orders ⋈ customer ⋈ nation
    // with the small dimensions broadcast (plan-audited in tests).
    "revenue_by_nation" -> ((s, dir) => {
      def dsum(c: org.apache.spark.sql.Column, alias: String) =
        round(sum(c).cast("double"), 4).as(alias)
      val l = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      val n = Tables.read(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          dsum(col("l_extendedprice").cast("decimal(24,4)")
            * (lit(1.0) - col("l_discount")).cast("decimal(12,10)"), "revenue"),
          count(lit(1)).as("n_items"),
          countDistinct(col("o_custkey")).as("n_customers"))
        .orderBy("n_name")
    }),

    // §2 #43 — top-k per group (best-quality docs per language): window
    // row_number with Spark's WindowGroupLimit pushdown.
    "topk_docs" -> ((s, dir) => {
      val q = TextAnalysis.withQuality(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")))
      val w = Window.partitionBy("lang")
        .orderBy(col("quality_score").desc, col("doc_id").asc)
      q.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 3)
        .select(col("lang"), col("rank"), col("doc_id"),
          round(col("quality_score"), 6).as("quality_score"))
        .orderBy("lang", "rank")
    }),
  )

  /** Shared DuckDB CTE: hour bars from the tick stream (mirrors
    * Bars.fromTicks(events, "hour")). */
  private val H1Cte: String =
    """WITH h1 AS (
      |  SELECT event_type AS symbol,
      |         epoch_ms(date_trunc('hour', ts)) AS bar_ts_ms,
      |         arg_min(value, event_id) AS open,
      |         max(value) AS high,
      |         min(value) AS low,
      |         arg_max(value, event_id) AS close,
      |         sum(value) AS volume,
      |         count(*) AS n_trades
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** Shared DuckDB chain: hourly bars → true range / ATR(14) percent,
    * efficiency ratio(10), cumulative-VWAP distance z(24) — the h1 feature
    * block behind the regime-frame and ml-filter-frame oracles, ending in
    * the `feat` CTE (symbol, bar_ts_ms, open, high, low, close, atr_pct,
    * er, vwap_dist_z). Factored so the feature constants can never diverge
    * between the oracles that compose it. */
  private val H1FeatCte: String =
    s"""$H1Cte,
      |t AS (
      |  SELECT symbol, bar_ts_ms, open, high, low, close, volume,
      |         lag(close) OVER w AS prev_c,
      |         abs(close - lag(close) OVER w) AS adiff,
      |         lag(close, 10) OVER w AS close_n
      |  FROM h1
      |  WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
      |trt AS (
      |  SELECT *, CASE WHEN prev_c IS NOT NULL THEN
      |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
      |         END AS tr
      |  FROM t),
      |v AS (
      |  SELECT *,
      |         sum((high + low + close) / 3.0 * coalesce(volume, 0)) OVER cum
      |           / nullif(sum(coalesce(volume, 0)) OVER cum, 0) AS vwap
      |  FROM trt
      |  WINDOW cum AS (PARTITION BY symbol ORDER BY bar_ts_ms
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |d AS (
      |  SELECT *, (close - vwap) / nullif(vwap, 0) AS vwap_dist FROM v),
      |feat AS (
      |  SELECT symbol, bar_ts_ms, open, high, low, close,
      |         (CASE WHEN count(tr) OVER w14 = 14
      |          THEN avg(tr) OVER w14 END) / nullif(close, 0) AS atr_pct,
      |         abs(close - close_n)
      |           / nullif(CASE WHEN count(adiff) OVER w10 = 10
      |                    THEN sum(adiff) OVER w10 END, 0) AS er,
      |         (vwap_dist -
      |          CASE WHEN count(vwap_dist) OVER w24 >= 12
      |               THEN avg(vwap_dist) OVER w24 END)
      |           / (CASE WHEN count(vwap_dist) OVER w24 >= 12
      |              THEN stddev_pop(vwap_dist) OVER w24 END + 1e-12)
      |           AS vwap_dist_z
      |  FROM d
      |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
      |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
      |         w10 AS (PARTITION BY symbol ORDER BY bar_ts_ms
      |                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
      |         w24 AS (PARTITION BY symbol ORDER BY bar_ts_ms
      |                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))""".stripMargin

  /** Shared DuckDB chain: the CCNet bigram-LM score against the src0/src1
    * target subset (add-0.1 smoothing, V+1 OOV bucket), ending in the
    * `lms` CTE (doc_id, n_bigrams, cross_entropy, ppl). Used by the
    * lm_score and ccnet_buckets oracles so the smoothing constants can
    * never diverge between the scorer and the tercile split built on it. */
  private val LmScoreCte: String =
    """d AS (
      |  SELECT doc_id, source IN ('src0','src1') AS tgt,
      |         string_split_regex(lower(text), '\s+') AS ws
      |  FROM documents),
      |bgf AS (
      |  SELECT doc_id, tgt,
      |         unnest(list_transform(range(len(ws) - 1),
      |           i -> struct_pack(w1 := ws[i+1], w2 := ws[i+2])),
      |           recursive := true)
      |  FROM d WHERE len(ws) >= 2),
      |b2 AS (SELECT w1, w2, count(*) AS c2 FROM bgf WHERE tgt GROUP BY 1, 2),
      |b1 AS (SELECT w1, sum(c2) AS c1 FROM b2 GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v
      |      FROM (SELECT unnest(ws) AS w FROM d WHERE tgt)),
      |pd AS (SELECT doc_id, w1, w2, count(*) AS c FROM bgf GROUP BY 1, 2, 3),
      |lms AS (
      |  SELECT pd.doc_id, CAST(sum(pd.c) AS BIGINT) AS n_bigrams,
      |         round(sum(-pd.c * ln((coalesce(b2.c2, 0) + 0.1)
      |                 / (coalesce(b1.c1, 0) + 0.1 * (v.v + 1))))
      |               / sum(pd.c), 6) + 0.0 AS cross_entropy,
      |         round(exp(sum(-pd.c * ln((coalesce(b2.c2, 0) + 0.1)
      |                 / (coalesce(b1.c1, 0) + 0.1 * (v.v + 1))))
      |               / sum(pd.c)), 6) + 0.0 AS ppl
      |  FROM pd LEFT JOIN b2 USING (w1, w2) LEFT JOIN b1 USING (w1)
      |       CROSS JOIN v
      |  GROUP BY 1)""".stripMargin

  /** Shared DuckDB chain: the seeded near-dup corpus (every 5th doc with
    * its last two tokens dropped, id +1e6 — mirrors `docsWithNearDups`)
    * exploded to distinct case-folded 8-grams, ending in the `gr` CTE
    * (doc_id, n_ngrams, gm). Used by the boilerplate_profile and
    * dedup_rate_curve oracles so the seeding/shingling constants can never
    * diverge between the profile and the curve built on the same grams. */
  private val SeededGramCte: String =
    """d0 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |         array_to_string(list_slice(string_split_regex(text, '\s+'),
      |           1, greatest(len(string_split_regex(text, '\s+')) - 2, 0)),
      |           ' ')
      |  FROM documents WHERE doc_id % 5 = 0),
      |tk AS (
      |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
      |  FROM d0),
      |sha AS (
      |  SELECT doc_id,
      |         CASE WHEN len(w) >= 8 THEN
      |           list_distinct(list_transform(range(len(w) - 7),
      |             i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
      |                  w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
      |                  w[i+7] || ' ' || w[i+8]))
      |         ELSE [array_to_string(w, ' ')] END AS sh
      |  FROM tk),
      |gr AS (
      |  SELECT doc_id, len(sh) AS n_ngrams, unnest(sh) AS gm
      |  FROM sha)""".stripMargin

  /** Shared DuckDB chain: DSIR unigram importance weights against the
    * src0/src1 target subset (add-1 smoothing over the joint vocabulary),
    * ending in the `iw` CTE (doc_id, n_tokens, log_weight,
    * avg_log_weight). Used by the importance_weight and dsir_sample
    * oracles so the smoothing/target constants can never diverge between
    * the scorer and the sampler that composes it. */
  private val DsirCte: String =
    """tok AS (
      |  SELECT doc_id, source IN ('src0','src1') AS tgt,
      |         unnest(string_split_regex(lower(text), '\s+')) AS w
      |  FROM documents),
      |lm AS (
      |  SELECT w, count(*) AS cr,
      |         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
      |  FROM tok GROUP BY 1),
      |tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS v FROM lm),
      |pd AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
      |iw AS (
      |  SELECT pd.doc_id, CAST(sum(pd.c) AS BIGINT) AS n_tokens,
      |         round(sum(pd.c * (ln((lm.ct + 1.0) / (tot.nt + 1.0 * tot.v))
      |                   - ln((lm.cr + 1.0) / (tot.nr + 1.0 * tot.v)))), 6)
      |           + 0.0 AS log_weight,
      |         round(sum(pd.c * (ln((lm.ct + 1.0) / (tot.nt + 1.0 * tot.v))
      |                   - ln((lm.cr + 1.0) / (tot.nr + 1.0 * tot.v))))
      |               / sum(pd.c), 6) + 0.0 AS avg_log_weight
      |  FROM pd JOIN lm USING (w) CROSS JOIN tot
      |  GROUP BY 1)""".stripMargin

  /** Shared DuckDB chain: the seeded embedding corpus (every 5th vector
    * jittered, id +1e6 — mirrors `embeddingsWithNearDups`), its 8-centroid
    * lowest-id codebook, and the max-cosine assignment ending in the `asg`
    * CTE (vec_id, cluster, centroid_sim). Used by the embed_kmeans and
    * semantic_dedup oracles so the seeding/codebook constants can never
    * diverge between the assignment key and the dedup that composes it. */
  private val SeededEmbCte: String =
    """e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |       FROM embeddings),
      |aug AS (
      |  SELECT vec_id + 1000000 AS vec_id,
      |         list_transform(range(len(v)),
      |           i -> v[i+1] + 0.01 * ((i % 7) - 3)) AS v
      |  FROM e0 WHERE vec_id % 5 = 0),
      |e AS (SELECT * FROM e0 UNION ALL SELECT * FROM aug),
      |cent AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
      |  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
      |sims AS (
      |  SELECT e.vec_id, c.cell,
      |         round(list_cosine_similarity(e.v, c.cv), 6) AS sim
      |  FROM e CROSS JOIN cent c),
      |best AS (SELECT vec_id, max(sim) AS best FROM sims GROUP BY 1),
      |asg AS (
      |  SELECT s.vec_id, CAST(min(s.cell) AS INTEGER) AS cluster,
      |         max(s.sim) AS centroid_sim
      |  FROM sims s JOIN best b ON b.vec_id = s.vec_id AND s.sim = b.best
      |  GROUP BY 1)""".stripMargin

  /** Shared DuckDB chain: the corpus-cleaning stage (seeded exact dups →
    * md5-canonical survivors → quality/language gates), ending in the
    * `cleaned` CTE (doc_id, text, n_tokens, quality_score). Used by the
    * corpus_clean and corpus_pipeline oracles so the gate constants can
    * never diverge between the stage and the capstone that composes it. */
  private val CorpusCleanCte: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
      |fp AS (
      |  SELECT doc_id, text,
      |         row_number() OVER (PARTITION BY
      |           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |           ORDER BY doc_id) AS rn
      |  FROM all_docs),
      |surv AS (SELECT doc_id, text FROM fp WHERE rn = 1),
      |t AS (
      |  SELECT doc_id, text,
      |         string_split_regex(lower(text), '\s+') AS toks,
      |         length(text) AS n_chars,
      |         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
      |           AS punct
      |  FROM surv),
      |u AS (
      |  SELECT doc_id, text,
      |         CAST(len(toks) AS INTEGER) AS n_tokens,
      |         CAST(punct AS DOUBLE) / nullif(n_chars, 0) AS punct_ratio,
      |         CAST(len(list_filter(toks, x -> list_contains(
      |           ['the','a','an','and','of','to','in','is','it','that'], x)))
      |           AS DOUBLE) / nullif(len(toks), 0) AS stop_ratio,
      |         CAST(len(list_filter(toks, x -> list_contains(
      |           ['the','a','an','and','of','to','in','is','it','that'], x)))
      |           AS INTEGER) AS sw_en,
      |         CAST(len(list_filter(toks, x -> list_contains(
      |           ['le','la','les','et','de','un','une','est','que','pour'], x)))
      |           AS INTEGER) AS sw_fr,
      |         CAST(len(list_filter(toks, x -> list_contains(
      |           ['der','die','das','und','ist','ein','eine','zu','mit','von'], x)))
      |           AS INTEGER) AS sw_de,
      |         CAST(len(list_filter(toks, x -> list_contains(
      |           ['el','la','los','y','de','un','una','es','que','por'], x)))
      |           AS INTEGER) AS sw_es
      |  FROM t),
      |q AS (
      |  SELECT doc_id, text, n_tokens,
      |         least(1.0, n_tokens / 20.0) * (1.0 - punct_ratio)
      |           * least(1.0, stop_ratio * 4.0) AS quality_score,
      |         CASE WHEN sw_en >= greatest(sw_fr, sw_de, sw_es) THEN 'en'
      |              WHEN sw_fr >= greatest(sw_de, sw_es) THEN 'fr'
      |              WHEN sw_de >= sw_es THEN 'de'
      |              ELSE 'es' END AS lang_pred
      |  FROM u),
      |cleaned AS (
      |  SELECT doc_id, text, n_tokens, quality_score FROM q
      |  WHERE lang_pred = 'en' AND quality_score >= 0.5 AND n_tokens >= 10)"""
      .stripMargin

  /** Shared DuckDB chain mirroring [[graft.operators.LowPlus.enrich]]:
    * hour bars through the `gates` CTE (range_pctl, vol_state, dir_score,
    * dir_state, low_plus, market_ready_base, dir_ready). Used by both the
    * low_plus_gate and low_plus_sweep oracles. */
  private val LowPlusGatesCte: String =
      s"""$H1Cte,
        |rp AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         (high - low) / nullif(close, 0) AS range_pct
        |  FROM h1),
        |pc AS (
        |  SELECT * EXCLUDE (arr, nn),
        |         CASE WHEN nn = 48
        |           THEN len(list_filter(arr, y -> y <= range_pct)) * 100.0 / 48
        |         END AS range_pctl
        |  FROM (SELECT *,
        |          list(range_pct) OVER w48 AS arr,
        |          count(range_pct) OVER w48 AS nn
        |        FROM rp
        |        WINDOW w48 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                       ROWS BETWEEN 47 PRECEDING AND CURRENT ROW))),
        |er24 AS (
        |  SELECT *,
        |         abs(close - lag(close) OVER wk) AS adiff,
        |         lag(close, 24) OVER wk AS close_24,
        |         ln(close / lag(close) OVER wk) AS ret1
        |  FROM pc WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |er2 AS (
        |  SELECT *,
        |         abs(close - close_24)
        |           / nullif(CASE WHEN count(adiff) OVER w24 = 24
        |                      THEN sum(adiff) OVER w24 END, 0) AS er,
        |         CASE WHEN count(ret1) OVER w24 = 24
        |           THEN stddev_pop(ret1) OVER w24 END AS vol1
        |  FROM er24
        |  WINDOW w24 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |sc AS (
        |  SELECT symbol, bar_ts_ms, range_pctl,
        |         CASE WHEN range_pctl IS NULL THEN NULL
        |              WHEN range_pctl < 25.0 THEN 'LOW'
        |              WHEN range_pctl > 70.0 THEN 'HIGH'
        |              ELSE 'MID' END AS vol_state,
        |         ln(close / close_24)
        |           / (vol1 * sqrt(24.0) + 1e-9)
        |           * (0.5 + 0.5 * er) AS raw
        |  FROM er2),
        |ds AS (
        |  SELECT *,
        |         CASE WHEN raw IS NULL THEN NULL
        |              WHEN raw > 20 THEN 1.0
        |              WHEN raw < -20 THEN -1.0
        |              ELSE (exp(2.0 * raw) - 1.0) / (exp(2.0 * raw) + 1.0)
        |         END AS dir_score
        |  FROM sc),
        |st AS (
        |  SELECT *,
        |         CASE WHEN dir_score IS NULL THEN 'NEUTRAL'
        |              WHEN dir_score >= 0.15 THEN 'BULL'
        |              WHEN dir_score <= -0.15 THEN 'BEAR'
        |              ELSE 'NEUTRAL' END AS dir_state
        |  FROM ds),
        |gates AS (
        |  SELECT *,
        |         coalesce(range_pctl <= 14.0, false) AS low_plus,
        |         coalesce(vol_state IN ('MID', 'HIGH'), false)
        |           AS market_ready_base,
        |         dir_state <> 'NEUTRAL'
        |           AND abs(coalesce(dir_score, 0.0)) >= 0.30 AS dir_ready
        |  FROM st)""".stripMargin

  /** The Ichimoku scoring chain as DuckDB CTE stages over a bars relation
    * `src` (needs symbol, bar_ts_ms, high, low, close). Emits CTEs prefixed
    * with `p`; the final stage `${p}out` has (symbol, bar_ts_ms, close,
    * bull_score, bear_score, label). Mirrors the `ichimoku` oracle so the
    * MTF composition can run it per timeframe. */
  private def ichChainSql(src: String, p: String): String =
    s"""${p}f AS (
       |  SELECT symbol, bar_ts_ms, close,
       |         CASE WHEN count(high) OVER ${p}w9 = 9
       |           THEN (max(high) OVER ${p}w9 + min(low) OVER ${p}w9) / 2.0 END AS tenkan,
       |         CASE WHEN count(high) OVER ${p}w26 = 26
       |           THEN (max(high) OVER ${p}w26 + min(low) OVER ${p}w26) / 2.0 END AS kijun,
       |         CASE WHEN count(high) OVER ${p}w52 = 52
       |           THEN (max(high) OVER ${p}w52 + min(low) OVER ${p}w52) / 2.0 END AS ssb,
       |         row_number() OVER ${p}wk1 AS rn
       |  FROM $src
       |  WINDOW ${p}w9 AS (PARTITION BY symbol ORDER BY bar_ts_ms
       |                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
       |         ${p}w26 AS (PARTITION BY symbol ORDER BY bar_ts_ms
       |                 ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
       |         ${p}w52 AS (PARTITION BY symbol ORDER BY bar_ts_ms
       |                 ROWS BETWEEN 51 PRECEDING AND CURRENT ROW),
       |         ${p}wk1 AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
       |${p}g AS (SELECT *, (tenkan + kijun) / 2.0 AS ssa FROM ${p}f),
       |${p}h AS (
       |  SELECT *,
       |         lag(ssa, 25) OVER ${p}wk2 AS ssa_vis,
       |         lag(ssb, 25) OVER ${p}wk2 AS ssb_vis,
       |         lag(close, 25) OVER ${p}wk2 AS close_lag
       |  FROM ${p}g WINDOW ${p}wk2 AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
       |${p}sc AS (
       |  SELECT *,
       |         CASE WHEN ssa > ssb THEN 1 ELSE 0 END
       |         + CASE WHEN close > greatest(ssa_vis, ssb_vis) THEN 1 ELSE 0 END
       |         + CASE WHEN close > close_lag THEN 1 ELSE 0 END
       |         + CASE WHEN tenkan > kijun THEN 1 ELSE 0 END AS bull_raw,
       |         CASE WHEN ssa < ssb THEN 1 ELSE 0 END
       |         + CASE WHEN close < least(ssa_vis, ssb_vis) THEN 1 ELSE 0 END
       |         + CASE WHEN close < close_lag THEN 1 ELSE 0 END
       |         + CASE WHEN tenkan < kijun THEN 1 ELSE 0 END AS bear_raw,
       |         (tenkan IS NOT NULL AND kijun IS NOT NULL AND ssa IS NOT NULL
       |          AND ssb IS NOT NULL AND ssa_vis IS NOT NULL
       |          AND ssb_vis IS NOT NULL AND close_lag IS NOT NULL
       |          AND rn >= 78) AS ready
       |  FROM ${p}h),
       |${p}out AS (
       |  SELECT symbol, bar_ts_ms, close,
       |         CAST(CASE WHEN ready THEN bull_raw ELSE 0 END AS INTEGER)
       |           AS bull_score,
       |         CAST(CASE WHEN ready THEN bear_raw ELSE 0 END AS INTEGER)
       |           AS bear_score,
       |         CASE WHEN ready AND NOT (abs(bull_raw - bear_raw) < 1.0)
       |                   AND bull_raw >= 3 AND bull_raw > bear_raw THEN 'LONG'
       |              WHEN ready AND NOT (abs(bull_raw - bear_raw) < 1.0)
       |                   AND bear_raw >= 3 AND bear_raw > bull_raw THEN 'SHORT'
       |              ELSE 'NEUTRE' END AS label,
       |         CAST(CASE WHEN NOT ready THEN 0
       |              WHEN ready AND NOT (abs(bull_raw - bear_raw) < 1.0)
       |                   AND bull_raw >= 3 AND bull_raw > bear_raw
       |                THEN bull_raw
       |              WHEN ready AND NOT (abs(bull_raw - bear_raw) < 1.0)
       |                   AND bear_raw >= 3 AND bear_raw > bull_raw
       |                THEN bear_raw
       |              ELSE greatest(bull_raw, bear_raw) END AS INTEGER)
       |           AS score_display
       |  FROM ${p}sc)""".stripMargin

  /** Backtest CTE chain shared by the `backtest_trades` and
    * `equity_curve` oracles: h1 bars -> ATR -> ichimoku SHORT signal ->
    * renewal-structure recursive trade chain -> closed trades in `tr1`. */
  /** Shared backtest-oracle base: hour bars → ATR(14) → ichimoku SHORT
    * signal → per-symbol bar index (`rr`), entry candidates (`entries` =
    * bars whose PREVIOUS bar signalled, with a valid ATR), and the
    * next-candidate lookup (`ne`, next entry candidate strictly after a
    * given bar). The plain-engine (tr1) and router-overlay continuations
    * both build on exactly these. */
  private def backtestBaseCte: String =
    s"""t AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS prev_c
        |  FROM h1),
        |trt AS (
        |  SELECT *, CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS trv
        |  FROM t),
        |a AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN count(trv) OVER w14 = 14
        |           THEN avg(trv) OVER w14 END AS atr
        |  FROM trt
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |${ichChainSql("h1", "b")},
        |sg AS (
        |  SELECT a.symbol, a.bar_ts_ms, a.open, a.high, a.low, a.close, a.atr,
        |         CASE WHEN bout.label = 'SHORT' THEN 1 ELSE 0 END AS sig
        |  FROM a JOIN bout
        |    ON a.symbol = bout.symbol AND a.bar_ts_ms = bout.bar_ts_ms),
        |rr AS (
        |  SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS rn
        |  FROM sg),
        |ecand AS (
        |  SELECT rr.*,
        |         lag(sig) OVER (PARTITION BY symbol ORDER BY rn) AS prev_sig
        |  FROM rr),
        |entries AS (
        |  SELECT symbol, rn, bar_ts_ms, open, atr
        |  FROM ecand WHERE prev_sig = 1 AND atr > 0),
        |ne AS (
        |  SELECT symbol, rn,
        |         min(CASE WHEN prev_sig = 1 AND atr > 0 THEN rn END)
        |           OVER (PARTITION BY symbol ORDER BY rn
        |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |           AS next_entry_rn
        |  FROM ecand)""".stripMargin

  private def backtestTr1Cte: String =
    s"""$backtestBaseCte,
        |hits AS (
        |  SELECT e.symbol, e.rn,
        |         min(CASE WHEN j.high >= e.open + 1.0 * e.atr
        |                    OR j.low <= e.open - 2.0 * (1.0 * e.atr)
        |              THEN j.rn END) AS hit_rn,
        |         max(j.rn) AS last_rn
        |  FROM entries e JOIN rr j
        |    ON j.symbol = e.symbol AND j.rn BETWEEN e.rn AND e.rn + 15
        |  WHERE e.atr > 0
        |  GROUP BY 1, 2),
        |pre AS (
        |  SELECT e.symbol, e.rn, e.bar_ts_ms AS ets, e.open AS ep,
        |         1.0 * e.atr AS risk,
        |         coalesce(h.hit_rn,
        |                  CASE WHEN h.last_rn = e.rn + 15 THEN e.rn + 15 END)
        |           AS exit_rn
        |  FROM entries e
        |  LEFT JOIN hits h ON h.symbol = e.symbol AND h.rn = e.rn),
        |chain(symbol, rn, exit_rn) AS (
        |  SELECT p.symbol, p.rn, p.exit_rn
        |  FROM pre p
        |  JOIN (SELECT symbol, min(rn) AS rn FROM entries GROUP BY 1) f
        |    ON f.symbol = p.symbol AND f.rn = p.rn
        |  UNION ALL
        |  SELECT p2.symbol, p2.rn, p2.exit_rn
        |  FROM chain c
        |  JOIN ne n ON n.symbol = c.symbol AND n.rn = c.exit_rn
        |  JOIN pre p2 ON p2.symbol = c.symbol AND p2.rn = n.next_entry_rn
        |  WHERE c.exit_rn IS NOT NULL AND n.next_entry_rn IS NOT NULL),
        |tr0 AS (
        |  SELECT c.symbol, p.ets, p.ep, p.risk,
        |         x.bar_ts_ms AS xts, x.high AS xhigh, x.low AS xlow,
        |         x.close AS xclose,
        |         CAST(c.exit_rn - c.rn + 1 AS INTEGER) AS bars_held
        |  FROM chain c
        |  JOIN pre p ON p.symbol = c.symbol AND p.rn = c.rn
        |  JOIN rr x ON x.symbol = c.symbol AND x.rn = c.exit_rn
        |  WHERE c.exit_rn IS NOT NULL),
        |tr1 AS (
        |  SELECT symbol, ets, ep, xts, bars_held,
        |         CASE WHEN xhigh >= ep + risk THEN ep + risk
        |              WHEN xlow <= ep - 2.0 * risk THEN ep - 2.0 * risk
        |              ELSE xclose END AS xpx,
        |         CASE WHEN xhigh >= ep + risk THEN 'SL'
        |              WHEN xlow <= ep - 2.0 * risk THEN 'TP'
        |              ELSE 'TIME' END AS xreason,
        |         CASE WHEN xhigh >= ep + risk THEN -1.0
        |              WHEN xlow <= ep - 2.0 * risk THEN 2.0
        |              ELSE (ep - xclose) / risk END AS xr
        |  FROM tr0)""".stripMargin

  /** Router-overlay continuation (backtest_router_event_v1.py semantics):
    * per-entry break-even arming (`armr` = first bar whose CLOSE shows
    * >= 0.6R unrealized; from that bar on, the effective stop is the entry
    * price), armed-aware first-hit detection, per-entry exit facts incl.
    * the realized R (`trf`), and a cooldown-aware one-position chain —
    * after a trade with xr < 0 the next candidate must sit strictly more
    * than 5 bars past the exit. Exits are entry-local even with the
    * overlay (the armed stop depends only on the trade's own path), so
    * everything except the chain stays non-recursive. */
  private def backtestRouterCte: String =
    s"""$backtestBaseCte,
        |armr AS (
        |  SELECT e.symbol, e.rn, min(j.rn) AS arm_rn
        |  FROM entries e JOIN rr j
        |    ON j.symbol = e.symbol AND j.rn BETWEEN e.rn AND e.rn + 15
        |  WHERE e.atr > 0 AND e.open - j.close >= 0.6 * e.atr
        |  GROUP BY 1, 2),
        |hitsr AS (
        |  SELECT e.symbol, e.rn,
        |         min(CASE WHEN (a.arm_rn IS NOT NULL AND j.rn >= a.arm_rn
        |                        AND j.high >= e.open)
        |                    OR ((a.arm_rn IS NULL OR j.rn < a.arm_rn)
        |                        AND j.high >= e.open + e.atr)
        |                    OR j.low <= e.open - 2.0 * e.atr
        |              THEN j.rn END) AS hit_rn,
        |         max(j.rn) AS last_rn
        |  FROM entries e
        |  LEFT JOIN armr a ON a.symbol = e.symbol AND a.rn = e.rn
        |  JOIN rr j ON j.symbol = e.symbol AND j.rn BETWEEN e.rn AND e.rn + 15
        |  WHERE e.atr > 0
        |  GROUP BY 1, 2),
        |prer AS (
        |  SELECT e.symbol, e.rn, e.bar_ts_ms AS ets, e.open AS ep,
        |         1.0 * e.atr AS risk, a.arm_rn,
        |         coalesce(h.hit_rn,
        |                  CASE WHEN h.last_rn = e.rn + 15 THEN e.rn + 15 END)
        |           AS exit_rn
        |  FROM entries e
        |  LEFT JOIN armr a ON a.symbol = e.symbol AND a.rn = e.rn
        |  LEFT JOIN hitsr h ON h.symbol = e.symbol AND h.rn = e.rn),
        |trx AS (
        |  SELECT p.symbol, p.rn, p.ets, p.ep, p.risk, p.exit_rn,
        |         x.bar_ts_ms AS xts, x.close AS xclose,
        |         CAST(p.exit_rn - p.rn + 1 AS INTEGER) AS bars_held,
        |         (p.arm_rn IS NOT NULL AND p.exit_rn >= p.arm_rn) AS armed,
        |         CASE WHEN p.arm_rn IS NOT NULL AND p.exit_rn >= p.arm_rn
        |              THEN x.high >= p.ep
        |              ELSE x.high >= p.ep + p.risk END AS sl_hit,
        |         x.low <= p.ep - 2.0 * p.risk AS tp_hit
        |  FROM prer p JOIN rr x ON x.symbol = p.symbol AND x.rn = p.exit_rn
        |  WHERE p.exit_rn IS NOT NULL),
        |trf AS (
        |  SELECT symbol, rn, ets, ep, risk, exit_rn, xts, bars_held,
        |         CASE WHEN sl_hit AND armed THEN ep
        |              WHEN sl_hit THEN ep + risk
        |              WHEN tp_hit THEN ep - 2.0 * risk
        |              ELSE xclose END AS xpx,
        |         CASE WHEN sl_hit THEN 'SL'
        |              WHEN tp_hit THEN 'TP'
        |              ELSE 'TIME' END AS xreason,
        |         CASE WHEN sl_hit AND armed THEN 0.0
        |              WHEN sl_hit THEN -1.0
        |              WHEN tp_hit THEN 2.0
        |              ELSE (ep - xclose) / risk END AS xr
        |  FROM trx),
        |chainr(symbol, rn) AS (
        |  SELECT symbol, min(rn) FROM entries GROUP BY 1
        |  UNION ALL
        |  SELECT t.symbol, n.next_entry_rn
        |  FROM chainr c
        |  JOIN trf t ON t.symbol = c.symbol AND t.rn = c.rn
        |  JOIN ne n ON n.symbol = c.symbol
        |           AND n.rn = t.exit_rn +
        |                      CASE WHEN t.xr < 0 THEN 5 ELSE 0 END
        |  WHERE n.next_entry_rn IS NOT NULL)""".stripMargin

  /** Dual-engine oracle (backtest_router_event_v1.py TREND/RANGE split):
    * the shared base rebuilt with the efficiency-ratio mode column, entry
    * candidates carrying their per-engine config, per-entry exits that
    * fold armed-stop SL, TP, mode-FLIP, and the per-engine time stop (SL/TP
    * before FLIP before TIME on the same bar, like the engine), and the
    * cooldown-aware chain over per-entry realized R. */
  private def backtestDualCte: String =
    s"""t AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         lag(close) OVER w AS prev_c,
        |         abs(close - lag(close) OVER w) AS adiff,
        |         lag(close, 10) OVER w AS close_n
        |  FROM h1
        |  WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |trt AS (
        |  SELECT *, CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS trv
        |  FROM t),
        |a AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN count(trv) OVER w14 = 14
        |           THEN avg(trv) OVER w14 END AS atr,
        |         abs(close - close_n)
        |           / nullif(CASE WHEN count(adiff) OVER w10 = 10
        |                    THEN sum(adiff) OVER w10 END, 0) AS er
        |  FROM trt
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
        |         w10 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
        |${ichChainSql("h1", "b")},
        |sg AS (
        |  SELECT a.symbol, a.bar_ts_ms, a.open, a.high, a.low, a.close, a.atr,
        |         CASE WHEN bout.label = 'SHORT' THEN 1 ELSE 0 END AS sig,
        |         CASE WHEN a.er IS NOT NULL THEN
        |           CASE WHEN a.er >= 0.3 THEN 'TREND' ELSE 'RANGE' END
        |         END AS mode
        |  FROM a JOIN bout
        |    ON a.symbol = bout.symbol AND a.bar_ts_ms = bout.bar_ts_ms),
        |rr AS (
        |  SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS rn
        |  FROM sg),
        |ecand AS (
        |  SELECT rr.*,
        |         lag(sig) OVER (PARTITION BY symbol ORDER BY rn) AS prev_sig
        |  FROM rr),
        |entries AS (
        |  SELECT symbol, rn, bar_ts_ms, open, atr, mode,
        |         CASE WHEN mode = 'TREND' THEN 2.0 ELSE 1.2 END AS tp_r,
        |         CASE WHEN mode = 'TREND' THEN 1.0 ELSE 0.8 END AS sl_k,
        |         CASE WHEN mode = 'TREND' THEN 16 ELSE 8 END AS hz,
        |         CASE WHEN mode = 'RANGE' THEN 0.6 END AS be_at_r
        |  FROM ecand
        |  WHERE prev_sig = 1 AND atr > 0 AND mode IS NOT NULL),
        |ne AS (
        |  SELECT symbol, rn,
        |         min(CASE WHEN prev_sig = 1 AND atr > 0
        |                   AND mode IS NOT NULL THEN rn END)
        |           OVER (PARTITION BY symbol ORDER BY rn
        |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |           AS next_entry_rn
        |  FROM ecand),
        |armd AS (
        |  SELECT e.symbol, e.rn, min(j.rn) AS arm_rn
        |  FROM entries e JOIN rr j
        |    ON j.symbol = e.symbol AND j.rn BETWEEN e.rn AND e.rn + e.hz - 1
        |  WHERE e.atr > 0 AND e.be_at_r IS NOT NULL
        |    AND e.open - j.close >= e.be_at_r * e.sl_k * e.atr
        |  GROUP BY 1, 2),
        |evd AS (
        |  SELECT e.symbol, e.rn,
        |         min(CASE WHEN (a.arm_rn IS NOT NULL AND j.rn >= a.arm_rn
        |                        AND j.high >= e.open)
        |                    OR ((a.arm_rn IS NULL OR j.rn < a.arm_rn)
        |                        AND j.high >= e.open + e.sl_k * e.atr)
        |                    OR j.low <= e.open - e.tp_r * e.sl_k * e.atr
        |              THEN j.rn END) AS hit_rn,
        |         min(CASE WHEN j.mode IS NULL OR j.mode <> e.mode
        |              THEN j.rn END) AS flip_rn,
        |         max(j.rn) AS last_rn
        |  FROM entries e
        |  LEFT JOIN armd a ON a.symbol = e.symbol AND a.rn = e.rn
        |  JOIN rr j ON j.symbol = e.symbol AND j.rn BETWEEN e.rn AND e.rn + e.hz - 1
        |  WHERE e.atr > 0
        |  GROUP BY 1, 2),
        |prd AS (
        |  SELECT e.symbol, e.rn, e.bar_ts_ms AS ets, e.open AS ep, e.mode,
        |         e.sl_k * e.atr AS risk, e.tp_r, a.arm_rn,
        |         nullif(least(coalesce(v.hit_rn, 2147483647),
        |                      coalesce(v.flip_rn, 2147483647),
        |                      coalesce(CASE WHEN v.last_rn = e.rn + e.hz - 1
        |                               THEN e.rn + e.hz - 1 END, 2147483647)),
        |                2147483647) AS exit_rn
        |  FROM entries e
        |  LEFT JOIN armd a ON a.symbol = e.symbol AND a.rn = e.rn
        |  LEFT JOIN evd v ON v.symbol = e.symbol AND v.rn = e.rn),
        |trx AS (
        |  SELECT p.symbol, p.rn, p.ets, p.ep, p.risk, p.tp_r, p.mode, p.exit_rn,
        |         x.bar_ts_ms AS xts, x.close AS xclose,
        |         CAST(p.exit_rn - p.rn + 1 AS INTEGER) AS bars_held,
        |         (p.arm_rn IS NOT NULL AND p.exit_rn >= p.arm_rn) AS armed,
        |         CASE WHEN p.arm_rn IS NOT NULL AND p.exit_rn >= p.arm_rn
        |              THEN x.high >= p.ep
        |              ELSE x.high >= p.ep + p.risk END AS sl_hit,
        |         x.low <= p.ep - p.tp_r * p.risk AS tp_hit,
        |         (x.mode IS NULL OR x.mode <> p.mode) AS flip_at
        |  FROM prd p JOIN rr x ON x.symbol = p.symbol AND x.rn = p.exit_rn
        |  WHERE p.exit_rn IS NOT NULL),
        |trf AS (
        |  SELECT symbol, rn, ets, ep, risk, mode, exit_rn, xts, bars_held,
        |         CASE WHEN sl_hit AND armed THEN ep
        |              WHEN sl_hit THEN ep + risk
        |              WHEN tp_hit THEN ep - tp_r * risk
        |              ELSE xclose END AS xpx,
        |         CASE WHEN sl_hit THEN 'SL'
        |              WHEN tp_hit THEN 'TP'
        |              WHEN flip_at THEN 'FLIP'
        |              ELSE 'TIME' END AS xreason,
        |         CASE WHEN sl_hit AND armed THEN 0.0
        |              WHEN sl_hit THEN -1.0
        |              WHEN tp_hit THEN tp_r
        |              ELSE (ep - xclose) / risk END AS xr
        |  FROM trx),
        |chaind(symbol, rn) AS (
        |  SELECT symbol, min(rn) FROM entries GROUP BY 1
        |  UNION ALL
        |  SELECT t2.symbol, n.next_entry_rn
        |  FROM chaind c
        |  JOIN trf t2 ON t2.symbol = c.symbol AND t2.rn = c.rn
        |  JOIN ne n ON n.symbol = c.symbol
        |           AND n.rn = t2.exit_rn +
        |                      CASE WHEN t2.xr < 0 THEN 5 ELSE 0 END
        |  WHERE n.next_entry_rn IS NOT NULL)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * Every top-level CTE is hinted `AS MATERIALIZED` on the way out
    * ([[materializeCtes]]): DuckDB inlines a plain CTE at every reference
    * site, so a WITH chain whose stages are each referenced 2+ times
    * re-evaluates its whole upstream prefix per reference — exponential in
    * chain depth. The 40-CTE capstone oracles ran minutes-to-OOM evaluated
    * that way (corpus_pipeline_v4: 647 s monolithic at sf0.01 vs 0.7 s
    * hinted; the round-17 driver oracle was killed at its 757 s budget with
    * 146/181 keys unmeasured). The hint is semantically neutral — CTEs here
    * are pure — and with it the full 151-key oracle suite completes in ~10 s
    * at sf0.01. */
  def oracleSql: Map[String, String] =
    oracleSqlRaw.map { case (k, v) => k -> materializeCtes(v) }

  /** Rewrite `WITH [RECURSIVE] n1 AS (...), n2(cols) AS (...) <tail>` so
    * every non-self-referential CTE reads `AS MATERIALIZED (...)`.
    * Self-referential (recursive) CTEs must stay plain — MATERIALIZED is
    * invalid on them. Only the top-level chain is touched; the scan skips
    * ''-escaped string literals, and any query it cannot parse is returned
    * unchanged (plain SELECTs have no WITH and pass straight through). */
  private[graft] def materializeCtes(sql: String): String = {
    val s = sql
    val lead = s.indexWhere(!_.isWhitespace)
    if (lead < 0 || !s.regionMatches(true, lead, "WITH", 0, 4)) return sql
    var i = lead + 4
    val rec = java.util.regex.Pattern.compile("\\G\\s*RECURSIVE\\b",
      java.util.regex.Pattern.CASE_INSENSITIVE).matcher(s)
    rec.region(i, s.length)
    if (rec.lookingAt()) i = rec.end()
    val head = java.util.regex.Pattern.compile(
      "\\G\\s*([A-Za-z_][A-Za-z0-9_]*)\\s*(\\([^()]*\\))?\\s+AS\\s*\\(").matcher(s)
    val out = new StringBuilder
    var prev = 0
    try {
      while (true) {
        head.region(i, s.length)
        if (!head.lookingAt()) return sql // parse failure: leave unchanged
        val name = head.group(1)
        val j = head.end() // just past the CTE body's opening paren
        // find the matching close paren, skipping ''-escaped literals
        var depth = 1
        var k = j
        while (depth > 0) {
          s.charAt(k) match {
            case '\'' =>
              k += 1
              var inLit = true
              while (inLit) {
                if (s.charAt(k) == '\'' &&
                    k + 1 < s.length && s.charAt(k + 1) == '\'') k += 2
                else if (s.charAt(k) == '\'') { k += 1; inLit = false }
                else k += 1
              }
            case '(' => depth += 1; k += 1
            case ')' => depth -= 1; k += 1
            case _ => k += 1
          }
        }
        val body = s.substring(j, k - 1)
        val selfRef = java.util.regex.Pattern
          .compile("\\b" + java.util.regex.Pattern.quote(name) + "\\b")
          .matcher(body).find()
        if (!selfRef) {
          out.append(s.substring(prev, j - 1)).append("MATERIALIZED (")
          prev = j
        }
        var kk = k
        while (kk < s.length && s.charAt(kk).isWhitespace) kk += 1
        if (kk < s.length && s.charAt(kk) == ',') i = kk + 1
        else {
          out.append(s.substring(prev))
          return out.toString
        }
      }
      sql // unreachable
    } catch {
      case _: StringIndexOutOfBoundsException => sql
    }
  }

  // DuckDB fragments of the curation chain and the jusText stage, shared
  // by the capstone, ccnet_pipeline, html_extract and text_normalize
  // oracles. They are MARGIN text: the composing oracle strips them once.
  // A pre-stripped fragment spliced into a stripMargin template would be
  // stripped twice, and its lines that open with `||` would lose a `|`.
  // `raw` keeps the regex backslashes literal (so a literal $ is $$).

  /** The C4 normalization of column `in` (mirrors TextAnalysis.normalize):
    * strip tags → unescape → blank control chars → collapse → trim. */
  private def normSql(in: String): String =
    raw"""trim(regexp_replace(
      |           regexp_replace(
      |             regexp_replace(
      |               regexp_replace(
      |                 regexp_replace(
      |                   regexp_replace($in, '<[^>]*>', ' ', 'g'),
      |                 '&lt;', '<', 'g'),
      |               '&gt;', '>', 'g'),
      |             '&amp;', '&', 'g'),
      |           '[\x00-\x1f]', ' ', 'g'),
      |         '\s+', ' ', 'g'))"""

  /** normalize → held-out split (`bench`: every 10th doc) → Gopher gate
    * (`gate`) over the docs of `src`. */
  private def gateSql(src: String): String =
    raw"""norm AS (
      |  SELECT doc_id,
      |         ${normSql("text")} AS text
      |  FROM $src),
      |bench AS (SELECT doc_id, text FROM norm WHERE doc_id % 10 = 0),
      |corp AS (SELECT doc_id, text FROM norm WHERE doc_id % 10 <> 0),
      |gt AS (
      |  SELECT doc_id, text,
      |         list_filter(string_split_regex(trim(text), '\s+'),
      |                     x -> x <> '') AS toks
      |  FROM corp),
      |gate AS (
      |  SELECT doc_id, text FROM gt
      |  WHERE len(toks) BETWEEN 50 AND 100000
      |    AND coalesce(CAST(list_sum(list_transform(toks,
      |          x -> length(x))) AS DOUBLE) / nullif(len(toks), 0)
      |        BETWEEN 3.0 AND 10.0, false)
      |    AND coalesce(CAST(length(text)
      |          - length(replace(text, '#', ''))
      |          + (length(text) - length(replace(text, '...', ''))) // 3
      |          AS DOUBLE) / nullif(len(toks), 0) <= 0.1, false)
      |    AND coalesce(CAST(len(list_filter(toks,
      |          x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      |        / nullif(len(toks), 0) >= 0.8, false))"""

  /** 8-gram decontamination of `src` against `bench` (`clean`), then
    * span-grain exact dedup (`sd`: n_spans, n_removed, kept_text). */
  private def decontamSpanSql(src: String): String =
    raw"""bg AS (
      |  SELECT DISTINCT unnest(
      |           CASE WHEN len(w) >= 8 THEN
      |             list_distinct(list_transform(range(len(w) - 7),
      |               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
      |                    w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
      |                    w[i+7] || ' ' || w[i+8]))
      |           ELSE [array_to_string(w, ' ')] END) AS g
      |  FROM (SELECT string_split_regex(lower(text), '\s+') AS w
      |        FROM bench)),
      |cg AS (
      |  SELECT doc_id, len(sh) AS n, unnest(sh) AS g
      |  FROM (SELECT doc_id,
      |          CASE WHEN len(w) >= 8 THEN
      |            list_distinct(list_transform(range(len(w) - 7),
      |              i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
      |                   w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
      |                   w[i+7] || ' ' || w[i+8]))
      |          ELSE [array_to_string(w, ' ')] END AS sh
      |        FROM (SELECT doc_id, string_split_regex(lower(text), '\s+')
      |                AS w FROM $src))),
      |contaminated AS (
      |  SELECT cg.doc_id FROM cg JOIN bg ON bg.g = cg.g
      |  GROUP BY cg.doc_id, cg.n
      |  HAVING round(count(*) * 1.0 / cg.n, 6) >= 0.3),
      |clean AS (
      |  SELECT doc_id, text FROM $src
      |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |sp AS (
      |  SELECT doc_id, generate_subscripts(pieces, 1) - 1 AS pos,
      |         unnest(pieces) AS span
      |  FROM (SELECT doc_id, string_split_regex(text, '\. ') AS pieces
      |        FROM clean)),
      |flag AS (
      |  SELECT doc_id, pos, span,
      |         row_number() OVER (PARTITION BY lower(trim(span))
      |                            ORDER BY doc_id, pos) AS rn
      |  FROM sp),
      |sd AS (
      |  SELECT doc_id,
      |         CAST(count(*) AS BIGINT) AS n_spans,
      |         CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
      |           AS n_removed,
      |         coalesce(string_agg(CASE WHEN rn = 1 THEN span END, '. '
      |                             ORDER BY pos), '') AS kept_text
      |  FROM flag GROUP BY 1)"""

  /** Repeated-10-gram trim of `sv`.kept_text (`trv`: n_trim_removed,
    * trim_text; fully trimmed docs drop). */
  private def trimSql: String =
    raw"""trt AS (
      |  SELECT doc_id, string_split_regex(kept_text, '\s+') AS w,
      |         string_split_regex(lower(kept_text), '\s+') AS lw
      |  FROM sv),
      |trp AS (
      |  SELECT doc_id, s['pos'] AS pos, s['gram'] AS gram FROM (
      |    SELECT doc_id, unnest(list_transform(range(len(lw) - 9),
      |      i -> {'pos': i + 1,
      |            'gram': array_to_string(lw[i+1:i+10], ' ')})) AS s
      |    FROM trt WHERE len(lw) >= 10)),
      |trdup AS (SELECT gram FROM trp GROUP BY gram HAVING count(*) >= 2),
      |trst AS (SELECT doc_id, list_sort(list(pos)) AS starts
      |         FROM trp JOIN trdup USING (gram) GROUP BY doc_id),
      |trj AS (SELECT trt.doc_id, w,
      |          coalesce(trst.starts, CAST([] AS BIGINT[])) AS starts
      |        FROM trt LEFT JOIN trst ON trt.doc_id = trst.doc_id),
      |trk AS (SELECT doc_id, len(w) AS n_tokens,
      |          list_filter(list_transform(range(len(w)),
      |              q -> {'p': q + 1, 'tok': w[CAST(q + 1 AS INTEGER)]}),
      |            s -> len(list_filter(starts,
      |              z -> s['p'] >= z AND s['p'] < z + 10)) = 0) AS kept
      |        FROM trj),
      |trv AS (
      |  SELECT doc_id,
      |         CAST(n_tokens - len(kept) AS INTEGER) AS n_trim_removed,
      |         array_to_string(list_transform(kept, s -> s['tok']), ' ')
      |           AS trim_text
      |  FROM trk
      |  WHERE len(kept) > 0)"""

  /** Near-dup clusters over `src`.`textCol`: 5-shingle rare-shingle
    * blocking → Jaccard ≥ 0.5 → recursive closure (`lab3`, `sz3`). */
  private def clusterSql(src: String, textCol: String): String =
    raw"""tk3 AS (
      |  SELECT doc_id,
      |         string_split_regex(lower($textCol), '\s+') AS toks
      |  FROM $src),
      |sha3 AS (
      |  SELECT doc_id,
      |         CASE WHEN len(toks) >= 5 THEN
      |             list_distinct(list_transform(range(len(toks) - 4),
      |               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
      |                    || ' ' || toks[i+4] || ' ' || toks[i+5]))
      |           ELSE [array_to_string(toks, ' ')] END AS sharr
      |  FROM tk3),
      |sh3 AS (SELECT doc_id, unnest(sharr) AS s FROM sha3),
      |dfq3 AS (SELECT s FROM sh3 GROUP BY s HAVING count(*) BETWEEN 2 AND 5),
      |r3 AS (SELECT sh3.doc_id, sh3.s FROM sh3 JOIN dfq3 USING (s)),
      |cand3 AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2
      |  FROM r3 a JOIN r3 b USING (s) WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |e3 AS (
      |  SELECT c.id1, c.id2
      |  FROM cand3 c
      |  JOIN sha3 x ON x.doc_id = c.id1
      |  JOIN sha3 y ON y.doc_id = c.id2
      |  WHERE CAST(len(list_intersect(x.sharr, y.sharr)) AS DOUBLE)
      |        / nullif(len(list_distinct(list_concat(x.sharr, y.sharr))), 0)
      |        >= 0.5),
      |sym3 AS (SELECT id1 AS src, id2 AS dst FROM e3
      |         UNION ALL SELECT id2, id1 FROM e3),
      |reach3(id, root) AS (
      |  SELECT doc_id, doc_id FROM $src
      |  UNION
      |  SELECT sym3.dst, reach3.root
      |  FROM reach3 JOIN sym3 ON sym3.src = reach3.id),
      |lab3 AS (SELECT id AS doc_id, min(root) AS cluster_id
      |         FROM reach3 GROUP BY 1),
      |sz3 AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      |        FROM lab3 GROUP BY 1)"""

  /** DSIR weights of `canon`.`textCol` with src0/src1 as the target, and
    * their median cut (`iw3`, `thr3`). */
  private def dsirSql(textCol: String): String =
    raw"""tok3 AS (
      |  SELECT doc_id, source IN ('src0','src1') AS tgt,
      |         unnest(string_split_regex(lower($textCol), '\s+')) AS w
      |  FROM canon),
      |lm3 AS (
      |  SELECT w, count(*) AS cr,
      |         sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
      |  FROM tok3 GROUP BY 1),
      |tot3 AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS v FROM lm3),
      |pd3 AS (SELECT doc_id, w, count(*) AS c FROM tok3 GROUP BY 1, 2),
      |iw3 AS (
      |  SELECT pd3.doc_id,
      |         round(sum(pd3.c * (ln((lm3.ct + 1.0) / (tot3.nt + 1.0 * tot3.v))
      |                   - ln((lm3.cr + 1.0) / (tot3.nr + 1.0 * tot3.v))))
      |               / sum(pd3.c), 6) + 0.0 AS avg_log_weight
      |  FROM pd3 JOIN lm3 USING (w) CROSS JOIN tot3
      |  GROUP BY 1),
      |thr3 AS (SELECT quantile_cont(avg_log_weight, 0.5) AS thr FROM iw3)"""

  /** jusText segmentation of `page`: script/style strip, block split,
    * per-block normalized text (`nb`). */
  private def jusTextBlocksSql: String =
    raw"""ns AS (
      |  SELECT doc_id,
      |         regexp_replace(regexp_replace(html,
      |           '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |           '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h
      |  FROM page),
      |bl AS (
      |  SELECT doc_id, generate_subscripts(pieces, 1) - 1 AS block_idx,
      |         unnest(pieces) AS raw
      |  FROM (SELECT doc_id, string_split(regexp_replace(h,
      |          '(?i)</?(?:header|head|footer|title|html|body|table|tr|td|section|article|nav|div|p|h[1-6]|li|ul|ol|br)\b[^>]*>',
      |          chr(1), 'g'), chr(1)) AS pieces
      |        FROM ns)),
      |nb AS (
      |  SELECT doc_id, block_idx, raw,
      |         ${normSql("raw")} AS block_text
      |  FROM bl)"""

  /** jusText classes of the scored blocks `sc`: free class, then
    * neighbour rescue of short/near-good blocks (`fin`). */
  private def jusTextClassSql: String =
    raw"""cf AS (
      |  SELECT *, CASE WHEN link_density > 0.25 THEN 'bad'
      |                 WHEN n_chars < 40 THEN 'short'
      |                 WHEN stop_frac >= 0.12 AND n_chars >= 120 THEN 'good'
      |                 WHEN stop_frac >= 0.06 THEN 'neargood'
      |                 ELSE 'bad' END AS cls_free
      |  FROM sc),
      |cx AS (
      |  SELECT *,
      |         last_value(CASE WHEN cls_free IN ('good','bad') THEN cls_free END IGNORE NULLS)
      |           OVER (PARTITION BY doc_id ORDER BY block_idx
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_def,
      |         first_value(CASE WHEN cls_free IN ('good','bad') THEN cls_free END IGNORE NULLS)
      |           OVER (PARTITION BY doc_id ORDER BY block_idx
      |                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_def
      |  FROM cf),
      |fin AS (
      |  SELECT *, CASE WHEN cls_free IN ('good','bad') THEN cls_free
      |                 WHEN prev_def = 'good' OR next_def = 'good' THEN 'good'
      |                 ELSE 'bad' END AS cls_final
      |  FROM cx)"""

  private def oracleSqlRaw: Map[String, String] = Map(
    "ichimoku_mtf" ->
      s"""$H1Cte,
        |${ichChainSql("h1", "b")},
        |h4 AS (
        |  SELECT symbol,
        |         (bar_ts_ms // 14400000) * 14400000 AS bar_ts_ms,
        |         max(high) AS high, min(low) AS low,
        |         arg_max(close, bar_ts_ms) AS close
        |  FROM h1 GROUP BY 1, 2),
        |${ichChainSql("h4", "c")},
        |cl AS (
        |  SELECT symbol, bar_ts_ms,
        |         lag(bull_score) OVER wk AS bull_coarse,
        |         lag(bear_score) OVER wk AS bear_coarse,
        |         lag(label) OVER wk AS label_coarse
        |  FROM cout WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |m AS (
        |  SELECT b.symbol, b.bar_ts_ms, b.label AS label_base,
        |         cl.label_coarse,
        |         coalesce(b.bull_score - b.bear_score, 0) * 1
        |           + coalesce(cl.bull_coarse - cl.bear_coarse, 0) * 2 AS ms
        |  FROM bout b ASOF LEFT JOIN cl
        |    ON b.symbol = cl.symbol AND b.bar_ts_ms >= cl.bar_ts_ms)
        |SELECT symbol, bar_ts_ms, label_base, label_coarse,
        |       CAST(ms AS INTEGER) AS mtf_score,
        |       CASE WHEN ms >= 3 THEN 'LONG'
        |            WHEN ms <= -3 THEN 'SHORT'
        |            ELSE 'NEUTRE' END AS mtf_label
        |FROM m ORDER BY 1, 2""".stripMargin,

    // The sticky state machine looks sequential, but its transitions depend
    // only on CURRENT run lengths, so the state at t is the most recent
    // "trigger" row's verdict — last_value(... IGNORE NULLS) over run-length
    // windows. Fully vectorizable; the oracle proves the SeqScan machine
    // equals the declarative form row-for-row.
    "direction_regime" ->
      s"""$H1Cte,
        |s AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         CASE WHEN count(close) OVER w20 = 20
        |           THEN avg(close) OVER w20 END AS s20,
        |         CASE WHEN count(close) OVER w50 = 50
        |           THEN avg(close) OVER w50 END AS s50
        |  FROM h1
        |  WINDOW w20 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
        |         w50 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)),
        |sig AS (
        |  SELECT symbol, bar_ts_ms,
        |         CASE WHEN s20 IS NOT NULL AND s50 IS NOT NULL AND s20 > s50
        |              THEN 1 ELSE 0 END AS b,
        |         CASE WHEN s20 IS NOT NULL AND s50 IS NOT NULL AND s20 < s50
        |              THEN 1 ELSE 0 END AS r,
        |         row_number() OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS rn
        |  FROM s),
        |runs AS (
        |  SELECT *,
        |         rn - coalesce(max(CASE WHEN b = 0 THEN rn END) OVER cum, 0)
        |           AS bull_run,
        |         rn - coalesce(max(CASE WHEN r = 0 THEN rn END) OVER cum, 0)
        |           AS bear_run,
        |         rn - coalesce(max(CASE WHEN b = 1 OR r = 1 THEN rn END)
        |                       OVER cum, 0) AS quiet_run
        |  FROM sig
        |  WINDOW cum AS (PARTITION BY symbol ORDER BY rn
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |trig AS (
        |  SELECT *,
        |         CASE WHEN bull_run >= 2 THEN 'BULL'
        |              WHEN bear_run >= 2 THEN 'BEAR'
        |              WHEN quiet_run >= 3 THEN 'NEUTRAL' END AS trigger
        |  FROM runs),
        |st AS (
        |  SELECT *,
        |         coalesce(last_value(trigger IGNORE NULLS) OVER cum, 'NEUTRAL')
        |           AS dir_state
        |  FROM trig
        |  WINDOW cum AS (PARTITION BY symbol ORDER BY rn
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |chg AS (
        |  SELECT *,
        |         CASE WHEN dir_state <> coalesce(lag(dir_state) OVER wk,
        |                                         'NEUTRAL')
        |              THEN 1 ELSE 0 END AS changed
        |  FROM st WINDOW wk AS (PARTITION BY symbol ORDER BY rn)),
        |fin AS (
        |  SELECT *,
        |         sum(changed) OVER cum AS dir_regime_id,
        |         rn - coalesce(max(CASE WHEN changed = 1 THEN rn END)
        |                       OVER cum, 0) + 1 AS age0
        |  FROM chg
        |  WINDOW cum AS (PARTITION BY symbol ORDER BY rn
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT symbol, bar_ts_ms, dir_state,
        |       CAST(dir_regime_id AS BIGINT) AS dir_regime_id,
        |       CAST(CASE WHEN dir_regime_id = 0 THEN rn ELSE age0 END
        |            AS INTEGER) AS dir_state_age
        |FROM fin ORDER BY 1, 2""".stripMargin,

    // The position lifecycle is sequential, but it has RENEWAL structure:
    // each trade's exit depends only on its entry bar, and the next entry is
    // the first armed signal after that exit. Per-entry exits precompute
    // vectorized (16-bar range join); the chain is a recursive CTE over the
    // small trades relation. Note: under WITH RECURSIVE DuckDB resolves
    // named windows in one global namespace, hence the prefixed names.
    "backtest_trades" ->
      s"""${H1Cte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |$backtestTr1Cte
        |SELECT symbol, ets AS entry_ts, round(ep, 6) AS entry_price,
        |       xts AS exit_ts, round(xpx, 6) AS exit_price,
        |       xreason AS exit_reason, round(xr, 6) AS r_mult, bars_held
        |FROM tr1 ORDER BY 1, 2""".stripMargin,

    "backtest_router" ->
      s"""${H1Cte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |$backtestRouterCte
        |SELECT t.symbol, t.ets AS entry_ts, round(t.ep, 6) AS entry_price,
        |       t.xts AS exit_ts, round(t.xpx, 6) AS exit_price,
        |       t.xreason AS exit_reason, round(t.xr, 6) AS r_mult,
        |       t.bars_held
        |FROM chainr c JOIN trf t ON t.symbol = c.symbol AND t.rn = c.rn
        |ORDER BY 1, 2""".stripMargin,

    "backtest_dual_engine" ->
      s"""${H1Cte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |$backtestDualCte
        |SELECT t.symbol, t.mode AS engine, t.ets AS entry_ts,
        |       round(t.ep, 6) AS entry_price, t.xts AS exit_ts,
        |       round(t.xpx, 6) AS exit_price, t.xreason AS exit_reason,
        |       round(t.xr, 6) AS r_mult, t.bars_held
        |FROM chaind c JOIN trf t ON t.symbol = c.symbol AND t.rn = c.rn
        |ORDER BY 1, 3""".stripMargin,

    "dual_engine_perf" ->
      s"""${H1Cte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |$backtestDualCte,
        |tr2 AS (
        |  SELECT t.symbol, t.mode AS engine, t.xts, t.xr
        |  FROM chaind c JOIN trf t ON t.symbol = c.symbol AND t.rn = c.rn),
        |eq AS (
        |  SELECT *, sum(xr) OVER weq AS eqv
        |  FROM tr2
        |  WINDOW weq AS (PARTITION BY symbol, engine ORDER BY xts
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pk AS (
        |  SELECT *, max(eqv) OVER wpk AS peak
        |  FROM eq
        |  WINDOW wpk AS (PARTITION BY symbol, engine ORDER BY xts
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT symbol, engine, CAST(count(*) AS BIGINT) AS n_trades,
        |       round(avg(xr), 6) AS mean_r,
        |       round(avg(CASE WHEN xr > 0 THEN 1.0 ELSE 0.0 END), 6) AS wr,
        |       round(sum(CASE WHEN xr > 0 THEN xr ELSE 0 END)
        |             / nullif(sum(CASE WHEN xr < 0 THEN -xr ELSE 0 END), 0), 6)
        |         AS pf,
        |       round(max(peak - eqv), 6) AS max_dd_r
        |FROM pk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "equity_curve" ->
      s"""${H1Cte.replaceFirst("WITH ", "WITH RECURSIVE ")},
        |$backtestTr1Cte,
        |eq AS (
        |  SELECT symbol, xts, xr, sum(xr) OVER eqw AS equity
        |  FROM tr1
        |  WINDOW eqw AS (PARTITION BY symbol ORDER BY xts
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |dd AS (
        |  SELECT symbol, xr, max(equity) OVER pkw - equity AS ddv
        |  FROM eq
        |  WINDOW pkw AS (PARTITION BY symbol ORDER BY xts
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT symbol, CAST(count(*) AS BIGINT) AS n_trades,
        |       round(avg(xr), 6) + 0.0 AS mean_r,
        |       round(avg(CASE WHEN xr > 0 THEN 1.0 ELSE 0.0 END), 6) AS wr,
        |       round(sum(CASE WHEN xr > 0 THEN xr ELSE 0 END)
        |             / nullif(sum(CASE WHEN xr < 0 THEN -xr ELSE 0 END), 0), 6)
        |         AS pf,
        |       round(max(ddv), 6) AS max_dd_r
        |FROM dd GROUP BY 1 ORDER BY 1""".stripMargin,

    "flow_features" ->
      """WITH hf AS (
        |  SELECT event_type AS symbol,
        |         epoch_ms(date_trunc('hour', ts)) AS bar_ts_ms,
        |         arg_max(value, event_id) AS close,
        |         sum(CASE WHEN user_id % 2 = 0 THEN value ELSE 0 END)
        |           AS aggr_buy,
        |         sum(CASE WHEN user_id % 2 <> 0 THEN value ELSE 0 END)
        |           AS aggr_sell
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         coalesce((aggr_buy - aggr_sell)
        |                  / nullif(aggr_buy + aggr_sell, 0), 0.0)
        |           AS delta_aggr_norm,
        |         sum(aggr_buy - aggr_sell) OVER cum AS cvd_proxy
        |  FROM hf
        |  WINDOW cum AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT *,
        |         cvd_proxy - lag(cvd_proxy, 1) OVER wk AS cvd_ret1_raw,
        |         cvd_proxy - lag(cvd_proxy, 3) OVER wk AS cvd_slope_3_raw,
        |         cvd_proxy - lag(cvd_proxy, 8) OVER wk AS cvd_slope_8_raw,
        |         close - lag(close, 3) OVER wk AS price_slope_3_raw,
        |         close - lag(close, 8) OVER wk AS price_slope_8_raw
        |  FROM f WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |z AS (
        |  SELECT *,
        |         CASE WHEN count(cvd_ret1_raw) OVER zw >= 20
        |           THEN avg(cvd_ret1_raw) OVER zw END AS zm,
        |         CASE WHEN count(cvd_ret1_raw) OVER zw >= 20
        |           THEN stddev_pop(cvd_ret1_raw) OVER zw END AS zs
        |  FROM g
        |  WINDOW zw AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                ROWS BETWEEN 47 PRECEDING AND CURRENT ROW))
        |SELECT symbol, bar_ts_ms,
        |       round(delta_aggr_norm, 6) + 0.0 AS delta_aggr_norm,
        |       round(cvd_proxy, 6) + 0.0 AS cvd_proxy,
        |       round(coalesce(cvd_ret1_raw, 0.0), 6) + 0.0 AS cvd_ret1,
        |       round(coalesce(cvd_slope_3_raw, 0.0), 6) + 0.0 AS cvd_slope_3,
        |       round(coalesce(cvd_slope_8_raw, 0.0), 6) + 0.0 AS cvd_slope_8,
        |       round(coalesce((cvd_ret1_raw - zm) / nullif(zs, 0), 0.0), 6)
        |         + 0.0 AS cvd_ret1_z,
        |       round(coalesce(price_slope_3_raw, 0.0), 6) + 0.0
        |         AS price_slope_3,
        |       CAST(coalesce(sign(cvd_slope_3_raw * price_slope_3_raw), 0)
        |            AS INTEGER) AS div_cvd_price_3,
        |       CAST(coalesce(sign(cvd_slope_8_raw * price_slope_8_raw), 0)
        |            AS INTEGER) AS div_cvd_price_8
        |FROM z ORDER BY 1, 2""".stripMargin,

    "low_plus_gate" ->
      s"""$LowPlusGatesCte
        |SELECT symbol, bar_ts_ms,
        |       round(dir_score, 6) + 0.0 AS dir_score,
        |       dir_state, coalesce(vol_state, 'NA') AS vol_state,
        |       CAST(low_plus AS INTEGER) AS low_plus,
        |       CAST(market_ready_base AS INTEGER) AS market_ready_base,
        |       CAST(dir_ready AS INTEGER) AS dir_ready,
        |       CAST(market_ready_base AND dir_ready AS INTEGER)
        |         AS tradable_base,
        |       CAST(low_plus AND dir_ready AS INTEGER) AS tradable_override,
        |       CAST((market_ready_base AND dir_ready)
        |            OR (low_plus AND dir_ready) AS INTEGER) AS tradable_final,
        |       CAST((low_plus AND dir_ready)
        |            AND NOT (market_ready_base AND dir_ready) AS INTEGER)
        |         AS is_add,
        |       CASE WHEN low_plus AND dir_ready THEN 'LOW_PLUS_AND_DIR_READY'
        |            WHEN low_plus AND NOT dir_ready
        |              THEN 'LOW_PLUS_BUT_DIR_NOT_READY'
        |            ELSE '' END AS override_reason,
        |       CASE WHEN NOT dir_ready THEN 'DIR_NOT_READY'
        |            WHEN dir_ready AND NOT market_ready_base
        |              THEN 'VOL_BLOCKED_BASE'
        |            ELSE '' END AS block_reason_base
        |FROM gates ORDER BY 1, 2""".stripMargin,

    "router_profile" ->
      s"""$LowPlusGatesCte,
        |gf AS (
        |  SELECT dir_state,
        |         coalesce(vol_state, 'NA') AS vol_state,
        |         CAST(dir_ready AS INTEGER) AS dir_ready,
        |         CAST((market_ready_base AND dir_ready)
        |              OR (low_plus AND dir_ready) AS INTEGER) AS tradable_final,
        |         CAST((low_plus AND dir_ready)
        |              AND NOT (market_ready_base AND dir_ready) AS INTEGER)
        |           AS is_add,
        |         CASE WHEN low_plus AND dir_ready
        |                THEN 'LOW_PLUS_AND_DIR_READY'
        |              WHEN low_plus AND NOT dir_ready
        |                THEN 'LOW_PLUS_BUT_DIR_NOT_READY'
        |              ELSE '' END AS override_reason,
        |         CASE WHEN NOT dir_ready THEN 'DIR_NOT_READY'
        |              WHEN dir_ready AND NOT market_ready_base
        |                THEN 'VOL_BLOCKED_BASE'
        |              ELSE '' END AS block_reason_base,
        |         CAST((bar_ts_ms // 3600000) % 24 AS INTEGER) AS hour_utc
        |  FROM gates),
        |kv AS (
        |  SELECT 'dir_state' AS col_name,
        |         coalesce(CAST(dir_state AS VARCHAR), 'NULL') AS value FROM gf
        |  UNION ALL SELECT 'vol_state',
        |         coalesce(CAST(vol_state AS VARCHAR), 'NULL') FROM gf
        |  UNION ALL SELECT 'dir_ready',
        |         coalesce(CAST(dir_ready AS VARCHAR), 'NULL') FROM gf
        |  UNION ALL SELECT 'tradable_final',
        |         coalesce(CAST(tradable_final AS VARCHAR), 'NULL') FROM gf
        |  UNION ALL SELECT 'is_add',
        |         coalesce(CAST(is_add AS VARCHAR), 'NULL') FROM gf
        |  UNION ALL SELECT 'override_reason',
        |         coalesce(CAST(override_reason AS VARCHAR), 'NULL') FROM gf
        |  UNION ALL SELECT 'block_reason_base',
        |         coalesce(CAST(block_reason_base AS VARCHAR), 'NULL') FROM gf
        |  UNION ALL SELECT 'hour_utc',
        |         coalesce(CAST(hour_utc AS VARCHAR), 'NULL') FROM gf),
        |vc AS (SELECT col_name, value, count(*) AS n FROM kv GROUP BY 1, 2)
        |SELECT col_name, value, CAST(n AS BIGINT) AS n,
        |       round(n * 1.0 / sum(n) OVER (PARTITION BY col_name), 6) + 0.0
        |         AS frac
        |FROM vc ORDER BY 1, 2""".stripMargin,

    "low_plus_sweep" ->
      s"""$LowPlusGatesCte,
        |hh AS (
        |  SELECT *, CAST((bar_ts_ms // 3600000) % 24 AS INTEGER) AS hour_utc
        |  FROM gates),
        |cfg AS (
        |  SELECT * FROM (VALUES
        |    ('c1_strict', [2, 4, 11, 13, 17], 0.299, true, true,
        |       [{'lo': 14.0, 'hi': 20.0}], [{'lo': 20.0, 'hi': 22.0}]),
        |    ('c2_wide_hours',
        |       [0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17,18,19,20,21,22,23],
        |       0.15, true, true,
        |       [{'lo': 0.0, 'hi': 20.0}], [{'lo': -2.0, 'hi': -1.0}]),
        |    ('c3_both_sides',
        |       [0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17,18,19,20,21,22,23],
        |       -1.0, false, false,
        |       [{'lo': 0.0, 'hi': 10.0}, {'lo': 12.0, 'hi': 14.5}],
        |       [{'lo': 5.0, 'hi': 6.0}]))
        |    t(config_id, allow_hours, dir_score_min, bull_only,
        |      forbid_neutral, allow_iv, block_iv)),
        |g AS (
        |  SELECT config_id, low_plus, market_ready_base,
        |         CASE WHEN NOT low_plus THEN ''
        |              WHEN NOT list_contains(allow_hours, hour_utc)
        |                THEN 'hour'
        |              WHEN forbid_neutral AND dir_state = 'NEUTRAL'
        |                THEN 'neutral'
        |              WHEN NOT (CASE WHEN bull_only THEN dir_state = 'BULL'
        |                        ELSE dir_state IN ('BULL', 'BEAR') END)
        |                THEN 'side'
        |              WHEN NOT coalesce(dir_score >= dir_score_min, false)
        |                THEN 'dir_score'
        |              WHEN NOT coalesce(len(list_filter(allow_iv,
        |                  x -> range_pctl >= x.lo AND range_pctl < x.hi))
        |                  > 0, false)
        |                THEN 'range_not_allowed'
        |              WHEN coalesce(len(list_filter(block_iv,
        |                  x -> range_pctl >= x.lo AND range_pctl < x.hi))
        |                  > 0, false)
        |                THEN 'range_blocked'
        |              ELSE '' END AS reason
        |  FROM hh CROSS JOIN cfg),
        |a AS (SELECT *, low_plus AND reason = '' AS allow_f FROM g)
        |SELECT config_id,
        |       CAST(count(*) AS BIGINT) AS n_bars,
        |       CAST(sum(CASE WHEN low_plus THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_low_plus,
        |       CAST(sum(CASE WHEN allow_f THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_allow,
        |       CAST(sum(CASE WHEN allow_f AND NOT market_ready_base
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_add,
        |       CAST(sum(CASE WHEN market_ready_base OR allow_f
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_ready_final,
        |       CAST(sum(CASE WHEN reason = 'hour' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_blocked_hour,
        |       CAST(sum(CASE WHEN reason IN ('neutral', 'side', 'dir_score')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked_dir,
        |       CAST(sum(CASE WHEN reason IN ('range_not_allowed',
        |                'range_blocked') THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_blocked_range
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,

    "low_plus_debug" ->
      s"""$LowPlusGatesCte,
        |hh AS (
        |  SELECT *, CAST((bar_ts_ms // 3600000) % 24 AS INTEGER) AS hour_utc
        |  FROM gates),
        |addset AS (
        |  SELECT * FROM hh
        |  WHERE low_plus
        |    AND dir_state IN ('BULL', 'BEAR')
        |    AND coalesce(dir_score >= -1.0, false)
        |    AND coalesce(range_pctl >= 0.0 AND range_pctl < 14.5, false)
        |    AND NOT market_ready_base),
        |u AS (
        |  SELECT 'hour' AS dim,
        |         coalesce(CAST(hour_utc AS VARCHAR), 'NA') AS bucket
        |  FROM addset
        |  UNION ALL SELECT 'side', coalesce(dir_state, 'NA') FROM addset
        |  UNION ALL SELECT 'vol', coalesce(vol_state, 'NA') FROM addset
        |  UNION ALL SELECT 'dir_score_bin',
        |    coalesce(CAST(CAST(floor(dir_score * 10) AS INTEGER) AS VARCHAR),
        |             'NA')
        |  FROM addset
        |  UNION ALL SELECT 'rp_bucket',
        |    coalesce(CAST(CAST(floor(range_pctl / 2.0) AS INTEGER)
        |             AS VARCHAR), 'NA')
        |  FROM addset)
        |SELECT 'dbg' AS config_id, dim, bucket,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "add_slices" ->
      s"""$LowPlusGatesCte,
        |sr AS (
        |  SELECT symbol, bar_ts_ms,
        |         ln(lead(close, 4) OVER wl / close) AS sret_4,
        |         ln(lead(close, 8) OVER wl / close) AS sret_8
        |  FROM h1
        |  WINDOW wl AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |ad AS (
        |  SELECT g.dir_state,
        |         CASE WHEN g.range_pctl IS NULL THEN 'NA'
        |              WHEN g.range_pctl < 2.0 THEN '[00,02)'
        |              WHEN g.range_pctl < 4.0 THEN '[02,04)'
        |              WHEN g.range_pctl < 6.0 THEN '[04,06)'
        |              WHEN g.range_pctl < 8.0 THEN '[06,08)'
        |              WHEN g.range_pctl < 10.0 THEN '[08,10)'
        |              WHEN g.range_pctl < 12.0 THEN '[10,12)'
        |              ELSE '>=12' END AS rp_bucket,
        |         CAST((g.bar_ts_ms // 3600000) % 24 AS INTEGER) AS hour_utc,
        |         s.sret_4, s.sret_8
        |  FROM gates g JOIN sr s
        |    ON s.symbol = g.symbol AND s.bar_ts_ms = g.bar_ts_ms
        |  WHERE g.low_plus AND g.dir_state IN ('BULL', 'BEAR')
        |    AND NOT g.market_ready_base)
        |SELECT CASE WHEN GROUPING(dir_state) = 1 THEN 'ALL'
        |            ELSE coalesce(dir_state, 'NA') END AS slice_dir,
        |       CASE WHEN GROUPING(rp_bucket) = 1 THEN 'ALL'
        |            ELSE coalesce(rp_bucket, 'NA') END AS slice_bucket,
        |       CASE WHEN GROUPING(hour_utc) = 1 THEN 'ALL'
        |            ELSE coalesce(CAST(hour_utc AS VARCHAR), 'NA')
        |       END AS slice_hour,
        |       CAST(count(*) AS BIGINT) AS n,
        |       round(avg(sret_8), 6) + 0.0 AS mean_sret8,
        |       round(avg(CASE WHEN sret_8 > 0 THEN 1.0
        |                      WHEN sret_8 IS NOT NULL THEN 0.0 END), 6) + 0.0
        |         AS wr_sret8,
        |       round(avg(sret_4), 6) + 0.0 AS mean_sret4,
        |       round(stddev_samp(sret_8), 6) + 0.0 AS std_sret8
        |FROM ad
        |GROUP BY GROUPING SETS ((dir_state), (rp_bucket), (hour_utc),
        |                        (dir_state, rp_bucket))
        |ORDER BY 1, 2, 3""".stripMargin,

    "keep_frac_sweep" ->
      s"""$H1Cte,
        |t AS (
        |  SELECT symbol, bar_ts_ms, open, close,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS prev_c,
        |         high, low
        |  FROM h1),
        |trt AS (
        |  SELECT *, CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS trv
        |  FROM t),
        |a AS (
        |  SELECT symbol, bar_ts_ms, open, close,
        |         CASE WHEN count(trv) OVER w14 = 14
        |           THEN avg(trv) OVER w14 END AS atr
        |  FROM trt
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |sc AS (
        |  SELECT symbol, bar_ts_ms,
        |         (close - open) / CASE WHEN atr > 0 THEN atr END AS score,
        |         lead(close, 4) OVER wk / nullif(close, 0) - 1.0 AS r_fwd
        |  FROM a WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |base AS (
        |  SELECT * FROM sc WHERE score IS NOT NULL AND r_fwd IS NOT NULL),
        |rk AS (
        |  SELECT *,
        |         row_number() OVER (ORDER BY score DESC, symbol, bar_ts_ms)
        |           AS rkn,
        |         count(*) OVER () AS n
        |  FROM base),
        |fr AS (
        |  SELECT CAST(unnest([0.2, 0.4, 0.6, 0.8, 1.0]) AS DOUBLE)
        |           AS keep_frac),
        |j AS (
        |  SELECT f.keep_frac, r.r_fwd
        |  FROM rk r JOIN fr f ON r.rkn <= ceil(f.keep_frac * r.n))
        |SELECT keep_frac, CAST(count(*) AS BIGINT) AS n_kept,
        |       round(avg(r_fwd), 6) + 0.0 AS mean_r,
        |       round(avg(CASE WHEN r_fwd > 0 THEN 1.0 ELSE 0.0 END), 6) AS wr,
        |       round(sum(CASE WHEN r_fwd > 0 THEN r_fwd ELSE 0 END)
        |             / nullif(sum(CASE WHEN r_fwd < 0 THEN -r_fwd ELSE 0 END),
        |                      0), 6) AS pf
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_clusters" ->
      """WITH RECURSIVE d0 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |         array_to_string(list_slice(string_split_regex(text, '\s+'),
        |           1, greatest(len(string_split_regex(text, '\s+')) - 2, 0)),
        |           ' ')
        |  FROM documents WHERE doc_id % 5 = 0),
        |tk AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |  FROM d0),
        |sha AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 5 THEN
        |             list_distinct(list_transform(range(len(toks) - 4),
        |               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |                    || ' ' || toks[i+4] || ' ' || toks[i+5]))
        |           ELSE [array_to_string(toks, ' ')] END AS sharr
        |  FROM tk),
        |sh AS (SELECT doc_id, unnest(sharr) AS s FROM sha),
        |dfq AS (SELECT s FROM sh GROUP BY s HAVING count(*) BETWEEN 2 AND 5),
        |r AS (SELECT sh.doc_id, sh.s FROM sh JOIN dfq USING (s)),
        |cand AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2
        |  FROM r a JOIN r b USING (s) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (
        |  SELECT c.id1, c.id2
        |  FROM cand c
        |  JOIN sha x ON x.doc_id = c.id1
        |  JOIN sha y ON y.doc_id = c.id2
        |  WHERE CAST(len(list_intersect(x.sharr, y.sharr)) AS DOUBLE)
        |        / nullif(len(list_distinct(list_concat(x.sharr, y.sharr))), 0)
        |        >= 0.5),
        |sym AS (SELECT id1 AS src, id2 AS dst FROM e
        |        UNION ALL SELECT id2, id1 FROM e),
        |reach(id, root) AS (
        |  SELECT doc_id, doc_id FROM d0
        |  UNION
        |  SELECT sym.dst, reach.root
        |  FROM reach JOIN sym ON sym.src = reach.id),
        |lab AS (SELECT id AS doc_id, min(root) AS cluster_id
        |        FROM reach GROUP BY 1),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |       FROM lab GROUP BY 1)
        |SELECT lab.doc_id, lab.cluster_id, sz.cluster_size,
        |       CAST(lab.doc_id = lab.cluster_id AS INTEGER) AS is_canonical
        |FROM lab JOIN sz USING (cluster_id)
        |ORDER BY 1""".stripMargin,

    "ngram_containment" ->
      """WITH d0 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |         array_to_string(list_slice(string_split_regex(text, '\s+'),
        |           1, greatest(len(string_split_regex(text, '\s+')) - 2, 0)),
        |           ' ')
        |  FROM documents WHERE doc_id % 5 = 0),
        |tk AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |  FROM d0),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 3 THEN
        |           list_distinct(list_transform(range(len(toks) - 2),
        |             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |         ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM tk),
        |p AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.sh AS sa, b.sh AS sb
        |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000)
        |SELECT id1, id2,
        |       CAST(len(list_intersect(sa, sb)) AS INTEGER) AS n_inter,
        |       CAST(len(list_distinct(list_concat(sa, sb))) AS INTEGER)
        |         AS n_union,
        |       round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
        |             / nullif(len(list_distinct(list_concat(sa, sb))), 0), 6)
        |         AS jaccard,
        |       round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
        |             / nullif(len(sa), 0), 6) AS cont_orig_in_trunc,
        |       round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
        |             / nullif(len(sb), 0), 6) AS cont_trunc_in_orig
        |FROM p ORDER BY 1""".stripMargin,

    "rolling_corr" ->
      s"""$H1Cte,
        |j AS (
        |  SELECT a.bar_ts_ms, a.close AS x, b.close AS y
        |  FROM (SELECT bar_ts_ms, close FROM h1 WHERE symbol = 'click') a
        |  JOIN (SELECT bar_ts_ms, close FROM h1 WHERE symbol = 'view') b
        |    USING (bar_ts_ms)),
        |g AS (
        |  SELECT bar_ts_ms, x, y,
        |         CASE WHEN count(x * y) OVER wn = 24 THEN
        |           avg(x * y) OVER wn - avg(x) OVER wn * avg(y) OVER wn
        |         END AS cov,
        |         CASE WHEN count(x * y) OVER wn = 24
        |           THEN stddev_pop(x) OVER wn END AS sx,
        |         CASE WHEN count(x * y) OVER wn = 24
        |           THEN stddev_pop(y) OVER wn END AS sy
        |  FROM j
        |  WINDOW wn AS (ORDER BY bar_ts_ms
        |                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT 'click/view' AS pair, bar_ts_ms,
        |       round(x, 6) AS x, round(y, 6) AS y,
        |       round(cov / nullif(sx * sy, 0), 6) + 0.0 AS roll_corr,
        |       round(cov / nullif(sx * sx, 0), 6) + 0.0 AS roll_beta
        |FROM g ORDER BY 2""".stripMargin,

    "robust_scale" ->
      s"""$H1Cte,
        |m AS (
        |  SELECT symbol, quantile_cont(volume, 0.5) AS med
        |  FROM h1 GROUP BY 1),
        |w AS (SELECT h1.*, m.med FROM h1 JOIN m USING (symbol)),
        |d AS (
        |  SELECT symbol, quantile_cont(abs(volume - med), 0.5) AS mad
        |  FROM w GROUP BY 1)
        |SELECT w.symbol, w.bar_ts_ms, round(w.volume, 6) AS volume,
        |       round((w.volume - w.med) / nullif(1.4826 * d.mad, 0), 6) + 0.0
        |         AS robust_z,
        |       round(CASE WHEN d.mad = 0 THEN w.volume
        |             ELSE least(greatest(w.volume,
        |                                 w.med - 3.0 * 1.4826 * d.mad),
        |                        w.med + 3.0 * 1.4826 * d.mad) END, 6)
        |         AS volume_clipped
        |FROM w JOIN d USING (symbol) ORDER BY 1, 2""".stripMargin,

    "doc_chunks" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |         CASE WHEN len(toks) <= 32 THEN 1
        |              ELSE CAST(ceil((len(toks) - 32) / 24.0) AS INTEGER) + 1
        |         END AS nc
        |  FROM tk),
        |x AS (SELECT doc_id, toks, n, unnest(range(nc)) AS idx FROM c)
        |SELECT doc_id, CAST(idx AS INTEGER) AS chunk_idx,
        |       array_to_string(
        |         list_slice(toks, idx * 24 + 1, least(idx * 24 + 32, n)), ' ')
        |         AS chunk_text,
        |       CAST(least(32, n - idx * 24) AS INTEGER) AS n_tokens
        |FROM x ORDER BY 1, 2""".stripMargin,

    "pack_shards" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INTEGER) AS shard,
        |         len(string_split_regex(text, '\s+')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
        |           AS cum_tokens
        |  FROM t)
        |SELECT shard, doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |       CAST(floor((cum_tokens - n_tokens) / 256.0) AS BIGINT)
        |         AS pack_id
        |FROM c ORDER BY 1, 2""".stripMargin,

    // the naive single-window rank; the engine's histogram-offset rank
    // must agree exactly
    "pack_shards_lpt" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split_regex(text, '\s+'),
        |              x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(row_number() OVER (ORDER BY n_tokens DESC, doc_id)
        |              AS BIGINT) AS lpt_rank
        |  FROM d)
        |SELECT doc_id, n_tokens, lpt_rank,
        |       CAST((lpt_rank - 1) // 8 AS BIGINT) AS pack_round,
        |       CAST(CASE WHEN ((lpt_rank - 1) // 8) % 2 = 0
        |                 THEN (lpt_rank - 1) % 8
        |                 ELSE 7 - (lpt_rank - 1) % 8 END AS INTEGER)
        |         AS shard
        |FROM r ORDER BY lpt_rank""".stripMargin,

    "tfidf_topk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(string_split_regex(lower(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |         CAST(tf.tf AS BIGINT) AS tf, CAST(dfq.df AS BIGINT) AS df,
        |         tf.tf * ln((nn.n + 1.0) / (dfq.df + 1.0)) AS tfidf
        |  FROM tf JOIN dfq USING (term), nn),
        |rk AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |           ORDER BY tfidf DESC, term) AS INTEGER) AS rank
        |  FROM sc)
        |SELECT doc_id, rank, term, tf, df, round(tfidf, 6) AS tfidf
        |FROM rk WHERE rank <= 5 ORDER BY 1, 2""".stripMargin,

    // u from md5 exactly as the engine derives it (13 hex digits = 52
    // bits, +1 keeps u in (0,1]); 6dp election key, ties to doc_id
    "weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |         round(ln((CAST(CAST('0x' ||
        |                 substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 13)
        |               AS UBIGINT) AS DOUBLE) + 1.0)
        |               / 4503599627370496.0), 9) / n_chars AS sample_key
        |  FROM documents)
        |SELECT doc_id, n_chars, sample_key + 0.0 AS sample_key
        |FROM d ORDER BY sample_key DESC, doc_id LIMIT 50""".stripMargin,

    "stratified_sample" ->
      """WITH f AS (
        |  SELECT *,
        |         CASE event_type WHEN 'click' THEN 0.30 WHEN 'view' THEN 0.10
        |              WHEN 'purchase' THEN 1.0 WHEN 'signup' THEN 0.55
        |         END AS frac,
        |         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
        |              AS UBIGINT) % 10000 AS bkt
        |  FROM events)
        |SELECT event_type AS stratum, event_id, user_id,
        |       round(value, 6) AS value
        |FROM f
        |WHERE frac IS NOT NULL AND bkt < frac * 10000
        |ORDER BY 1, 2""".stripMargin,

    "mixture_sample" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_avail
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT * FROM (VALUES ('src0', 0.4), ('src1', 0.3),
        |    ('src2', 0.15), ('src3', 0.1), ('src4', 0.05)) t(source, w)),
        |f AS (
        |  SELECT c.source, c.n_avail,
        |         least(1.0, w.w * 100 / c.n_avail) AS kf
        |  FROM c JOIN w USING (source)),
        |k AS (
        |  SELECT d.source
        |  FROM documents d JOIN f ON f.source = d.source
        |  WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
        |        AS UBIGINT) % 10000 < f.kf * 10000),
        |s AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_kept
        |  FROM k GROUP BY 1)
        |SELECT f.source, f.n_avail, round(f.kf, 6) + 0.0 AS keep_frac,
        |       s.n_kept,
        |       round(s.n_kept * 1.0 / sum(s.n_kept) OVER (), 6) + 0.0
        |         AS achieved_frac
        |FROM f JOIN s USING (source) ORDER BY 1""".stripMargin,

    "unimax_alloc" ->
      """WITH t AS (
        |  SELECT source,
        |         CAST(coalesce(sum(len(string_split_regex(text, '\s+'))), 0)
        |           AS DOUBLE) AS n_tokens
        |  FROM documents GROUP BY 1),
        |c AS (
        |  SELECT source, n_tokens, n_tokens * 2.0 AS capacity FROM t),
        |w AS (
        |  SELECT source, n_tokens, capacity,
        |         row_number() OVER (ORDER BY capacity NULLS FIRST,
        |           source NULLS FIRST) AS i,
        |         coalesce(sum(capacity) OVER (ORDER BY capacity NULLS FIRST,
        |           source NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS cum_prev,
        |         count(*) OVER () AS s
        |  FROM c),
        |g AS (
        |  SELECT *, capacity * (s - i + 1) + cum_prev <= 50000.0 AS sat
        |  FROM w),
        |k AS (
        |  SELECT *, sum(CASE WHEN sat THEN 1 ELSE 0 END) OVER () AS kk,
        |         sum(CASE WHEN sat THEN capacity ELSE 0 END) OVER ()
        |           AS sat_budget
        |  FROM g),
        |a AS (
        |  SELECT source, n_tokens, capacity,
        |         CASE WHEN sat THEN capacity
        |              ELSE (50000.0 - sat_budget) / (s - kk) END AS alloc
        |  FROM k)
        |SELECT source, n_tokens, capacity,
        |       round(alloc, 6) + 0.0 AS alloc_tokens,
        |       round(CASE WHEN n_tokens > 0 THEN alloc / n_tokens
        |             ELSE 0.0 END, 6) + 0.0 AS epochs,
        |       round(alloc / sum(alloc) OVER (), 6) + 0.0 AS mix_frac
        |FROM a ORDER BY source""".stripMargin,

    "source_quantile_filter" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id ASC)
        |           AS stratum_rank,
        |         count(*) OVER (PARTITION BY source) AS n_stratum
        |  FROM documents)
        |SELECT doc_id, source, n_chars,
        |       CAST(stratum_rank AS BIGINT) AS stratum_rank,
        |       CAST(n_stratum AS BIGINT) AS n_stratum
        |FROM r WHERE stratum_rank <= ceil(0.4 * n_stratum)
        |ORDER BY source, stratum_rank""".stripMargin,

    "mixture_temperature" ->
      """WITH c AS (
        |  SELECT source,
        |         CAST(sum(len(string_split_regex(text, '\s+'))) AS DOUBLE) AS n
        |  FROM documents GROUP BY 1),
        |p AS (
        |  SELECT source, n,
        |         n / sum(n) OVER () AS p_raw,
        |         power(n / sum(n) OVER (), 0.3) AS pa
        |  FROM c),
        |t AS (SELECT source, n, p_raw, pa / sum(pa) OVER () AS p_temp FROM p)
        |SELECT source, CAST(n AS BIGINT) AS n_tokens,
        |       round(p_raw, 6) + 0.0 AS p_raw,
        |       round(p_temp, 6) + 0.0 AS p_temp,
        |       round(CASE WHEN p_raw > 0 THEN p_temp / p_raw END, 6) + 0.0
        |         AS upsample_factor,
        |       round(p_temp * 1000000.0, 2) + 0.0 AS expected_tokens
        |FROM t ORDER BY source""".stripMargin,

    "doremi_weights" -> {
      // 5 unrolled EG steps: r_{t+1} = 0.9·softmax-step + 0.1·uniform;
      // generated so the step SQL cannot drift between iterations
      // the max-excess shift mirrors the Scala log-sum-exp guard exactly —
      // the intermediate floats must match or round(·,6) hash-drifts
      val step = (i: Int) =>
        s"""r$i AS (
           |  SELECT source, excess_loss,
           |         0.9 * u / sum(u) OVER () + 0.1 / count(*) OVER () AS w
           |  FROM (SELECT source, excess_loss,
           |          w * exp(20.0 * (excess_loss
           |            - max(excess_loss) OVER ())) AS u
           |        FROM r${i - 1}))""".stripMargin
      s"""WITH d AS (
         |  SELECT source,
         |         avg(greatest(len(text) * 1.0 /
         |           (len(string_split_regex(text, '\\s+')) * 10.0)
         |           - 0.5, 0)) AS excess_loss
         |  FROM documents GROUP BY 1),
         |r0 AS (
         |  SELECT source, excess_loss, 1.0 / count(*) OVER () AS w
         |  FROM d),
         |${(1 to 5).map(step).mkString(",\n")}
         |SELECT source, round(excess_loss, 6) + 0.0 AS excess_loss,
         |       round(w, 6) + 0.0 AS weight
         |FROM r5 ORDER BY source""".stripMargin
    },

    "cluster_sample" ->
      s"""WITH $SeededEmbCte,
        |r AS (
        |  SELECT vec_id, cluster,
        |         CAST(row_number() OVER (PARTITION BY cluster
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        |           AS INTEGER) AS cell_rank
        |  FROM asg)
        |SELECT vec_id, cluster, cell_rank FROM r
        |WHERE cell_rank <= 40 ORDER BY vec_id""".stripMargin,

    "props_extract" ->
      """WITH p0 AS (
        |  SELECT event_type, props,
        |         CASE WHEN props IS NOT NULL AND json_valid(props)
        |              THEN json_extract(props, '$.k') END AS jk
        |  FROM events),
        |p AS (
        |  SELECT event_type,
        |         CASE WHEN jk IS NOT NULL
        |                AND json_type(jk) IN ('UBIGINT', 'BIGINT')
        |              THEN TRY_CAST(jk AS INTEGER) END AS k,
        |         -- Spark PERMISSIVE marks a row corrupt for invalid JSON
        |         -- AND for a wrong-typed / non-representable field value
        |         -- (pinned by FlowProfileSpec); a missing or json-null
        |         -- field is a null field, not a failure
        |         CASE WHEN props IS NOT NULL AND NOT json_valid(props)
        |                THEN 1
        |              WHEN jk IS NOT NULL
        |                AND json_type(jk) NOT IN ('UBIGINT', 'BIGINT', 'NULL')
        |                THEN 1
        |              WHEN jk IS NOT NULL
        |                AND json_type(jk) IN ('UBIGINT', 'BIGINT')
        |                AND TRY_CAST(jk AS INTEGER) IS NULL
        |                THEN 1
        |              ELSE 0 END AS malformed
        |  FROM p0)
        |SELECT event_type,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(malformed) AS BIGINT) AS n_malformed,
        |       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_null_field,
        |       round(avg(k), 6) + 0.0 AS avg_k,
        |       min(k) AS min_k, max(k) AS max_k,
        |       CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

    "shard_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |         md5('epoch0' || ':' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, skey,
        |         CAST(CAST('0x' || substr(skey, 1, 8) AS UBIGINT) % 8
        |              AS INTEGER) AS shard
        |  FROM k)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |            ORDER BY skey, doc_id) AS BIGINT) AS pos_in_shard
        |FROM s ORDER BY 2, 3""".stripMargin,

    "column_profile" ->
      """WITH p AS (
        |  SELECT 'event_id' AS column_name, count(*) AS n_rows,
        |         count(*) - count(event_id) AS n_null,
        |         count(DISTINCT event_id) AS n_distinct,
        |         CAST(min(event_id) AS VARCHAR) AS min_str,
        |         CAST(max(event_id) AS VARCHAR) AS max_str
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_id', count(*), count(*) - count(user_id),
        |         count(DISTINCT user_id),
        |         CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
        |  FROM events
        |  UNION ALL
        |  SELECT 'event_type', count(*), count(*) - count(event_type),
        |         count(DISTINCT event_type), min(event_type), max(event_type)
        |  FROM events
        |  UNION ALL
        |  SELECT 'value', count(*), count(*) - count(value),
        |         count(DISTINCT value),
        |         CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR)
        |  FROM events
        |  UNION ALL
        |  SELECT 'props', count(*), count(*) - count(props),
        |         count(DISTINCT props), min(props), max(props)
        |  FROM events)
        |SELECT column_name, n_rows, n_null, n_distinct, min_str, max_str
        |FROM p ORDER BY 1""".stripMargin,

    "regime_cases" ->
      s"""$H1Cte,
        |${ichChainSql("h1", "b")},
        |h4 AS (
        |  SELECT symbol,
        |         (bar_ts_ms // 14400000) * 14400000 AS bar_ts_ms,
        |         max(high) AS high, min(low) AS low,
        |         arg_max(close, bar_ts_ms) AS close
        |  FROM h1 GROUP BY 1, 2),
        |${ichChainSql("h4", "c")},
        |cl AS (
        |  SELECT symbol, bar_ts_ms,
        |         lag(CASE WHEN label = 'LONG' THEN 1
        |                  WHEN label = 'SHORT' THEN -1 ELSE 0 END)
        |           OVER cwk4 AS d_h4
        |  FROM cout WINDOW cwk4 AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |d1 AS (
        |  SELECT symbol,
        |         (bar_ts_ms // 86400000) * 86400000 AS bar_ts_ms,
        |         max(high) AS high, min(low) AS low,
        |         arg_max(close, bar_ts_ms) AS close
        |  FROM h1 GROUP BY 1, 2),
        |${ichChainSql("d1", "d")},
        |dl AS (
        |  SELECT symbol, bar_ts_ms,
        |         lag(CASE WHEN label = 'LONG' THEN 1
        |                  WHEN label = 'SHORT' THEN -1 ELSE 0 END)
        |           OVER dwk4 AS d_d1
        |  FROM dout WINDOW dwk4 AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |j1 AS (
        |  SELECT b.symbol, b.bar_ts_ms, b.label AS label_h1,
        |         b.score_display AS score_h1, cl.d_h4
        |  FROM bout b ASOF LEFT JOIN cl
        |    ON b.symbol = cl.symbol AND b.bar_ts_ms >= cl.bar_ts_ms),
        |j2 AS (
        |  SELECT j1.*, dl.d_d1
        |  FROM j1 ASOF LEFT JOIN dl
        |    ON j1.symbol = dl.symbol AND j1.bar_ts_ms >= dl.bar_ts_ms),
        |dirs AS (
        |  SELECT *,
        |         CASE WHEN label_h1 = 'LONG' THEN 1
        |              WHEN label_h1 = 'SHORT' THEN -1 ELSE 0 END AS d_h1
        |  FROM j2),
        |scd AS (
        |  SELECT *, 3 * d_d1 + 2 * d_h4 + 2 * d_h1 AS sc FROM dirs),
        |bc AS (
        |  SELECT *,
        |    CASE WHEN score_h1 = 0 AND label_h1 = 'NEUTRE'
        |           THEN 'WARMUP_UNDEFINED'
        |         WHEN d_h4 IS NULL OR d_d1 IS NULL THEN 'DATA_GAP_OR_INVALID'
        |         WHEN d_d1 * d_h4 = -1 THEN 'CHAOS_CONFLICT_TF'
        |         WHEN d_d1 = 1 AND d_h1 = -1 THEN 'MACRO_BULL_MICRO_BEAR'
        |         WHEN d_d1 = -1 AND d_h1 = 1 THEN 'MACRO_BEAR_MICRO_BULL'
        |         WHEN d_d1 = 1 AND d_h1 = 1 AND d_h4 >= 0
        |           THEN 'TREND_CONTINUATION_LONG'
        |         WHEN d_d1 = -1 AND d_h1 = -1 AND d_h4 <= 0
        |           THEN 'TREND_CONTINUATION_SHORT'
        |         WHEN d_d1 = 1 AND d_h1 < 0 THEN 'PULLBACK_LONG_IN_BULL_TREND'
        |         WHEN d_d1 = -1 AND d_h1 > 0 THEN 'PULLBACK_SHORT_IN_BEAR_TREND'
        |         WHEN abs(sc) < 3 AND d_d1 > 0 THEN 'RANGE_BIASED_LONG'
        |         WHEN abs(sc) < 3 AND d_d1 < 0 THEN 'RANGE_BIASED_SHORT'
        |         WHEN abs(sc) < 3 THEN 'RANGE_NEUTRAL'
        |         WHEN d_d1 = 1 AND d_h1 < 0 AND sc > 0 THEN 'EXHAUSTION_TOP'
        |         WHEN d_d1 = -1 AND d_h1 > 0 AND sc < 0
        |           THEN 'EXHAUSTION_BOTTOM'
        |         ELSE 'LOW_CONFIDENCE_NEUTRAL' END AS basec
        |  FROM scd),
        |lg AS (
        |  SELECT *, lag(basec, 1) OVER lwk AS lag1,
        |         lag(basec, 2) OVER lwk AS lag2
        |  FROM bc WINDOW lwk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |fc AS (
        |  SELECT *,
        |    CASE WHEN basec = 'TREND_CONTINUATION_LONG'
        |              AND lag1 = 'RANGE_NEUTRAL' THEN 'BREAKOUT_UP_FROM_RANGE'
        |         WHEN basec = 'TREND_CONTINUATION_SHORT'
        |              AND lag1 = 'RANGE_NEUTRAL'
        |           THEN 'BREAKOUT_DOWN_FROM_RANGE'
        |         WHEN basec IN ('EXHAUSTION_TOP', 'EXHAUSTION_BOTTOM',
        |                        'LOW_CONFIDENCE_NEUTRAL')
        |              AND lag1 = 'TREND_CONTINUATION_LONG'
        |              AND lag2 = 'RANGE_NEUTRAL' AND d_h1 <= 0
        |           THEN 'FAKE_BREAKOUT_UP'
        |         WHEN basec IN ('EXHAUSTION_TOP', 'EXHAUSTION_BOTTOM',
        |                        'LOW_CONFIDENCE_NEUTRAL')
        |              AND lag1 = 'TREND_CONTINUATION_SHORT'
        |              AND lag2 = 'RANGE_NEUTRAL' AND d_h1 >= 0
        |           THEN 'FAKE_BREAKOUT_DOWN'
        |         ELSE basec END AS regime_case
        |  FROM lg)
        |SELECT symbol, bar_ts_ms, regime_case,
        |       CAST(sc AS INTEGER) AS confluence_score,
        |       CASE WHEN regime_case IN ('WARMUP_UNDEFINED',
        |              'DATA_GAP_OR_INVALID', 'CHAOS_CONFLICT_TF') THEN 0.0
        |            WHEN abs(sc) >= 10 THEN 1.0
        |            WHEN abs(sc) >= 7 THEN 0.75
        |            WHEN abs(sc) >= 4 THEN 0.5
        |            ELSE 0.25 END AS size_mult
        |FROM fc ORDER BY 1, 2""".stripMargin,

    "router_gate" ->
      s"""$H1Cte,
        |${ichChainSql("h1", "b")},
        |h4 AS (
        |  SELECT symbol,
        |         (bar_ts_ms // 14400000) * 14400000 AS bar_ts_ms,
        |         max(high) AS high, min(low) AS low,
        |         arg_max(close, bar_ts_ms) AS close
        |  FROM h1 GROUP BY 1, 2),
        |${ichChainSql("h4", "c")},
        |cl AS (
        |  SELECT symbol, bar_ts_ms, lag(label) OVER cwk3 AS label_h4
        |  FROM cout WINDOW cwk3 AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |d1 AS (
        |  SELECT symbol,
        |         (bar_ts_ms // 86400000) * 86400000 AS bar_ts_ms,
        |         max(high) AS high, min(low) AS low,
        |         arg_max(close, bar_ts_ms) AS close
        |  FROM h1 GROUP BY 1, 2),
        |${ichChainSql("d1", "d")},
        |dl AS (
        |  SELECT symbol, bar_ts_ms, lag(label) OVER dwk3 AS label_d1
        |  FROM dout WINDOW dwk3 AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |j1 AS (
        |  SELECT b.symbol, b.bar_ts_ms, b.label AS label_h1, cl.label_h4
        |  FROM bout b ASOF LEFT JOIN cl
        |    ON b.symbol = cl.symbol AND b.bar_ts_ms >= cl.bar_ts_ms),
        |j2 AS (
        |  SELECT j1.*, dl.label_d1
        |  FROM j1 ASOF LEFT JOIN dl
        |    ON j1.symbol = dl.symbol AND j1.bar_ts_ms >= dl.bar_ts_ms),
        |g AS (
        |  SELECT *,
        |         (label_h1 = 'LONG' AND label_h4 = 'LONG'
        |          AND (label_d1 IS NULL OR label_d1 <> 'SHORT')) AS rl,
        |         (label_h1 = 'SHORT' AND label_h4 = 'SHORT'
        |          AND (label_d1 IS NULL OR label_d1 <> 'LONG')) AS rs
        |  FROM j2)
        |SELECT symbol, bar_ts_ms, label_h1, label_h4, label_d1,
        |       CAST(CASE WHEN rl AND NOT rs THEN 1 ELSE 0 END AS INTEGER)
        |         AS allow_long,
        |       CAST(CASE WHEN rs AND NOT rl THEN 1 ELSE 0 END AS INTEGER)
        |         AS allow_short
        |FROM g ORDER BY 1, 2""".stripMargin,

    // EMA is a seeded recursion (y₀=x₀, yₜ=αx+(1−α)y); ANSI window SQL can't
    // fold, but DuckDB list_reduce over the prefix list IS the same fold in
    // the same IEEE order — so even the "recursive, not SQL-expressible"
    // operator gets an exact engine-independent oracle. O(n²) list memory
    // per symbol caps this to oracle scale; the Spark side stays O(n).
    "ema_trend" ->
      s"""$H1Cte,
        |t AS (
        |  SELECT symbol, bar_ts_ms, high, low, close,
        |         lag(close) OVER wk AS prev_c
        |  FROM h1 WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |trt AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS tr
        |  FROM t),
        |p AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         list(close) OVER cum AS closes,
        |         count(close) OVER cum AS n_close,
        |         list_filter(list(tr) OVER cum, y -> y IS NOT NULL) AS trs,
        |         count(tr) OVER cum AS n_tr
        |  FROM trt
        |  WINDOW cum AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |e AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         CASE WHEN n_close >= 20 THEN list_reduce(closes,
        |           (acc, x) -> (2.0/21.0)*x + (1.0 - 2.0/21.0)*acc) END AS ema20,
        |         CASE WHEN n_close >= 50 THEN list_reduce(closes,
        |           (acc, x) -> (2.0/51.0)*x + (1.0 - 2.0/51.0)*acc) END AS ema50,
        |         CASE WHEN n_close >= 200 THEN list_reduce(closes,
        |           (acc, x) -> (2.0/201.0)*x + (1.0 - 2.0/201.0)*acc) END AS ema200,
        |         CASE WHEN n_tr >= 20 THEN list_reduce(trs,
        |           (acc, x) -> (1.0/20.0)*x + (1.0 - 1.0/20.0)*acc) END AS kc_atr
        |  FROM p),
        |b AS (
        |  SELECT *,
        |         CASE WHEN count(close) OVER w20 = 20
        |           THEN avg(close) OVER w20 END AS m,
        |         CASE WHEN count(close) OVER w20 = 20
        |           THEN stddev_pop(close) OVER w20 END AS sdev,
        |         lag(ema20) OVER wk AS ema20_prev
        |  FROM e
        |  WINDOW w20 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
        |         wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |f AS (
        |  SELECT *,
        |         ema20 - ema50 AS spread2050,
        |         ema50 - ema200 AS spread50200,
        |         ema20 / ema20_prev - 1.0 AS slope20,
        |         (3.0 * kc_atr) / nullif(ema20, 0) AS kc_width,
        |         ((m + 2.0 * sdev) - (m - 2.0 * sdev)) / nullif(m, 0) AS bb_width
        |  FROM b),
        |g AS (
        |  SELECT *,
        |         bb_width / nullif(kc_width, 0) AS squeeze_ratio,
        |         8.0 * (coalesce(spread2050 / nullif(close, 0), 0.0)
        |                + coalesce(spread50200 / nullif(close, 0), 0.0))
        |           + 4.0 * coalesce(slope20, 0.0) AS targ
        |  FROM f)
        |-- DuckDB 1.0 has no tanh(); (e²ˣ−1)/(e²ˣ+1) with saturation guard
        |SELECT symbol, bar_ts_ms,
        |       round(ema20, 6) AS ema20,
        |       round(ema50, 6) AS ema50,
        |       round(ema200, 6) AS ema200,
        |       round(spread2050, 6) AS ema20_50_spread,
        |       round(kc_width, 6) AS kc_width,
        |       round(squeeze_ratio, 6) AS squeeze_ratio,
        |       round(CASE WHEN targ > 20.0 THEN 1.0
        |                  WHEN targ < -20.0 THEN -1.0
        |                  ELSE (exp(2.0 * targ) - 1.0) / (exp(2.0 * targ) + 1.0)
        |             END, 6) AS trend_score
        |FROM g ORDER BY 1, 2""".stripMargin,

    "multimodal_decode" ->
      """WITH ch AS (
        |  SELECT doc_id, unicode(unnest(str_split(text, ''))) AS code
        |  FROM documents)
        |SELECT doc_id,
        |       round(avg(code), 6) AS mean_byte,
        |       CAST(max(code) AS INTEGER) AS max_byte,
        |       CAST(count(*) FILTER (WHERE code < 64) AS BIGINT) AS hist_0,
        |       CAST(count(*) FILTER (WHERE code >= 64 AND code < 128)
        |            AS BIGINT) AS hist_1,
        |       CAST(count(*) FILTER (WHERE code >= 128 AND code < 192)
        |            AS BIGINT) AS hist_2,
        |       CAST(count(*) FILTER (WHERE code >= 192) AS BIGINT) AS hist_3
        |FROM ch GROUP BY 1 ORDER BY 1""".stripMargin,

    "structure_features" ->
      s"""$H1Cte,
        |v AS (
        |  SELECT symbol, bar_ts_ms, high, low, close,
        |         sum((high + low + close) / 3.0 * coalesce(volume, 0))
        |           OVER dw AS cum_pv,
        |         sum(coalesce(volume, 0)) OVER dw AS cum_v,
        |         CASE WHEN count(high) OVER sw = 12
        |           THEN max(high) OVER sw END AS prev_max,
        |         CASE WHEN count(low) OVER sw = 12
        |           THEN min(low) OVER sw END AS prev_min
        |  FROM h1
        |  WINDOW dw AS (PARTITION BY symbol, bar_ts_ms // 86400000
        |                ORDER BY bar_ts_ms
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         sw AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)),
        |d AS (
        |  SELECT symbol, bar_ts_ms,
        |         cum_pv / nullif(cum_v, 0) AS vwap_d,
        |         (close - cum_pv / nullif(cum_v, 0))
        |           / nullif(cum_pv / nullif(cum_v, 0), 0) AS vwap_d_dist,
        |         CASE WHEN high > prev_max THEN 1 ELSE 0 END AS is_hh,
        |         CASE WHEN low < prev_min THEN 1 ELSE 0 END AS is_ll,
        |         CASE WHEN high > prev_max THEN 1
        |              WHEN low < prev_min THEN -1 ELSE 0 END AS hh_hl_state
        |  FROM v)
        |SELECT symbol, bar_ts_ms,
        |       round(lag(vwap_d) OVER wk, 6) + 0.0 AS vwap_d,
        |       round(lag(vwap_d_dist) OVER wk, 6) + 0.0 AS vwap_d_dist,
        |       lag(is_hh) OVER wk AS is_hh,
        |       lag(is_ll) OVER wk AS is_ll,
        |       lag(hh_hl_state) OVER wk AS hh_hl_state
        |FROM d
        |WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)
        |ORDER BY 1, 2""".stripMargin,

    "volume_z" ->
      s"""$H1Cte
        |SELECT symbol, bar_ts_ms,
        |       round(volume, 6) AS volume,
        |       round((volume -
        |              CASE WHEN count(volume) OVER w24 >= 12
        |                   THEN avg(volume) OVER w24 END)
        |             / (CASE WHEN count(volume) OVER w24 >= 12
        |                THEN stddev_pop(volume) OVER w24 END + 1e-12),
        |             6) AS volume_z
        |FROM h1
        |WINDOW w24 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        |ORDER BY 1, 2""".stripMargin,

    "impulse_features" ->
      s"""$H1Cte,
        |t AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS prev_c
        |  FROM h1),
        |trc AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS trv
        |  FROM t),
        |a AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN count(trv) OVER w14 = 14
        |           THEN avg(trv) OVER w14 END AS atr
        |  FROM trc
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT symbol, bar_ts_ms,
        |         (close - open) / (CASE WHEN atr > 0.0 THEN atr END)
        |           AS delta_norm,
        |         (close - low) / nullif(high - low, 0) AS close_pos,
        |         (high - low) / (CASE WHEN atr > 0.0 THEN atr END)
        |           AS range_rel
        |  FROM a)
        |SELECT symbol, bar_ts_ms,
        |       round(delta_norm, 6) AS delta_norm,
        |       round(close_pos, 6) AS close_pos,
        |       round(range_rel, 6) AS range_rel,
        |       CASE WHEN delta_norm > 0.5 AND close_pos > 0.7
        |                 AND range_rel > 1.2 THEN 1 ELSE 0 END AS impulse_long,
        |       CASE WHEN delta_norm < -0.5 AND close_pos < 0.3
        |                 AND range_rel > 1.2 THEN 1 ELSE 0 END AS impulse_short
        |FROM f ORDER BY 1, 2""".stripMargin,

    "fwd_returns" ->
      s"""$H1Cte
        |SELECT symbol, bar_ts_ms,
        |       round(lead(close, 1) OVER wk / nullif(close, 0) - 1.0, 6)
        |         AS ret_1,
        |       round(lead(close, 4) OVER wk / nullif(close, 0) - 1.0, 6)
        |         AS ret_4,
        |       round(lead(close, 16) OVER wk / nullif(close, 0) - 1.0, 6)
        |         AS ret_16
        |FROM h1
        |WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)
        |ORDER BY 1, 2""".stripMargin,

    "hourly_profile" ->
      s"""$H1Cte,
        |r AS (
        |  SELECT symbol,
        |         CAST((bar_ts_ms // 3600000) % 24 AS INTEGER) AS hour_utc,
        |         lead(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           / nullif(close, 0) - 1.0 AS ret1
        |  FROM h1)
        |SELECT symbol, hour_utc,
        |       CAST(count(ret1) AS BIGINT) AS n,
        |       round(avg(ret1), 6) AS mean_ret,
        |       round(avg(CASE WHEN ret1 > 0.0 THEN 1.0 ELSE 0.0 END), 6)
        |         AS up_share
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |         CAST(unnest(range(CAST(ceil(length(text) / 256.0) AS INTEGER)))
        |              AS INTEGER) AS frame_idx
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, frame_idx,
        |         substr(text, frame_idx * 256 + 1, 256) AS frame
        |  FROM f WHERE frame_idx % 2 = 0),
        |ch AS (
        |  SELECT doc_id, frame_idx, length(frame) AS frame_bytes,
        |         unicode(unnest(str_split(frame, ''))) AS code
        |  FROM s)
        |SELECT doc_id, frame_idx,
        |       CAST(min(frame_bytes) AS INTEGER) AS frame_bytes,
        |       round(avg(code), 6) AS mean_byte,
        |       CAST(max(code) AS INTEGER) AS max_byte
        |FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "sessionize" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events),
        |g AS (
        |  -- session_window semantics: an event at exactly prev+gap still
        |  -- merges (windows [t, t+gap] touch); break strictly AFTER gap
        |  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
        |                  OR ts_ms - lag(ts_ms) OVER w > 1800000
        |            THEN 1 ELSE 0 END AS newsess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
        |s AS (
        |  SELECT *, sum(newsess) OVER (PARTITION BY user_id ORDER BY ts_ms
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |       min(ts_ms) AS session_start_ms,
        |       max(ts_ms) AS session_end_ms,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 6) AS sum_value
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "repeated_ngram_trim" ->
      """WITH t0 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN text ||
        |                ' please subscribe to our newsletter for daily' ||
        |                ' updates and exclusive offers available today'
        |              WHEN doc_id % 5 = 2 THEN text || ' ' || text
        |              ELSE text END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w,
        |         string_split_regex(lower(text), '\s+') AS lw
        |  FROM t0),
        |p AS (
        |  SELECT doc_id, s['pos'] AS pos, s['gram'] AS gram FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(lw) - 9),
        |      i -> {'pos': i + 1,
        |            'gram': array_to_string(lw[i+1:i+10], ' ')})) AS s
        |    FROM t WHERE len(lw) >= 10)),
        |dup AS (SELECT gram FROM p GROUP BY gram HAVING count(*) >= 2),
        |st AS (SELECT doc_id, list_sort(list(pos)) AS starts
        |       FROM p JOIN dup USING (gram) GROUP BY doc_id),
        |j AS (SELECT t.doc_id, w,
        |        coalesce(st.starts, CAST([] AS BIGINT[])) AS starts
        |      FROM t LEFT JOIN st ON t.doc_id = st.doc_id),
        |k AS (SELECT doc_id, len(w) AS n_tokens, starts,
        |        list_filter(list_transform(range(len(w)),
        |            q -> {'p': q + 1, 'tok': w[CAST(q + 1 AS INTEGER)]}),
        |          s -> len(list_filter(starts,
        |            z -> s['p'] >= z AND s['p'] < z + 10)) = 0) AS kept
        |      FROM j)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(CASE WHEN len(starts) = 0 THEN 0
        |            ELSE 1 + len(list_filter(range(len(starts) - 1),
        |              i -> starts[CAST(i + 2 AS INTEGER)]
        |                   - starts[CAST(i + 1 AS INTEGER)] > 10))
        |            END AS INTEGER) AS n_spans_removed,
        |       CAST(n_tokens - len(kept) AS INTEGER) AS n_removed_tokens,
        |       coalesce(array_to_string(
        |         list_transform(kept, s -> s['tok']), ' '), '') AS kept_text
        |FROM k ORDER BY doc_id""".stripMargin,

    // incremental ≡ full pass restricted to the batch rows — the oracle
    // IS the full-pass computation with the batch filter at the end
    "trim_incremental" ->
      """WITH t0 AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 0 THEN text ||
        |                ' please subscribe to our newsletter for daily' ||
        |                ' updates and exclusive offers available today'
        |              WHEN doc_id % 5 = 2 THEN text || ' ' || text
        |              ELSE text END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w,
        |         string_split_regex(lower(text), '\s+') AS lw
        |  FROM t0),
        |p AS (
        |  SELECT doc_id, s['pos'] AS pos, s['gram'] AS gram FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(lw) - 9),
        |      i -> {'pos': i + 1,
        |            'gram': array_to_string(lw[i+1:i+10], ' ')})) AS s
        |    FROM t WHERE len(lw) >= 10)),
        |dup AS (SELECT gram FROM p GROUP BY gram HAVING count(*) >= 2),
        |st AS (SELECT doc_id, list_sort(list(pos)) AS starts
        |       FROM p JOIN dup USING (gram) GROUP BY doc_id),
        |j AS (SELECT t.doc_id, w,
        |        coalesce(st.starts, CAST([] AS BIGINT[])) AS starts
        |      FROM t LEFT JOIN st ON t.doc_id = st.doc_id),
        |k AS (SELECT doc_id, len(w) AS n_tokens, starts,
        |        list_filter(list_transform(range(len(w)),
        |            q -> {'p': q + 1, 'tok': w[CAST(q + 1 AS INTEGER)]}),
        |          s -> len(list_filter(starts,
        |            z -> s['p'] >= z AND s['p'] < z + 10)) = 0) AS kept
        |      FROM j)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(CASE WHEN len(starts) = 0 THEN 0
        |            ELSE 1 + len(list_filter(range(len(starts) - 1),
        |              i -> starts[CAST(i + 2 AS INTEGER)]
        |                   - starts[CAST(i + 1 AS INTEGER)] > 10))
        |            END AS INTEGER) AS n_spans_removed,
        |       CAST(n_tokens - len(kept) AS INTEGER) AS n_removed_tokens,
        |       coalesce(array_to_string(
        |         list_transform(kept, s -> s['tok']), ' '), '') AS kept_text
        |FROM k WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin,

    "contamination" ->
      """WITH train AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |         min(doc_id) AS train_id,
        |         CAST(count(*) AS BIGINT) AS n_train_copies
        |  FROM documents GROUP BY 1),
        |test AS (
        |  SELECT doc_id + 2000000 AS test_id,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS test_id,
        |         md5(trim(regexp_replace(lower(reverse(text)), '\s+', ' ', 'g')))
        |           AS fp
        |  FROM documents WHERE doc_id % 10 = 5)
        |SELECT test.test_id, train.train_id, train.n_train_copies
        |FROM test JOIN train USING (fp)
        |ORDER BY 1""".stripMargin,

    "boilerplate_profile" ->
      s"""WITH $SeededGramCte,
        |dfq AS (SELECT gm, count(*) AS df FROM gr GROUP BY 1)
        |SELECT gr.doc_id, CAST(gr.n_ngrams AS INTEGER) AS n_ngrams,
        |       CAST(sum(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_common,
        |       round(sum(CASE WHEN dfq.df >= 2 THEN 1 ELSE 0 END) * 1.0
        |             / gr.n_ngrams, 6) + 0.0 AS boilerplate_frac
        |FROM gr JOIN dfq USING (gm)
        |GROUP BY gr.doc_id, gr.n_ngrams ORDER BY 1""".stripMargin,

    "importance_weight" ->
      s"""WITH $DsirCte
        |SELECT doc_id, n_tokens, log_weight, avg_log_weight
        |FROM iw ORDER BY 1""".stripMargin,

    // the relation serving path reproduces the direct scorer
    // in-vocabulary, so it shares the DSIR oracle (minus the
    // length-normalized column the serving surface doesn't emit)
    "dsir_score_relation" ->
      s"""WITH $DsirCte
        |SELECT doc_id, n_tokens, log_weight
        |FROM iw ORDER BY 1""".stripMargin,

    "dsir_sample" ->
      s"""WITH $DsirCte,
        |thr AS (SELECT quantile_cont(avg_log_weight, 0.75) AS thr FROM iw)
        |SELECT iw.doc_id, iw.avg_log_weight,
        |       CAST(CASE WHEN iw.avg_log_weight >= t.thr
        |            THEN 1 ELSE 0 END AS INTEGER) AS kept
        |FROM iw CROSS JOIN thr t ORDER BY 1""".stripMargin,

    "lm_score" ->
      s"""WITH $LmScoreCte
        |SELECT doc_id, n_bigrams, cross_entropy, ppl
        |FROM lms ORDER BY 1""".stripMargin,

    "ccnet_buckets" ->
      s"""WITH $LmScoreCte,
        |cuts AS (
        |  SELECT quantile_cont(ppl, 1.0/3) AS c1,
        |         quantile_cont(ppl, 2.0/3) AS c2
        |  FROM lms)
        |SELECT l.doc_id, l.ppl,
        |       CASE WHEN l.ppl <= c.c1 THEN 'head'
        |            WHEN l.ppl <= c.c2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM lms l CROSS JOIN cuts c ORDER BY 1""".stripMargin,

    "dedup_rate_curve" ->
      s"""WITH $SeededGramCte,
        |df2 AS (
        |  SELECT gm FROM (SELECT gm, count(*) AS c FROM gr GROUP BY 1)
        |  WHERE c BETWEEN 2 AND 8),
        |gg AS (SELECT gr.* FROM gr JOIN df2 USING (gm)),
        |pr AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared,
        |         any_value(a.n_ngrams) AS n1, any_value(b.n_ngrams) AS n2
        |  FROM gg a JOIN gg b ON a.gm = b.gm AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT id1, id2,
        |             shared * 1.0 / (n1 + n2 - shared) AS jac FROM pr),
        |t AS (SELECT unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold)
        |SELECT t.threshold + 0.0 AS threshold,
        |       CAST(count(j.id1) AS BIGINT) AS n_pairs,
        |       CAST(count(DISTINCT j.id2) AS BIGINT) AS n_dropped
        |FROM t LEFT JOIN j ON j.jac >= t.threshold
        |GROUP BY t.threshold ORDER BY 1""".stripMargin,

    "embed_kmeans" ->
      s"""WITH $SeededEmbCte
        |SELECT vec_id, cluster, centroid_sim + 0.0 AS centroid_sim
        |FROM asg ORDER BY 1""".stripMargin,

    "embed_kmeans_lloyd" ->
      s"""WITH $SeededEmbCte,
        |ex AS (
        |  SELECT a.cluster,
        |         unnest(list_transform(range(len(e.v)),
        |           i -> struct_pack(pos := i, x := e.v[i+1])),
        |           recursive := true)
        |  FROM asg a JOIN e USING (vec_id)),
        |m AS (SELECT cluster, pos, avg(x) AS cx FROM ex GROUP BY 1, 2),
        |c1 AS (
        |  SELECT ct.cell, coalesce(mm.v1, ct.cv) AS cv
        |  FROM cent ct LEFT JOIN (
        |    SELECT cluster AS cell, list(cx ORDER BY pos) AS v1
        |    FROM m GROUP BY 1) mm USING (cell)),
        |sims1 AS (
        |  SELECT e.vec_id, c.cell,
        |         round(list_cosine_similarity(e.v, c.cv), 6) AS sim
        |  FROM e CROSS JOIN c1 c),
        |best1 AS (SELECT vec_id, max(sim) AS best FROM sims1 GROUP BY 1)
        |SELECT s.vec_id, CAST(min(s.cell) AS INTEGER) AS cluster,
        |       max(s.sim) + 0.0 AS centroid_sim
        |FROM sims1 s JOIN best1 b ON b.vec_id = s.vec_id AND s.sim = b.best
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "semantic_dedup" ->
      s"""WITH $SeededEmbCte,
        |av AS (SELECT a.vec_id, a.cluster, e.v
        |       FROM asg a JOIN e USING (vec_id)),
        |p AS (
        |  SELECT a.vec_id, CAST(count(*) AS BIGINT) AS n_dups_prev,
        |         max(round(list_cosine_similarity(a.v, b.v), 6)) AS ms
        |  FROM av a JOIN av b ON a.cluster = b.cluster
        |       AND b.vec_id < a.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95
        |  GROUP BY 1)
        |SELECT av.vec_id, av.cluster,
        |       CAST(coalesce(p.n_dups_prev, 0) AS BIGINT) AS n_dups_prev,
        |       p.ms + 0.0 AS max_sim_prev,
        |       CAST(CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER)
        |         AS kept
        |FROM av LEFT JOIN p USING (vec_id) ORDER BY 1""".stripMargin,

    // Incremental SemDeDup: history's lowest-id codebook (FROZEN),
    // history self-dedup → kept index, batch assignment under the same
    // codebook, cell-confined index probe, within-batch keep-first.
    "semantic_dedup_incremental" ->
      s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |            FROM embeddings),
        |aug AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |         list_transform(range(len(v)),
        |           i -> v[i+1] + 0.01 * ((i % 7) - 3)) AS v
        |  FROM e0 WHERE vec_id % 5 = 0),
        |e AS (SELECT * FROM e0 UNION ALL SELECT * FROM aug),
        |hist AS (SELECT * FROM e WHERE vec_id % 3 <> 0),
        |bat AS (SELECT * FROM e WHERE vec_id % 3 = 0),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        |  FROM (SELECT * FROM hist ORDER BY vec_id LIMIT 8)),
        |sh AS (
        |  SELECT h.vec_id, c.cell,
        |         round(list_cosine_similarity(h.v, c.cv), 6) AS sim
        |  FROM hist h CROSS JOIN cent c),
        |bh AS (SELECT vec_id, max(sim) AS best FROM sh GROUP BY 1),
        |ah AS (
        |  SELECT q.vec_id, CAST(min(q.cell) AS INTEGER) AS cluster
        |  FROM sh q JOIN bh b ON b.vec_id = q.vec_id AND q.sim = b.best
        |  GROUP BY 1),
        |avh AS (SELECT a.vec_id, a.cluster, h.v
        |        FROM ah a JOIN hist h USING (vec_id)),
        |kepth AS (
        |  SELECT x.* FROM avh x
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM avh y
        |    WHERE y.cluster = x.cluster AND y.vec_id < x.vec_id
        |      AND round(list_cosine_similarity(x.v, y.v), 6) >= 0.95)),
        |sb AS (
        |  SELECT t.vec_id, c.cell,
        |         round(list_cosine_similarity(t.v, c.cv), 6) AS sim
        |  FROM bat t CROSS JOIN cent c),
        |bb2 AS (SELECT vec_id, max(sim) AS best FROM sb GROUP BY 1),
        |ab AS (
        |  SELECT q.vec_id, CAST(min(q.cell) AS INTEGER) AS cluster
        |  FROM sb q JOIN bb2 b ON b.vec_id = q.vec_id AND q.sim = b.best
        |  GROUP BY 1),
        |avb AS (SELECT a.vec_id, a.cluster, t.v
        |        FROM ab a JOIN bat t USING (vec_id)),
        |di AS (
        |  SELECT x.vec_id, min(y.vec_id) AS match_id,
        |         arg_min(round(list_cosine_similarity(x.v, y.v), 6),
        |                 y.vec_id) AS sim
        |  FROM avb x JOIN kepth y ON x.cluster = y.cluster
        |  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.95
        |  GROUP BY 1),
        |rest AS (
        |  SELECT * FROM avb
        |  WHERE vec_id NOT IN (SELECT vec_id FROM di)),
        |db AS (
        |  SELECT x.vec_id, min(y.vec_id) AS match_id,
        |         arg_min(round(list_cosine_similarity(x.v, y.v), 6),
        |                 y.vec_id) AS sim
        |  FROM rest x JOIN rest y
        |    ON x.cluster = y.cluster AND y.vec_id < x.vec_id
        |  WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.95
        |  GROUP BY 1)
        |SELECT a.vec_id, a.cluster,
        |       CASE WHEN di.vec_id IS NOT NULL THEN 'dup_of_index'
        |            WHEN db.vec_id IS NOT NULL THEN 'dup_in_batch'
        |            ELSE 'accepted' END AS status,
        |       coalesce(di.match_id, db.match_id) AS match_id,
        |       coalesce(di.sim, db.sim) + 0.0 AS sim
        |FROM avb a LEFT JOIN di USING (vec_id) LEFT JOIN db USING (vec_id)
        |ORDER BY vec_id""".stripMargin,

    // same 1-Lloyd-iteration chain as embed_kmeans_lloyd, then the
    // per-cell prototypicality window: rank by 6dp sim DESC, id ASC
    "prototype_prune" ->
      s"""WITH $SeededEmbCte,
        |ex AS (
        |  SELECT a.cluster,
        |         unnest(list_transform(range(len(e.v)),
        |           i -> struct_pack(pos := i, x := e.v[i+1])),
        |           recursive := true)
        |  FROM asg a JOIN e USING (vec_id)),
        |m AS (SELECT cluster, pos, avg(x) AS cx FROM ex GROUP BY 1, 2),
        |c1 AS (
        |  SELECT ct.cell, coalesce(mm.v1, ct.cv) AS cv
        |  FROM cent ct LEFT JOIN (
        |    SELECT cluster AS cell, list(cx ORDER BY pos) AS v1
        |    FROM m GROUP BY 1) mm USING (cell)),
        |sims1 AS (
        |  SELECT e.vec_id, c.cell,
        |         round(list_cosine_similarity(e.v, c.cv), 6) AS sim
        |  FROM e CROSS JOIN c1 c),
        |best1 AS (SELECT vec_id, max(sim) AS best FROM sims1 GROUP BY 1),
        |l AS (
        |  SELECT s.vec_id, CAST(min(s.cell) AS INTEGER) AS cluster,
        |         max(s.sim) AS centroid_sim
        |  FROM sims1 s JOIN best1 b ON b.vec_id = s.vec_id AND s.sim = b.best
        |  GROUP BY 1),
        |r AS (
        |  SELECT vec_id, cluster, centroid_sim,
        |         row_number() OVER (PARTITION BY cluster
        |           ORDER BY centroid_sim DESC, vec_id) AS proto_rank,
        |         count(*) OVER (PARTITION BY cluster) AS n_cell
        |  FROM l)
        |SELECT vec_id, cluster, centroid_sim + 0.0 AS centroid_sim,
        |       CAST(proto_rank AS BIGINT) AS proto_rank,
        |       CAST(n_cell AS BIGINT) AS n_cell,
        |       CAST(CASE WHEN proto_rank <= ceil(0.25 * n_cell)
        |                   OR proto_rank > n_cell - floor(0.10 * n_cell)
        |            THEN 0 ELSE 1 END AS INTEGER) AS kept
        |FROM r ORDER BY vec_id""".stripMargin,

    // The embedding capstone chain: seeded corpus → JL 64→32 (the
    // embed_project matrix at 32 dims, 6dp-rounded components) →
    // lowest-id-init assignment + within-cell dedup at 0.9 (the
    // semantic_dedup shape over projected vectors) → survivor re-init +
    // 1 Lloyd iteration + prototypicality rank (the prototype_prune
    // chain over survivors) → md5-rank cap 30/cell (cluster_sample).
    "embed_pipeline" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |            FROM embeddings),
        |aug AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |         list_transform(range(len(v)),
        |           i -> v[i+1] + 0.01 * ((i % 7) - 3)) AS v
        |  FROM e0 WHERE vec_id % 5 = 0),
        |eraw AS (SELECT * FROM e0 UNION ALL SELECT * FROM aug),
        |p AS (
        |  SELECT vec_id, list_transform(range(32), j ->
        |    round(list_sum(list_transform(v, (x, i) ->
        |      x * (CAST(CAST('0x' ||
        |             substr(md5('jl:' || j || ':' || i), 1, 1)
        |           AS INTEGER) % 2 AS INTEGER) * 2 - 1))) / sqrt(32), 6))
        |    AS v
        |  FROM eraw),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        |  FROM (SELECT * FROM p ORDER BY vec_id LIMIT 8)),
        |sims AS (
        |  SELECT p.vec_id, c.cell,
        |         round(list_cosine_similarity(p.v, c.cv), 6) AS sim
        |  FROM p CROSS JOIN cent c),
        |best AS (SELECT vec_id, max(sim) AS best FROM sims GROUP BY 1),
        |asg AS (
        |  SELECT q.vec_id, CAST(min(q.cell) AS INTEGER) AS cluster
        |  FROM sims q JOIN best b ON b.vec_id = q.vec_id AND q.sim = b.best
        |  GROUP BY 1),
        |av AS (SELECT a.vec_id, a.cluster, p.v
        |       FROM asg a JOIN p USING (vec_id)),
        |dup AS (
        |  SELECT a.vec_id
        |  FROM av a JOIN av b ON a.cluster = b.cluster
        |       AND b.vec_id < a.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.9
        |  GROUP BY 1),
        |surv AS (
        |  SELECT p.vec_id, p.v FROM p LEFT JOIN dup USING (vec_id)
        |  WHERE dup.vec_id IS NULL),
        |cent2 AS (
        |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, v AS cv
        |  FROM (SELECT * FROM surv ORDER BY vec_id LIMIT 8)),
        |sims2 AS (
        |  SELECT surv.vec_id, c.cell,
        |         round(list_cosine_similarity(surv.v, c.cv), 6) AS sim
        |  FROM surv CROSS JOIN cent2 c),
        |best2 AS (SELECT vec_id, max(sim) AS best FROM sims2 GROUP BY 1),
        |asg2 AS (
        |  SELECT q.vec_id, CAST(min(q.cell) AS INTEGER) AS cluster
        |  FROM sims2 q JOIN best2 b ON b.vec_id = q.vec_id AND q.sim = b.best
        |  GROUP BY 1),
        |ex AS (
        |  SELECT a.cluster,
        |         unnest(list_transform(range(len(surv.v)),
        |           i -> struct_pack(pos := i, x := surv.v[i+1])),
        |           recursive := true)
        |  FROM asg2 a JOIN surv USING (vec_id)),
        |m AS (SELECT cluster, pos, avg(x) AS cx FROM ex GROUP BY 1, 2),
        |c1 AS (
        |  SELECT ct.cell, coalesce(mm.v1, ct.cv) AS cv
        |  FROM cent2 ct LEFT JOIN (
        |    SELECT cluster AS cell, list(cx ORDER BY pos) AS v1
        |    FROM m GROUP BY 1) mm USING (cell)),
        |sims3 AS (
        |  SELECT surv.vec_id, c.cell,
        |         round(list_cosine_similarity(surv.v, c.cv), 6) AS sim
        |  FROM surv CROSS JOIN c1 c),
        |best3 AS (SELECT vec_id, max(sim) AS best FROM sims3 GROUP BY 1),
        |l AS (
        |  SELECT q.vec_id, CAST(min(q.cell) AS INTEGER) AS cluster,
        |         max(q.sim) AS centroid_sim
        |  FROM sims3 q JOIN best3 b ON b.vec_id = q.vec_id AND q.sim = b.best
        |  GROUP BY 1),
        |r AS (
        |  SELECT vec_id, cluster, centroid_sim,
        |         row_number() OVER (PARTITION BY cluster
        |           ORDER BY centroid_sim DESC, vec_id) AS proto_rank,
        |         count(*) OVER (PARTITION BY cluster) AS n_cell
        |  FROM l),
        |keep AS (
        |  SELECT * FROM r
        |  WHERE NOT (proto_rank <= ceil(0.25 * n_cell)
        |             OR proto_rank > n_cell - floor(0.10 * n_cell))),
        |cb AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY cluster
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER)
        |    AS cell_rank
        |  FROM keep)
        |SELECT vec_id, cluster, centroid_sim + 0.0 AS centroid_sim,
        |       CAST(proto_rank AS BIGINT) AS proto_rank,
        |       CAST(n_cell AS BIGINT) AS n_cell, cell_rank
        |FROM cb WHERE cell_rank <= 30 ORDER BY vec_id""".stripMargin,

    "contamination_ngram" ->
      """WITH t AS (
        |  SELECT doc_id + 2000000 AS test_id, text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000,
        |         array_to_string(
        |           string_split_regex(text, '\s+')[1:greatest(
        |             CAST(floor(len(string_split_regex(text, '\s+')) / 2)
        |                  AS INTEGER), 1)], ' ')
        |           || ' zq zw ze zr zt zy zu zi zo zp'
        |  FROM documents WHERE doc_id % 10 = 5
        |  UNION ALL
        |  SELECT doc_id + 4000000, reverse(text)
        |  FROM documents WHERE doc_id % 10 = 7),
        |trw AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS w FROM documents),
        |trg AS (
        |  SELECT DISTINCT unnest(
        |           CASE WHEN len(w) >= 8 THEN
        |             list_distinct(list_transform(range(len(w) - 7),
        |               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |                    w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
        |                    w[i+7] || ' ' || w[i+8]))
        |           ELSE [array_to_string(w, ' ')] END) AS g
        |  FROM trw),
        |tsh AS (
        |  SELECT test_id,
        |         CASE WHEN len(w) >= 8 THEN
        |           list_distinct(list_transform(range(len(w) - 7),
        |             i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |                  w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
        |                  w[i+7] || ' ' || w[i+8]))
        |         ELSE [array_to_string(w, ' ')] END AS sh
        |  FROM (SELECT test_id, string_split_regex(lower(text), '\s+') AS w
        |        FROM t)),
        |tg AS (
        |  SELECT test_id, len(sh) AS n_test_ngrams, unnest(sh) AS g
        |  FROM tsh)
        |SELECT tg.test_id,
        |       CAST(tg.n_test_ngrams AS INTEGER) AS n_test_ngrams,
        |       CAST(count(*) AS BIGINT) AS n_shared_ngrams,
        |       round(count(*) * 1.0 / tg.n_test_ngrams, 6) + 0.0
        |         AS share_frac
        |FROM tg JOIN trg ON trg.g = tg.g
        |GROUP BY tg.test_id, tg.n_test_ngrams ORDER BY 1""".stripMargin,

    // identical to the exact equi-join run over the whole corpus: the
    // Bloom stage only prunes cost, never rows (no false negatives +
    // exact confirm)
    "contamination_bloom_verified" ->
      """WITH bw AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS w
        |  FROM documents WHERE doc_id % 10 = 0),
        |bg AS (
        |  SELECT DISTINCT unnest(
        |           CASE WHEN len(w) >= 8 THEN
        |             list_distinct(list_transform(range(len(w) - 7),
        |               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |                    w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
        |                    w[i+7] || ' ' || w[i+8]))
        |           ELSE [array_to_string(w, ' ')] END) AS g
        |  FROM bw),
        |csh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 8 THEN
        |           list_distinct(list_transform(range(len(w) - 7),
        |             i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
        |                  w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' ||
        |                  w[i+7] || ' ' || w[i+8]))
        |         ELSE [array_to_string(w, ' ')] END AS sh
        |  FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        |        FROM documents)),
        |cg AS (
        |  SELECT doc_id, len(sh) AS n_test_ngrams, unnest(sh) AS g
        |  FROM csh)
        |SELECT cg.doc_id AS test_id,
        |       CAST(cg.n_test_ngrams AS INTEGER) AS n_test_ngrams,
        |       CAST(count(*) AS BIGINT) AS n_shared_ngrams,
        |       round(count(*) * 1.0 / cg.n_test_ngrams, 6) + 0.0
        |         AS share_frac
        |FROM cg JOIN bg ON bg.g = cg.g
        |GROUP BY cg.doc_id, cg.n_test_ngrams ORDER BY 1""".stripMargin,

    // span-grain decontamination: starts = corpus positions whose exact
    // 8-gram occurs in the benchmark (every 10th doc); complement-interval
    // rebuild identical to repeated_ngram_trim's at n=8
    "contamination_scrub" ->
      """WITH bw AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS w
        |  FROM documents WHERE doc_id % 10 = 0),
        |bg AS (
        |  SELECT DISTINCT unnest(list_transform(range(len(w) - 7),
        |           i -> array_to_string(w[i+1:i+8], ' '))) AS gram
        |  FROM bw WHERE len(w) >= 8),
        |t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w,
        |         string_split_regex(lower(text), '\s+') AS lw
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, s['pos'] AS pos, s['gram'] AS gram FROM (
        |    SELECT doc_id, unnest(list_transform(range(len(lw) - 7),
        |      i -> {'pos': i + 1,
        |            'gram': array_to_string(lw[i+1:i+8], ' ')})) AS s
        |    FROM t WHERE len(lw) >= 8)),
        |st AS (SELECT doc_id, list_sort(list(pos)) AS starts
        |       FROM p JOIN bg USING (gram) GROUP BY doc_id),
        |j AS (SELECT t.doc_id, w,
        |        coalesce(st.starts, CAST([] AS BIGINT[])) AS starts
        |      FROM t LEFT JOIN st ON t.doc_id = st.doc_id),
        |k AS (SELECT doc_id, len(w) AS n_tokens, starts,
        |        list_filter(list_transform(range(len(w)),
        |            q -> {'p': q + 1, 'tok': w[CAST(q + 1 AS INTEGER)]}),
        |          s -> len(list_filter(starts,
        |            z -> s['p'] >= z AND s['p'] < z + 8)) = 0) AS kept
        |      FROM j)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |       CAST(CASE WHEN len(starts) = 0 THEN 0
        |            ELSE 1 + len(list_filter(range(len(starts) - 1),
        |              i -> starts[CAST(i + 2 AS INTEGER)]
        |                   - starts[CAST(i + 1 AS INTEGER)] > 8))
        |            END AS INTEGER) AS n_spans_removed,
        |       CAST(n_tokens - len(kept) AS INTEGER) AS n_removed_tokens,
        |       coalesce(array_to_string(
        |         list_transform(kept, s -> s['tok']), ' '), '') AS kept_text
        |FROM k ORDER BY doc_id""".stripMargin,

    // cross-source duplicate-overlap matrix over canonical fingerprints;
    // the seeded copies mirror the Spark entry's next-source remap
    "source_overlap" ->
      """WITH d AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'src' || CAST((CAST(regexp_extract(source, '(\d+)', 1)
        |           AS INTEGER) + 1) % 20 AS VARCHAR), text
        |  FROM documents WHERE doc_id % 7 = 0),
        |fp AS (
        |  SELECT DISTINCT source AS src,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
        |  FROM d),
        |s AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM fp GROUP BY 1),
        |sh AS (SELECT a.src AS src_a, b.src AS src_b,
        |              CAST(count(*) AS BIGINT) AS ns
        |       FROM fp a JOIN fp b ON a.f = b.f AND a.src < b.src
        |       GROUP BY 1, 2)
        |SELECT sa.src AS src_a, sb.src AS src_b, sa.n AS n_a, sb.n AS n_b,
        |       CAST(coalesce(sh.ns, 0) AS BIGINT) AS n_shared,
        |       round(coalesce(sh.ns, 0) * 1.0
        |         / (sa.n + sb.n - coalesce(sh.ns, 0)), 6) + 0.0 AS jaccard
        |FROM s sa JOIN s sb ON sa.src < sb.src
        |LEFT JOIN sh ON sh.src_a = sa.src AND sh.src_b = sb.src
        |ORDER BY 1, 2""".stripMargin,

    "daily_quantiles" ->
      """SELECT event_type AS symbol,
        |       epoch_ms(date_trunc('day', ts)) AS day_ms,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.9), 6) AS p90,
        |       round(quantile_cont(value, 0.99), 6) AS p99,
        |       CAST(count(value) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ngram_freq" ->
      """WITH t AS (
        |  SELECT string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT unnest(list_transform(range(len(toks) - 1),
        |         i -> toks[i+1] || ' ' || toks[i+2])) AS ngram
        |  FROM t WHERE len(toks) >= 2)
        |SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // the naive full-vocabulary plan: the engine's CMS-nominated exact
    // confirm must be hash-identical to it (CMS never underestimates)
    "heavy_hitters" ->
      """WITH tk AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '')) AS token
        |  FROM documents),
        |n AS (SELECT count(*) AS n_total FROM tk),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |      FROM tk GROUP BY 1)
        |SELECT token, cnt,
        |       round(CAST(cnt AS DOUBLE) / n_total, 6) + 0.0 AS share
        |FROM c, n WHERE cnt >= 200
        |ORDER BY cnt DESC, token""".stripMargin,

    "bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents),
        |wc AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM w WHERE word <> '' GROUP BY 1),
        |p0 AS (
        |  SELECT word, cnt,
        |         unnest(generate_series(1, length(word))) AS i
        |  FROM wc),
        |p AS (
        |  SELECT substr(word, i, 1) AS left_sym,
        |         CASE WHEN i < length(word) THEN substr(word, i + 1, 1)
        |              ELSE '</w>' END AS right_sym,
        |         cnt
        |  FROM p0),
        |agg AS (
        |  SELECT left_sym, right_sym, CAST(sum(cnt) AS BIGINT) AS pair_count
        |  FROM p GROUP BY 1, 2),
        |rk AS (
        |  SELECT CAST(row_number() OVER (
        |           ORDER BY pair_count DESC, left_sym ASC, right_sym ASC)
        |         AS INT) AS pair_rank,
        |         left_sym, right_sym, pair_count
        |  FROM agg)
        |SELECT pair_rank, left_sym, right_sym, pair_count
        |FROM rk WHERE pair_rank <= 100 ORDER BY pair_rank""".stripMargin,

    "unigram_seed" ->
      """WITH wd AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
        |    FROM documents)
        |  WHERE word <> '' GROUP BY 1),
        |pos AS (
        |  SELECT word, cnt, unnest(range(length(word))) AS i FROM wd),
        |pieces AS (
        |  SELECT cnt,
        |         unnest(list_transform(
        |           range(1, least(4, length(word) - i) + 1),
        |           l -> substr(word, i + 1, CAST(l AS INT)))) AS piece
        |  FROM pos),
        |pf AS (SELECT piece, CAST(sum(cnt) AS BIGINT) AS freq
        |       FROM pieces GROUP BY 1),
        |rk AS (
        |  SELECT CAST(row_number() OVER (ORDER BY freq DESC, piece ASC)
        |         AS INT) AS seed_rank, piece, freq
        |  FROM pf)
        |SELECT seed_rank, piece, freq
        |FROM rk WHERE seed_rank <= 100 ORDER BY 1""".stripMargin,

    "distinct_users" ->
      """SELECT event_type AS symbol,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "repetition_score" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
        |         i -> toks[i+1] || ' ' || toks[i+2])) AS ngram
        |  FROM t WHERE len(toks) >= 2),
        |c AS (
        |  SELECT doc_id, ngram, count(*) AS c FROM b GROUP BY 1, 2)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS n_ngrams,
        |       CAST(count(*) AS BIGINT) AS n_unique,
        |       round(1.0 - count(*) * 1.0 / sum(c), 6) AS repetition_ratio,
        |       round(max(c) * 1.0 / sum(c), 6) AS top_share
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "pii_redact" ->
      """WITH a AS (
        |  SELECT doc_id,
        |         text || ' contact u' || CAST(doc_id AS VARCHAR)
        |           || '@mail.com tel 555-'
        |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |           || CASE WHEN doc_id % 3 = 0
        |              THEN ' cc admin' || CAST(doc_id AS VARCHAR)
        |                   || '@backup.org'
        |              ELSE '' END AS aug
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(aug, '[a-z0-9]+@[a-z.]+'))
        |            AS INTEGER) AS n_emails,
        |       CAST(len(regexp_extract_all(aug, '\d{3}-\d{4}'))
        |            AS INTEGER) AS n_phones,
        |       md5(regexp_replace(
        |             regexp_replace(aug, '[a-z0-9]+@[a-z.]+', '<EMAIL>', 'g'),
        |             '\d{3}-\d{4}', '<PHONE>', 'g')) AS redacted_fp
        |FROM a ORDER BY 1""".stripMargin,

    "pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4)))
        |             AS DOUBLE), 4) AS sum_qty,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
        |             AS DOUBLE), 4) AS sum_base_price,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(24,4))
        |             * CAST(1.0 - l_discount AS DECIMAL(12,10)))
        |             AS DOUBLE), 4) AS sum_disc_price,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(24,4))
        |             * CAST((1.0 - l_discount) * (1.0 + l_tax)
        |                    AS DECIMAL(12,10)))
        |             AS DOUBLE), 4) AS sum_charge,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "revenue_by_nation" ->
      """SELECT n.n_name,
        |       round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(24,4))
        |             * CAST(1.0 - l.l_discount AS DECIMAL(12,10)))
        |             AS DOUBLE), 4) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "topk_docs" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         string_split_regex(lower(text), '\s+') AS toks,
        |         length(text) AS n_chars,
        |         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |           AS punct
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, lang,
        |         least(1.0, len(toks) / 20.0)
        |           * (1.0 - CAST(punct AS DOUBLE) / nullif(n_chars, 0))
        |           * least(1.0, (CAST(len(list_filter(toks, x -> list_contains(
        |               ['the','a','an','and','of','to','in','is','it','that'],
        |               x))) AS DOUBLE) / nullif(len(toks), 0)) * 4.0)
        |           AS quality_score
        |  FROM t),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |            ORDER BY quality_score DESC, doc_id) AS INTEGER) AS rank
        |  FROM u)
        |SELECT lang, rank, doc_id, round(quality_score, 6) AS quality_score
        |FROM r WHERE rank <= 3 ORDER BY 1, 2""".stripMargin,
    "atr" ->
      s"""$H1Cte,
        |t AS (
        |  SELECT symbol, bar_ts_ms, high, low, close,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms) AS prev_c
        |  FROM h1),
        |trt AS (
        |  SELECT symbol, bar_ts_ms,
        |         CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS tr
        |  FROM t)
        |SELECT symbol, bar_ts_ms, round(tr, 6) AS tr,
        |       round(CASE WHEN count(tr) OVER w14 = 14
        |             THEN avg(tr) OVER w14 END, 6) AS atr
        |FROM trt
        |WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |ORDER BY 1, 2""".stripMargin,

    "rolling_stats" ->
      s"""$H1Cte
        |SELECT symbol, bar_ts_ms,
        |       round(CASE WHEN count(close) OVER w = 20
        |             THEN avg(close) OVER w END, 6) AS roll_mean,
        |       round(CASE WHEN count(close) OVER w = 20
        |             THEN stddev_pop(close) OVER w END, 6) AS roll_std,
        |       round(CASE WHEN count(close) OVER w = 20
        |             THEN min(close) OVER w END, 6) AS roll_min,
        |       round(CASE WHEN count(close) OVER w = 20
        |             THEN max(close) OVER w END, 6) AS roll_max,
        |       round(((CASE WHEN count(close) OVER w = 20
        |                THEN avg(close) OVER w END
        |               + 2.0 * CASE WHEN count(close) OVER w = 20
        |                       THEN stddev_pop(close) OVER w END)
        |              - (CASE WHEN count(close) OVER w = 20
        |                 THEN avg(close) OVER w END
        |               - 2.0 * CASE WHEN count(close) OVER w = 20
        |                       THEN stddev_pop(close) OVER w END))
        |             / nullif(CASE WHEN count(close) OVER w = 20
        |                      THEN avg(close) OVER w END, 0), 6) AS bb_width
        |FROM h1
        |WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |ORDER BY 1, 2""".stripMargin,

    "vwap_zscore" ->
      s"""$H1Cte,
        |v AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         sum((high + low + close) / 3.0 * coalesce(volume, 0)) OVER cum
        |           / nullif(sum(coalesce(volume, 0)) OVER cum, 0) AS vwap
        |  FROM h1
        |  WINDOW cum AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |d AS (
        |  SELECT symbol, bar_ts_ms, vwap,
        |         (close - vwap) / nullif(vwap, 0) AS vwap_dist
        |  FROM v)
        |SELECT symbol, bar_ts_ms, round(vwap, 6) AS vwap,
        |       round(vwap_dist, 6) + 0.0 AS vwap_dist,
        |       round((vwap_dist -
        |              CASE WHEN count(vwap_dist) OVER w24 >= 12
        |                   THEN avg(vwap_dist) OVER w24 END)
        |             / (CASE WHEN count(vwap_dist) OVER w24 >= 12
        |                THEN stddev_pop(vwap_dist) OVER w24 END + 1e-12),
        |             6) + 0.0 AS vwap_dist_z
        |FROM d
        |WINDOW w24 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        |ORDER BY 1, 2""".stripMargin,

    "efficiency_ratio" ->
      s"""$H1Cte,
        |d AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         abs(close - lag(close) OVER w) AS adiff,
        |         lag(close, 10) OVER w AS close_n
        |  FROM h1
        |  WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts_ms))
        |SELECT symbol, bar_ts_ms,
        |       round(abs(close - close_n)
        |             / nullif(CASE WHEN count(adiff) OVER wn = 10
        |                      THEN sum(adiff) OVER wn END, 0), 6) AS er
        |FROM d
        |WINDOW wn AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        |ORDER BY 1, 2""".stripMargin,

    // The period frame composes the already-oracled atr / efficiency_ratio /
    // vwap_zscore feature chains, then folds each day to OHLC + last
    // non-null feature. DuckDB's arg_max skips NULL args, which is exactly
    // the pandas-.last() null semantics periodFrame implements; day
    // truncation on an epoch-ms UTC grid is modular arithmetic.
    "regime_frame" ->
      s"""$H1FeatCte
        |SELECT symbol,
        |       (bar_ts_ms // 86400000) * 86400000 AS period_ms,
        |       arg_min(open, bar_ts_ms) AS open,
        |       max(high) AS high,
        |       min(low) AS low,
        |       arg_max(close, bar_ts_ms) AS close,
        |       round(arg_max(atr_pct, bar_ts_ms), 6) + 0.0 AS atr_pct,
        |       round(arg_max(er, bar_ts_ms), 6) + 0.0 AS er,
        |       round(arg_max(vwap_dist_z, bar_ts_ms), 6) + 0.0 AS vwap_dist_z
        |FROM feat
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "regime_frame_week" ->
      s"""$H1FeatCte
        |SELECT symbol,
        |       epoch_ms(date_trunc('week', make_timestamp(bar_ts_ms * 1000)))
        |         AS period_ms,
        |       arg_min(open, bar_ts_ms) AS open,
        |       max(high) AS high,
        |       min(low) AS low,
        |       arg_max(close, bar_ts_ms) AS close,
        |       round(arg_max(atr_pct, bar_ts_ms), 6) + 0.0 AS atr_pct,
        |       round(arg_max(er, bar_ts_ms), 6) + 0.0 AS er,
        |       round(arg_max(vwap_dist_z, bar_ts_ms), 6) + 0.0 AS vwap_dist_z
        |FROM feat
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ml_filter_frame" ->
      s"""$H1FeatCte,
        |lab AS (
        |  SELECT symbol, bar_ts_ms, atr_pct, er, vwap_dist_z,
        |         lead(close) OVER w AS next_c,
        |         CAST(CASE WHEN lead(close) OVER w > close
        |              THEN 1 ELSE 0 END AS DOUBLE) AS label
        |  FROM feat
        |  WINDOW w AS (PARTITION BY symbol ORDER BY bar_ts_ms))
        |SELECT symbol, bar_ts_ms,
        |       round(atr_pct, 6) + 0.0 AS atr_pct,
        |       round(er, 6) + 0.0 AS er,
        |       round(vwap_dist_z, 6) + 0.0 AS vwap_dist_z,
        |       label
        |FROM lab
        |WHERE next_c IS NOT NULL AND atr_pct IS NOT NULL
        |  AND er IS NOT NULL AND vwap_dist_z IS NOT NULL
        |ORDER BY symbol, bar_ts_ms""".stripMargin,

    "quality_labels" ->
      """WITH c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_neg
        |  FROM documents)
        |SELECT doc_id, source,
        |       CAST(CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END
        |            AS DOUBLE) AS label
        |FROM documents, c
        |WHERE source = 'src0' OR
        |  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |       AS UBIGINT) % 10000
        |    < least(1.0, 2.0 * n_pos / greatest(n_neg, 1)) * 10000
        |ORDER BY 1""".stripMargin,

    "corpus_pipeline_v2" ->
      raw"""WITH ${gateSql("documents")},
        |${decontamSpanSql("gate")},
        |sk AS (
        |  SELECT doc_id, n_spans, n_removed, kept_text,
        |         md5('v2' || ':' || CAST(doc_id AS VARCHAR)) AS skey
        |  FROM sd WHERE kept_text <> ''),
        |sh2 AS (
        |  SELECT *, CAST(CAST('0x' || substr(skey, 1, 8) AS UBIGINT) % 4
        |                 AS INTEGER) AS shard
        |  FROM sk)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |            ORDER BY skey, doc_id) AS BIGINT) AS pos_in_shard,
        |       n_spans, n_removed,
        |       CAST(len(string_split_regex(kept_text, '\s+')) AS INTEGER)
        |         AS n_tokens
        |FROM sh2 ORDER BY 2, 3""".stripMargin,

    "corpus_pipeline_v3" ->
      raw"""WITH RECURSIVE ${gateSql("documents")},
        |${decontamSpanSql("gate")},
        |sv AS (
        |  SELECT sd.doc_id, sd.n_spans, sd.n_removed, sd.kept_text,
        |         d.source
        |  FROM sd JOIN documents d USING (doc_id)
        |  WHERE sd.kept_text <> ''),
        |${clusterSql("sv", "kept_text")},
        |canon AS (
        |  SELECT sv.*, sz3.cluster_size
        |  FROM sv JOIN lab3 USING (doc_id) JOIN sz3 USING (cluster_id)
        |  WHERE sv.doc_id = lab3.cluster_id),
        |${dsirSql("kept_text")},
        |fin AS (
        |  SELECT c.doc_id, c.n_spans, c.n_removed, c.kept_text,
        |         c.cluster_size, i.avg_log_weight,
        |         md5('v3' || ':' || CAST(c.doc_id AS VARCHAR)) AS skey
        |  FROM canon c
        |  JOIN iw3 i USING (doc_id) CROSS JOIN thr3 t
        |  WHERE i.avg_log_weight >= t.thr),
        |sh23 AS (
        |  SELECT *, CAST(CAST('0x' || substr(skey, 1, 8) AS UBIGINT) % 4
        |                 AS INTEGER) AS shard
        |  FROM fin)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |            ORDER BY skey, doc_id) AS BIGINT) AS pos_in_shard,
        |       cluster_size, n_spans, n_removed, avg_log_weight,
        |       CAST(len(string_split_regex(kept_text, '\s+')) AS INTEGER)
        |         AS n_tokens
        |FROM sh23 ORDER BY 2, 3""".stripMargin,

    "corpus_pipeline_v4" ->
      raw"""WITH RECURSIVE ${gateSql("documents")},
        |${decontamSpanSql("gate")},
        |sv AS (
        |  SELECT sd.doc_id, sd.n_spans, sd.n_removed, sd.kept_text,
        |         d.source
        |  FROM sd JOIN documents d USING (doc_id)
        |  WHERE sd.kept_text <> ''),
        |${trimSql},
        |${clusterSql("trv", "trim_text")},
        |canon AS (
        |  SELECT trv.doc_id, trv.n_trim_removed, trv.trim_text,
        |         sv.n_spans, sv.n_removed, sv.source, sz3.cluster_size
        |  FROM trv JOIN sv USING (doc_id)
        |  JOIN lab3 USING (doc_id) JOIN sz3 USING (cluster_id)
        |  WHERE trv.doc_id = lab3.cluster_id),
        |${dsirSql("trim_text")},
        |fin AS (
        |  SELECT c.doc_id, c.n_spans, c.n_removed, c.n_trim_removed,
        |         c.trim_text, c.cluster_size, i.avg_log_weight,
        |         md5('v4' || ':' || CAST(c.doc_id AS VARCHAR)) AS skey
        |  FROM canon c
        |  JOIN iw3 i USING (doc_id) CROSS JOIN thr3 t
        |  WHERE i.avg_log_weight >= t.thr),
        |sh23 AS (
        |  SELECT *, CAST(CAST('0x' || substr(skey, 1, 8) AS UBIGINT) % 4
        |                 AS INTEGER) AS shard
        |  FROM fin)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |            ORDER BY skey, doc_id) AS BIGINT) AS pos_in_shard,
        |       cluster_size, n_spans, n_removed, n_trim_removed,
        |       avg_log_weight,
        |       CAST(len(string_split_regex(trim_text, '\s+')) AS INTEGER)
        |         AS n_tokens
        |FROM sh23 ORDER BY 2, 3""".stripMargin,

    "corpus_pipeline_v5" ->
      raw"""WITH RECURSIVE inj AS (
        |  SELECT doc_id, source, n_chars,
        |         text
        |         || (CASE WHEN doc_id % 7 = 0
        |                  THEN '. - subscribe now...' ELSE '' END)
        |         || (CASE WHEN doc_id % 11 = 0
        |                  THEN '. 12 345 6789' ELSE '' END) AS text
        |  FROM documents),
        |u5 AS (
        |  SELECT doc_id, n_chars,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'Data.Example.COM'
        |             ELSE 'data.example.com' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
        |    || '/corpus/doc-' || (doc_id // 3)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0
        |             THEN '?id=' || (doc_id // 3) || '&v=2&utm_source=feed'
        |             WHEN doc_id % 3 = 1
        |             THEN '?v=2&utm_source=feed&id=' || (doc_id // 3)
        |             ELSE '?utm_medium=rss&id=' || (doc_id // 3) || '&v=2'
        |        END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#sec-' || doc_id ELSE '' END)
        |      AS url
        |  FROM inj),
        |q5 AS (
        |  SELECT doc_id, n_chars, url,
        |    array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(regexp_replace(trim(url),
        |        '#.*$$', ''), '\?(.*)$$', 1), '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[a-zA-Z0-9_]*|gclid|fbclid|ref|mc_cid|mc_eid)='))),
        |      '&') AS qq
        |  FROM u5),
        |c5 AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(regexp_replace(regexp_replace(trim(url),
        |        '#.*$$', ''), '\?.*$$', ''),
        |        '^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*)', 1)),
        |      '^(http://[^/:]+):80$$', '\1'), '^(https://[^/:]+):443$$', '\1')
        |    || regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |         trim(url), '#.*$$', ''), '\?.*$$', ''),
        |         '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*', ''), '/+$$', '')
        |    || (CASE WHEN qq <> '' THEN '?' || qq ELSE '' END)
        |      AS canonical_url
        |  FROM q5),
        |surv AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY canonical_url
        |           ORDER BY n_chars DESC, doc_id) AS rn
        |    FROM c5)
        |  WHERE rn = 1),
        |${gateSql("inj JOIN surv USING (doc_id)")},
        |ln5 AS (
        |  SELECT doc_id, generate_subscripts(pieces, 1) - 1 AS pos,
        |         unnest(pieces) AS line
        |  FROM (SELECT doc_id, string_split_regex(text, '\. ') AS pieces
        |        FROM gate)),
        |fl5 AS (
        |  SELECT doc_id, pos, line,
        |         CAST(length(line) AS BIGINT) AS chars,
        |         CASE WHEN regexp_matches(trim(line), '^[-*•]')
        |              THEN 1 ELSE 0 END AS fb,
        |         CASE WHEN regexp_matches(trim(line), '(\.\.\.|…)$$')
        |              THEN 1 ELSE 0 END AS fe,
        |         CASE WHEN len(list_filter(
        |                string_split_regex(trim(line), '\s+'),
        |                x -> x <> '')) < 3 THEN 1 ELSE 0 END AS fs,
        |         CASE WHEN length(regexp_replace(line, '[^A-Za-z]', '', 'g')) > 0
        |               AND CAST(length(regexp_replace(line, '[^A-Z]', '', 'g'))
        |                        AS DOUBLE)
        |                   / length(regexp_replace(line, '[^A-Za-z]', '', 'g'))
        |                   > 0.6
        |              THEN 1 ELSE 0 END AS fu,
        |         CASE WHEN regexp_matches(trim(line), '^[0-9\s.,;:%()\-]+$$')
        |               AND regexp_matches(trim(line), '[0-9]')
        |              THEN 1 ELSE 0 END AS fn
        |  FROM ln5),
        |f25 AS (
        |  SELECT *, CASE WHEN fb + fe + fs + fu + fn > 0 THEN 1 ELSE 0 END
        |              AS flag
        |  FROM fl5),
        |lq AS (
        |  SELECT doc_id,
        |         CAST(sum(flag) AS BIGINT) AS n_line_flagged,
        |         coalesce(string_agg(CASE WHEN flag = 0 THEN line END, '. '
        |                             ORDER BY pos), '') AS text
        |  FROM f25 GROUP BY 1
        |  HAVING round(coalesce(
        |           CAST(sum(CASE WHEN flag = 1 THEN chars END) AS DOUBLE)
        |             / nullif(sum(chars), 0), 0.0), 6) <= 0.5
        |     AND coalesce(string_agg(CASE WHEN flag = 0 THEN line END, '. '
        |                             ORDER BY pos), '') <> ''),
        |${decontamSpanSql("lq")},
        |sv AS (
        |  SELECT sd.doc_id, sd.n_spans, sd.n_removed, sd.kept_text,
        |         d.source, l.n_line_flagged
        |  FROM sd JOIN documents d USING (doc_id)
        |  JOIN lq l USING (doc_id)
        |  WHERE sd.kept_text <> ''),
        |${trimSql},
        |${clusterSql("trv", "trim_text")},
        |canon AS (
        |  SELECT trv.doc_id, trv.n_trim_removed, trv.trim_text,
        |         sv.n_spans, sv.n_removed, sv.n_line_flagged, sv.source,
        |         sz3.cluster_size
        |  FROM trv JOIN sv USING (doc_id)
        |  JOIN lab3 USING (doc_id) JOIN sz3 USING (cluster_id)
        |  WHERE trv.doc_id = lab3.cluster_id),
        |${dsirSql("trim_text")},
        |fin AS (
        |  SELECT c.doc_id, c.n_spans, c.n_removed, c.n_line_flagged,
        |         c.n_trim_removed,
        |         c.trim_text, c.cluster_size, i.avg_log_weight,
        |         md5('v5' || ':' || CAST(c.doc_id AS VARCHAR)) AS skey
        |  FROM canon c
        |  JOIN iw3 i USING (doc_id) CROSS JOIN thr3 t
        |  WHERE i.avg_log_weight >= t.thr),
        |sh23 AS (
        |  SELECT *, CAST(CAST('0x' || substr(skey, 1, 8) AS UBIGINT) % 4
        |                 AS INTEGER) AS shard
        |  FROM fin)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard
        |            ORDER BY skey, doc_id) AS BIGINT) AS pos_in_shard,
        |       cluster_size, n_spans, n_removed, n_line_flagged,
        |       n_trim_removed,
        |       avg_log_weight,
        |       CAST(len(string_split_regex(trim_text, '\s+')) AS INTEGER)
        |         AS n_tokens
        |FROM sh23 ORDER BY 2, 3""".stripMargin,

    "text_normalize" ->
      raw"""WITH m AS (
        |  SELECT doc_id,
        |         '<div class="doc">' || text || '</div> &amp; <br/>' ||
        |         chr(1) || ' tail &lt;EOS&gt;' AS raw
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, raw,
        |         ${normSql("raw")} AS norm_text
        |  FROM m)
        |SELECT doc_id, norm_text,
        |       CAST(length(raw) AS BIGINT) AS n_chars_raw,
        |       CAST(length(norm_text) AS BIGINT) AS n_chars_norm
        |FROM n ORDER BY 1""".stripMargin,

    "html_extract" ->
      raw"""WITH page AS (
        |  SELECT doc_id,
        |         '<html><head><title>Doc ' || doc_id || '</title>'
        |         || '<style>p{color:red}</style><script>var x=1;</script></head><body>'
        |         || '<nav><a href="/">Home</a> <a href="/a">Archive</a> <a href="/t">Tags</a></nav>'
        |         || '<h1>doc ' || doc_id || ' notes</h1>'
        |         || '<p>' || substr(text, 1, CAST(floor(length(text)/2) AS INT))
        |         || ' the of to in is it that and a an.</p>'
        |         || '<p>' || substr(text, CAST(floor(length(text)/2) AS INT) + 1, length(text)) || '</p>'
        |         || '<div>Share: <a href="#">Tweet</a> <a href="#">Like</a></div>'
        |         || '<footer>copyright 2024 ' || source || ' media group</footer>'
        |         || '</body></html>' AS html
        |  FROM documents),
        |${jusTextBlocksSql},
        |sc AS (
        |  SELECT doc_id, block_idx, block_text,
        |         length(block_text) AS n_chars,
        |         len(string_split_regex(lower(block_text), '\s+')) AS n_words,
        |         round(CAST(len(list_filter(string_split_regex(lower(block_text), '\s+'),
        |             x -> x IN ('the','a','an','and','of','to','in','is','it','that'))) AS DOUBLE)
        |           / len(string_split_regex(lower(block_text), '\s+')), 6) AS stop_frac,
        |         round(least(CAST(coalesce(list_sum(list_transform(
        |             regexp_extract_all(raw, '(?is)<a[^>]*>(.*?)</a>', 1),
        |             x -> length(trim(regexp_replace(x, '<[^>]*>', ' ', 'g'))))), 0) AS DOUBLE)
        |           / length(block_text), 1.0), 6) AS link_density
        |  FROM nb WHERE block_text <> ''),
        |${jusTextClassSql}
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_blocks,
        |       CAST(count(CASE WHEN cls_free = 'good' THEN 1 END) AS BIGINT) AS n_free_good,
        |       CAST(count(CASE WHEN cls_free = 'neargood' THEN 1 END) AS BIGINT) AS n_neargood,
        |       CAST(count(CASE WHEN cls_free = 'short' THEN 1 END) AS BIGINT) AS n_short,
        |       CAST(count(CASE WHEN cls_final = 'good' THEN 1 END) AS BIGINT) AS n_good,
        |       coalesce(string_agg(CASE WHEN cls_final = 'good' THEN block_text END,
        |         chr(10) ORDER BY block_idx), '') AS extracted_text,
        |       CAST(length(coalesce(string_agg(CASE WHEN cls_final = 'good' THEN block_text END,
        |         chr(10) ORDER BY block_idx), '')) AS BIGINT) AS extract_chars
        |FROM fin GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "ccnet_pipeline" ->
      raw"""WITH page AS (
        |  SELECT doc_id,
        |         '<html><head><title>Doc ' || doc_id || '</title>'
        |         || '<style>p{color:red}</style><script>var x=1;</script></head><body>'
        |         || '<nav><a href="/">Home</a> <a href="/a">Archive</a> <a href="/t">Tags</a></nav>'
        |         || '<h1>doc ' || doc_id || ' notes</h1>'
        |         || '<p>' || substr(text, 1, CAST(floor(length(text)/2) AS INT))
        |         || ' the of to in is it that and a an.</p>'
        |         || '<p>subscribe to our newsletter today. '
        |         || substr(text, CAST(floor(length(text)/2) AS INT) + 1, length(text)) || '</p>'
        |         || '<div>Share: <a href="#">Tweet</a> <a href="#">Like</a></div>'
        |         || '<footer>copyright 2024 ' || source || ' media group</footer>'
        |         || '</body></html>' AS html
        |  FROM documents),
        |${jusTextBlocksSql},
        |sc AS (
        |  SELECT doc_id, block_idx, block_text,
        |         length(block_text) AS n_chars,
        |         round(CAST(len(list_filter(string_split_regex(lower(block_text), '\s+'),
        |             x -> x IN ('the','a','an','and','of','to','in','is','it','that'))) AS DOUBLE)
        |           / len(string_split_regex(lower(block_text), '\s+')), 6) AS stop_frac,
        |         round(least(CAST(coalesce(list_sum(list_transform(
        |             regexp_extract_all(raw, '(?is)<a[^>]*>(.*?)</a>', 1),
        |             x -> length(trim(regexp_replace(x, '<[^>]*>', ' ', 'g'))))), 0) AS DOUBLE)
        |           / length(block_text), 1.0), 6) AS link_density
        |  FROM nb WHERE block_text <> ''),
        |${jusTextClassSql},
        |ex AS (
        |  SELECT f.doc_id,
        |         string_agg(CASE WHEN cls_final = 'good' THEN block_text END,
        |           chr(10) ORDER BY block_idx) AS text
        |  FROM fin f GROUP BY 1
        |  HAVING count(CASE WHEN cls_final = 'good' THEN 1 END) > 0),
        |endocs AS (
        |  SELECT ex.doc_id, ex.text, d.source IN ('src0','src1') AS tgt
        |  FROM ex JOIN documents d USING (doc_id)
        |  WHERE len(list_filter(string_split_regex(lower(ex.text), '\s+'),
        |          x -> list_contains(['the','a','an','and','of','to','in','is','it','that'], x)))
        |        >= greatest(
        |          len(list_filter(string_split_regex(lower(ex.text), '\s+'),
        |            x -> list_contains(['le','la','les','et','de','un','une','est','que','pour'], x))),
        |          len(list_filter(string_split_regex(lower(ex.text), '\s+'),
        |            x -> list_contains(['der','die','das','und','ist','ein','eine','zu','mit','von'], x))),
        |          len(list_filter(string_split_regex(lower(ex.text), '\s+'),
        |            x -> list_contains(['el','la','los','y','de','un','una','es','que','por'], x))))),
        |dd AS (
        |  SELECT doc_id, tgt, string_split_regex(lower(text), '\s+') AS ws
        |  FROM endocs),
        |bgf AS (
        |  SELECT doc_id, tgt,
        |         unnest(list_transform(range(len(ws) - 1),
        |           i -> struct_pack(w1 := ws[i+1], w2 := ws[i+2])),
        |           recursive := true)
        |  FROM dd WHERE len(ws) >= 2),
        |b2 AS (SELECT w1, w2, count(*) AS c2 FROM bgf WHERE tgt GROUP BY 1, 2),
        |b1 AS (SELECT w1, sum(c2) AS c1 FROM b2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v
        |      FROM (SELECT unnest(ws) AS w FROM dd WHERE tgt)),
        |pd AS (SELECT doc_id, w1, w2, count(*) AS c FROM bgf GROUP BY 1, 2, 3),
        |lms AS (
        |  SELECT pd.doc_id,
        |         round(exp(sum(-pd.c * ln((coalesce(b2.c2, 0) + 0.1)
        |                 / (coalesce(b1.c1, 0) + 0.1 * (v.v + 1))))
        |               / sum(pd.c)), 6) + 0.0 AS ppl
        |  FROM pd LEFT JOIN b2 USING (w1, w2) LEFT JOIN b1 USING (w1)
        |       CROSS JOIN v
        |  GROUP BY 1),
        |cuts AS (
        |  SELECT quantile_cont(ppl, 1.0/3) AS c1,
        |         quantile_cont(ppl, 2.0/3) AS c2
        |  FROM lms),
        |bk AS (
        |  SELECT l.doc_id, l.ppl,
        |         CASE WHEN l.ppl <= c.c1 THEN 'head'
        |              WHEN l.ppl <= c.c2 THEN 'middle'
        |              ELSE 'tail' END AS bucket
        |  FROM lms l CROSS JOIN cuts c),
        |sp AS (
        |  SELECT e.doc_id, b.ppl, b.bucket,
        |         generate_subscripts(pieces, 1) - 1 AS pos,
        |         unnest(pieces) AS span
        |  FROM (SELECT doc_id, string_split_regex(text, '\n|\. ') AS pieces
        |        FROM endocs) e JOIN bk b USING (doc_id)),
        |flag AS (
        |  SELECT doc_id, ppl, bucket, pos, span,
        |         row_number() OVER (PARTITION BY bucket, lower(trim(span))
        |                            ORDER BY doc_id, pos) AS rn
        |  FROM sp)
        |SELECT doc_id, ppl, bucket,
        |       CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN span END, '. '
        |                           ORDER BY pos), '') AS kept_text
        |FROM flag GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,

    "dedup_incremental" ->
      """WITH seen AS (
        |  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ',
        |                          'g'))) AS fp
        |  FROM documents WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
        |  UNION ALL
        |  SELECT doc_id + 5000000, text FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 6000000, text FROM documents WHERE doc_id % 3 = 1),
        |s AS (
        |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |           AS fingerprint,
        |         min(doc_id) AS keep_id,
        |         CAST(count(*) AS BIGINT) AS n_copies_in_batch
        |  FROM batch GROUP BY 1)
        |SELECT fingerprint, keep_id, n_copies_in_batch
        |FROM s WHERE fingerprint NOT IN (SELECT fp FROM seen)
        |ORDER BY 2""".stripMargin,

    "vocab_coverage" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split_regex(lower(trim(text)),
        |                '\s+'), x -> x <> '')) AS t
        |  FROM documents),
        |f AS (SELECT t, count(*) AS freq FROM tk GROUP BY 1),
        |v AS (SELECT t, 1 AS in_vocab FROM f
        |      ORDER BY freq DESC, t LIMIT 10)
        |SELECT tk.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_oov,
        |       round(sum(CASE WHEN v.in_vocab IS NULL THEN 1 ELSE 0 END)
        |             * 1.0 / count(*), 6) + 0.0 AS oov_frac
        |FROM tk LEFT JOIN v USING (t)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "curation_report" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |         list_filter(string_split_regex(trim(text), '\s+'),
        |                     x -> x <> '') AS toks,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |           AS fp
        |  FROM documents),
        |k AS (SELECT fp, min(doc_id) AS keep_id FROM t GROUP BY 1),
        |m AS (
        |  SELECT t.source,
        |         CAST(length(t.text) AS BIGINT) AS n_chars,
        |         CAST(len(t.toks) AS BIGINT) AS n_toks,
        |         CAST(t.doc_id <> k.keep_id AS INTEGER) AS is_dup,
        |         CAST(len(t.toks) BETWEEN 50 AND 100000
        |              AND coalesce(CAST(list_sum(list_transform(t.toks,
        |                    x -> length(x))) AS DOUBLE) / nullif(len(t.toks), 0)
        |                  BETWEEN 3.0 AND 10.0, false)
        |              AND coalesce(CAST(length(t.text)
        |                    - length(replace(t.text, '#', ''))
        |                    + (length(t.text)
        |                       - length(replace(t.text, '...', ''))) // 3
        |                    AS DOUBLE) / nullif(len(t.toks), 0) <= 0.1, false)
        |              AND coalesce(CAST(len(list_filter(t.toks,
        |                    x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |                  / nullif(len(t.toks), 0) >= 0.8, false)
        |              AS INTEGER) AS pass_gopher
        |  FROM t JOIN k USING (fp))
        |SELECT source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
        |       CAST(sum(n_toks) AS BIGINT) AS n_tokens_total,
        |       round(avg(n_toks), 6) + 0.0 AS mean_tokens,
        |       round(avg(is_dup), 6) + 0.0 AS dup_rate,
        |       round(avg(pass_gopher), 6) + 0.0 AS gopher_pass_rate
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    // identical term algebra to the engine (same smoothing, same
    // (p_a+p_b)/2 midpoint form) so the 6dp sums agree bit-for-bit
    "source_divergence" ->
      """WITH tk AS (
        |  SELECT source,
        |         unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                x -> x <> '')) AS token
        |  FROM documents),
        |ct AS (SELECT source, token, count(*) AS c FROM tk GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
        |        FROM ct GROUP BY 1),
        |pr AS (SELECT a.source AS src_a, b.source AS src_b
        |       FROM tot a, tot b WHERE a.source < b.source),
        |ptk AS (
        |  SELECT p.src_a, p.src_b, t.token,
        |         coalesce(ca.c, 0) AS c_a, coalesce(cb.c, 0) AS c_b
        |  FROM pr p
        |  CROSS JOIN (SELECT DISTINCT token FROM ct) t
        |  LEFT JOIN ct ca ON ca.source = p.src_a AND ca.token = t.token
        |  LEFT JOIN ct cb ON cb.source = p.src_b AND cb.token = t.token
        |  WHERE coalesce(ca.c, 0) + coalesce(cb.c, 0) > 0),
        |v AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS v_union,
        |             CAST(sum(CASE WHEN c_a > 0 AND c_b > 0 THEN 1 ELSE 0
        |                  END) AS BIGINT) AS v_shared
        |      FROM ptk GROUP BY 1, 2),
        |tm AS (
        |  SELECT k.src_a, k.src_b, v.v_union, v.v_shared,
        |         (k.c_a + 0.5) / (ta.n + 0.5 * v.v_union) AS p_a,
        |         (k.c_b + 0.5) / (tb.n + 0.5 * v.v_union) AS p_b
        |  FROM ptk k
        |  JOIN v USING (src_a, src_b)
        |  JOIN tot ta ON ta.source = k.src_a
        |  JOIN tot tb ON tb.source = k.src_b)
        |SELECT src_a, src_b, max(v_union) AS v_union,
        |       max(v_shared) AS v_shared,
        |       round(sum(p_a * log2(p_a / p_b)), 6) + 0.0 AS kl_ab,
        |       round(sum(p_b * log2(p_b / p_a)), 6) + 0.0 AS kl_ba,
        |       round(sum(p_a * log2(p_a / ((p_a + p_b) / 2)) / 2
        |             + p_b * log2(p_b / ((p_a + p_b) / 2)) / 2), 6) + 0.0
        |         AS js
        |FROM tm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ichimoku" ->
      s"""$H1Cte,
        |f AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         CASE WHEN count(high) OVER w9 = 9
        |           THEN (max(high) OVER w9 + min(low) OVER w9) / 2.0 END AS tenkan,
        |         CASE WHEN count(high) OVER w26 = 26
        |           THEN (max(high) OVER w26 + min(low) OVER w26) / 2.0 END AS kijun,
        |         CASE WHEN count(high) OVER w52 = 52
        |           THEN (max(high) OVER w52 + min(low) OVER w52) / 2.0 END AS ssb,
        |         row_number() OVER wk AS rn
        |  FROM h1
        |  WINDOW w9 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
        |         w26 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
        |         w52 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 51 PRECEDING AND CURRENT ROW),
        |         wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |g AS (SELECT *, (tenkan + kijun) / 2.0 AS ssa FROM f),
        |h AS (
        |  SELECT *,
        |         lag(ssa, 25) OVER wk AS ssa_vis,
        |         lag(ssb, 25) OVER wk AS ssb_vis,
        |         lag(close, 25) OVER wk AS close_lag
        |  FROM g WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |sc AS (
        |  SELECT *,
        |         CASE WHEN ssa > ssb THEN 1 ELSE 0 END
        |         + CASE WHEN close > greatest(ssa_vis, ssb_vis) THEN 1 ELSE 0 END
        |         + CASE WHEN close > close_lag THEN 1 ELSE 0 END
        |         + CASE WHEN tenkan > kijun THEN 1 ELSE 0 END AS bull_raw,
        |         CASE WHEN ssa < ssb THEN 1 ELSE 0 END
        |         + CASE WHEN close < least(ssa_vis, ssb_vis) THEN 1 ELSE 0 END
        |         + CASE WHEN close < close_lag THEN 1 ELSE 0 END
        |         + CASE WHEN tenkan < kijun THEN 1 ELSE 0 END AS bear_raw,
        |         (tenkan IS NOT NULL AND kijun IS NOT NULL AND ssa IS NOT NULL
        |          AND ssb IS NOT NULL AND ssa_vis IS NOT NULL
        |          AND ssb_vis IS NOT NULL AND close_lag IS NOT NULL
        |          AND rn >= 78) AS ready
        |  FROM h)
        |SELECT symbol, bar_ts_ms,
        |       CAST(CASE WHEN ready THEN bull_raw ELSE 0 END AS INTEGER)
        |         AS bull_score,
        |       CAST(CASE WHEN ready THEN bear_raw ELSE 0 END AS INTEGER)
        |         AS bear_score,
        |       CASE WHEN ready AND NOT (abs(bull_raw - bear_raw) < 1.0)
        |                 AND bull_raw >= 3 AND bull_raw > bear_raw THEN 'LONG'
        |            WHEN ready AND NOT (abs(bull_raw - bear_raw) < 1.0)
        |                 AND bear_raw >= 3 AND bear_raw > bull_raw THEN 'SHORT'
        |            ELSE 'NEUTRE' END AS label,
        |       CAST(CASE WHEN NOT ready THEN 0
        |            WHEN ready AND NOT (abs(bull_raw - bear_raw) < 1.0)
        |                 AND bull_raw >= 3 AND bull_raw > bear_raw THEN bull_raw
        |            WHEN ready AND NOT (abs(bull_raw - bear_raw) < 1.0)
        |                 AND bear_raw >= 3 AND bear_raw > bull_raw THEN bear_raw
        |            ELSE greatest(bull_raw, bear_raw) END AS INTEGER)
        |         AS score_display
        |FROM sc ORDER BY 1, 2""".stripMargin,

    "regime_router" ->
      s"""$H1Cte,
        |t AS (
        |  SELECT symbol, bar_ts_ms, high, low, close,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS prev_c
        |  FROM h1),
        |trc AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS trv
        |  FROM t),
        |a AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         CASE WHEN count(trv) OVER w14 = 14
        |           THEN avg(trv) OVER w14 END AS atr
        |  FROM trc
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |ap AS (SELECT *, atr / nullif(close, 0) AS atr_pct FROM a),
        |pc AS (
        |  -- non-null count gate (NOT len(arr)): DuckDB list() keeps NULLs,
        |  -- but pandas min_periods and Spark collect_list count non-null only
        |  SELECT * EXCLUDE (arr, nn),
        |         CASE WHEN nn = 48
        |           THEN len(list_filter(arr, y -> y <= atr_pct)) * 100.0 / 48
        |         END AS atr_pct_pctl
        |  FROM (SELECT *,
        |          list(atr_pct) OVER w48 AS arr,
        |          count(atr_pct) OVER w48 AS nn
        |        FROM ap
        |        WINDOW w48 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                       ROWS BETWEEN 47 PRECEDING AND CURRENT ROW))),
        |d AS (
        |  SELECT *,
        |         abs(close - lag(close) OVER wk) AS adiff,
        |         lag(close, 24) OVER wk AS close_n
        |  FROM pc WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |e AS (
        |  SELECT *,
        |         abs(close - close_n)
        |           / nullif(CASE WHEN count(adiff) OVER w24 = 24
        |                    THEN sum(adiff) OVER w24 END, 0) AS er
        |  FROM d
        |  WINDOW w24 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        |s AS (
        |  SELECT *,
        |         CASE WHEN count(close) OVER w20 = 20
        |           THEN avg(close) OVER w20 END AS sma20,
        |         CASE WHEN count(close) OVER w50 = 50
        |           THEN avg(close) OVER w50 END AS sma50,
        |         CASE WHEN count(close) OVER w200 = 200
        |           THEN avg(close) OVER w200 END AS sma200
        |  FROM e
        |  WINDOW w20 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
        |         w50 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
        |         w200 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                  ROWS BETWEEN 199 PRECEDING AND CURRENT ROW)),
        |g AS (
        |  SELECT *,
        |         CASE WHEN sma20 > sma50 AND sma50 > sma200 THEN 1 ELSE 0 END
        |           AS aligned_bull,
        |         CASE WHEN sma20 < sma50 AND sma50 < sma200 THEN 1 ELSE 0 END
        |           AS aligned_bear,
        |         ((sma50 - lag(sma50, 8) OVER wk) / 8.0) / nullif(atr, 0)
        |           AS slope50_norm
        |  FROM s WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms))
        |SELECT symbol, bar_ts_ms,
        |       round(er, 6) AS er,
        |       round(atr_pct_pctl, 6) AS atr_pct_pctl,
        |       aligned_bull, aligned_bear,
        |       round(0.5 * least(greatest(er, 0), 1)
        |             + 0.3 * (least(abs(slope50_norm), 5) / 5.0)
        |             + 0.2 * (aligned_bull + aligned_bear), 6) AS trend_score,
        |       CASE WHEN atr_pct_pctl >= 80.0 AND er <= 0.25 THEN 'CHAOS'
        |            WHEN er >= 0.45 AND (aligned_bull = 1 OR aligned_bear = 1
        |                 OR abs(slope50_norm) >= 1.0) THEN 'TREND'
        |            ELSE 'RANGE' END AS regime,
        |       CASE WHEN atr_pct_pctl >= 80.0 AND er <= 0.25 THEN 'OFF'
        |            WHEN er >= 0.45 AND (aligned_bull = 1 OR aligned_bear = 1
        |                 OR abs(slope50_norm) >= 1.0) THEN 'TREND'
        |            ELSE 'RANGE' END AS router_mode
        |FROM g ORDER BY 1, 2""".stripMargin,

    "funding_accrual" ->
      s"""$H1Cte,
        |rt AS (
        |  SELECT symbol,
        |         (bar_ts_ms // 28800000) * 28800000 AS bucket_ms,
        |         avg((close - open) / nullif(open, 0)) AS rate
        |  FROM h1 GROUP BY 1, 2),
        |cumt AS (
        |  SELECT symbol, bucket_ms + 28800000 AS pay_ms,
        |         sum(rate) OVER (PARTITION BY symbol ORDER BY bucket_ms
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS cum_funding
        |  FROM rt)
        |SELECT h1.symbol, h1.bar_ts_ms, cumt.pay_ms AS last_pay_ms,
        |       round(coalesce(cumt.cum_funding, 0.0), 6) AS cum_funding
        |FROM h1 ASOF LEFT JOIN cumt
        |  ON h1.symbol = cumt.symbol AND h1.bar_ts_ms >= cumt.pay_ms
        |ORDER BY 1, 2""".stripMargin,

    "range_boxes" ->
      s"""$H1Cte,
        |t AS (
        |  SELECT symbol, bar_ts_ms, high, low, close,
        |         lag(close) OVER wk AS prev_c
        |  FROM h1 WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |trc AS (
        |  SELECT symbol, bar_ts_ms, high, low, close,
        |         CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS trv
        |  FROM t),
        |a AS (
        |  SELECT symbol, bar_ts_ms, high, low, close,
        |         CASE WHEN count(trv) OVER w14 = 14
        |           THEN avg(trv) OVER w14 END AS atr
        |  FROM trc
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |s AS (
        |  SELECT *, CASE WHEN count(close) OVER w20 = 20
        |            THEN avg(close) OVER w20 END AS sma
        |  FROM a
        |  WINDOW w20 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |i AS (
        |  SELECT *, CASE WHEN sma IS NOT NULL AND atr IS NOT NULL
        |                  AND abs(close - sma) <= 1.0 * atr
        |            THEN 1 ELSE 0 END AS inside
        |  FROM s),
        |n AS (
        |  SELECT *, CASE WHEN inside = 0
        |                  OR coalesce(lag(inside) OVER wk, 0) = 0
        |            THEN 1 ELSE 0 END AS newrun
        |  FROM i WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |r AS (
        |  SELECT *, sum(newrun) OVER (PARTITION BY symbol ORDER BY bar_ts_ms
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM n)
        |SELECT symbol, min(bar_ts_ms) AS start_ms, max(bar_ts_ms) AS end_ms,
        |       CAST(count(*) AS BIGINT) AS n_bars,
        |       round(min(low), 6) AS box_low,
        |       round(max(high), 6) AS box_high
        |FROM r WHERE inside = 1
        |GROUP BY symbol, run HAVING count(*) >= 6
        |ORDER BY 1, 2""".stripMargin,

    "vol_regime" ->
      s"""$H1Cte,
        |rp AS (
        |  SELECT symbol, bar_ts_ms,
        |         (high - low) / nullif(close, 0) AS range_pct
        |  FROM h1),
        |pc AS (
        |  SELECT * EXCLUDE (arr, nn),
        |         CASE WHEN nn = 48
        |           THEN len(list_filter(arr, y -> y <= range_pct)) * 100.0 / 48
        |         END AS range_pctl
        |  FROM (SELECT *,
        |          list(range_pct) OVER w48 AS arr,
        |          count(range_pct) OVER w48 AS nn
        |        FROM rp
        |        WINDOW w48 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                       ROWS BETWEEN 47 PRECEDING AND CURRENT ROW)))
        |SELECT symbol, bar_ts_ms, round(range_pctl, 6) AS range_pctl,
        |       CASE WHEN range_pctl IS NULL THEN NULL
        |            WHEN range_pctl < 25.0 THEN 'LOW'
        |            WHEN range_pctl > 70.0 THEN 'HIGH'
        |            ELSE 'MID' END AS vol_state,
        |       CASE WHEN range_pctl IS NULL THEN NULL
        |            WHEN (CASE WHEN range_pctl < 25.0 THEN 'LOW'
        |                       WHEN range_pctl > 70.0 THEN 'HIGH'
        |                       ELSE 'MID' END) <> 'LOW' THEN 1 ELSE 0 END
        |         AS market_ready
        |FROM pc ORDER BY 1, 2""".stripMargin,

    "flat_levels" ->
      s"""$H1Cte,
        |k AS (
        |  SELECT symbol, bar_ts_ms,
        |         CASE WHEN count(high) OVER w26 = 26
        |           THEN (max(high) OVER w26 + min(low) OVER w26) / 2.0
        |         END AS kijun
        |  FROM h1
        |  WINDOW w26 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT *,
        |         CASE WHEN kijun IS NULL OR lag(kijun) OVER wk IS NULL
        |                   OR kijun <> lag(kijun) OVER wk
        |              THEN 1 ELSE 0 END AS newrun
        |  FROM k WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms)),
        |r AS (
        |  SELECT *, sum(newrun) OVER (PARTITION BY symbol ORDER BY bar_ts_ms
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM f)
        |SELECT symbol, round(min(kijun), 6) AS level,
        |       min(bar_ts_ms) AS start_ms, max(bar_ts_ms) AS end_ms,
        |       CAST(count(*) AS BIGINT) AS length_bars
        |FROM r WHERE kijun IS NOT NULL
        |GROUP BY symbol, run HAVING count(*) >= 3
        |ORDER BY 1, 3""".stripMargin,

    "mtf_join" ->
      s"""$H1Cte,
        |b AS (
        |  SELECT symbol,
        |         (bar_ts_ms // 14400000) * 14400000 AS bucket_ms,
        |         arg_max(close, bar_ts_ms) AS close
        |  FROM h1 GROUP BY 1, 2
        |  HAVING count(*) = 4 AND count(DISTINCT bar_ts_ms) = 4
        |     AND max(bar_ts_ms) - min(bar_ts_ms) = 10800000),
        |h4ctx AS (
        |  SELECT symbol, bucket_ms,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ms)
        |           AS h4_close
        |  FROM b),
        |m1 AS (
        |  SELECT event_type AS symbol,
        |         epoch_ms(date_trunc('minute', ts)) AS minute_ms,
        |         arg_max(value, event_id) AS close
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT symbol, epoch_ms(date_trunc('day', bar_ts)) AS day_ms,
        |         arg_max(close, bar_ts) AS close
        |  FROM (SELECT event_type AS symbol,
        |               date_trunc('minute', ts) AS bar_ts,
        |               arg_max(value, event_id) AS close
        |        FROM events GROUP BY 1, 2)
        |  GROUP BY 1, 2),
        |dayctx AS (
        |  SELECT symbol, day_ms,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY day_ms)
        |           AS day_close
        |  FROM d),
        |j1 AS (
        |  SELECT m1.symbol, m1.minute_ms, m1.close,
        |         h4ctx.bucket_ms AS h4_bucket_ms, h4ctx.h4_close
        |  FROM m1 ASOF LEFT JOIN h4ctx
        |    ON m1.symbol = h4ctx.symbol AND m1.minute_ms >= h4ctx.bucket_ms)
        |SELECT j1.symbol, j1.minute_ms, j1.close,
        |       j1.h4_bucket_ms, j1.h4_close,
        |       dayctx.day_ms AS day_bucket_ms, dayctx.day_close
        |FROM j1 ASOF LEFT JOIN dayctx
        |  ON j1.symbol = dayctx.symbol AND j1.minute_ms >= dayctx.day_ms
        |ORDER BY 1, 2""".stripMargin,

    "exact_dedup" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0),
        |fp AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |           AS fingerprint
        |  FROM all_docs)
        |SELECT fingerprint, min(doc_id) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_copies
        |FROM fp GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_keep_best" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, upper(text)
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, ' ' || replace(text, ' ', '  ')
        |  FROM documents WHERE doc_id % 5 = 0),
        |fp AS (
        |  SELECT doc_id, len(text) AS q,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |           AS fingerprint
        |  FROM all_docs),
        |r AS (
        |  SELECT fingerprint, doc_id, q,
        |         row_number() OVER (PARTITION BY fingerprint
        |                            ORDER BY q DESC, doc_id ASC) AS rn,
        |         count(*) OVER (PARTITION BY fingerprint) AS n
        |  FROM fp)
        |SELECT fingerprint, CAST(n AS BIGINT) AS n_copies,
        |       doc_id AS keep_id, CAST(q AS DOUBLE) + 0.0 AS keep_quality
        |FROM r WHERE rn = 1 ORDER BY fingerprint""".stripMargin,

    "url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'Data.Example.COM'
        |             ELSE 'data.example.com' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
        |    || '/corpus/doc-' || (doc_id // 3)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0
        |             THEN '?id=' || (doc_id // 3) || '&v=2&utm_source=feed'
        |             WHEN doc_id % 3 = 1
        |             THEN '?v=2&utm_source=feed&id=' || (doc_id // 3)
        |             ELSE '?utm_medium=rss&id=' || (doc_id // 3) || '&v=2'
        |        END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#sec-' || doc_id ELSE '' END)
        |      AS url
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, n_chars, url,
        |    array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(regexp_replace(trim(url),
        |        '#.*$', ''), '\?(.*)$', 1), '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[a-zA-Z0-9_]*|gclid|fbclid|ref|mc_cid|mc_eid)='))),
        |      '&') AS qq
        |  FROM u),
        |c AS (
        |  SELECT doc_id, n_chars, url,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(regexp_replace(regexp_replace(trim(url),
        |        '#.*$', ''), '\?.*$', ''),
        |        '^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*)', 1)),
        |      '^(http://[^/:]+):80$', '\1'), '^(https://[^/:]+):443$', '\1')
        |    || regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |         trim(url), '#.*$', ''), '\?.*$', ''),
        |         '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*', ''), '/+$', '')
        |    || (CASE WHEN qq <> '' THEN '?' || qq ELSE '' END)
        |      AS canonical_url
        |  FROM q),
        |g AS (
        |  SELECT canonical_url, count(*) AS n, count(DISTINCT url) AS nr
        |  FROM c GROUP BY 1),
        |r AS (
        |  SELECT canonical_url, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY canonical_url
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM c)
        |SELECT r.canonical_url, CAST(g.n AS BIGINT) AS n_copies,
        |       CAST(g.nr AS BIGINT) AS n_raw_forms,
        |       r.doc_id AS keep_id,
        |       CAST(r.n_chars AS DOUBLE) + 0.0 AS keep_quality
        |FROM r JOIN g USING (canonical_url)
        |WHERE rn = 1 ORDER BY canonical_url""".stripMargin,

    // the production upsert IS the full pass restricted to batch URLs
    // (keep-best is a commutative monoid), so the oracle computes the
    // union election + the history-only election and derives status
    "url_dedup_incremental" ->
      """WITH ad AS (
        |  SELECT doc_id, n_chars, 0 AS is_hist
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, n_chars, 0
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, n_chars, 1
        |  FROM documents WHERE doc_id % 3 <> 0),
        |u AS (
        |  SELECT doc_id, n_chars, is_hist,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
        |    || (CASE WHEN doc_id % 3 = 0 THEN 'Data.Example.COM'
        |             ELSE 'data.example.com' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
        |    || '/corpus/doc-' || (doc_id // 3)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 3 = 0
        |             THEN '?id=' || (doc_id // 3) || '&v=2&utm_source=feed'
        |             WHEN doc_id % 3 = 1
        |             THEN '?v=2&utm_source=feed&id=' || (doc_id // 3)
        |             ELSE '?utm_medium=rss&id=' || (doc_id // 3) || '&v=2'
        |        END)
        |    || (CASE WHEN doc_id % 6 = 0 THEN '#sec-' || doc_id ELSE '' END)
        |      AS url
        |  FROM ad),
        |q AS (
        |  SELECT doc_id, n_chars, is_hist, url,
        |    array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(regexp_replace(trim(url),
        |        '#.*$', ''), '\?(.*)$', 1), '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[a-zA-Z0-9_]*|gclid|fbclid|ref|mc_cid|mc_eid)='))),
        |      '&') AS qq
        |  FROM u),
        |c AS (
        |  SELECT doc_id, n_chars, is_hist,
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(regexp_replace(regexp_replace(trim(url),
        |        '#.*$', ''), '\?.*$', ''),
        |        '^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*)', 1)),
        |      '^(http://[^/:]+):80$', '\1'), '^(https://[^/:]+):443$', '\1')
        |    || regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |         trim(url), '#.*$', ''), '\?.*$', ''),
        |         '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/]*', ''), '/+$', '')
        |    || (CASE WHEN qq <> '' THEN '?' || qq ELSE '' END)
        |      AS canonical_url
        |  FROM q),
        |g AS (
        |  SELECT canonical_url, count(*) AS n, sum(is_hist) AS nh
        |  FROM c GROUP BY 1),
        |r AS (
        |  SELECT canonical_url, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY canonical_url
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM c),
        |rh AS (
        |  SELECT canonical_url, doc_id AS hid, n_chars AS hq,
        |    row_number() OVER (PARTITION BY canonical_url
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM c WHERE is_hist = 1),
        |bu AS (SELECT DISTINCT canonical_url FROM c WHERE is_hist = 0)
        |SELECT r.canonical_url, CAST(g.n AS BIGINT) AS n_copies,
        |       r.doc_id AS keep_id,
        |       CAST(r.n_chars AS DOUBLE) + 0.0 AS keep_quality,
        |       CASE WHEN g.nh = 0 THEN 'new'
        |            WHEN h.hid = r.doc_id AND h.hq = r.n_chars THEN 'kept'
        |            ELSE 'improved' END AS status
        |FROM r
        |JOIN g USING (canonical_url)
        |JOIN bu USING (canonical_url)
        |LEFT JOIN (SELECT canonical_url, hid, hq FROM rh WHERE rn = 1) h
        |  USING (canonical_url)
        |WHERE r.rn = 1 ORDER BY canonical_url""".stripMargin,

    "span_dedup_bloom" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS w
        |  FROM documents),
        |para AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(range(((len(w) - 1) // 12) + 1),
        |      c -> array_to_string(list_slice(w, c * 12 + 1, c * 12 + 12),
        |                           ' ')), '. ') AS t
        |  FROM toks),
        |pd AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN t || '. shared boilerplate footer zz' ELSE t END AS text
        |  FROM para),
        |hist AS (SELECT doc_id, text FROM pd WHERE doc_id % 7 <> 0),
        |batch AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |         text || '. batch unique ' || doc_id || ' tail' AS text
        |  FROM pd WHERE doc_id % 5 = 0),
        |hh AS (
        |  SELECT DISTINCT lower(trim(s)) AS k
        |  FROM (SELECT unnest(string_split_regex(text, '\. ')) AS s
        |        FROM hist)),
        |sp AS (
        |  SELECT doc_id, generate_subscripts(p, 1) - 1 AS pos,
        |         unnest(p) AS span
        |  FROM (SELECT doc_id, string_split_regex(text, '\. ') AS p
        |        FROM batch)),
        |flag AS (
        |  SELECT doc_id, pos, span,
        |         lower(trim(span)) IN (SELECT k FROM hh) AS in_hist,
        |         row_number() OVER (PARTITION BY lower(trim(span))
        |                            ORDER BY doc_id, pos) AS rn
        |  FROM sp)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN (NOT in_hist) AND rn = 1 THEN 0 ELSE 1 END)
        |    AS BIGINT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN (NOT in_hist) AND rn = 1 THEN span
        |                      END, '. ' ORDER BY pos), '') AS kept_text
        |FROM flag GROUP BY 1 ORDER BY 1""".stripMargin,

    "span_dedup" ->
      """WITH sp AS (
        |  SELECT doc_id,
        |         generate_subscripts(pieces, 1) - 1 AS pos,
        |         unnest(pieces) AS span
        |  FROM (SELECT doc_id, string_split_regex(text, '\. ') AS pieces
        |        FROM documents)),
        |flag AS (
        |  SELECT doc_id, pos, span,
        |         row_number() OVER (PARTITION BY lower(trim(span))
        |                            ORDER BY doc_id, pos) AS rn
        |  FROM sp)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT)
        |         AS n_removed,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN span END, '. '
        |                           ORDER BY pos), '') AS kept_text
        |FROM flag GROUP BY 1 ORDER BY 1""".stripMargin,

    "ngram_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         CASE WHEN len(toks) >= 3 THEN
        |           list_distinct(list_transform(range(len(toks) - 2),
        |             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |         ELSE [array_to_string(toks, ' ')] END AS sh
        |  FROM d),
        |p AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.sh AS sa, b.sh AS sb
        |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1)
        |SELECT id1, id2,
        |       CAST(len(list_intersect(sa, sb)) AS INTEGER) AS n_inter,
        |       CAST(len(list_distinct(list_concat(sa, sb))) AS INTEGER)
        |         AS n_union,
        |       round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
        |             / nullif(len(list_distinct(list_concat(sa, sb))), 0), 6)
        |         AS jaccard
        |FROM p ORDER BY 1""".stripMargin,

    "ann_topk" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 30),
        |c AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(q.qv,
        |               CAST(e.embedding AS DOUBLE[])), 6) AS sim
        |  FROM q CROSS JOIN embeddings e
        |  WHERE e.vec_id <> q.query_id),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM c)
        |SELECT query_id, rank, neighbor_id, sim
        |FROM r WHERE rank <= 5 ORDER BY 1, 2""".stripMargin,

    "embed_pool" ->
      """WITH v AS (
        |  SELECT vec_id % 50 AS group_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |e AS (
        |  SELECT group_id, CAST(i - 1 AS INTEGER) AS dim,
        |         v[CAST(i AS INTEGER)] AS x
        |  FROM v, unnest(range(1, len(v) + 1)) AS u(i))
        |SELECT group_id, dim, round(avg(x), 6) + 0.0 AS value,
        |       CAST(count(*) AS BIGINT) AS n_members
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "embed_project" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |j AS (SELECT CAST(unnest(range(16)) AS INTEGER) AS out_dim)
        |SELECT v.vec_id, j.out_dim,
        |       round(list_sum(list_transform(v.v, (x, i) ->
        |         x * (CAST(CAST('0x' ||
        |                substr(md5('jl:' || j.out_dim || ':' || i), 1, 1)
        |              AS INTEGER) % 2 AS INTEGER) * 2 - 1))) / sqrt(16), 6)
        |         + 0.0 AS value
        |FROM v, j ORDER BY 1, 2""".stripMargin,

    "embed_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (
        |  SELECT vec_id, v, CAST(len(v) AS INTEGER) AS dim,
        |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |  FROM v),
        |q AS (
        |  SELECT vec_id, dim, scale,
        |         list_transform(v, x -> CAST(coalesce(
        |           round(x / nullif(scale, 0)), 0) AS BIGINT)) AS q8,
        |         list_transform(v, x -> pow(x - coalesce(
        |           round(x / nullif(scale, 0)), 0) * scale, 2)) AS e2
        |  FROM s)
        |SELECT vec_id, dim, round(scale, 6) + 0.0 AS scale,
        |       CAST(list_sum(q8) AS BIGINT) AS q_sum,
        |       CAST(list_sum(list_transform(q8, x -> abs(x)))
        |            AS BIGINT) AS q_abs_sum,
        |       round(sqrt(list_sum(e2) / dim), 6) + 0.0 AS rmse
        |FROM q ORDER BY 1""".stripMargin,

    // The full compressed-ANN ladder in SQL: the same md5-sign JL matrix
    // as embed_project (32 dims, 1-based lambda index), the same absmax
    // int8 round-trip as embed_quantize, coarse cosine on the dequantized
    // codes rounded to 6dp (ties to the lower neighbor id — exactly the
    // Spark window), shortlist 100, exact re-rank on the float vectors.
    "ann_topk_compressed" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |j AS (SELECT CAST(unnest(range(32)) AS INTEGER) AS out_dim),
        |p AS (
        |  SELECT v.vec_id, j.out_dim,
        |         list_sum(list_transform(v.v, (x, i) ->
        |           x * (CAST(CAST('0x' ||
        |                  substr(md5('jl:' || j.out_dim || ':' || i), 1, 1)
        |                AS INTEGER) % 2 AS INTEGER) * 2 - 1))) / sqrt(32)
        |           AS value
        |  FROM v, j),
        |pv AS (
        |  SELECT vec_id, list(value ORDER BY out_dim) AS p
        |  FROM p GROUP BY 1),
        |dq AS (
        |  SELECT vec_id,
        |         list_transform(p, x -> CAST(coalesce(
        |             round(x / nullif(list_max(list_transform(p, y -> abs(y)))
        |                               / 127.0, 0)), 0) AS BIGINT)
        |           * (list_max(list_transform(p, y -> abs(y))) / 127.0))
        |           AS dqv
        |  FROM pv),
        |q AS (SELECT vec_id AS query_id, p AS qp FROM pv WHERE vec_id < 30),
        |coarse AS (
        |  SELECT q.query_id, d.vec_id AS neighbor_id,
        |         round(list_cosine_similarity(q.qp, d.dqv), 6) AS psim
        |  FROM q CROSS JOIN dq d WHERE d.vec_id <> q.query_id),
        |sh AS (
        |  SELECT query_id, neighbor_id,
        |         row_number() OVER (PARTITION BY query_id
        |           ORDER BY psim DESC, neighbor_id) AS prank
        |  FROM coarse),
        |ex AS (
        |  SELECT s.query_id, s.neighbor_id,
        |         round(list_cosine_similarity(qv.v, cv.v), 6) AS sim
        |  FROM sh s
        |  JOIN v qv ON qv.vec_id = s.query_id
        |  JOIN v cv ON cv.vec_id = s.neighbor_id
        |  WHERE s.prank <= 100),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |            ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM ex)
        |SELECT query_id, rank, neighbor_id, sim
        |FROM r WHERE rank <= 5 ORDER BY 1, 2""".stripMargin,

    "corpus_clean" ->
      s"""$CorpusCleanCte
        |SELECT doc_id, n_tokens, round(quality_score, 6) AS quality_score
        |FROM cleaned ORDER BY 1""".stripMargin,

    "corpus_pipeline" ->
      s"""$CorpusCleanCte,
        |tk2 AS (
        |  SELECT doc_id, string_split_regex(text, '\\s+') AS ctoks
        |  FROM cleaned),
        |cc AS (
        |  SELECT doc_id, len(ctoks) AS n,
        |         CASE WHEN len(ctoks) <= 32 THEN 1
        |              ELSE CAST(ceil((len(ctoks) - 32) / 24.0) AS INTEGER) + 1
        |         END AS nc
        |  FROM tk2),
        |x AS (SELECT doc_id, n, unnest(range(nc)) AS idx FROM cc),
        |ch AS (
        |  SELECT doc_id, CAST(idx AS INTEGER) AS chunk_idx,
        |         CAST(least(32, n - idx * 24) AS INTEGER) AS n_tokens,
        |         doc_id * 1000 + idx AS cid
        |  FROM x),
        |pk AS (SELECT *, CAST(cid % 8 AS INTEGER) AS shard FROM ch),
        |cm AS (
        |  SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY cid)
        |           AS cum_tokens
        |  FROM pk)
        |SELECT shard, doc_id, chunk_idx, n_tokens,
        |       CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |       CAST(floor((cum_tokens - n_tokens) / 128.0) AS BIGINT)
        |         AS pack_id
        |FROM cm ORDER BY 1, 2, 3""".stripMargin,

    "lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','a','an','and','of','to','in','is','it','that'], x)))
        |      AS INTEGER) AS sw_en,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['le','la','les','et','de','un','une','est','que','pour'], x)))
        |      AS INTEGER) AS sw_fr,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['der','die','das','und','ist','ein','eine','zu','mit','von'], x)))
        |      AS INTEGER) AS sw_de,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['el','la','los','y','de','un','una','es','que','por'], x)))
        |      AS INTEGER) AS sw_es
        |  FROM t)
        |SELECT doc_id, lang, sw_en, sw_fr, sw_de, sw_es,
        |       CASE WHEN sw_en >= greatest(sw_fr, sw_de, sw_es) THEN 'en'
        |            WHEN sw_fr >= greatest(sw_de, sw_es) THEN 'fr'
        |            WHEN sw_de >= sw_es THEN 'de'
        |            ELSE 'es' END AS lang_pred
        |FROM c ORDER BY 1""".stripMargin,

    "gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split_regex(trim(text), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_words,
        |         CAST(list_sum(list_transform(toks, x -> length(x)))
        |              AS DOUBLE) / nullif(len(toks), 0) AS mean_wl,
        |         CAST(length(text) - length(replace(text, '#', ''))
        |              + (length(text) - length(replace(text, '...', ''))) // 3
        |              AS DOUBLE) / nullif(len(toks), 0) AS sym_ratio,
        |         CAST(len(list_filter(toks,
        |                x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |           / nullif(len(toks), 0) AS alpha_frac
        |  FROM t)
        |SELECT doc_id, n_words,
        |       round(mean_wl, 6) + 0.0 AS mean_word_len,
        |       round(sym_ratio, 6) + 0.0 AS symbol_ratio,
        |       round(alpha_frac, 6) + 0.0 AS alpha_frac,
        |       CAST(n_words BETWEEN 50 AND 100000 AS INTEGER)
        |         AS pass_word_count,
        |       coalesce(CAST(mean_wl BETWEEN 3.0 AND 10.0 AS INTEGER), 0)
        |         AS pass_mean_word_len,
        |       coalesce(CAST(sym_ratio <= 0.1 AS INTEGER), 0)
        |         AS pass_symbol_ratio,
        |       coalesce(CAST(alpha_frac >= 0.8 AS INTEGER), 0)
        |         AS pass_alpha_frac,
        |       CAST(n_words BETWEEN 50 AND 100000
        |            AND coalesce(mean_wl BETWEEN 3.0 AND 10.0, false)
        |            AND coalesce(sym_ratio <= 0.1, false)
        |            AND coalesce(alpha_frac >= 0.8, false) AS INTEGER)
        |         AS pass_gopher
        |FROM m ORDER BY 1""".stripMargin,

    "line_quality" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         regexp_replace(text, '\. ', chr(10), 'g')
        |         || CASE WHEN doc_id % 3 = 0
        |                 THEN chr(10) || '- click here...' ELSE '' END
        |         || CASE WHEN doc_id % 4 = 0
        |                 THEN chr(10) || 'BREAKING NEWS UPDATE' ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0
        |                 THEN chr(10) || '1 2 3 45' ELSE '' END AS text
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id, generate_subscripts(pieces, 1) - 1 AS pos,
        |         unnest(pieces) AS line
        |  FROM (SELECT doc_id, string_split_regex(text, '\n') AS pieces
        |        FROM d)),
        |fl AS (
        |  SELECT doc_id, pos, line,
        |         CAST(length(line) AS BIGINT) AS chars,
        |         CASE WHEN regexp_matches(trim(line), '^[-*•]')
        |              THEN 1 ELSE 0 END AS fb,
        |         CASE WHEN regexp_matches(trim(line), '(\.\.\.|…)$')
        |              THEN 1 ELSE 0 END AS fe,
        |         CASE WHEN len(list_filter(
        |                string_split_regex(trim(line), '\s+'),
        |                x -> x <> '')) < 3 THEN 1 ELSE 0 END AS fs,
        |         CASE WHEN length(regexp_replace(line, '[^A-Za-z]', '', 'g')) > 0
        |               AND CAST(length(regexp_replace(line, '[^A-Z]', '', 'g'))
        |                        AS DOUBLE)
        |                   / length(regexp_replace(line, '[^A-Za-z]', '', 'g'))
        |                   > 0.6
        |              THEN 1 ELSE 0 END AS fu,
        |         CASE WHEN regexp_matches(trim(line), '^[0-9\s.,;:%()\-]+$')
        |               AND regexp_matches(trim(line), '[0-9]')
        |              THEN 1 ELSE 0 END AS fn
        |  FROM ln),
        |f2 AS (
        |  SELECT *, CASE WHEN fb + fe + fs + fu + fn > 0 THEN 1 ELSE 0 END
        |              AS flag
        |  FROM fl)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(fb) AS BIGINT) AS n_bullet,
        |       CAST(sum(fe) AS BIGINT) AS n_ellipsis,
        |       CAST(sum(fs) AS BIGINT) AS n_short,
        |       CAST(sum(fu) AS BIGINT) AS n_upper,
        |       CAST(sum(fn) AS BIGINT) AS n_numeric,
        |       CAST(sum(flag) AS BIGINT) AS n_flagged,
        |       round(coalesce(
        |         CAST(sum(CASE WHEN flag = 1 THEN chars END) AS DOUBLE)
        |           / nullif(sum(chars), 0), 0.0), 6) + 0.0
        |         AS flagged_char_frac,
        |       CAST(round(coalesce(
        |         CAST(sum(CASE WHEN flag = 1 THEN chars END) AS DOUBLE)
        |           / nullif(sum(chars), 0), 0.0), 6) <= 0.5 AS INTEGER)
        |         AS keep_doc,
        |       coalesce(string_agg(CASE WHEN flag = 0 THEN line END,
        |                           chr(10) ORDER BY pos), '') AS kept_text
        |FROM f2 GROUP BY 1 ORDER BY 1""".stripMargin,

    "quality_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         string_split_regex(lower(text), '\s+') AS toks,
        |         length(text) AS n_chars,
        |         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
        |           AS punct
        |  FROM documents),
        |u AS (
        |  SELECT doc_id,
        |         CAST(n_chars AS INTEGER) AS n_chars,
        |         CAST(len(toks) AS INTEGER) AS n_tokens,
        |         CAST(punct AS DOUBLE) / nullif(n_chars, 0) AS punct_ratio,
        |         CAST(len(list_filter(toks, x -> list_contains(
        |           ['the','a','an','and','of','to','in','is','it','that'], x)))
        |           AS DOUBLE) / nullif(len(toks), 0) AS stop_ratio,
        |         CAST(n_chars - (len(toks) - 1) AS DOUBLE) / nullif(len(toks), 0)
        |           AS mean_token_len
        |  FROM t)
        |SELECT doc_id, n_chars, n_tokens,
        |       round(punct_ratio, 6) AS punct_ratio,
        |       round(stop_ratio, 6) AS stop_ratio,
        |       round(mean_token_len, 6) AS mean_token_len,
        |       round(least(1.0, n_tokens / 20.0) * (1.0 - punct_ratio)
        |             * least(1.0, stop_ratio * 4.0), 6) AS quality_score
        |FROM u ORDER BY 1""".stripMargin,

    // entropy via the subtraction form log2(N) − Σ n·log2(n) / N — the
    // exact identity the Spark expression computes (never −0.0); the pass
    // flag tests the UNROUNDED value on both engines
    "char_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS c
        |  FROM documents WHERE len(text) > 0),
        |cc AS (
        |  SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS n
        |  FROM ch GROUP BY 1, 2),
        |e AS (
        |  SELECT doc_id,
        |         CAST(count(*) AS BIGINT) AS n_distinct_cp,
        |         log2(sum(n)) - sum(n * log2(n)) / sum(n) AS h
        |  FROM cc GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(len(d.text) AS BIGINT) AS n_cp,
        |       e.n_distinct_cp,
        |       round(e.h, 6) + 0.0 AS entropy_bits,
        |       CASE WHEN e.h >= 1.5 AND e.h <= 6.0 THEN 1 ELSE 0 END
        |         AS pass_entropy
        |FROM documents d LEFT JOIN e USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split_regex(text, '\s+')) AS INTEGER)
        |         AS n_ws_tokens,
        |       CAST(len(list_filter(string_split_regex(
        |              regexp_replace(text,
        |                '([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s])', ' \1 ', 'g'),
        |              '\s+'), x -> x <> '')) AS INTEGER) AS n_bpeish_tokens
        |FROM documents ORDER BY 1""".stripMargin,

    // length() = characters, strlen() = bytes in DuckDB (Spark: length /
    // octet_length); the BPE-ish pre-split regex is token_count's
    "tokenizer_fertility" ->
      """WITH d AS (
        |  SELECT lang, source,
        |         len(list_filter(string_split_regex(text, '\s+'),
        |             x -> x <> '')) AS w,
        |         len(list_filter(string_split_regex(
        |             regexp_replace(text,
        |               '([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s])', ' \1 ', 'g'),
        |             '\s+'), x -> x <> '')) AS s,
        |         length(text) AS c, strlen(text) AS b
        |  FROM documents)
        |SELECT lang, source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(w) AS BIGINT) AS n_words,
        |       CAST(sum(s) AS BIGINT) AS n_subwords,
        |       CAST(sum(c) AS BIGINT) AS n_chars,
        |       CAST(sum(b) AS BIGINT) AS n_bytes,
        |       round(CAST(sum(s) AS DOUBLE) / sum(w), 6) + 0.0 AS fertility,
        |       round(CAST(sum(c) AS DOUBLE) / sum(s), 6) + 0.0
        |         AS chars_per_subword,
        |       round(CAST(sum(b) AS DOUBLE) / sum(s), 6) + 0.0
        |         AS bytes_per_subword,
        |       round(CAST(sum(s) AS DOUBLE) / count(*), 6) + 0.0
        |         AS subwords_per_doc
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id,
        |       md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |         AS fingerprint
        |FROM documents ORDER BY 1""".stripMargin,

    // the winnowing election runs on the SAME integer keys hash·2^21 − pos
    // the Spark side uses, so (min hash, rightmost pos) is plain int64
    // arithmetic on both engines; 2^21 is a power of two, making the
    // decode's double division exact
    "winnow_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_transform(range(len(w) - 2),
        |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS g
        |  FROM t WHERE len(w) >= 3),
        |k AS (
        |  SELECT doc_id, g,
        |         list_transform(range(len(g)), i ->
        |           CAST(CAST('0x' || substr(md5(g[i+1]), 1, 8) AS UBIGINT)
        |                AS BIGINT) * 2097152 - i) AS ks
        |  FROM g WHERE len(g) > 0),
        |m AS (
        |  SELECT doc_id, g,
        |         list_distinct(list_transform(
        |           range(greatest(len(ks) - 4, 0) + 1),
        |           s -> list_min(ks[s+1:s+4]))) AS sel
        |  FROM k),
        |u AS (SELECT doc_id, g, unnest(sel) AS key FROM m),
        |dec AS (
        |  SELECT doc_id, g, key,
        |         (key + 2097151) // 2097152 AS gram_hash
        |  FROM u)
        |SELECT doc_id,
        |       CAST(gram_hash * 2097152 - key AS BIGINT) AS pos,
        |       CAST(gram_hash AS BIGINT) AS gram_hash,
        |       g[CAST(gram_hash * 2097152 - key AS INTEGER) + 1] AS gram
        |FROM dec ORDER BY doc_id, pos""".stripMargin,

    "winnow_candidates" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |         array_to_string(
        |           string_split_regex(text, '\s+')[1:greatest(
        |             len(string_split_regex(text, '\s+')) - 2, 0)], ' ')
        |  FROM documents WHERE doc_id % 5 = 0),
        |t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        |  FROM all_docs),
        |g AS (
        |  SELECT doc_id,
        |         list_transform(range(len(w) - 2),
        |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS g
        |  FROM t WHERE len(w) >= 3),
        |k AS (
        |  SELECT doc_id, g,
        |         list_transform(range(len(g)), i ->
        |           CAST(CAST('0x' || substr(md5(g[i+1]), 1, 8) AS UBIGINT)
        |                AS BIGINT) * 2097152 - i) AS ks
        |  FROM g WHERE len(g) > 0),
        |m AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(greatest(len(ks) - 4, 0) + 1),
        |           s -> (list_min(ks[s+1:s+4]) + 2097151) // 2097152)) AS hs
        |  FROM k),
        |fp AS (SELECT DISTINCT doc_id, unnest(hs) AS h FROM m),
        |sizes AS (SELECT doc_id, count(*) AS nfp FROM fp GROUP BY 1),
        |rare AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 10),
        |kept AS (SELECT doc_id, h FROM fp JOIN rare USING (h)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(count(*) AS BIGINT) AS n_shared
        |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.doc_a, p.doc_b, p.n_shared,
        |       CAST(sa.nfp AS BIGINT) AS n_fp_a,
        |       CAST(sb.nfp AS BIGINT) AS n_fp_b,
        |       round(p.n_shared * 1.0 / least(sa.nfp, sb.nfp), 6) + 0.0
        |         AS est_containment
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.doc_a
        |JOIN sizes sb ON sb.doc_id = p.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the incremental oracle is the FULL-PASS construction over
    // index ∪ batch restricted to batch-involving pairs — the same
    // restriction-form oracle trim_incremental uses; the batch side is
    // identified by membership in the EXPLICIT batch id set (an id
    // threshold would misclassify at the 10×/100× gates, whose replica
    // ids exceed the +1M offset)
    "winnow_incremental" ->
      """WITH batch AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |         array_to_string(
        |           string_split_regex(text, '\s+')[1:greatest(
        |             len(string_split_regex(text, '\s+')) - 2, 0)], ' ')
        |           AS text
        |  FROM documents WHERE doc_id % 5 = 0),
        |all_docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id, text FROM batch),
        |t AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS w
        |  FROM all_docs),
        |g AS (
        |  SELECT doc_id,
        |         list_transform(range(len(w) - 2),
        |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS g
        |  FROM t WHERE len(w) >= 3),
        |k AS (
        |  SELECT doc_id, g,
        |         list_transform(range(len(g)), i ->
        |           CAST(CAST('0x' || substr(md5(g[i+1]), 1, 8) AS UBIGINT)
        |                AS BIGINT) * 2097152 - i) AS ks
        |  FROM g WHERE len(g) > 0),
        |m AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(greatest(len(ks) - 4, 0) + 1),
        |           s -> (list_min(ks[s+1:s+4]) + 2097151) // 2097152)) AS hs
        |  FROM k),
        |fp AS (SELECT DISTINCT doc_id, unnest(hs) AS h FROM m),
        |sizes AS (SELECT doc_id, count(*) AS nfp FROM fp GROUP BY 1),
        |rare AS (SELECT h FROM fp GROUP BY h HAVING count(*) <= 10),
        |kept AS (SELECT doc_id, h FROM fp JOIN rare USING (h)),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         CAST(count(*) AS BIGINT) AS n_shared
        |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p.doc_a, p.doc_b, p.n_shared,
        |       CAST(sa.nfp AS BIGINT) AS n_fp_a,
        |       CAST(sb.nfp AS BIGINT) AS n_fp_b,
        |       round(p.n_shared * 1.0 / least(sa.nfp, sb.nfp), 6) + 0.0
        |         AS est_containment
        |FROM pairs p
        |JOIN sizes sa ON sa.doc_id = p.doc_a
        |JOIN sizes sb ON sb.doc_id = p.doc_b
        |WHERE p.doc_a IN (SELECT doc_id FROM batch)
        |   OR p.doc_b IN (SELECT doc_id FROM batch)
        |ORDER BY doc_a, doc_b""".stripMargin,

    "wav_meta" ->
      """WITH m AS (
        |  SELECT doc_id, strlen(text) AS L,
        |         1 + strlen(text) % 2 AS ch,
        |         8000 + (strlen(text) % 8) * 1000 AS rate
        |  FROM documents)
        |SELECT doc_id, 1 AS is_wav,
        |       CAST(ch AS INTEGER) AS wav_channels,
        |       CAST(rate AS BIGINT) AS wav_sample_rate,
        |       16 AS wav_bits,
        |       CAST(L AS BIGINT) AS wav_data_bytes,
        |       round(L * 8000.0 / (rate * ch * 16), 3) + 0.0
        |         AS wav_duration_ms
        |FROM m ORDER BY 1""".stripMargin,

    "png_meta" ->
      """SELECT doc_id,
        |       1 AS is_png,
        |       CAST(64 + strlen(text) % 512 AS BIGINT) AS png_width,
        |       CAST(64 + (strlen(text) * 7) % 512 AS BIGINT) AS png_height,
        |       8 AS png_bit_depth,
        |       2 AS png_color_type,
        |       CAST(33 + strlen(text) AS INTEGER) AS n_payload_bytes
        |FROM documents ORDER BY 1""".stripMargin,

    // Expected values derived INDEPENDENTLY from the text (length algebra,
    // no binary parsing) — the round-trip equality is the oracle, exactly
    // the png_meta/wav_meta pattern. Payload = 43 fixed header bytes +
    // the variable COM payload + the body.
    "jpeg_meta" ->
      """SELECT doc_id,
        |       1 AS is_jpeg,
        |       192 AS jpeg_marker,
        |       CAST(64 + strlen(text) % 512 AS BIGINT) AS jpeg_width,
        |       CAST(64 + (strlen(text) * 7) % 512 AS BIGINT) AS jpeg_height,
        |       8 AS jpeg_precision,
        |       3 AS jpeg_components,
        |       CAST(43 + least(strlen(text), 5 + strlen(text) % 17)
        |            + strlen(text) AS INTEGER) AS n_payload_bytes
        |FROM documents ORDER BY 1""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
        |       substr(md5(text), 1, 8) AS content_id,
        |       CAST(64 + octet_length(encode(text)) % 512 AS INTEGER) AS width,
        |       CAST(64 + (octet_length(encode(text)) * 7) % 512 AS INTEGER)
        |         AS height
        |FROM documents ORDER BY 1""".stripMargin,

    "mae_mfe" ->
      s"""$H1Cte,
        |t AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS prev_c
        |  FROM h1),
        |trc AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS trv
        |  FROM t),
        |a AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN count(trv) OVER w14 = 14
        |           THEN avg(trv) OVER w14 END AS atr
        |  FROM trc
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT *,
        |         lead(open, 1) OVER wk AS entry,
        |         CASE WHEN count(high) OVER fwd = 16
        |           THEN max(high) OVER fwd END AS fwd_max_high,
        |         CASE WHEN count(high) OVER fwd = 16
        |           THEN min(low) OVER fwd END AS fwd_min_low
        |  FROM a
        |  WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms),
        |         fwd AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 1 FOLLOWING AND 16 FOLLOWING))
        |SELECT symbol, bar_ts_ms, round(entry, 6) AS entry,
        |       round((fwd_max_high - entry) / (1.0 * atr), 6) AS mae_r,
        |       round((entry - fwd_min_low) / (1.0 * atr), 6) AS mfe_r
        |FROM f
        |WHERE entry IS NOT NULL AND atr IS NOT NULL AND atr > 0
        |  AND fwd_max_high IS NOT NULL
        |ORDER BY 1, 2""".stripMargin,

    "param_sweep" ->
      s"""$H1Cte,
        |t AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS prev_c
        |  FROM h1),
        |trc AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS trv
        |  FROM t),
        |a AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN count(trv) OVER w14 = 14
        |           THEN avg(trv) OVER w14 END AS atr
        |  FROM trc
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT *,
        |         lead(open, 1) OVER wk AS entry,
        |         lead(atr, 1) OVER wk AS atr_e,
        |         CASE WHEN count(high) OVER fwd = 16
        |           THEN max(high) OVER fwd END AS fwd_max_high,
        |         CASE WHEN count(high) OVER fwd = 16
        |           THEN min(low) OVER fwd END AS fwd_min_low,
        |         CASE WHEN count(high) OVER fwd = 16
        |           THEN nth_value(close, 16) OVER fwd END AS fwd_close
        |  FROM a
        |  WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms),
        |         fwd AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 1 FOLLOWING AND 16 FOLLOWING)),
        |g AS (
        |  SELECT f.*, CAST(t.tp_r AS DOUBLE) AS tp_r
        |  FROM f CROSS JOIN (VALUES (1.0), (1.5), (2.0), (3.0)) t(tp_r)
        |  WHERE entry IS NOT NULL AND atr_e IS NOT NULL AND atr_e > 0
        |    AND fwd_max_high IS NOT NULL),
        |o AS (
        |  SELECT tp_r,
        |         CASE WHEN fwd_max_high >= entry + 1.0 * atr_e THEN -1.0
        |              WHEN fwd_min_low <= entry - tp_r * (1.0 * atr_e) THEN tp_r
        |              ELSE (entry - fwd_close) / (1.0 * atr_e) END AS r_mult
        |  FROM g)
        |SELECT tp_r, CAST(count(*) AS BIGINT) AS n_trades,
        |       round(avg(r_mult), 6) AS mean_r,
        |       round(avg(CASE WHEN r_mult > 0 THEN 1.0 ELSE 0.0 END), 6) AS wr,
        |       round(sum(CASE WHEN r_mult > 0 THEN r_mult ELSE 0 END)
        |             / nullif(sum(CASE WHEN r_mult < 0 THEN -r_mult ELSE 0 END),
        |                      0), 6) AS pf
        |FROM o GROUP BY 1 ORDER BY 1""".stripMargin,

    "trade_report" ->
      s"""$H1Cte,
        |t AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS prev_c
        |  FROM h1),
        |trc AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS trv
        |  FROM t),
        |a AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN count(trv) OVER w14 = 14
        |           THEN avg(trv) OVER w14 END AS atr
        |  FROM trc
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |rp AS (
        |  SELECT *, (high - low) / nullif(close, 0) AS range_pct FROM a),
        |pc AS (
        |  SELECT * EXCLUDE (arr, nn),
        |         CASE WHEN nn = 48
        |           THEN len(list_filter(arr, y -> y <= range_pct)) * 100.0 / 48
        |         END AS range_pctl
        |  FROM (SELECT *,
        |          list(range_pct) OVER w48 AS arr,
        |          count(range_pct) OVER w48 AS nn
        |        FROM rp
        |        WINDOW w48 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                       ROWS BETWEEN 47 PRECEDING AND CURRENT ROW))),
        |f AS (
        |  SELECT *,
        |         lead(open, 1) OVER wk AS entry,
        |         CASE WHEN count(high) OVER fwd = 16
        |           THEN max(high) OVER fwd END AS fwd_max_high
        |  FROM pc
        |  WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms),
        |         fwd AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 1 FOLLOWING AND 16 FOLLOWING)),
        |e AS (
        |  SELECT (fwd_max_high - entry) / (1.0 * atr) AS mae_r,
        |         range_pctl / 100.0 AS p
        |  FROM f
        |  WHERE entry IS NOT NULL AND atr IS NOT NULL AND atr > 0
        |    AND fwd_max_high IS NOT NULL)
        |SELECT CASE WHEN p IS NULL THEN 'NA'
        |            WHEN p < 0.02 THEN '[0.00,0.02)'
        |            WHEN p < 0.04 THEN '[0.02,0.04)'
        |            WHEN p < 0.06 THEN '[0.04,0.06)'
        |            WHEN p < 0.08 THEN '[0.06,0.08)'
        |            WHEN p < 0.10 THEN '[0.08,0.10)'
        |            WHEN p < 0.12 THEN '[0.10,0.12)'
        |            ELSE '>=0.12' END AS rp_bucket,
        |       CAST(count(mae_r) AS BIGINT) AS n,
        |       round(avg(mae_r), 6) AS mean_r,
        |       round(avg(CASE WHEN mae_r > 0 THEN 1.0 ELSE 0.0 END), 6) AS wr,
        |       round(stddev_samp(mae_r), 6) AS std_r,
        |       round(quantile_cont(mae_r, 0.05), 6) AS p05,
        |       round(quantile_cont(mae_r, 0.95), 6) AS p95,
        |       round(min(mae_r), 6) AS min_r,
        |       round(max(mae_r), 6) AS max_r
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "param_sweep_2d" ->
      s"""$H1Cte,
        |t AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS prev_c
        |  FROM h1),
        |trc AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS trv
        |  FROM t),
        |a AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN count(trv) OVER w14 = 14
        |           THEN avg(trv) OVER w14 END AS atr
        |  FROM trc
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT *,
        |         lead(open, 1) OVER wk AS entry,
        |         lead(atr, 1) OVER wk AS atr_e,
        |         CASE WHEN count(high) OVER fwd = 16
        |           THEN max(high) OVER fwd END AS fwd_max_high,
        |         CASE WHEN count(high) OVER fwd = 16
        |           THEN min(low) OVER fwd END AS fwd_min_low,
        |         CASE WHEN count(high) OVER fwd = 16
        |           THEN nth_value(close, 16) OVER fwd END AS fwd_close
        |  FROM a
        |  WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms),
        |         fwd AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 1 FOLLOWING AND 16 FOLLOWING)),
        |g AS (
        |  SELECT f.*, CAST(t2.sl_k AS DOUBLE) AS sl_k,
        |         CAST(t2.tp_r AS DOUBLE) AS tp_r
        |  FROM f CROSS JOIN (VALUES (0.5, 1.0), (0.5, 2.0), (1.5, 1.0),
        |                            (1.5, 2.0)) t2(sl_k, tp_r)
        |  WHERE entry IS NOT NULL AND atr_e IS NOT NULL AND atr_e > 0
        |    AND fwd_max_high IS NOT NULL),
        |o AS (
        |  SELECT sl_k, tp_r,
        |         CASE WHEN fwd_max_high >= entry + sl_k * atr_e THEN -1.0
        |              WHEN fwd_min_low <= entry - tp_r * (sl_k * atr_e)
        |                THEN tp_r
        |              ELSE (entry - fwd_close) / (sl_k * atr_e) END AS r_mult
        |  FROM g)
        |SELECT sl_k, tp_r, CAST(count(*) AS BIGINT) AS n_trades,
        |       round(avg(r_mult), 6) AS mean_r,
        |       round(avg(CASE WHEN r_mult > 0 THEN 1.0 ELSE 0.0 END), 6) AS wr,
        |       round(sum(CASE WHEN r_mult > 0 THEN r_mult ELSE 0 END)
        |             / nullif(sum(CASE WHEN r_mult < 0 THEN -r_mult ELSE 0 END),
        |                      0), 6) AS pf
        |FROM o GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "param_sweep_3d" ->
      s"""$H1Cte,
        |t AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms)
        |           AS prev_c
        |  FROM h1),
        |trc AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN prev_c IS NOT NULL THEN
        |           greatest(high - low, abs(high - prev_c), abs(low - prev_c))
        |         END AS trv
        |  FROM t),
        |a AS (
        |  SELECT symbol, bar_ts_ms, open, high, low, close,
        |         CASE WHEN count(trv) OVER w14 = 14
        |           THEN avg(trv) OVER w14 END AS atr
        |  FROM trc
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT *,
        |         lead(open, 1) OVER wk AS entry,
        |         lead(atr, 1) OVER wk AS atr_e,
        |         CASE WHEN count(high) OVER f8 = 8
        |           THEN max(high) OVER f8 END AS fmh_8,
        |         CASE WHEN count(high) OVER f8 = 8
        |           THEN min(low) OVER f8 END AS fml_8,
        |         CASE WHEN count(high) OVER f8 = 8
        |           THEN nth_value(close, 8) OVER f8 END AS fc_8,
        |         CASE WHEN count(high) OVER f16 = 16
        |           THEN max(high) OVER f16 END AS fmh_16,
        |         CASE WHEN count(high) OVER f16 = 16
        |           THEN min(low) OVER f16 END AS fml_16,
        |         CASE WHEN count(high) OVER f16 = 16
        |           THEN nth_value(close, 16) OVER f16 END AS fc_16
        |  FROM a
        |  WINDOW wk AS (PARTITION BY symbol ORDER BY bar_ts_ms),
        |         f8 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                ROWS BETWEEN 1 FOLLOWING AND 8 FOLLOWING),
        |         f16 AS (PARTITION BY symbol ORDER BY bar_ts_ms
        |                 ROWS BETWEEN 1 FOLLOWING AND 16 FOLLOWING)),
        |g AS (
        |  SELECT f.*, CAST(t2.h AS INTEGER) AS horizon_bars,
        |         CAST(t2.sl_k AS DOUBLE) AS sl_k,
        |         CAST(t2.tp_r AS DOUBLE) AS tp_r,
        |         CASE t2.h WHEN 8 THEN fmh_8 ELSE fmh_16 END AS fmh,
        |         CASE t2.h WHEN 8 THEN fml_8 ELSE fml_16 END AS fml,
        |         CASE t2.h WHEN 8 THEN fc_8 ELSE fc_16 END AS fc
        |  FROM f CROSS JOIN (VALUES (8, 0.5, 1.0), (8, 0.5, 2.0),
        |                            (8, 1.5, 1.0), (8, 1.5, 2.0),
        |                            (16, 0.5, 1.0), (16, 0.5, 2.0),
        |                            (16, 1.5, 1.0), (16, 1.5, 2.0))
        |         t2(h, sl_k, tp_r)
        |  WHERE entry IS NOT NULL AND atr_e IS NOT NULL AND atr_e > 0),
        |o AS (
        |  SELECT horizon_bars, sl_k, tp_r,
        |         CASE WHEN fmh >= entry + sl_k * atr_e THEN 'SL'
        |              WHEN fml <= entry - tp_r * (sl_k * atr_e) THEN 'TP'
        |              ELSE 'TIME' END AS reason,
        |         CASE WHEN fmh >= entry + sl_k * atr_e THEN -1.0
        |              WHEN fml <= entry - tp_r * (sl_k * atr_e) THEN tp_r
        |              ELSE (entry - fc) / (sl_k * atr_e) END AS r_mult
        |  FROM g WHERE fmh IS NOT NULL)
        |SELECT horizon_bars, sl_k, tp_r,
        |       CAST(count(*) AS BIGINT) AS n_trades,
        |       round(avg(r_mult), 6) AS mean_r,
        |       round(avg(CASE WHEN r_mult > 0 THEN 1.0 ELSE 0.0 END), 6) AS wr,
        |       round(sum(CASE WHEN r_mult > 0 THEN r_mult ELSE 0 END)
        |             / nullif(sum(CASE WHEN r_mult < 0 THEN -r_mult ELSE 0 END),
        |                      0), 6) AS pf,
        |       CAST(count(*) FILTER (WHERE reason = 'SL') AS BIGINT) AS n_sl,
        |       CAST(count(*) FILTER (WHERE reason = 'TP') AS BIGINT) AS n_tp,
        |       CAST(count(*) FILTER (WHERE reason = 'TIME') AS BIGINT) AS n_time
        |FROM o GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "asof_join" ->
      s"""$H1Cte,
        |b AS (
        |  SELECT symbol,
        |         (bar_ts_ms // 14400000) * 14400000 AS bucket_ms,
        |         arg_max(close, bar_ts_ms) AS close
        |  FROM h1 GROUP BY 1, 2
        |  HAVING count(*) = 4 AND count(DISTINCT bar_ts_ms) = 4
        |     AND max(bar_ts_ms) - min(bar_ts_ms) = 10800000),
        |ctx AS (
        |  SELECT symbol, bucket_ms,
        |         lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ms)
        |           AS ctx_close
        |  FROM b),
        |m1 AS (
        |  SELECT event_type AS symbol,
        |         epoch_ms(date_trunc('minute', ts)) AS minute_ms,
        |         arg_max(value, event_id) AS close
        |  FROM events GROUP BY 1, 2)
        |SELECT m1.symbol, m1.minute_ms, m1.close,
        |       ctx.bucket_ms AS ctx_bucket_ms, ctx.ctx_close AS ctx_close
        |FROM m1 ASOF LEFT JOIN ctx
        |  ON m1.symbol = ctx.symbol AND m1.minute_ms >= ctx.bucket_ms
        |ORDER BY 1, 2""".stripMargin,

    "merge_upsert" ->
      """WITH old AS (
        |  SELECT event_type AS symbol,
        |         epoch_ms(date_trunc('minute', ts)) AS minute_ms,
        |         arg_min(value, event_id) AS open,
        |         arg_max(value, event_id) AS close,
        |         count(*) AS n_trades
        |  FROM events WHERE ts < TIMESTAMP '2024-01-20'
        |  GROUP BY 1, 2),
        |inc AS (
        |  SELECT event_type AS symbol,
        |         epoch_ms(date_trunc('minute', ts)) AS minute_ms,
        |         arg_min(value, event_id) AS open,
        |         arg_max(value, event_id) AS close,
        |         count(*) AS n_trades
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-10'
        |  GROUP BY 1, 2),
        |u AS (
        |  SELECT *, 0 AS pri FROM old
        |  UNION ALL
        |  SELECT *, 1 AS pri FROM inc)
        |SELECT symbol, minute_ms,
        |       arg_max(open, pri) AS open,
        |       arg_max(close, pri) AS close,
        |       CAST(arg_max(n_trades, pri) AS BIGINT) AS n_trades
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "rolling_percentile" ->
      s"""$H1Cte,
        |a AS (
        |  SELECT symbol, bar_ts_ms, close,
        |         list(close) OVER (PARTITION BY symbol ORDER BY bar_ts_ms
        |                           ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        |           AS arr
        |  FROM h1)
        |SELECT symbol, bar_ts_ms,
        |       round(CASE WHEN len(arr) = 24
        |             THEN len(list_filter(arr, y -> y <= close)) * 100.0 / 24
        |             END, 6) AS close_pctl
        |FROM a ORDER BY 1, 2""".stripMargin,

    "m1_bars" ->
      """SELECT event_type AS symbol,
        |       epoch_ms(date_trunc('minute', ts)) AS minute_ms,
        |       arg_min(value, event_id) AS open,
        |       max(value) AS high,
        |       min(value) AS low,
        |       arg_max(value, event_id) AS close,
        |       round(sum(value), 6) AS volume,
        |       count(*) AS n_trades
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "tf_aggregate" ->
      """WITH h1 AS (
        |  SELECT event_type AS symbol,
        |         epoch_ms(date_trunc('hour', ts)) AS bar_ts_ms,
        |         arg_min(value, event_id) AS open,
        |         max(value) AS high,
        |         min(value) AS low,
        |         arg_max(value, event_id) AS close,
        |         sum(value) AS volume,
        |         count(*) AS n_trades
        |  FROM events GROUP BY 1, 2)
        |SELECT symbol,
        |       (bar_ts_ms // 14400000) * 14400000 AS bucket_ms,
        |       arg_min(open, bar_ts_ms) AS open,
        |       max(high) AS high,
        |       min(low) AS low,
        |       arg_max(close, bar_ts_ms) AS close,
        |       round(sum(volume), 6) AS volume,
        |       CAST(sum(n_trades) AS BIGINT) AS n_trades,
        |       (bar_ts_ms // 14400000) * 14400000 + 14399999 AS close_time_ms
        |FROM h1
        |GROUP BY 1, 2, 9
        |HAVING count(*) = 4 AND count(DISTINCT bar_ts_ms) = 4
        |   AND max(bar_ts_ms) - min(bar_ts_ms) = 10800000
        |ORDER BY 1, 2""".stripMargin,

    "tf_incremental" ->
      """WITH h1 AS (
        |  SELECT event_type AS symbol,
        |         epoch_ms(date_trunc('hour', ts)) AS bar_ts_ms,
        |         arg_min(value, event_id) AS open,
        |         max(value) AS high,
        |         min(value) AS low,
        |         arg_max(value, event_id) AS close,
        |         sum(value) AS volume,
        |         count(*) AS n_trades
        |  FROM events GROUP BY 1, 2)
        |SELECT symbol,
        |       (bar_ts_ms // 14400000) * 14400000 AS bucket_ms,
        |       arg_min(open, bar_ts_ms) AS open,
        |       max(high) AS high,
        |       min(low) AS low,
        |       arg_max(close, bar_ts_ms) AS close,
        |       round(sum(volume), 6) AS volume,
        |       CAST(sum(n_trades) AS BIGINT) AS n_trades
        |FROM h1
        |WHERE bar_ts_ms >= 1705276800000
        |GROUP BY 1, 2
        |HAVING count(*) = 4 AND count(DISTINCT bar_ts_ms) = 4
        |   AND max(bar_ts_ms) - min(bar_ts_ms) = 10800000
        |ORDER BY 1, 2""".stripMargin,

    "dedup_canonical" ->
      """SELECT event_type AS symbol,
        |       epoch_ms(date_trunc('minute', ts)) AS minute_ms,
        |       max(event_id) AS event_id,
        |       arg_max(value, event_id) AS value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "gaps_report" ->
      """WITH m AS (
        |  SELECT DISTINCT event_type AS symbol,
        |         epoch_ms(date_trunc('minute', ts)) AS ms
        |  FROM events),
        |g AS (
        |  SELECT symbol, ms,
        |         lag(ms) OVER (PARTITION BY symbol ORDER BY ms) AS prev_ms
        |  FROM m)
        |SELECT symbol,
        |       prev_ms + 60000 AS gap_start_ms,
        |       ms - 60000 AS gap_end_ms,
        |       (ms - prev_ms) // 60000 - 1 AS n_missing
        |FROM g
        |WHERE prev_ms IS NOT NULL AND ms - prev_ms > 60000
        |ORDER BY 1, 2""".stripMargin,

    "integrity_check" ->
      """WITH e AS (
        |  SELECT event_type AS symbol,
        |         epoch_ms(date_trunc('minute', ts)) AS ms,
        |         lag(epoch_ms(date_trunc('minute', ts)))
        |           OVER (PARTITION BY event_type ORDER BY event_id) AS prev_ms
        |  FROM events)
        |SELECT symbol,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT ms) AS BIGINT) AS n_distinct,
        |       CAST(count(*) - count(DISTINCT ms) AS BIGINT) AS n_dups,
        |       min(ms) AS min_ms,
        |       max(ms) AS max_ms,
        |       CAST(count(*) FILTER (WHERE prev_ms IS NOT NULL AND ms < prev_ms)
        |            AS BIGINT) AS n_non_monotonic,
        |       (max(ms) - min(ms)) // 60000 + 1 AS expected_rows,
        |       (max(ms) - min(ms)) // 60000 + 1 - count(DISTINCT ms) AS n_missing
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "backfill_plan" ->
      """WITH m AS (
        |  SELECT DISTINCT event_type AS symbol,
        |         epoch_ms(date_trunc('minute', ts)) AS ms
        |  FROM events),
        |g AS (
        |  SELECT symbol, ms,
        |         lag(ms) OVER (PARTITION BY symbol ORDER BY ms) AS prev_ms
        |  FROM m)
        |SELECT symbol,
        |       unnest(generate_series(prev_ms + 60000, ms - 60000, 60000))
        |         AS missing_ms
        |FROM g
        |WHERE prev_ms IS NOT NULL AND ms - prev_ms > 60000
        |ORDER BY 1, 2""".stripMargin,

    "grid_ffill" ->
      """WITH m1 AS (
        |  SELECT event_type AS symbol,
        |         epoch_ms(date_trunc('minute', ts)) AS bar_ts_ms,
        |         arg_max(value, event_id) AS close
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT symbol,
        |         unnest(generate_series(min(bar_ts_ms), max(bar_ts_ms), 60000))
        |           AS grid_ms
        |  FROM m1 GROUP BY symbol)
        |SELECT g.symbol, g.grid_ms,
        |       m1.bar_ts_ms AS src_ms, m1.close,
        |       CAST(m1.bar_ts_ms <> g.grid_ms AS INTEGER) AS is_filled
        |FROM g ASOF LEFT JOIN m1
        |  ON g.symbol = m1.symbol AND g.grid_ms >= m1.bar_ts_ms
        |ORDER BY 1, 2""".stripMargin,

    "last_row" ->
      """SELECT event_type AS symbol,
        |       max(event_id) AS last_event_id,
        |       arg_max(value, event_id) AS last_value,
        |       max(epoch_ms(date_trunc('minute', ts))) AS last_ms
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "resample_ohlc" ->
      """WITH m1 AS (
        |  SELECT event_type AS symbol,
        |         date_trunc('minute', ts) AS bar_ts,
        |         arg_min(value, event_id) AS open,
        |         max(value) AS high,
        |         min(value) AS low,
        |         arg_max(value, event_id) AS close,
        |         sum(value) AS volume,
        |         count(*) AS n_trades
        |  FROM events GROUP BY 1, 2)
        |SELECT symbol,
        |       epoch_ms(date_trunc('day', bar_ts)) AS day_ms,
        |       arg_min(open, bar_ts) AS open,
        |       max(high) AS high,
        |       min(low) AS low,
        |       arg_max(close, bar_ts) AS close,
        |       round(sum(volume), 6) AS volume,
        |       CAST(sum(n_trades) AS BIGINT) AS n_trades
        |FROM m1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "resample_month" ->
      """WITH m1 AS (
        |  SELECT event_type AS symbol,
        |         date_trunc('minute', ts) AS bar_ts,
        |         arg_min(value, event_id) AS open,
        |         max(value) AS high,
        |         min(value) AS low,
        |         arg_max(value, event_id) AS close,
        |         sum(value) AS volume,
        |         count(*) AS n_trades
        |  FROM events GROUP BY 1, 2)
        |SELECT symbol,
        |       epoch_ms(date_trunc('month', bar_ts)) AS month_ms,
        |       arg_min(open, bar_ts) AS open,
        |       max(high) AS high,
        |       min(low) AS low,
        |       arg_max(close, bar_ts) AS close,
        |       round(sum(volume), 6) AS volume,
        |       CAST(sum(n_trades) AS BIGINT) AS n_trades
        |FROM m1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "resample_week" ->
      """WITH m1 AS (
        |  SELECT event_type AS symbol,
        |         date_trunc('minute', ts) AS bar_ts,
        |         arg_min(value, event_id) AS open,
        |         max(value) AS high,
        |         min(value) AS low,
        |         arg_max(value, event_id) AS close,
        |         sum(value) AS volume,
        |         count(*) AS n_trades
        |  FROM events GROUP BY 1, 2)
        |SELECT symbol,
        |       epoch_ms(date_trunc('week', bar_ts)) AS week_ms,
        |       arg_min(open, bar_ts) AS open,
        |       max(high) AS high,
        |       min(low) AS low,
        |       arg_max(close, bar_ts) AS close,
        |       round(sum(volume), 6) AS volume,
        |       CAST(sum(n_trades) AS BIGINT) AS n_trades
        |FROM m1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "audit_derived" ->
      """WITH h1 AS (
        |  SELECT event_type AS symbol,
        |         epoch_ms(date_trunc('hour', ts)) AS bar_ts_ms
        |  FROM events GROUP BY 1, 2),
        |b AS (
        |  SELECT symbol,
        |         (bar_ts_ms // 14400000) * 14400000 AS bucket_ms,
        |         count(*) AS cnt,
        |         count(DISTINCT bar_ts_ms) AS nun,
        |         max(bar_ts_ms) - min(bar_ts_ms) AS span
        |  FROM h1 GROUP BY 1, 2)
        |SELECT symbol,
        |       CAST(count(*) AS BIGINT) AS n_buckets,
        |       CAST(count(*) FILTER (WHERE cnt = 4 AND nun = 4
        |            AND span = 10800000) AS BIGINT) AS n_complete,
        |       round((count(*) FILTER (WHERE cnt = 4 AND nun = 4
        |            AND span = 10800000)) * 1.0 / count(*), 6) AS coverage
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
