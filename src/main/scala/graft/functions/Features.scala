package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Rolling feature engine over per-symbol time-ordered bars.
  *
  * References: /root/reference/scripts/research/build_m1_features.py:70-89
  * (true range + ATR), build_mtf_context_h4_v1.py:104-156 (Bollinger width,
  * anchored VWAP distance z-score, volume z-score),
  * build_h1_regime_router_v2.py:44-63 (efficiency ratio, slope, rolling
  * percentile).
  *
  * Spark-first design: every feature is a window function over ONE window
  * family — `partitionBy(symbol).orderBy(ts)` — so Catalyst plans a single
  * exchange + single sort and evaluates all frames in one pass. `min_periods`
  * semantics (pandas) are reproduced by gating on the non-null count inside
  * the frame, never by row_number arithmetic, so leading nulls (e.g. the
  * first true-range row) behave exactly like the reference. No self-joins,
  * no collects; scales per-symbol across executors.
  */
object Features {

  /** Matches the reference's EPS guard in z-score denominators. */
  val Eps = 1e-12

  def byKey(symbolCol: String = "symbol", tsCol: String = "bar_ts_ms"): WindowSpec =
    Window.partitionBy(symbolCol).orderBy(tsCol)

  private def lastN(w: WindowSpec, n: Int): WindowSpec =
    w.rowsBetween(-(n - 1), Window.currentRow)

  /** True range: max(h-l, |h-prev_c|, |l-prev_c|); null on the first bar of a
    * symbol (no previous close), like the reference's NaN propagation. */
  def withTrueRange(bars: DataFrame, symbolCol: String = "symbol",
                    tsCol: String = "bar_ts_ms"): DataFrame = {
    val w = byKey(symbolCol, tsCol)
    val prevC = lag(col("close"), 1).over(w)
    bars.withColumn("tr",
      when(prevC.isNotNull,
        greatest(col("high") - col("low"),
          abs(col("high") - prevC), abs(col("low") - prevC))))
  }

  /** ATR as SMA of true range over `len` bars, emitted only once `len`
    * non-null TRs are in frame (pandas rolling(min_periods=len)). */
  def withAtrSma(bars: DataFrame, len: Int, symbolCol: String = "symbol",
                 tsCol: String = "bar_ts_ms"): DataFrame = {
    val w = lastN(byKey(symbolCol, tsCol), len)
    withTrueRange(bars, symbolCol, tsCol)
      .withColumn("atr",
        when(count(col("tr")).over(w) === len, avg(col("tr")).over(w)))
  }

  /** Rolling mean/stddev/min/max of `valueCol` over `len` rows + Bollinger
    * band width (u-l)/mid with 2σ bands (build_mtf_context_h4_v1.py:109-113). */
  def withRollingStats(bars: DataFrame, valueCol: String, len: Int,
                       symbolCol: String = "symbol",
                       tsCol: String = "bar_ts_ms"): DataFrame = {
    val w = lastN(byKey(symbolCol, tsCol), len)
    val full = count(col(valueCol)).over(w) === len
    val mid = when(full, avg(col(valueCol)).over(w))
    val sd = when(full, stddev_pop(col(valueCol)).over(w))
    bars
      .withColumn("roll_mean", mid)
      .withColumn("roll_std", sd)
      .withColumn("roll_min", when(full, min(col(valueCol)).over(w)))
      .withColumn("roll_max", when(full, max(col(valueCol)).over(w)))
      .withColumn("bb_width",
        (col("roll_mean") + lit(2.0) * col("roll_std") -
          (col("roll_mean") - lit(2.0) * col("roll_std"))) /
          when(col("roll_mean") =!= 0.0, col("roll_mean")))
  }

  /** Anchored (cumulative) VWAP of the typical price, distance of close from
    * it, and the rolling z-score of that distance
    * (build_mtf_context_h4_v1.py:97-105). */
  def withVwapZ(bars: DataFrame, win: Int = 24, minPeriods: Int = 12,
                symbolCol: String = "symbol",
                tsCol: String = "bar_ts_ms"): DataFrame = {
    val w = byKey(symbolCol, tsCol)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tp = (col("high") + col("low") + col("close")) / 3.0
    val pv = tp * coalesce(col("volume"), lit(0.0))
    val cumV = sum(coalesce(col("volume"), lit(0.0))).over(cum)
    val withD = bars
      .withColumn("vwap", sum(pv).over(cum) / when(cumV =!= 0.0, cumV))
      .withColumn("vwap_dist",
        (col("close") - col("vwap")) / when(col("vwap") =!= 0.0, col("vwap")))
    val wN = lastN(w, win)
    val enough = count(col("vwap_dist")).over(wN) >= minPeriods
    val mu = when(enough, avg(col("vwap_dist")).over(wN))
    val sd = when(enough, stddev_pop(col("vwap_dist")).over(wN))
    withD.withColumn("vwap_dist_z", (col("vwap_dist") - mu) / (sd + Eps))
  }

  /** Rolling z-score of any column (volume z, build_mtf_context_h4_v1.py:156). */
  def withZScore(bars: DataFrame, valueCol: String, outCol: String,
                 win: Int = 24, minPeriods: Int = 12,
                 symbolCol: String = "symbol",
                 tsCol: String = "bar_ts_ms"): DataFrame = {
    val wN = lastN(byKey(symbolCol, tsCol), win)
    val enough = count(col(valueCol)).over(wN) >= minPeriods
    val mu = when(enough, avg(col(valueCol)).over(wN))
    val sd = when(enough, stddev_pop(col(valueCol)).over(wN))
    bars.withColumn(outCol, (col(valueCol) - mu) / (sd + Eps))
  }

  /** Kaufman efficiency ratio: |close - close[-n]| / Σ|Δclose| over n bars
    * (build_h1_regime_router_v2.py:53-57). */
  def withEfficiencyRatio(bars: DataFrame, n: Int,
                          symbolCol: String = "symbol",
                          tsCol: String = "bar_ts_ms"): DataFrame = {
    val w = byKey(symbolCol, tsCol)
    val diff = abs(col("close") - lag(col("close"), 1).over(w))
    val withDiff = bars.withColumn("_adiff", diff)
    val wN = lastN(byKey(symbolCol, tsCol), n)
    val den = when(count(col("_adiff")).over(wN) === n, sum(col("_adiff")).over(wN))
    withDiff
      .withColumn("er",
        abs(col("close") - lag(col("close"), n).over(w)) /
          when(den =!= 0.0, den))
      .drop("_adiff")
  }

  /** Rolling percentile of the current value within its trailing n-row
    * window: 100 · #(window ≤ current)/n (build_h1_regime_router_v2.py:44-50).
    * Implemented as a higher-order filter over a window-collected array —
    * O(n) per row, no self-join. */
  def withRollingPercentile(bars: DataFrame, valueCol: String, outCol: String,
                            n: Int, symbolCol: String = "symbol",
                            tsCol: String = "bar_ts_ms"): DataFrame = {
    val wN = lastN(byKey(symbolCol, tsCol), n)
    val arr = collect_list(col(valueCol)).over(wN)
    bars.withColumn(outCol,
      when(size(arr) === n,
        size(filter(arr, v => v <= col(valueCol))) * lit(100.0) / n))
  }

  /** Daily-anchored VWAP: typical price (h+l+c)/3 volume-weighted,
    * cumulative WITHIN each (symbol, calendar day) — resets at midnight,
    * unlike the full-history anchored [[withVwapZ]]
    * (feature_builder_m1_structure_v1.py:56-67 add_daily_vwap). The window
    * partitions by (symbol, day) so the reset costs nothing extra: same
    * single exchange, day just joins the partition key. */
  def withDailyVwap(bars: DataFrame, symbolCol: String = "symbol",
                    tsCol: String = "bar_ts_ms"): DataFrame = {
    val day = (col(tsCol).cast("long") / lit(86400000L)).cast("long")
    val w = Window.partitionBy(col(symbolCol), day).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val px = (col("high") + col("low") + col("close")) / 3.0
    val vol = coalesce(col("volume"), lit(0.0))
    val cumV = sum(vol).over(w)
    bars
      .withColumn("vwap_d",
        sum(px * vol).over(w) / when(cumV =!= 0.0, cumV))
      .withColumn("vwap_d_dist",
        (col("close") - col("vwap_d")) / when(col("vwap_d") =!= 0.0, col("vwap_d")))
  }

  /** HH/LL market-structure breaks: bar makes a higher-high (high above the
    * max of the previous `swing` highs) or lower-low; `hh_hl_state` is
    * +1 / -1 / 0 (feature_builder_m1_structure_v1.py:69-80). Gated on a full
    * swing lookback like pandas min_periods. */
  def withSwingBreaks(bars: DataFrame, swing: Int,
                      symbolCol: String = "symbol",
                      tsCol: String = "bar_ts_ms"): DataFrame = {
    val w = byKey(symbolCol, tsCol).rowsBetween(-swing, -1)
    val prevMax = when(count(col("high")).over(w) === swing, max(col("high")).over(w))
    val prevMin = when(count(col("low")).over(w) === swing, min(col("low")).over(w))
    bars
      .withColumn("is_hh", when(col("high") > prevMax, 1).otherwise(0))
      .withColumn("is_ll", when(col("low") < prevMin, 1).otherwise(0))
      .withColumn("hh_hl_state",
        when(col("is_hh") === 1, 1).when(col("is_ll") === 1, -1).otherwise(0))
  }

  /** Anti-lookahead shift: lag the feature columns `cols` by `n` bars so a
    * model at t only sees features through t-n
    * (feature_builder_m1_structure_v1.py:130-137 shift_feature_cols). */
  def shiftFeatures(bars: DataFrame, cols: Seq[String], n: Int,
                    symbolCol: String = "symbol",
                    tsCol: String = "bar_ts_ms"): DataFrame = {
    val w = byKey(symbolCol, tsCol)
    cols.foldLeft(bars)((df, c) => df.withColumn(c, lag(col(c), n).over(w)))
  }

  /** Rolling Pearson correlation and beta of `yCol` against `xCol` over an
    * n-row trailing window per key — the cross-asset co-movement feature of
    * a pairs/hedge workflow. Built from primitive window aggregates
    * (avg, avg of product, population stddev) with an explicit count gate
    * rather than a black-box corr aggregate, so the arithmetic is the SAME
    * expression on any engine — corr = (E[xy] − E[x]E[y]) / (σx·σy),
    * beta = (E[xy] − E[x]E[y]) / σx². All frames share one (key, ts) sort. */
  def withRollingCorr(df: DataFrame, xCol: String, yCol: String, n: Int,
                      keyCols: Seq[String],
                      tsCol: String = "bar_ts_ms"): DataFrame = {
    val base = Window.partitionBy(keyCols.map(col): _*).orderBy(tsCol)
    val wN = base.rowsBetween(-(n - 1), Window.currentRow)
    val x = col(xCol)
    val y = col(yCol)
    def gated(c: Column): Column = when(count(x * y).over(wN) === n, c)
    val cov = gated(avg(x * y).over(wN) - avg(x).over(wN) * avg(y).over(wN))
    val sx = gated(stddev_pop(x).over(wN))
    val sy = gated(stddev_pop(y).over(wN))
    df.withColumn("roll_corr",
        cov / when(sx * sy =!= 0.0, sx * sy))
      .withColumn("roll_beta", cov / when(sx * sx =!= 0.0, sx * sx))
  }
}
