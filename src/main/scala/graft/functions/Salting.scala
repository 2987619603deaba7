package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation: two-phase salted aggregation for hot keys.
  *
  * At 100 TB a handful of symbols (or LSH buckets) can dominate a shuffle
  * partition. Where each technique actually applies — measured on a
  * seeded-skew 20M-row set (one key holding ~30% of rows), numbers in
  * BASELINE.md's round-7 skew table:
  *
  *  - **sum/count/min/max**: Spark's map-side partial aggregation already
  *    pre-combines to one row per key per map task, so the hot reducer
  *    receives #mapTasks rows, not the key's row count — plain groupBy does
  *    NOT skew for combinable aggs and salting buys nothing (plain 1.2 s
  *    vs salted 1.9 s, recorded so nobody "fixes" a non-problem).
  *    [[saltedSumCount]] stays as the pattern for aggs whose partials
  *    Spark can't pre-combine.
  *  - **unbounded per-key buffers** (collect_set-style exact distinct,
  *    anything that materializes the key's value set): partial aggregation
  *    combines map-side but the hot key's ENTIRE merged state still lands
  *    in one reducer buffer. [[saltedDistinctCount]] salts by hash(value) —
  *    the value space splits disjointly, per-(key,salt) partials recombine
  *    by addition, and the hot key's buffer shrinks by 1/salts.
  *  - **sort-merge join hot partitions**: AQE skew-join splits them at
  *    runtime (GraftSession enables it); the same hot-key join took
  *    4.1 s with AQE off and 2.2 s with it on.
  *
  *   phase 1: groupBy(key, salt) → partial aggs
  *   phase 2: groupBy(key) → combine partials
  *
  * The first shuffle spreads a hot key over `salts` partitions; the second
  * shuffles only `salts` rows per key.
  */
object Salting {

  /** Salted sum/count over possibly-skewed keys: returns one row per key
    * with `sum_<valueCol>` and `cnt`. `entropyCol` must vary within a key
    * (an ingestion id, a timestamp). */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     entropyCol: String, salts: Int = 16): DataFrame = {
    val salt = pmod(hash(col(entropyCol)), lit(salts)).as("_salt")
    val partial = df
      .groupBy((keys.map(col) :+ salt): _*)
      .agg(sum(col(valueCol)).as("_psum"), count(lit(1)).as("_pcnt"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_psum")).as(s"sum_$valueCol"), sum(col("_pcnt")).as("cnt"))
  }

  /** Exact distinct count per key with the per-key state split across
    * `salts` reducers. The salt is `hash(value)`, so each distinct value
    * lands in exactly one (key, salt) group and the per-group distinct
    * counts are additive — unlike an `ord`-derived salt, which would count
    * a value once per salt it appears under. Use when the plain form's
    * reducer-side buffer (the hot key's whole value set) is the bottleneck;
    * for merely-large-cardinality without skew, prefer the HLL sketch
    * ([[graft.operators.Stats.distinctProfile]]). */
  def saltedDistinctCount(df: DataFrame, keys: Seq[String], valueCol: String,
                          salts: Int = 16): DataFrame = {
    val salt = pmod(hash(col(valueCol)), lit(salts)).as("_salt")
    df.groupBy((keys.map(col) :+ salt): _*)
      .agg(size(collect_set(col(valueCol))).cast("long").as("_pd"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_pd")).as(s"n_distinct_$valueCol"))
  }
}
