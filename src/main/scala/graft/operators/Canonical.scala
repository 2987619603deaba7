package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Canonical dedup: drop duplicates on a key, keeping the LAST row by an
  * ordering column.
  *
  * Reference (/root/reference/src/bfdl/transforms/aggregate_tf.py:205 and
  * gaps_report.py:44): `sort_values(...).drop_duplicates(subset=[key],
  * keep="last")`.
  *
  * Spark-first design: a row_number window over (keys, ord DESC) — one
  * shuffle on the keys, no global sort. Deterministic as long as `ord` is
  * unique within a key (ingestion ids are). This is the distributed
  * equivalent of pandas keep-last and is safe under any partitioning.
  *
  * Why a window and not a `max_by(struct(row), ord)` hash aggregate: the
  * aggregate won on 20M synthetic bars (3.7 s vs 9.9 s, BASELINE.md's
  * scale probe) but ran ~1.7x slower on 20M near-unique keys, where Spark
  * inserts WindowGroupLimit (a map-side top-1 per key) and the aggregate
  * packs a struct per row.
  */
object Canonical {

  def dedupKeepLast(df: DataFrame, keys: Seq[String], ord: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord.desc)
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }

  /** Keep the FIRST row by `ord` instead (used by exact text dedup where the
    * canonical survivor is the lowest id). */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], ord: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord.asc)
    df.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
  }
}
