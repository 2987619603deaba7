package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Output checks shared by the workloads. */
object Check {

  /** Order-independent fingerprint of a frame: row count plus the sum of
    * per-row hashes (doubles rounded to 6 dp first, so summation order
    * inside an aggregate cannot flip a last bit). Two frames with equal
    * fingerprints hold the same multiset of rows. */
  def fingerprint(df: DataFrame): String = {
    val r = df.select(parts(df): _*).head()
    show(names.map(n => r.getAs[Long](n)))
  }

  /** `df` with its fingerprint observed by whatever action consumes it
    * (no extra job), and the fingerprint, readable once that action ran. */
  def observed(df: DataFrame): (DataFrame, () => String) = {
    val o = Observation()
    val p = parts(df)
    (df.observe(o, p.head, p.tail: _*),
      () => show(names.map(n => o.get(n).asInstanceOf[Long])))
  }

  private def parts(df: DataFrame): Seq[Column] = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _ => col(f.name)
      }
    }
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)),
      coalesce(sum(pmod(h, lit(2147483647L))), lit(0L)),
      coalesce(bit_xor(h), lit(0L))).zip(names).map { case (c, n) => c.as(n) }
  }

  private val names = Seq("fp_rows", "fp_sum", "fp_xor")
  private def show(v: Seq[Long]): String = v.mkString(":")

  /** The `m1_bars` contract key's final projection (`graft.SparkEntry`),
    * applied to an m1 bar table, so the dumped frame is compared against
    * that key's `SparkEntry.oracleSql` in DuckDB. */
  def m1Bars(m1: DataFrame): DataFrame =
    m1.select(col("symbol"), col("bar_ts_ms").as("minute_ms"),
      col("open"), col("high"), col("low"), col("close"),
      round(col("volume"), 6).as("volume"), col("n_trades"))
}
