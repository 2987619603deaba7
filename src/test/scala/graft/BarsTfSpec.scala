package graft

import org.apache.spark.sql.functions._

import graft.operators.{Canonical, TfAggregate}
import graft.sources.{Bars, Tables}

class BarsTfSpec extends SparkTestBase {
  import spark.implicits._

  private def bar(sym: String, tsMs: Long, o: Double, h: Double, l: Double,
                  c: Double, v: Double = 1.0, n: Long = 1L) =
    (sym, tsMs, o, h, l, c, v, n)

  private lazy val bars = Seq(
    // complete 2-bar bucket at 0
    bar("A", 0L, 10, 12, 9, 11),
    bar("A", 60000L, 11, 15, 10, 14),
    // incomplete bucket at 120000 (only one bar)
    bar("A", 180000L, 14, 16, 13, 15),
    // complete bucket at 240000
    bar("A", 240000L, 15, 18, 14, 17),
    bar("A", 300000L, 17, 19, 16, 18),
    // second symbol, bucket spans wrong (duplicate ts => nun != n)
    bar("B", 0L, 1, 2, 1, 2),
    bar("B", 0L, 2, 3, 2, 3)
  ).toDF("symbol", "bar_ts_ms", "open", "high", "low", "close", "volume", "n_trades")

  test("tf aggregation keeps only complete buckets with correct OHLCV") {
    val out = TfAggregate(bars, stepMs = 60000L, n = 2)
      .orderBy("symbol", "bucket_ms").collect()
    assert(out.length == 2)
    val first = out(0)
    assert(first.getAs[Long]("bucket_ms") == 0L)
    assert(first.getAs[Double]("open") == 10.0)
    assert(first.getAs[Double]("high") == 15.0)
    assert(first.getAs[Double]("low") == 9.0)
    assert(first.getAs[Double]("close") == 14.0)
    assert(first.getAs[Double]("volume") == 2.0)
    assert(first.getAs[Long]("close_time_ms") == 119999L)
    assert(out(1).getAs[Long]("bucket_ms") == 240000L)
  }

  test("strict nunique gate rejects duplicate-timestamp buckets") {
    // symbol B has two bars at ts=0: cnt==2 but nun==1 and span==0
    val strict = TfAggregate(bars, 60000L, 2, assumeUniqueTimestamps = false)
    assert(strict.where($"symbol" === "B").count() == 0)
  }

  test("incremental aggregation only emits buckets at/after the checkpoint") {
    val out = TfAggregate.incremental(bars, 60000L, 2, nextBucketOpenMs = 240000L)
    assert(out.select("bucket_ms").as[Long].collect().toSeq == Seq(240000L))
  }

  test("bars from ticks: first/last by ingestion id, extrema, sums") {
    val ticks = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:10"), "X", 5.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:00:20"), "X", 9.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), "X", 3.0)
    ).toDF("event_id", "ts", "event_type", "value")
    val out = Bars.fromTicks(ticks, "minute").collect()(0)
    assert(out.getAs[Double]("open") == 5.0)
    assert(out.getAs[Double]("high") == 9.0)
    assert(out.getAs[Double]("low") == 3.0)
    assert(out.getAs[Double]("close") == 3.0)
    assert(out.getAs[Long]("n_trades") == 3L)
  }

  test("canonical dedup keeps the last row per key by ord") {
    val df = Seq(("A", 1L, 10), ("A", 2L, 20), ("B", 5L, 50))
      .toDF("k", "ord", "v")
    val out = Canonical.dedupKeepLast(df, Seq("k"), col("ord"))
      .orderBy("k").collect()
    assert(out.map(_.getAs[Int]("v")).toSeq == Seq(20, 50))
    val first = Canonical.dedupKeepFirst(df, Seq("k"), col("ord"))
      .orderBy("k").collect()
    assert(first.map(_.getAs[Int]("v")).toSeq == Seq(10, 50))
  }

  test("binance kline CSV ingestion feeds the tf pipeline") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "csv").toString
    val rows = (0 until 4).map { i =>
      s"${i * 60000L},10.0,12.0,9.0,11.0,100.0,${i * 60000L + 59999},1000.0,5,50.0,500.0"
    } :+ "garbage,row,should,be,dropped"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part.csv"),
      rows.mkString("\n").getBytes)
    val bars = graft.sources.Bars.fromKlineCsv(spark, dir, "TESTUSDT")
    assert(bars.count() == 4) // malformed row dropped
    val m2 = TfAggregate(bars, 60000L, 2)
    assert(m2.count() == 2)
    assert(m2.orderBy("bucket_ms").collect()(0).getAs[Double]("volume") == 200.0)
  }

  test("testdata smoke: entry returns rows and tf pipeline runs at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
    val h1 = Bars.fromTicks(Tables.events(spark, sfDir), "hour")
    assert(h1.count() > 0)
  }
}
