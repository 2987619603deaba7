package graft

import org.apache.spark.sql.functions._

import graft.llm.{Cluster, MinHashLsh, Multimodal, SimHash, Similarity}
import graft.ml.MlFilter
import graft.operators.{Backtest, Profile, Stats}

/** Scale-posture regression tests: the sketch paths must track the exact
  * paths within tolerance, iterative/self-join operators must leave the
  * block manager clean, and the planner behaviors the operators rely on
  * (exchange/stage reuse for identical self-join sides) must actually hold
  * under this session's configs. */
class ScaleHygieneSpec extends SparkTestBase {
  import spark.implicits._

  test("keep-frac sweep: sketch path plans no window and tracks the rank path") {
    val rnd = new scala.util.Random(11L)
    val rows = (0 until 5000).map { i =>
      ("A", i.toLong, rnd.nextDouble(), if (rnd.nextBoolean()) 1.0 else -0.5)
    }.toDF("symbol", "bar_ts_ms", "score", "r")
    val fracs = Seq(0.1, 0.25, 0.5, 1.0)
    val exact = Backtest.keepFracSweep(rows, "score", "r", fracs,
        Seq("symbol", "bar_ts_ms"))
      .collect().map(r => r.getAs[Double]("keep_frac") -> r).toMap
    val sketchDf = Backtest.keepFracSweepApprox(rows, "score", "r", fracs)
    val plan = sketchDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"sketch path must not plan a window (global sort):\n$plan")
    val sketch = sketchDf.collect()
      .map(r => r.getAs[Double]("keep_frac") -> r).toMap
    assert(sketch.keySet == fracs.toSet)
    fracs.foreach { f =>
      val (e, s) = (exact(f), sketch(f))
      val en = e.getAs[Long]("n_kept").toDouble
      val sn = s.getAs[Long]("n_kept").toDouble
      assert(math.abs(en - sn) / en < 0.05, s"f=$f n_kept exact=$en sketch=$sn")
      assert(math.abs(e.getAs[Double]("mean_r") - s.getAs[Double]("mean_r")) < 0.1,
        s"f=$f mean_r")
      assert(math.abs(e.getAs[Double]("wr") - s.getAs[Double]("wr")) < 0.05,
        s"f=$f wr")
    }
    // f=1.0 keeps everything on both paths (threshold = min score)
    assert(sketch(1.0).getAs[Long]("n_kept") == 5000L)
  }

  test("robust scale: approx path tracks exact within tolerance") {
    val rnd = new scala.util.Random(3L)
    val df = (0 until 4000).map(i => ("A", i.toLong, rnd.nextGaussian() * 5 + 50))
      .toDF("symbol", "bar_ts_ms", "v")
    def zs(useApprox: Boolean): Map[Long, Double] =
      Stats.robustScale(df, Seq("symbol"), "v", useApprox = useApprox)
        .select(col("bar_ts_ms"), col("robust_z"))
        .as[(Long, Double)].collect().toMap
    val e = zs(useApprox = false)
    val a = zs(useApprox = true)
    assert(e.keySet == a.keySet)
    e.foreach { case (k, ez) =>
      assert(math.abs(ez - a(k)) < 0.05, s"row $k exact=$ez approx=${a(k)}")
    }
  }

  test("bucket report: approx percentiles track exact within tolerance") {
    val rnd = new scala.util.Random(5L)
    val rows = (0 until 6000).map { i =>
      (i.toLong, rnd.nextGaussian(), rnd.nextDouble() * 20.0)
    }.toDF("id", "mae_r", "range_pctl")
    def rep(useApprox: Boolean): Map[String, (Double, Double)] =
      Backtest.bucketReport(rows, "mae_r", "range_pctl", useApprox = useApprox)
        .collect()
        .map(r => r.getAs[String]("rp_bucket") ->
          (r.getAs[Double]("p05"), r.getAs[Double]("p95"))).toMap
    val e = rep(useApprox = false)
    val a = rep(useApprox = true)
    assert(e.keySet == a.keySet && e.nonEmpty)
    e.foreach { case (b, (p05, p95)) =>
      assert(math.abs(p05 - a(b)._1) < 0.1, s"bucket $b p05")
      assert(math.abs(p95 - a(b)._2) < 0.1, s"bucket $b p95")
    }
  }

  test("repartitioned self-join sides compute once (exchange/stage reuse)") {
    // the near-dup pipelines (MinHash/SimHash/embedding LSH) dropped their
    // explicit caches in favor of repartition-on-join-keys + exchange
    // reuse — pin that the planner actually dedupes the pinned exchange
    // (without the repartition, a runtime broadcast join would recompute
    // each side independently)
    val acc = spark.sparkContext.longAccumulator("side-evals")
    val tick = udf((x: Long) => { acc.add(1L); x % 50 })
    val df = spark.range(0, 10000)
      .select(col("id"), tick(col("id")).as("band"), (col("id") % 7).as("bucket"))
      .repartition(col("band"), col("bucket"))
    val l = df.select(col("band"), col("bucket"), col("id").as("id1"))
    val r = df.select(col("band"), col("bucket"), col("id").as("id2"))
    val n = l.join(r, Seq("band", "bucket")).where(col("id1") < col("id2")).count()
    assert(n > 0)
    assert(acc.value == 10000L,
      s"self-join side evaluated ${acc.value / 10000.0}x; expected exactly once")
  }

  test("near-dup pipelines leave no persisted blocks; releaseCache clears the rest") {
    GraftSession.releaseCache(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    def words(seed: Int) = (0 until 15).map(i => s"tok${seed}_$i").mkString(" ")
    val docs = (1 to 40).map(i => (i.toLong, words(i % 10))).toDF("doc_id", "text")
    // cache-free pipelines: no blocks even before release
    MinHashLsh.nearDupPairs(docs, 0.8).count()
    SimHash.nearDupPairs(docs).count()
    val vecs = (1 to 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i % 5 + d).toFloat))
    }.toDF("vec_id", "embedding")
    Similarity.nearDupPairs(vecs, 0.9, dim = 8).count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "near-dup pipelines must not leave persisted blocks")
    // MlFilter caches only for the duration of training
    val bars = (0 until 200).map { i =>
      ("A", i.toLong, if (i % 2 == 0) 10.0 else 20.0, if (i % 2 == 0) 1.0 else -1.0)
    }.toDF("symbol", "bar_ts_ms", "close", "f")
    MlFilter.trainScore(MlFilter.withLabel(bars), Seq("f")).count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "trainScore must unpersist its training iterate")
    // clustering pins its final round until the session-level release
    Cluster.nearDupClusters(docs, maxDf = 10, minCommon = 2, minJaccard = 0.5).count()
    GraftSession.releaseCache(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // RegimeEval caches the labeled frame only for the duration of the call
    val day = 86400000L
    val frame = (0 until 60).map { i =>
      ("A", i.toLong * day, 100.0 * (1.0 + 0.01 * (i % 7)),
        (i % 3).toDouble - 1.0)
    }.toDF("symbol", "period_ms", "close", "x")
    graft.ml.RegimeEval.evaluate(frame, Seq("x"), horizon = 1,
      trendQuantile = 0.5, trainEndMs = 40 * day, valEndMs = 50 * day).count()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "RegimeEval must unpersist its labeled frame")
  }

  test("nearDupIncremental releases its internal pins; the streaming " +
      "batch loop leaves the block manager clean after every micro-batch") {
    GraftSession.releaseCache(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    def words(seed: Int) = (0 until 15).map(i => s"tok${seed}_$i").mkString(" ")
    def wave(lo: Int, hi: Int) =
      (lo to hi).map(i => (i.toLong, words(i % 7))).toDF("doc_id", "text")
    // batch API: the ONLY surviving blocks are the returned decision
    // frame's own checkpoint blocks (documented contract); the prep cache,
    // the index-match cache, and the component loop's final labels must
    // all be gone already
    val ix = MinHashLsh.buildIndex(wave(1, 10))
    val out = MinHashLsh.nearDupIncremental(wave(11, 40), ix, threshold = 0.3)
    assert(out.count() == 30)
    val survivors = spark.sparkContext.getPersistentRDDs
    assert(survivors.size <= 1,
      s"nearDupIncremental leaked internal pins: ${survivors.keys}")
    org.apache.spark.sql.GraftBridge.releasePinned(out)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releasePinned(result) must clear the last block")
    // streaming loop: three micro-batches through nearDupBatch — zero
    // persisted blocks after EACH batch (this is the path a long-running
    // stream exercises once per micro-batch, forever)
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "neardup-hygiene").toString
    Seq(wave(1, 20) -> 0L, wave(21, 40) -> 1L, wave(41, 60) -> 2L)
      .foreach { case (b, id) =>
        assert(graft.streaming.Ingest.nearDupBatch(b, id, root, threshold = 0.3))
        assert(spark.sparkContext.getPersistentRDDs.isEmpty,
          s"micro-batch $id left persisted blocks")
      }
    // the loop still deduped across batches while staying clean
    val dec = spark.read.parquet(s"$root/decisions")
    assert(dec.where(col("status") === "dup_of_index").count() > 0)
    // the perceptual loop decides through the same incremental pass and
    // must release its decision checkpoint the same way
    val pRoot = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "perceptual-hygiene").toString
    Seq(wave(1, 20) -> 0L, wave(21, 40) -> 1L, wave(41, 60) -> 2L)
      .foreach { case (b, id) =>
        assert(graft.streaming.Ingest.perceptualDedupBatch(
          Multimodal.withPayload(b), id, pRoot))
        assert(spark.sparkContext.getPersistentRDDs.isEmpty,
          s"perceptual micro-batch $id left persisted blocks")
      }
    assert(spark.read.parquet(s"$pRoot/decisions")
      .where(col("status") === "dup_of_index").count() > 0)
  }

  test("connected components: 200-vertex chain converges within 20 rounds") {
    // one-hop propagation would need ~199 rounds; pointer jumping is O(log d)
    val n = 200
    val vertices = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id1", "id2")
    val cc = Cluster.connectedComponents(vertices, edges, maxIter = 20)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster_id")))
    assert(cc.length == n)
    assert(cc.forall(_._2 == 1L), "every chain vertex must adopt the min id")
  }

  test("connected components: refuses to return unconverged labels") {
    val n = 64
    val vertices = (1 to n).map(_.toLong).toDF("id")
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("id1", "id2")
    val ex = intercept[IllegalStateException] {
      Cluster.connectedComponents(vertices, edges, maxIter = 2).count()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("column profile handles non-identifier column names") {
    val df = Seq((1L, "x"), (2L, "y"), (3L, null.asInstanceOf[String]))
      .toDF("weird col.name", "it's `quoted`")
    val p = Profile.columnProfile(df, Seq("weird col.name", "it's `quoted`"))
      .collect().map(r => r.getAs[String]("column_name") -> r).toMap
    assert(p("weird col.name").getAs[Long]("n_distinct") == 3)
    assert(p("weird col.name").getAs[Long]("n_null") == 0)
    assert(p("it's `quoted`").getAs[Long]("n_null") == 1)
    assert(p("it's `quoted`").getAs[Long]("n_distinct") == 2)
  }
}
