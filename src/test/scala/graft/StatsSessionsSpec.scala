package graft

import java.sql.Timestamp

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, ParityTwins, TextAnalysis}
import graft.operators.{Sessions, Stats}
import graft.sources.Lake

/** Sessionization, grouped stats, contamination, n-gram frequency, top-k —
  * the round-3 operator additions — plus the determinism/robustness fixes
  * from the round-2 advisory. */
class StatsSessionsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(ms: Long) = new Timestamp(ms)

  test("sessionize: breaks strictly after gap, merges touching windows") {
    val gap = 1000L
    val events = Seq(
      // user 1: [0, 500, 999] one session, 1999 touches (diff == gap →
      // merges), then 3000 starts a new one (diff 1001 > gap)
      (1L, ts(0L), 1.0), (1L, ts(500L), 2.0), (1L, ts(999L), 3.0),
      (1L, ts(1999L), 4.0), (1L, ts(3000L), 5.0),
      // user 2: single event
      (2L, ts(42L), 6.0)
    ).toDF("user_id", "ts", "value")
    val out = Sessions.sessionize(events, "user_id", "ts", "value", gap)
      .orderBy("user_id", "session_id")
    assert(rowsOf(out) === Seq(
      Seq(1L, 1L, 0L, 1999L, 4L, 10.0),
      Seq(1L, 2L, 3000L, 3000L, 1L, 5.0),
      Seq(2L, 1L, 42L, 42L, 1L, 6.0)))
  }

  test("sessionize: at-gap events chain transitively into one session") {
    val events = Seq(
      (1L, ts(0L), 1.0), (1L, ts(1000L), 1.0), (1L, ts(2000L), 1.0)
    ).toDF("user_id", "ts", "value")
    val out = Sessions.sessionize(events, "user_id", "ts", "value", 1000L)
    assert(out.count() === 1L)
    assert(rowsOf(out.select("n_events")) === Seq(Seq(3L)))
  }

  test("quantile sketch pins to exact within tolerance; HLL within 5%") {
    val e = sources.Tables.events(spark, sfDir)
      .select(col("event_type").as("symbol"), col("value"), col("user_id"))
    val exact = Stats.groupQuantiles(e, Seq("symbol"), "value", Seq(0.5, 0.9))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = Stats.groupQuantilesApprox(e, Seq("symbol"), "value", Seq(0.5, 0.9))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (k, (p50, p90)) =>
      val (a50, a90) = approx(k)
      val scale = math.max(math.abs(p90), 1e-9)
      assert(math.abs(a50 - p50) / scale < 0.05, s"$k p50 $p50 vs $a50")
      assert(math.abs(a90 - p90) / scale < 0.05, s"$k p90 $p90 vs $a90")
    }
    Stats.distinctProfile(e, Seq("symbol"), "user_id").collect().foreach { r =>
      val exactN = r.getAs[Long]("n_distinct")
      val hll = r.getAs[Long]("n_distinct_approx")
      assert(math.abs(hll - exactN).toDouble / exactN < 0.05,
        s"${r.getString(0)}: exact $exactN hll $hll")
    }
  }

  test("contamination flags verbatim test docs and passes clean ones") {
    val train = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
      (3L, "Alpha  Beta GAMMA")).toDF("doc_id", "text")
    val testSet = Seq((100L, "alpha beta gamma"), (101L, "totally novel text"))
      .toDF("doc_id", "text")
    val out = Dedup.contamination(train, testSet).collect()
    assert(out.length === 1)
    // canonical form folds case+whitespace: docs 1 and 3 are the same content
    assert(out.head.getLong(0) === 100L)
    assert(out.head.getLong(1) === 1L)
    assert(out.head.getLong(2) === 2L)
  }

  test("n-gram contamination: overlap counts, partial fractions, clean docs absent") {
    // trigram granularity for a hand-checkable case
    val train = Seq(
      (1L, "a b c d e"),            // grams: "a b c","b c d","c d e"
      (2L, "x y z w v")).toDF("doc_id", "text")
    val testSet = Seq(
      (100L, "a b c d e"),          // all 3 grams shared -> frac 1.0
      (101L, "a b c q r s"),        // grams: abc, bcq, cqr, qrs -> 1/4
      (102L, "n o p q r"))          // nothing shared -> absent
      .toDF("doc_id", "text")
    val out = Dedup.contaminationNgram(train, testSet, n = 3)
      .orderBy("test_id").collect()
      .map(r => (r.getAs[Long]("test_id"), r.getAs[Int]("n_test_ngrams"),
        r.getAs[Long]("n_shared_ngrams"), r.getAs[Double]("share_frac")))
    assert(out.toSeq == Seq((100L, 3, 3L, 1.0), (101L, 4, 1L, 0.25)))
  }

  test("boilerplate profile: corpus-common grams per doc, zeros kept") {
    // trigrams, minDf=2: docs 1/2 share "a b c d" (2 common grams each);
    // doc 3 is unique (frac 0); doc 4 shares only its first gram with 1/2
    val docs = Seq(
      (1L, "a b c d x y"),   // grams: abc, bcd, cdx, dxy
      (2L, "a b c d q r"),   // grams: abc, bcd, cdq, dqr
      (3L, "m n o p"),       // grams: mno, nop
      (4L, "a b c z z z"))   // grams: abc, bcz, czz, zzz
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateProfile(docs, n = 3, minDf = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_ngrams"),
        r.getAs[Long]("n_common"), r.getAs[Double]("boilerplate_frac")))
    assert(out.toSeq == Seq(
      (1L, 4, 2L, 0.5), (2L, 4, 2L, 0.5),
      (3L, 2, 0L, 0.0), (4L, 4, 1L, 0.25)))
  }

  test("ngramFreq counts multiplicity (not distinct) and skips short docs") {
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val out = TextAnalysis.ngramFreq(docs, 2).orderBy("ngram").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    // doc1: "a b","b a","a b"; doc2: "a b"; doc3: too short → nothing
    assert(out === Seq("a b" -> 3L, "b a" -> 1L))
  }

  test("top-k per group plan carries WindowGroupLimit (partial top-k pushdown)") {
    val q = SparkEntry.queries("topk_docs")(spark, sfDir)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(q.count() > 0)
  }

  test("mergeUpsert survivor is deterministic across partitionings") {
    // two incoming rows for the same key: survivor must not depend on
    // partitioning/order
    val existing = Seq(("A", 1L, 10.0)).toDF("symbol", "ts", "v")
    val incoming = Seq(("A", 1L, 20.0), ("A", 1L, 30.0), ("B", 2L, 1.0))
      .toDF("symbol", "ts", "v")
    def run(parts: Int) =
      Lake.mergeUpsert(existing, incoming.repartition(parts), Seq("symbol", "ts"))
        .orderBy("symbol").collect().map(_.toSeq).toSeq
    assert(run(1) === run(7))
    assert(run(1).map(_.head) === Seq("A", "B"))
  }

  test("as-of join rejects a left frame already holding matchedTsCol") {
    val l = Seq(("A", 1L, 9L)).toDF("symbol", "ts", "matched_ts")
    val r = Seq(("A", 0L, 1.0)).toDF("symbol", "rts", "ctx")
    val e = intercept[IllegalArgumentException] {
      operators.AsOf.joinBackward(l, r, "symbol", "ts", "rts")
    }
    assert(e.getMessage.contains("matched_ts"))
  }

  test("native WordNgrams equals the HOF formulation") {
    val docs = Seq((1L, "A b  c d"), (2L, "one"), (3L, "x y"), (4L, " pad "))
      .toDF("doc_id", "text")
    val both = docs.select(
      TextAnalysis.ngrams(col("text"), 2).as("native"),
      ParityTwins.ngramsHof(col("text"), 2).as("hof"))
    assert(both.where(not(col("native") === col("hof"))).count() === 0L)
  }

  test("revenue_by_nation broadcasts the dimension sides") {
    val q = SparkEntry.queries("revenue_by_nation")(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(q.count() > 0)
  }

  test("multimodal decode hist columns sum to byte count") {
    val out = SparkEntry.queries("multimodal_decode")(spark, sfDir)
      .withColumn("hist_sum",
        col("hist_0") + col("hist_1") + col("hist_2") + col("hist_3"))
    val meta = SparkEntry.queries("multimodal_meta")(spark, sfDir)
      .select(col("doc_id"), col("n_bytes"))
    val joined = out.join(meta, "doc_id")
      .where(col("hist_sum") =!= col("n_bytes"))
    assert(joined.count() === 0L)
  }
}
