package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Cluster, Curation}

/** In-JVM task-failure budget for fault injection: the first `budget` task
  * attempts that ask throw; retries (attemptNumber > 0) never throw. A
  * plain singleton is safe here because local-mode executors share the
  * test JVM. */
object FaultInjector {
  val injected = new AtomicInteger(0)
  private val budget = new AtomicInteger(0)
  def arm(n: Int): Unit = { budget.set(n); injected.set(0) }
  def maybeFail(): Unit =
    if (TaskContext.get() != null && TaskContext.get().attemptNumber() == 0 &&
        budget.getAndDecrement() > 0) {
      injected.incrementAndGet()
      throw new RuntimeException("injected task failure (FaultInjector)")
    } else budget.getAndUpdate(b => math.max(b, 0))
}

/** Demonstrates (not just argues) the fault-tolerance claim of the
  * pointer-jumping connected-components `reliable = true` mode: with task
  * retries enabled, injected first-attempt task failures in the edge scan
  * are retried and the checkpointed run completes with exactly the labels
  * of a clean run.
  *
  * Needs its own SparkSession because local-mode retry count comes from
  * the master string (`local[4, 2]` = 2 attempts per task); the shared
  * test session's `local[4]` fails the job on the first task failure.
  * Suites run sequentially in the forked test JVM, so stopping the shared
  * session here is safe — the next suite's getOrCreate builds a fresh
  * one. */
class FaultToleranceSpec extends AnyFunSuite {

  test("reliable CC survives injected task failures with identical labels") {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val spark = GraftSession.configure(
        SparkSession.builder().appName("graft-fault").master("local[4, 2]"), "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val ckptDir = Files.createTempDirectory(
        Paths.get("target"), "ckpt-cc").toString
      spark.sparkContext.setCheckpointDir(ckptDir)

      // 100 chains of 10 vertices: expected cluster label = block min
      val n = 1000
      val vertices = spark.range(n).select(col("id"))
      val edges = spark.range(n - 1).where(col("id") % 10 =!= 9)
        .select(col("id").as("id1"), (col("id") + 1).as("id2"))
      val expected = (0L until n).map(i => i -> (i / 10) * 10).toMap

      def labelsOf(e: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        Cluster.connectedComponents(vertices, e, reliable = true)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val clean = labelsOf(edges)
      assert(clean == expected, "clean run disagrees with ground truth")

      // flaky edge scan: the first 3 first-attempt tasks that touch it
      // throw; local[4, 2] gives each task one retry, so the job survives
      FaultInjector.arm(3)
      val flaky = edges.as[(Long, Long)]
        .mapPartitions { it => FaultInjector.maybeFail(); it }
        .toDF("id1", "id2")
      val faulted = labelsOf(flaky)
      assert(FaultInjector.injected.get() >= 1,
        "no task failure was actually injected — the test proved nothing")
      assert(faulted == clean,
        "labels diverged between the clean and the fault-retried run")

      // the reliable path really went through the checkpoint dir
      val wrote = Files.walk(Paths.get(ckptDir)).count() > 1
      assert(wrote, s"no reliable checkpoint files under $ckptDir")
    } finally spark.stop()
  }

  test("reliable capstone stage boundaries survive injected task failures " +
      "with identical output") {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val spark = GraftSession.configure(
        SparkSession.builder().appName("graft-fault-capstone")
          .master("local[4, 2]"), "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      import spark.implicits._
      val ckptDir = Files.createTempDirectory(
        Paths.get("target"), "ckpt-capstone").toString
      spark.sparkContext.setCheckpointDir(ckptDir)

      // (1) the REAL embedding capstone, boundary=local vs boundary=
      // reliable: identical rows, and the reliable run wrote checkpoint
      // files — the conf is a durability knob with zero semantics drift
      val dir = "/root/testdata/sf0.001"
      val local = SparkEntry.queries("embed_pipeline")(spark, dir)
        .collect().map(_.toSeq).toSet
      spark.conf.set("graft.stage.boundary", "reliable")
      val reliable =
        try SparkEntry.queries("embed_pipeline")(spark, dir)
          .collect().map(_.toSeq).toSet
        finally spark.conf.unset("graft.stage.boundary")
      assert(reliable == local,
        "reliable-boundary capstone output diverged from local-boundary")
      assert(Files.walk(Paths.get(ckptDir)).count() > 1,
        s"no reliable checkpoint files under $ckptDir")

      // (2) fault injection THROUGH a reliable boundary: a capstone-shaped
      // chain (span dedup -> stage boundary -> repeated-gram trim) whose
      // input throws on first-attempt tasks; local[4, 2] gives each task
      // one retry, and the post-boundary suffix recomputes from the
      // checkpoint FILES (exactly what localCheckpoint's unreplicated
      // blocks cannot do after an executor loss)
      val docs = (0L until 400L).map { i =>
        val boiler = "the shared boilerplate sentence is long enough here"
        val body = s"unique body $i token stream ${i * 31} " +
          s"alpha beta gamma delta epsilon zeta eta theta iota kappa"
        (i, if (i % 3 == 0) s"$boiler. $body" else s"$body. end $i")
      }.toDF("doc_id", "text")
      def chain(input: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
        val span = graft.llm.Dedup.spanDedup(input)
          .where(col("kept_text") =!= "")
          .select(col("doc_id"), col("kept_text").as("text"),
            col("n_removed"))
        val stage = Curation.stageBoundary(span)
        graft.llm.Dedup.repeatedNgramTrim(
            stage.select(col("doc_id"), col("text")), n = 5, minCount = 4)
          .select(col("doc_id"), col("n_removed_tokens"), col("kept_text"))
          .join(stage.select(col("doc_id"), col("n_removed")), "doc_id")
          .collect().map(_.toSeq).toSet
      }
      spark.conf.set("graft.stage.boundary", "reliable")
      try {
        val cleanRun = chain(docs)
        FaultInjector.arm(3)
        val flaky = docs.as[(Long, String)]
          .mapPartitions { it => FaultInjector.maybeFail(); it }
          .toDF("doc_id", "text")
        val faulted = chain(flaky)
        assert(FaultInjector.injected.get() >= 1,
          "no task failure was actually injected — the test proved nothing")
        assert(faulted == cleanRun,
          "capstone chain diverged between clean and fault-retried runs")
      } finally spark.conf.unset("graft.stage.boundary")
    } finally spark.stop()
  }
}
