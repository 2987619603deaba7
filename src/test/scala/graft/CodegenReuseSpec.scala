package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated classes survive from one run of a key to the next: a warm
  * run of the largest curation capstone reuses the classes its first run
  * compiled instead of recompiling them (see [[GraftSession]]). */
class CodegenReuseSpec extends SparkTestBase {

  /** Classes compiled (driver and task side, one JVM in local mode) while
    * building `corpus_pipeline_v5` over the smoke dataset and consuming it
    * with a full noop write. */
  private def compilesOfOneRun(): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries("corpus_pipeline_v5")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("GraftSession sizes the codegen cache and drops stage ids from class names") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
    // and lets AQE coalesce the final stage of cached plans
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
  }

  test("a warm corpus_pipeline_v5 run recompiles almost nothing") {
    val cold = compilesOfOneRun()
    val warm = compilesOfOneRun()
    info(s"compiled: cold run $cold, warm run $warm")
    // The cold run compiles the key's whole working set (a couple of
    // hundred classes, fewer if earlier suites in this JVM compiled some
    // of them). A warm run only recompiles sources that differ from run
    // to run: a join strategy AQE picks differently depending on which
    // query stages finish first, each class compiled once by the driver
    // and once by the tasks (0-13 compiles measured). The bound leaves
    // room for those; a cache that evicts the working set, or class names
    // that follow AQE's stage numbering, recompile nearly all of it (239
    // on the warm run at Spark's defaults).
    assert(warm <= 25, s"warm run compiled $warm classes (cold run: $cold)")
  }
}
