package graft

import org.apache.spark.sql.SparkSession

/** Session factory: every entry point (Verify, Bench, tests) builds through
  * here so plan-shaping configs are uniform.
  *
  * - shuffle partitions sized for local[32] (a cluster deploy would raise
  *   this to ~2-3× total cores; AQE coalesces the excess either way)
  * - AQE on: runtime skew-join splitting and partition coalescing are the
  *   first line of defense at 100 TB
  * - coalescePartitions.parallelismFirst stays at its TRUE default
  *   deliberately (a measured choice, not an omission): the Spark docs
  *   recommend false for production, but size-based coalescing targets
  *   BYTES while this engine's hot operators are compute-dense per byte
  *   (regex/backtest scans, connected-components rounds, fingerprint
  *   joins). A paired one-JVM A/B recorded in BASELINE.md measured
  *   false 9-16% worse on the compute-dense keys when count()-consumed
  *   (round 13); re-measured in round 14
  *   under the honest full-plan shape (noop write — projections + final
  *   sort execute), the penalty is smaller and MIXED per key
  *   (backtest_trades +6.0%, dedup_clusters +5.6%, winnow_candidates
  *   −7.6%, tf_aggregate −9.7%; TOTAL +0.9% — a wash at bench scale).
  *   The default stays TRUE because bench-scale inputs cannot show the
  *   case where size-based coalescing pays (post-shuffle partitions far
  *   above the 64 MB advisory), and under-parallelizing CPU-bound
  *   stages is the asymmetric risk on a 32-core box; a cluster deploy
  *   at real bytes/partition should repeat that paired A/B (noop-sink
  *   writes, variants interleaved per rep) and decide on its own data
  * - nanosAsLong: the testdata's TIMESTAMP(NANOS) columns surface as LONG
  *   (see [[graft.sources.Tables]])
  * - UTC session timezone: bar bucketing must be timezone-stable
  * - codegen class cache sized to the working set (1,000 entries; Spark's
  *   default is 100). The cache key is (thread context class loader,
  *   source), and in local mode the driver's validation compile in
  *   WholeStageCodegenExec and the tasks' compile run under different
  *   loaders, so each whole-stage class takes two entries. Measured on 4
  *   cores: one corpus_pipeline_v5 pass over 4,000 docs compiles 243-254
  *   classes, and one 3-batch ingest stream (near-dup + URL dedup, month
  *   upsert, incremental m5) about 250. At 100 entries every class was
  *   evicted before the next pass could reuse it, so a warm pass
  *   recompiled 241-247; 1,000 holds about four such working sets. The
  *   cache is JVM-static and sized once, from the conf in force at the
  *   JVM's first codegen: the setting takes effect only when GraftSession
  *   builds the JVM's first context
  * - stage ids out of generated class names (useIdInClassName=false): AQE
  *   numbers codegen stages in an order that changes from run to run, so
  *   with GeneratedIteratorForCodegenStage<N> as the class name an
  *   otherwise identical source misses the cache. The id still shows as
  *   *(N) in explain output and in the `// codegenStageId=N` comment
  * - AQE may coalesce the final stage of cached plans
  *   (canChangeCachedPlanOutputPartitioning=true). At Spark's default,
  *   CacheManager plans every cached query with AQE's final-stage
  *   partition coalescing off, so each `.cache()` kept all 32 shuffle
  *   partitions and every union, join and write over it ran 32-65
  *   near-empty tasks. Measured on 4 cores, one traced 80-doc ingest
  *   batch (near-dup + URL dedup, month upsert, incremental m5) ran 936
  *   tasks before and 102 after, and the near-dup decisions slice of an
  *   80-doc batch is written as 2 part files instead of 29. Reading a
  *   coalesced cache can take one more exchange: that batch ran 80 jobs
  *   instead of 76
  */
object GraftSession {

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")

  /** Release every cached table and persisted/localCheckpointed RDD block.
    * Long-lived sessions (the bench harness runs 81+ queries in one JVM)
    * call this between queries so one query's materializations can't build
    * memory pressure for the next. Cached blocks re-derive from lineage if
    * they vanish — EXCEPT localCheckpointed results (e.g. the frames
    * returned by Cluster.connectedComponents / nearDupClusters), whose
    * lineage is truncated: after releaseCache those frames are spent and
    * must not be re-used. Call this only once a query's results are fully
    * consumed (as Bench does, after count()). */
  def releaseCache(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def local(appName: String = "graft", cores: String = "32"): SparkSession = {
    val s = configure(SparkSession.builder().appName(appName).master(s"local[$cores]"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
