package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: a workload pass, a module call, a Spark job or a
  * Spark stage. Times are epoch microseconds so driver-side timers and
  * listener event times share one clock. */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowUs: Long = (System.nanoTime() + offsetNs) / 1000L
}

/** In-memory span recorder. Module-call spans are always recorded (they
  * are the benchmark's own op timers); Spark job and stage spans come from
  * [[SparkProbe]], which is registered only in traced passes. The id of
  * the innermost open span rides on the `perfbench.span` local property,
  * so each job links to the call that caused it. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val open = mutable.Stack.empty[Long]

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def add(s: Span): Unit = synchronized { spans += s }

  def all: Seq[Span] = synchronized { spans.toList }

  def current: Long = if (open.isEmpty) 0L else open.top

  def spanWithId[T](id: Long, name: String, kind: String)(body: => T): T = {
    val parent = current
    open.push(id)
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = Clock.nowUs
    try body
    finally {
      val t1 = Clock.nowUs
      open.pop()
      sc.setLocalProperty("perfbench.span",
        if (open.isEmpty) null else open.top.toString)
      add(Span(id, parent, name, kind, t0, t1))
    }
  }

  /** The span `rootId` and every span under it. */
  def within(rootId: Long): Seq[Span] = synchronized {
    val ids = mutable.HashSet(rootId)
    // spans are appended child-before-parent for module calls, but jobs and
    // stages arrive after their parents closed: iterate to a fixpoint
    var grew = true
    while (grew) {
      val more = spans.filter(s => !ids(s.id) && ids(s.parent)).map(_.id)
      grew = more.nonEmpty
      ids ++= more
    }
    spans.filter(s => ids(s.id)).toSeq
  }
}

object Intervals {
  /** Total length covered by the union of `iv`. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side counters, recorded by a SparkListener and a
  * QueryExecutionListener registered from the benchmark's own code. */
final class SparkProbe(spark: SparkSession, tracer: Tracer)
    extends SparkListener with QueryExecutionListener {

  private val sc = spark.sparkContext
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long, Long, String)]()
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  private val stageTasks = new ConcurrentHashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val pinned = new ConcurrentHashMap[String, Long]()
  private val c = new ConcurrentHashMap[String, Double]()

  private def bump(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)
  @volatile private var pinnedPeak = 0L
  @volatile private var longestStage: (Long, Seq[Long]) = (0L, Nil)

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Reset per-pass counters (cumulative pin state is kept: pins held
    * across passes are still held). */
  def reset(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    c.clear()
    pinnedPeak = pinned.values().asScala.sum
    longestStage = (0L, Nil)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)
    val id = tracer.newId()
    // the job's result stage carries the action's call site as its name
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobSpan.put(e.jobId, (id, parent, e.time * 1000L, site))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, id))
    bump("jobs", 1)
    // graft.llm.Cluster's component loop runs one job per round
    if (site.contains(" at Cluster.scala:")) bump("llm.cc_rounds", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (id, parent, t0, site) =>
      tracer.add(Span(id, parent, s"spark.job: $site", "job", t0, e.time * 1000L))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    bump("stages", 1)
    for (s <- si.submissionTime; f <- si.completionTime) {
      val parent = Option(stageJob.get(si.stageId)).map(_.longValue).getOrElse(0L)
      tracer.add(Span(tracer.newId(), parent, "spark.stage", "stage",
        s * 1000L, f * 1000L))
      val runs = Option(stageTasks.remove((si.stageId, si.attemptNumber())))
        .map(_.toSeq).getOrElse(Nil)
      if (f - s > longestStage._1) longestStage = (f - s, runs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    bump("tasks", 1)
    if (ti.failed || ti.killed) bump("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val dur = ti.finishTime - ti.launchTime
      bump("task_run_ms", m.executorRunTime.toDouble)
      bump("task_cpu_ms", m.executorCpuTime / 1e6)
      bump("sched_delay_ms", math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime).toDouble)
      bump("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      bump("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      bump("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      val runs = stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => mutable.ArrayBuffer.empty[Long])
      runs.synchronized { runs += m.executorRunTime }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val size = b.memSize + b.diskSize
      if (size <= 0 || !b.storageLevel.isValid) pinned.remove(b.blockId.name)
      else pinned.put(b.blockId.name, size)
      val now = pinned.values().asScala.sum
      if (now > pinnedPeak) pinnedPeak = now
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    bump("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)

  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    bump("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)

  /** Counters of the pass just finished, `spark.`-prefixed. */
  def snapshot(wallUs: Long, cores: Int, jobIntervals: Seq[(Long, Long)]): Map[String, Double] = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    val base = c.asScala.map { case (k, v) =>
      (if (k.contains('.')) k else s"spark.$k") -> v.doubleValue
    }.toMap
    val runs = longestStage._2.sorted
    val skew =
      if (runs.isEmpty || runs(runs.size / 2) <= 0) 1.0
      else runs.last.toDouble / runs(runs.size / 2)
    val busy = base.getOrElse("spark.task_run_ms", 0.0)
    base ++ Map(
      "spark.pinned_bytes" -> pinnedPeak.toDouble,
      "spark.task_skew" -> skew,
      "spark.core_busy_frac" -> busy / math.max(1.0, wallUs / 1000.0 * cores),
      "spark.driver_gap_ms" -> (wallUs - Intervals.union(jobIntervals)) / 1000.0)
  }
}

/** Process-level probes: per-pass steal and JVM counters. */
object Host {
  def stealTicks: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong else -1L
      } finally src.close()
    } catch { case _: Throwable => -1L }

  def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Number of whole-stage codegen compilations so far, and the mean
    * compile time (ms) over the histogram's recent samples. */
  def codegenCompiles: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
