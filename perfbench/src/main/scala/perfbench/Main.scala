package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** What one pass of a workload leaves behind. `ops` are the closed-loop
  * operations timed inside the pass (module calls, or micro-batch
  * commits); `prints` are output fingerprints that every pass must
  * reproduce; `dumps` are contract-key outputs written on the check pass
  * for the DuckDB comparison. */
final case class PassOut(
    ops: Seq[(String, Long, Boolean)],
    persistedBytes: Double,
    footprintBytes: Double,
    liveRows: Double,
    prints: Map[String, String],
    extra: Map[String, Double] = Map.empty,
    dumps: Map[String, String] = Map.empty,
    checks: Seq[(String, Boolean, String)] = Nil)

trait Workload {
  /** Open the generated input tables and read them once (row counts);
    * called several times at set-up. */
  def stage(): Unit
  def inputBytes: Double
  def inputRows: Double
  /** One complete pass. The workload runs its ops inside
    * `ctx.root(rootId)`, whose span is the pass wall; fingerprints and
    * clean-up follow outside it. `check` = the first pass, which runs
    * cold and whose contract-key outputs are dumped for the oracle
    * comparison. */
  def pass(i: Int, check: Boolean, rootId: Long): PassOut
  /** Whether the check pass is an unmeasured warm-up (pass 0) before the
    * measured passes; otherwise the check pass is measured (pass 1). */
  def hasWarmup: Boolean = true
  /** Measured passes every run makes, whatever `--seconds` says. */
  def minPasses: Int = 1
  /** Whether traced runs trace alternate batches of their first measured
    * pass instead of whole passes. */
  def traceBatches: Boolean = false
  /** Per-layer probes, run once after the passes of a traced run, outside
    * any measured wall. */
  def probes(): Map[String, Double] = Map.empty
  /** Checks that need the whole run (one-shot answers, replays). */
  def finalChecks(): Seq[(String, Boolean, String)] = Nil
}

final class Ctx(val spark: SparkSession, val input: String, val work: String,
                val tracer: Tracer, cores: Int) {
  val probe = new SparkProbe(spark, tracer)
  /** Trace the next pass (set by the pass loop in `main`). */
  var tracePass = false
  /** Trace alternate batches of the next pass (set by the pass loop in `main`). */
  var traceBatches = false
  /** The next pass only re-runs the traced batches untraced, for the
    * tracing overhead (set by the pass loop in `main`). */
  var comparePass = false
  /** Per-layer counters of each traced unit: (root span id, counters). */
  val layers = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]

  /** Run `body` (whose span is `id`) with the Spark listeners installed and
    * record the per-layer counters of that interval. */
  def withProbe[T](id: Long)(body: => T): T = {
    probe.install()
    probe.reset()
    val gc0 = Host.gcMs
    val cg0 = Host.codegenCompiles._1
    val t0 = Clock.nowUs
    try body
    finally {
      val t1 = Clock.nowUs
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      val jobs = tracer.all.filter(s => s.kind == "job" && s.startUs >= t0 - 1000)
        .map(s => (s.startUs, s.endUs))
      val (n, mean) = Host.codegenCompiles
      layers += (id -> (probe.snapshot(t1 - t0, cores, jobs) ++ Map(
        "spark.codegen_ms" -> (n - cg0) * mean,
        "spark.gc_ms" -> (Host.gcMs - gc0).toDouble)))
      probe.uninstall()
    }
  }

  def fs: FileSystem = FileSystem.getLocal(spark.sessionState.newHadoopConf())

  /** Bytes the local Hadoop file system has written in this JVM. */
  def bytesWritten: Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)

  /** Data files under `dir` (hidden and `_`-prefixed markers excluded). */
  def dataFiles(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val out = mutable.ArrayBuffer.empty[FileStatus]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        val name = f.getPath.getName
        if (!name.startsWith(".") && !name.startsWith("_")) out += f
      }
    }
    out.toSeq
  }

  /** (bytes, files) of the data files under `dir`. */
  def du(dir: String): (Long, Long) = {
    val fs = dataFiles(dir)
    (fs.map(_.getLen).sum, fs.size.toLong)
  }
  def duBytes(dir: String): Long = du(dir)._1

  def rmrf(dir: String): Unit = fs.delete(new Path(dir), true)

  /** File bytes written per op name during the current pass. */
  val opWrites = mutable.Map.empty[String, Long]

  /** The pass span: everything a pass times runs inside it. */
  def root[T](id: Long, name: String)(body: => T): T = {
    opWrites.clear()
    if (tracePass) withProbe(id)(tracer.spanWithId(id, name, "workload")(body))
    else tracer.spanWithId(id, name, "workload")(body)
  }

  /** One module call: a span, plus the file bytes it wrote. */
  def op[T](name: String, id: Long = -1L)(body: => T): T = {
    val b0 = bytesWritten
    try tracer.spanWithId(if (id < 0) tracer.newId() else id, name, "module")(body)
    finally opWrites(name) = opWrites.getOrElse(name, 0L) + bytesWritten - b0
  }

  /** File bytes written by ops whose name starts with `prefix`. */
  def written(prefix: String): Double =
    opWrites.collect { case (k, v) if k.startsWith(prefix) => v }.sum.toDouble

  /** Durations of the spans named `name` under pass root `rootId`. */
  def durations(rootId: Long, name: String): Seq[Long] =
    tracer.within(rootId).filter(_.name == name).map(_.durUs)

  /** Force `df` completely: a full write into the noop sink. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Main {
  private def arg(args: Array[String], k: String, d: String): String = {
    val i = args.indexOf(s"--$k")
    if (i >= 0 && i + 1 < args.length) args(i + 1) else d
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val t0 = Clock.nowUs
    val workload = arg(args, "workload", "curation")
    val input = arg(args, "input", "")
    val work = arg(args, "work", "")
    val seconds = arg(args, "seconds", "10").toDouble
    val trace = arg(args, "trace", "0") == "1"
    val out = arg(args, "out", "result.json")
    val cores = arg(args, "cores", "4").toInt
    val launchUs = arg(args, "launch-us", t0.toString).toLong

    val gcStart = Host.gcMs
    val sessionT0 = Clock.nowUs
    val spark = GraftSession.local("perfbench", cores.toString)
    val sessionUs = Clock.nowUs - sessionT0
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, input, work, tracer, cores)
    val w: Workload = workload match {
      case "curation" => new CurationWorkload(ctx)
      case "ingest" => new IngestWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: the inputs are staged three times (median reported)
    val stagingUs = (0 until 3).map { _ =>
      val s0 = Clock.nowUs
      w.stage()
      Clock.nowUs - s0
    }
    val (inBytes, inRows) = (w.inputBytes, w.inputRows)
    val setupS = (sessionT0 - launchUs) / 1e6 + sessionUs / 1e6 +
      median(stagingUs.map(_.toDouble)) / 1e6

    val failures = mutable.ArrayBuffer.empty[(String, String)]
    var attempted = 0
    val passes = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
    var refPrints: Map[String, String] = Map.empty
    var dumps: Map[String, String] = Map.empty
    var probeVals = Map.empty[String, Double]
    var measureT0 = Clock.nowUs
    // the first pass runs cold and is the check pass: pass 0, an unmeasured
    // warm-up, for workloads that have one, else the measured pass 1.
    // Measured passes run until `minPasses` are done and the measuring time
    // is used. Traced runs trace pass 1 and compare it with untraced pass 2,
    // which is at least as warm; workloads that trace per batch trace
    // batches of pass 1 and compare each with the same batch of untraced
    // pass 2.
    val first = if (w.hasWarmup) 0 else 1
    var i = first
    val minPasses = if (trace) math.max(w.minPasses, 2) else w.minPasses
    def more: Boolean = {
      val elapsed = (Clock.nowUs - measureT0) / 1e6
      i <= minPasses || elapsed < seconds
    }
    while (more) {
      ctx.tracePass = trace && !w.traceBatches && i % 2 == 1
      ctx.traceBatches = trace && w.traceBatches && i == 1
      ctx.comparePass = trace && w.traceBatches && i == 2
      val traced = ctx.tracePass || ctx.traceBatches
      val gc0 = Host.gcMs
      val steal0 = Host.stealTicks
      var res: PassOut = null
      var err: String = null
      val root = tracer.newId()
      val ps0 = Clock.nowUs
      try {
        res = w.pass(i, check = i == first, rootId = root)
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"
          e.printStackTrace()
      }
      // the pass wall is its root span (ops only, checks excluded)
      val wallUs = tracer.all.find(_.id == root).map(_.durUs)
        .getOrElse(Clock.nowUs - ps0)
      val rec = mutable.LinkedHashMap[String, Any](
        "pass" -> i, "warm" -> (i == 0), "traced" -> traced,
        "wall_s" -> wallUs / 1e6, "root_span" -> root,
        "checks_s" -> ((Clock.nowUs - ps0) - wallUs) / 1e6,
        "gc_ms" -> (Host.gcMs - gc0), "steal_ticks" -> (Host.stealTicks - steal0))
      if (res == null) {
        attempted += 1
        failures += (s"pass$i" -> err)
      } else {
        attempted += res.ops.size
        res.checks.foreach { case (k, ok, msg) =>
          if (!ok) failures += (s"pass$i.$k" -> msg)
        }
        if (i == first) { refPrints = res.prints; dumps = res.dumps }
        else res.prints.foreach { case (k, v) =>
          if (!refPrints.get(k).contains(v))
            failures += (s"pass$i.$k" -> s"fingerprint $v != check pass ${refPrints.getOrElse(k, "-")}")
        }
        rec ++= Seq("ops" -> res.ops.map { case (n, us, tr) => (n, us / 1e6, tr) },
          "persisted_bytes" -> res.persistedBytes,
          "footprint_bytes" -> res.footprintBytes,
          "live_rows" -> res.liveRows, "extra" -> res.extra)
      }
      passes += rec
      // the measuring time starts after the warm-up
      if (i == 0) measureT0 = Clock.nowUs
      i += 1
    }
    if (trace) {
      probeVals = try w.probes() catch {
        case e: Throwable =>
          e.printStackTrace()
          failures += ("probes" -> String.valueOf(e.getMessage).take(300))
          Map("probes_failed" -> 1.0)
      }
    }
    val finals = try w.finalChecks() catch {
      case e: Throwable =>
        e.printStackTrace()
        Seq(("final_checks", false, String.valueOf(e.getMessage).take(300)))
    }
    finals.foreach { case (name, ok, msg) =>
      attempted += 1
      if (!ok) failures += (name -> msg)
    }
    System.err.println(s"[perfbench] passes done at ${(Clock.nowUs - launchUs) / 1e6}s")
    val peakRss = Host.peakRssMb
    val storageMem = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    spark.stop()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS,
      "boot_s" -> (sessionT0 - launchUs) / 1e6,
      "session_start_ms" -> sessionUs / 1e3,
      "staging_s" -> stagingUs.map(_ / 1e6),
      "input_bytes" -> inBytes,
      "input_rows" -> inRows,
      "peak_rss_mb" -> peakRss,
      "block_manager_max_bytes" -> storageMem,
      "cores" -> cores,
      "attempted" -> attempted,
      "failures" -> failures,
      "finals" -> finals,
      "passes" -> passes,
      "dumps" -> dumps,
      "layers" -> ctx.layers,
      "probes" -> probeVals,
      "gc_ms" -> (Host.gcMs - gcStart),
      "spans" -> tracer.all.map(s =>
        (s.id, s.parent, s.name, s.kind, s.startUs, s.endUs)))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(out), result)
    System.err.println(s"[perfbench] result written at ${(Clock.nowUs - launchUs) / 1e6}s")
  }
}
