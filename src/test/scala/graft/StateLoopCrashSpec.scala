package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Ingest

/** Crash-point matrix for the streaming state loop behind every
  * `Ingest.*Batch` dedup family. Each crash state is built on disk from
  * copies of an uninterrupted run's directories (no fault-injection hook
  * in the library): batch 1 of a three-batch stream with `compactEvery = 1`
  * is cut at each protocol step, then replayed, and the stream continues
  * with batch 2. Outputs, the folded state and the directory layout must
  * equal the uninterrupted run's.
  *
  *  - (a) output slice written, state slice missing, no marker. The
  *    overlap card writes its state BEFORE its card, so for that family
  *    the cut is the reverse: state written, card missing.
  *  - (b) every slice written, marker missing.
  *  - (c) marker written, compaction not run (batch 1 committed with
  *    `compactEvery = 0`; the stream continues with 1).
  *  - (d) compaction base `compacted/upto=1` written, its mark missing.
  *  - (e) mark written, the folded deltas and the old base/mark not
  *    deleted.
  *  - (f) deltas deleted, the old base `upto=0` and its mark not deleted.
  *
  * Every step applies to every family. For the identity folds (near-dup,
  * perceptual, semantic) and the idempotent ones (span `distinct`, overlap
  * slot-min / HLL-max) a double-read state would not change the folded
  * rows' set, so (d)-(f) there check the file-count bound and the
  * layout; the summed folds (trim gram counts, URL `n_copies`) are where a
  * double count would show in the folded state itself. `writeShardBatch`
  * appends rather than overwriting a slice and keeps no state directory:
  * its crash between append and marker is documented at-least-once, so it
  * is not in the matrix. */
class StateLoopCrashSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val fs: FileSystem =
    new Path("target").getFileSystem(spark.sessionState.newHadoopConf())

  /** One family as the matrix drives it: its three waves, one batch call,
    * its output dirs, its state dir and the fold that makes the state
    * comparable whatever the compaction history. */
  private case class Family(name: String, waves: Seq[DataFrame],
                            run: (DataFrame, Long, String, Int) => Boolean,
                            outputs: Seq[String], state: String,
                            fold: DataFrame => DataFrame = identity,
                            stateFirst: Boolean = false)

  private def mkDoc(i: Long, drop: Int = 0): (Long, String) =
    (i, (0 until 12 - drop).map(j => s"w${(i * 7 + j * 13) % 97}")
      .mkString(" "))

  private lazy val families: Seq[Family] = {
    import graft.llm.Dedup
    val base = "the quick brown fox jumps over the lazy dog " * 12
    def payloads(w: Seq[(Long, String)]) = w.toDF("doc_id", "text")
      .select(col("doc_id"), encode(col("text"), "utf-8").as("payload"))
    Seq(
      Family("near-dup",
        Seq((0L until 12L).map(mkDoc(_)),
          (0L until 4L).map(i => mkDoc(i, drop = 2))
            .map { case (i, t) => (i + 1000, t) } ++
            (100L until 104L).map(mkDoc(_)),
          Seq((2005L, mkDoc(5)._2), (2100L, mkDoc(100)._2)) ++
            (200L until 203L).map(mkDoc(_)))
          .map(_.toDF("doc_id", "text")),
        (b, id, root, c) => Ingest.nearDupBatch(b, id, root, threshold = 0.3,
          compactEvery = c),
        Seq("decisions"), "index"),
      Family("perceptual",
        Seq(payloads(Seq((1L, base), (2L, base + "second image payload"))),
          payloads(Seq((11L, base.updated(5, 'Q').updated(200, 'x')),
            (12L, "completely different payload bytes " * 14))),
          payloads(Seq((21L, ("completely different payload bytes " * 14)
              .updated(9, 'Z')),
            (22L, "a third unrelated payload of its own " * 12)))),
        (b, id, root, c) => Ingest.perceptualDedupBatch(b, id, root,
          compactEvery = c),
        Seq("decisions"), "index"),
      Family("semantic",
        Seq(Seq((1L, Seq(1.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 1.0, 0.0, 0.0)),
            (3L, Seq(2.0, 0.0, 0.0, 0.0))),
          Seq((10L, Seq(3.0, 0.0, 0.0, 0.0)), (12L, Seq(0.0, 0.0, 1.0, 0.0)),
            (13L, Seq(0.0, 0.0, 0.9, -0.1))),
          Seq((20L, Seq(0.0, 0.0, 2.0, 0.0)), (21L, Seq(1.0, 1.0, 0.0, 0.0))))
          .map(_.toDF("vec_id", "embedding")),
        (b, id, root, c) => Ingest.semanticDedupBatch(b, id, root, k = 2,
          compactEvery = c),
        Seq("decisions"), "index"),
      Family("trim",
        Seq(Seq((1L, "a b c d e f g h"), (2L, "z1 z2 a b c z3 z4 z5")),
          Seq((11L, "m1 m2 a b c m3 m4"), (12L, "u1 u2 u3 u4 u5 u6")),
          Seq((21L, "v1 u2 u3 u4 v5"), (22L, "q1 q2 q3 q4")))
          .map(_.toDF("doc_id", "text")),
        (b, id, root, c) => Ingest.repeatedTrimBatch(b, id, root, n = 3,
          minCount = 2, compactEvery = c),
        Seq("trimmed"), "gram_index",
        _.groupBy("gram_hash", "gram").agg(sum("n_occurrences").as("n"))),
      Family("span",
        Seq(Seq((1L, "aa bb. cc dd. ee ff"), (2L, "cc dd. gg hh")),
          Seq((11L, "ee ff. ii jj"), (12L, "kk ll. kk ll")),
          Seq((21L, "ii jj. mm nn"), (22L, "aa bb. oo pp")))
          .map(_.toDF("doc_id", "text")),
        (b, id, root, c) => Ingest.spanDedupBatch(b, id, root,
          compactEvery = c),
        Seq("deduped"), "span_index", _.distinct()),
      Family("url",
        Seq(Seq((1L, "https://a.com/p", 10.0), (2L, "https://a.com/p/", 30.0),
            (3L, "https://b.com/q", 20.0)),
          Seq((11L, "HTTPS://A.com/p#x", 25.0),
            (12L, "https://b.com/q?utm_source=z", 99.0),
            (13L, "https://c.com/r", 7.0)),
          Seq((21L, "https://c.com/r", 8.0), (22L, "https://a.com/p", 1.0)))
          .map(_.toDF("doc_id", "url", "quality")),
        (b, id, root, c) => Ingest.urlDedupBatch(b, id, root,
          compactEvery = c),
        Seq("decisions"), "state", Dedup.mergeUrlIndex),
      Family("overlap-card",
        (0 until 3).map { b =>
          Seq((b * 10L + 1, "A", s"tok$b alpha shared phrase"),
            (b * 10L + 2, "B", s"tok${math.max(b - 1, 0)} alpha shared phrase"),
            (b * 10L + 3, if (b % 2 == 0) "A" else "C", s"solo$b gamma delta"))
            .toDF("doc_id", "source", "text")
        },
        (b, id, root, c) => Ingest.overlapCardBatch(b, id, root, k = 16,
          compactEvery = c),
        Seq("card"), "state", Dedup.mergeOverlapStates(_), stateFirst = true))
  }

  private def tmp(tag: String): String =
    Files.createTempDirectory(Paths.get("target"), tag).toString

  private def copyTree(from: String, to: String): String = {
    FileUtil.copy(fs, new Path(from), fs, new Path(to), false,
      spark.sessionState.newHadoopConf())
    to
  }

  private def rm(root: String, rel: String): Unit =
    assert(fs.delete(new Path(root, rel), true), s"$root/$rel missing")

  private def cp(from: String, rel: String, to: String): Unit =
    FileUtil.copy(fs, new Path(from, rel), fs, new Path(to, rel), false,
      spark.sessionState.newHadoopConf())

  /** Rows as sorted JSON strings (binary sketch columns included). */
  private def canon(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(col): _*))).as[String]
      .collect().toSeq.sorted

  /** The state a reader sees — newest base carrying the writer's mark,
    * plus deltas above it — under the family's fold. */
  private def foldedState(f: Family, root: String): Seq[String] = {
    val marks = new Path(root, "_compaction_marks/stream")
    val k = if (!fs.exists(marks)) -1L
      else fs.listStatus(marks).map(_.getPath.getName.toLong).max
    val state = new Path(root, f.state)
    val deltas = fs.exists(state) && fs.listStatus(state)
      .exists(_.getPath.getName.startsWith("batch_id="))
    val parts =
      (if (k < 0) Nil
       else Seq(spark.read.parquet(s"$root/compacted/upto=$k"))) ++
      (if (!deltas) Nil
       else Seq(spark.read.parquet(state.toString)
         .where(col("batch_id") > k).drop("batch_id")))
    canon(f.fold(parts.reduce(_ unionByName _)))
  }

  /** Protocol-level layout: every dir and marker, parquet parts aside. */
  private def layout(root: String): Set[String] = {
    def walk(p: Path, rel: String): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { s =>
        val name = s.getPath.getName
        val r = if (rel.isEmpty) name else s"$rel/$name"
        if (s.isDirectory) r +: walk(s.getPath, r)
        else if (name.startsWith("part-") || name == "_SUCCESS") Nil
        else Seq(r)
      }
    walk(new Path(root), "").toSet
  }

  private case class Outcome(outputs: Seq[Seq[String]], state: Seq[String],
                             layout: Set[String])

  private def outcome(f: Family, root: String): Outcome =
    Outcome(f.outputs.map(o => canon(spark.read.parquet(s"$root/$o"))),
      foldedState(f, root), layout(root))

  test("crash-point matrix: every family, cut at every protocol step, " +
      "replays and continues into the uninterrupted run") {
    val t0 = System.nanoTime()
    val failures = families.flatMap { f =>
      val Seq(w0, w1, w2) = f.waves
      // uninterrupted: A = after batch 0, C = batch 1 committed without
      // compaction, E = batch 1 with its compaction, R = E + batch 2
      val a = tmp(s"crash-${f.name}-a")
      assert(f.run(w0, 0L, a, 1))
      val c = copyTree(a, tmp(s"crash-${f.name}-c") + "/s")
      assert(f.run(w1, 1L, c, 0))
      val e = copyTree(a, tmp(s"crash-${f.name}-e") + "/s")
      assert(f.run(w1, 1L, e, 1))
      val r = copyTree(e, tmp(s"crash-${f.name}-r") + "/s")
      assert(f.run(w2, 2L, r, 1))
      val expected = outcome(f, r)
      assert(fs.exists(new Path(e, "compacted/upto=1")) &&
        !fs.exists(new Path(e, "compacted/upto=0")),
        s"${f.name}: batch 1 did not compact")

      val stateSlice = s"${f.state}/batch_id=1"
      val outSlice = s"${f.outputs.head}/batch_id=1"
      val marker = "_committed_batches/stream/1"
      // (step, uninterrupted state it is cut from, the cut, whether the
      // replay of batch 1 must run)
      val crashes: Seq[(String, String, String => Unit, Boolean)] = Seq(
        ("a", c, s => { rm(s, marker)
          rm(s, if (f.stateFirst) outSlice else stateSlice) }, true),
        ("b", c, rm(_, marker), true),
        ("c", c, _ => (), false),
        ("d", c, cp(e, "compacted/upto=1", _), false),
        ("e", c, s => { cp(e, "compacted/upto=1", s)
          cp(e, "_compaction_marks/stream/1", s) }, false),
        ("f", e, s => { cp(a, "compacted/upto=0", s)
          cp(a, "_compaction_marks/stream/0", s) }, false))
      crashes.flatMap { case (step, from, cut, replays) =>
        val s = copyTree(from, tmp(s"crash-${f.name}-$step") + "/s")
        cut(s)
        val replayed = f.run(w1, 1L, s, 1)
        val continued = f.run(w2, 2L, s, 1)
        val got = outcome(f, s)
        Seq(
          (replayed == replays) -> s"replay of batch 1 returned $replayed",
          continued -> "batch 2 skipped",
          (got.outputs == expected.outputs) -> "outputs diverge",
          (got.state == expected.state) -> "folded state diverges",
          (got.layout == expected.layout) -> ("layout diverges: extra " +
            s"${got.layout -- expected.layout}, missing " +
            s"${expected.layout -- got.layout}"))
          .collect { case (false, why) => s"${f.name} ($step): $why" }
      }
    }
    info(f"crash matrix wall: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("a failing near-dup batch releases its decision checkpoint") {
    val root = tmp("neardup-fail")
    val docs = (0L until 12L).map(mkDoc(_)).toDF("doc_id", "text")
    // a plain file where the decisions directory belongs: the decisions
    // write fails after the decisions checkpoint is materialized
    Files.createFile(Paths.get(root, "decisions"))
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception](Ingest.nearDupBatch(docs, 0L, root, threshold = 0.3))
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    assert(!fs.exists(new Path(root, "_committed_batches/stream/0")))
  }
}
