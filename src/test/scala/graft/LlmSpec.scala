package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, MinHashLsh, Multimodal, ParityTwins, SimHash, Similarity, TextAnalysis}
import graft.sources.Tables

class LlmSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))

  /** docs plus seeded near-dups: last two tokens dropped, id + 1000000. */
  private lazy val seeded = {
    val toks = split(col("text"), "\\s+")
    docs.unionByName(docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ", slice(toks, lit(1), size(toks) - 2)).as("text")))
  }

  test("exact dedup groups identical canonical forms") {
    val withDup = docs.unionByName(
      docs.where(col("doc_id") === 0)
        .select(lit(999999L).as("doc_id"), upper(col("text")).as("text")))
    val groups = Dedup.exact(withDup)
    assert(groups.where(col("n_copies") === 2).count() == 1)
    assert(groups.where(col("n_copies") === 2).select("keep_id")
      .as[Long].collect()(0) == 0L)
  }

  test("gopher rules: per-rule flags and the conjunction, hand-computed") {
    val words60 = (1 to 60).map(i => s"word$i").mkString(" ")
    val d = Seq(
      (1L, words60),                        // passes everything
      (2L, "too short"),                    // fails word count
      (3L, words60 + " " + ("### " * 20).trim), // symbol-heavy
      (4L, (1 to 60).map(_ => "123").mkString(" ")), // no alpha words
      (5L, ""))                             // empty: 0 words
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(d).orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Int]("pass_word_count"),
          r.getAs[Int]("pass_symbol_ratio"), r.getAs[Int]("pass_alpha_frac"),
          r.getAs[Int]("pass_gopher")))).toMap
    assert(out(1L) == ((60L, 1, 1, 1, 1)))
    assert(out(2L)._2 == 0 && out(2L)._5 == 0)
    // doc 3: 80 words, 60 '#' chars -> symbol ratio 0.75 > 0.1; the 20
    // '###' tokens also drag the alpha fraction to 60/80 = 0.75 < 0.8
    assert(out(3L) == ((80L, 1, 0, 0, 0)))
    // doc 4: 60 numeric words -> alpha fraction 0
    assert(out(4L) == ((60L, 1, 1, 0, 0)))
    // empty doc: 0 words, every ratio rule fails closed (0, not null)
    assert(out(5L) == ((0L, 0, 0, 0, 0)))
    // mean word length: doc 1's words average (4+len(i digits)) chars
    val m1 = TextAnalysis.gopherRules(d).where(col("doc_id") === 1)
      .collect()(0).getAs[Double]("mean_word_len")
    val exp = (1 to 60).map(i => s"word$i".length).sum.toDouble / 60
    assert(math.abs(m1 - math.rint(exp * 1e6) / 1e6) < 1e-9)
  }

  test("span dedup keeps corpus-wide first occurrences, rebuilds in order") {
    val d = Seq(
      (1L, "a b. c d. a b"),   // within-doc repeat of 'a b'
      (2L, "c d. e f"),        // 'c d' first seen in doc 1
      (3L, "x"),               // single span, unique
      (4L, "C D. g h"))        // case-folded match of 'c d'
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(d).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("n_removed"), r.getAs[String]("kept_text")))
    assert(out.toSeq == Seq(
      (1L, 3L, 1L, "a b. c d"),
      (2L, 2L, 1L, "e f"),
      (3L, 1L, 0L, "x"),
      (4L, 2L, 1L, "g h")))
    // a doc whose every span is removed rebuilds to '' (never null)
    val wiped = Dedup.spanDedup(
      Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text"))
      .where(col("doc_id") === 2).collect()(0)
    assert(wiped.getAs[String]("kept_text") == "")
    assert(wiped.getAs[Long]("n_removed") == 1L)
    assertNoCartesian(Dedup.spanDedup(d))
  }

  test("minhash LSH finds seeded near-dups with high recall, no cartesian") {
    val pairs = MinHashLsh.nearDupPairs(seeded, threshold = 0.3)
    assertNoCartesian(pairs)
    val found = pairs.where(col("id2") - col("id1") === 1000000).count()
    val total = seeded.where(col("doc_id") >= 1000000).count()
    assert(total > 0)
    assert(found.toDouble / total >= 0.85, s"recall $found/$total")
  }

  test("nearDupIncremental ≡ full-pass pairs restricted to the batch; " +
      "statuses partition the batch") {
    // history: docs with id % 7 != 0; batch: v1 (last-2-tokens dropped)
    // for every doc, v2 (first-token dropped) for even ids — the contract
    // key's construction
    val toks = split(col("text"), "\\s+")
    val hist = docs.where(col("doc_id") % 7 =!= 0)
    val v1 = docs.select((col("doc_id") + 1000000).as("doc_id"),
      concat_ws(" ",
        slice(toks, lit(1), greatest(size(toks) - 2, lit(0)))).as("text"))
    val v2 = docs.where(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"),
        concat_ws(" ", slice(toks, lit(2), size(toks) - 1)).as("text"))
    val batch = v1.unionByName(v2)
    val out = MinHashLsh.nearDupIncremental(
      batch, MinHashLsh.buildIndex(hist), threshold = 0.3)
    assertNoCartesian(out)
    // one row per batch doc, statuses disjoint
    assert(out.count() == batch.count())
    assert(out.select("doc_id").distinct().count() == batch.count())
    // dup_of_index docs are EXACTLY the batch docs with a verified
    // full-corpus pair to a history doc: identical blocking (same
    // signature seed -> same band buckets) + identical hash-set Jaccard
    val full = MinHashLsh.nearDupPairs(hist.unionByName(batch), 0.3)
    val crossMatched = full
      .where(col("id1") < 1000000 && col("id2") >= 1000000)
      .select(col("id2").as("doc_id")).distinct()
    val dupIdx = out.where(col("status") === "dup_of_index").select("doc_id")
    assert(dupIdx.exceptAll(crossMatched).count() == 0)
    assert(crossMatched.exceptAll(dupIdx).count() == 0)
    // every within-batch dup points at an accepted survivor
    val acceptedIds = out.where(col("status") === "accepted")
      .select(col("doc_id").as("match_id"))
    assert(out.where(col("status") === "dup_in_batch")
      .join(acceptedIds, Seq("match_id"), "left_anti").count() == 0)
    // the seeded construction exercises all three statuses: variants of
    // un-indexed (id % 7 == 0) docs pair up (even ids) or stand alone
    val byStatus = out.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.getOrElse("dup_of_index", 0L) > 0, byStatus.toString)
    assert(byStatus.getOrElse("dup_in_batch", 0L) > 0, byStatus.toString)
    assert(byStatus.getOrElse("accepted", 0L) > 0, byStatus.toString)
  }

  test("nearDupIncremental lifecycle: accepted docs join the index and " +
      "replaying the batch is a no-op") {
    val hist = docs.where(col("doc_id") < 200)
    val toks = split(col("text"), "\\s+")
    val batch = hist.where(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat_ws(" ",
          slice(toks, lit(1), greatest(size(toks) - 2, lit(0)))).as("text"))
      .unionByName(docs.where(col("doc_id").between(200, 249)))
    val out1 = MinHashLsh.nearDupIncremental(
      batch, MinHashLsh.buildIndex(hist), threshold = 0.3)
    val accepted = batch.join(
      out1.where(col("status") === "accepted").select("doc_id"), Seq("doc_id"))
    assert(accepted.count() > 0)
    // append the accepted docs to the index (what production does after
    // each batch) and REPLAY the same batch: every doc now matches the
    // index — itself at jaccard 1.0 if nothing else — so nothing is
    // accepted twice and the corpus cannot grow on retry
    val out2 = MinHashLsh.nearDupIncremental(
      batch, MinHashLsh.buildIndex(hist.unionByName(accepted)),
      threshold = 0.3)
    assert(out2.where(col("status") === "accepted").count() == 0)
    assert(out2.where(col("status") === "dup_of_index" &&
      col("jaccard") === 1.0 && col("match_id") === col("doc_id")).count() >=
      accepted.count())
  }

  test("nearDupIncremental: empty index yields no dup_of_index, still " +
      "covers the batch") {
    val batch = docs.limit(20)
    val out = MinHashLsh.nearDupIncremental(
      batch, MinHashLsh.buildIndex(docs.where(lit(false))), threshold = 0.3)
    assert(out.count() == 20)
    assert(out.where(col("status") === "dup_of_index").count() == 0)
    // the corpus has organic near-dups, so only assert the partition
    // property: every doc is accepted or points at an accepted survivor
    val acc = out.where(col("status") === "accepted")
      .select(col("doc_id").as("match_id"))
    assert(out.where(col("status") === "dup_in_batch")
      .join(acc, Seq("match_id"), "left_anti").count() == 0)
  }

  test("simhash finds seeded near-dups, no cartesian") {
    val pairs = SimHash.nearDupPairs(seeded, maxHamming = 12)
    assertNoCartesian(pairs)
    val found = pairs.where(col("id2") - col("id1") === 1000000).count()
    val total = seeded.where(col("doc_id") >= 1000000).count()
    assert(found.toDouble / total >= 0.7, s"recall $found/$total")
  }

  test("maxBucket drops template mega-buckets, leaves organic pairs intact") {
    // 200 copies of one template (a hot bucket in EVERY band: 19.9K
    // within-family candidate pairs) + one organic near-dup pair
    val template = (0L until 200L).map(i => (i, "the same boilerplate " +
      "template text repeated across the whole mirror family"))
    val organic = Seq(
      (9000L, "a genuinely distinct document about market microstructure " +
        "liquidity dynamics funding basis and open interest in futures"),
      (9001L, "a genuinely distinct document about market microstructure " +
        "liquidity dynamics funding basis and open interest in venues"))
    val docs = (template ++ organic).toDF("doc_id", "text")

    val mh = MinHashLsh.nearDupPairs(docs, threshold = 0.3)
    val mhCapped = MinHashLsh.nearDupPairs(docs, threshold = 0.3,
      maxBucket = Some(50))
    // uncapped: the template family is all-pairs within its bucket
    assert(mh.where(col("id1") < 200 && col("id2") < 200).count() ==
      200L * 199 / 2)
    // capped: the >50-member buckets are gone, the organic pair is not
    assert(mhCapped.where(col("id1") < 200 && col("id2") < 200).count() == 0)
    assert(mhCapped.where(col("id1") === 9000 && col("id2") === 9001)
      .count() == 1)

    val sh = SimHash.nearDupPairs(docs, maxHamming = 12)
    val shCapped = SimHash.nearDupPairs(docs, maxHamming = 12,
      maxBucket = Some(50))
    assert(sh.where(col("id1") < 200 && col("id2") < 200).count() ==
      200L * 199 / 2)
    assert(shCapped.where(col("id1") < 200 && col("id2") < 200).count() == 0)
    // the cap removes ONLY hot-bucket pairs: outside the template family,
    // capped output equals uncapped (whether or not simhash banding caught
    // the organic pair on this corpus)
    assert(shCapped.where(col("id1") >= 200).collect().toSet ==
      sh.where(col("id1") >= 200).collect().toSet)
    // the cap adds no exchange: same shuffle count as the uncapped plan
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).size
    assert(exchanges(shCapped) == exchanges(sh))
  }

  test("native minhash expression equals the HOF formulation bit-for-bit") {
    import org.apache.spark.sql.GraftBridge
    val k = 8
    val rnd = new scala.util.Random(42)
    val a = Array.fill(k)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val b = Array.fill(k)(rnd.nextInt(Int.MaxValue).toLong)
    val sh = Dedup.shingles(col("text"), 3)
    val hof = aggregate(
      transform(sh, s => xxhash64(s).bitwiseAND(lit(0x7fffffffL))),
      array_repeat(lit(MinHashLsh.Prime), k),
      (acc, h) => transform(sequence(lit(0), lit(k - 1)),
        i => least(element_at(acc, i + 1),
          pmod(h * element_at(lit(a), i + 1) + element_at(lit(b), i + 1),
            lit(MinHashLsh.Prime)))))
    val native = GraftBridge.column(graft.functions.MinHashSignature(
      GraftBridge.expression(sh), a.toSeq, b.toSeq))
    val diff = docs.select(hof.as("x"), native.as("y"))
      .where(col("x") =!= col("y")).count()
    assert(diff == 0)
  }

  test("native shingles expression equals the HOF formulation") {
    val withEdge = docs.unionByName(Seq(
      (900001L, "one two"),           // fewer tokens than n
      (900002L, " leading  spaces x y z ")
    ).toDF("doc_id", "text"))
    val diff = withEdge.select(
        Dedup.shingles(col("text"), 3).as("a"),
        ParityTwins.shinglesHof(col("text"), 3).as("b"))
      .where(col("a") =!= col("b")).count()
    assert(diff == 0)
  }

  test("native simhash expression equals the HOF formulation bit-for-bit") {
    val diff = SimHash.withFingerprint(docs).select(col("doc_id"), col("simhash"))
      .join(ParityTwins.withFingerprintHof(docs)
        .select(col("doc_id"), col("simhash").as("hof")), "doc_id")
      .where(col("simhash") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("jaccard: identical texts 1.0, disjoint 0.0") {
    val pairs = Seq(("a b c d", "a b c d"), ("a b c", "x y z"))
      .toDF("t1", "t2")
    val out = Dedup.withJaccard(pairs, "t1", "t2").select("jaccard")
      .as[Double].collect()
    assert(out.toSeq == Seq(1.0, 0.0))
  }

  test("cosine expression: exact values, null on zero norm") {
    val df = Seq(
      (Array(1.0, 0.0), Array(1.0, 0.0)),
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(1.0, 1.0), Array(0.0, 0.0))
    ).toDF("a", "b")
    val out = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => Option(r.get(0)))
    assert(out(0).contains(1.0))
    assert(out(1).contains(0.0))
    assert(out(2).isEmpty)
  }

  test("LSH ANN recall vs brute-force top-k") {
    // short bands (8 bands x 2 bits): the synthetic embeddings have low
    // pairwise similarity (max cosine ~0.5), so long bands would nearly
    // never collide; shorter bands trade candidate volume for recall.
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") < 10)
    val brute = Similarity.annTopKBrute(e, q, k = 3).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val lshDf = Similarity.annTopKLsh(e, q, k = 3, dim = 64, nPlanes = 16, bands = 8)
    assertNoCartesian(lshDf)
    val lsh = lshDf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"LSH recall vs brute: $recall")
  }

  test("IVF ANN recall vs brute-force top-k") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.where(col("vec_id") < 10)
    val brute = Similarity.annTopKBrute(e, q, k = 3).select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val ivf = Similarity.annTopKIvf(e, q, k = 3, nCells = 8, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall vs brute: $recall")
  }

  test("fused native nearest-cells ≡ the literal-centroid expression tree " +
      "(sims, tie-breaks, null/zero-norm vectors, n > nCells)") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("_cv"))
    val sample = e.orderBy(col("vec_id")).limit(256)
      .select(col("_cv")).collect().map(_.getSeq[Double](0).toArray)
    // adversarial codebook: duplicated centroid (forced sim tie — must
    // resolve to the HIGHER cell), zero-norm centroid (sim = -2.0 slot)
    val centers = Similarity.sphericalKMeans(sample, 6, 7L) ++
      Array(Similarity.sphericalKMeans(sample, 6, 7L)(2),
        Array.fill(64)(0.0))
    // adversarial vectors: a zero vector (every cosine undefined -> all
    // sims -2.0 -> cells by descending id) and a null vector row
    val vecs = e.select(col("_cv"))
      .unionByName(spark.range(1).select(
        array((0 until 64).map(_ => lit(0.0)): _*)
          .cast("array<double>").as("_cv")))
      .unionByName(spark.range(1).select(
        lit(null).cast("array<double>").as("_cv")))
    for (n <- Seq(1, 4, 8, 12)) { // 12 > nCells=8 exercises slice shortening
      val ab = vecs.select(
        Similarity.nearestCells(centers, col("_cv"), n).as("a"),
        ParityTwins.nearestCellsTree(centers, col("_cv"), n).as("b"))
        .collect()
      ab.foreach { r =>
        assert(r.getSeq[Int](0) == r.getSeq[Int](1),
          s"n=$n native=${r.getSeq[Int](0)} tree=${r.getSeq[Int](1)}")
      }
    }
  }

  test("fused native LSH band buckets ≡ the literal-hyperplane expression " +
      "tree (sign bits, xxhash64 chain, null/zero/NaN/short vectors)") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // adversarial vectors: zero vector (every cosine undefined -> coalesce
    // 0.0 -> all bits 0), null vector (tree never went null -> all bits 0),
    // NaN element (Spark nan-safe compare: NaN > 0.0 -> bit 1), short
    // vector (common-prefix cosine), negated first corpus row
    val adversarial = spark.range(1).select(
        lit(9000001L).as("vec_id"),
        array((0 until 64).map(_ => lit(0.0)): _*).cast("array<double>").as("embedding"))
      .unionByName(spark.range(1).select(lit(9000002L).as("vec_id"),
        lit(null).cast("array<double>").as("embedding")))
      .unionByName(spark.range(1).select(lit(9000003L).as("vec_id"),
        array(lit(Double.NaN), lit(1.0), lit(-2.0)).cast("array<double>").as("embedding")))
      .unionByName(spark.range(1).select(lit(9000004L).as("vec_id"),
        array(lit(0.5), lit(-0.25)).cast("array<double>").as("embedding")))
    val vecs = e.unionByName(adversarial)
      .unionByName(e.where(col("vec_id") === 0).select(
        (col("vec_id") + 9000005L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding")))
    for ((nPlanes, bands) <- Seq((16, 2), (16, 8), (8, 4))) {
      val a = Similarity.withLshBuckets(vecs, dim = 64, nPlanes, bands)
        .select("vec_id", "band", "bucket").as[(Long, Int, Long)].collect().toSet
      val b = ParityTwins.withLshBucketsTree(vecs, dim = 64, nPlanes, bands)
        .select("vec_id", "band", "bucket").as[(Long, Int, Long)].collect().toSet
      assert(a == b, s"nPlanes=$nPlanes bands=$bands: native " +
        s"diff ${(a -- b).take(3)} / tree diff ${(b -- a).take(3)}")
    }
  }

  test("fused native MatVec ≡ the HOF matmul tree (rotate and project " +
      "shapes; null/null-element/NaN/short/long vectors)") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    // adversarial vectors: null vector (tree -> all-null elements, NOT a
    // null array), 64-length vector with one NULL element (null product
    // poisons the whole fold), 64-length vector with a NaN element (NaN
    // arithmetic must match), short and long vectors (zip_with pads ->
    // all-null elements), zero vector
    val d64 = (i: Int) => lit(if (i == 7) Double.NaN else i * 0.125 - 4.0)
    val adversarial = spark.range(1).select(
        lit(9000001L).as("vec_id"),
        lit(null).cast("array<double>").as("embedding"))
      .unionByName(spark.range(1).select(lit(9000002L).as("vec_id"),
        array((0 until 64).map(i =>
          if (i == 3) lit(null).cast("double") else lit(i * 0.5 - 16.0)): _*)
          .cast("array<double>").as("embedding")))
      .unionByName(spark.range(1).select(lit(9000003L).as("vec_id"),
        array((0 until 64).map(d64): _*).cast("array<double>").as("embedding")))
      .unionByName(spark.range(1).select(lit(9000004L).as("vec_id"),
        array(lit(0.5), lit(-0.25)).cast("array<double>").as("embedding")))
      .unionByName(spark.range(1).select(lit(9000005L).as("vec_id"),
        array((0 until 80).map(i => lit(i * 0.01)): _*)
          .cast("array<double>").as("embedding")))
      .unionByName(spark.range(1).select(lit(9000006L).as("vec_id"),
        array((0 until 64).map(_ => lit(0.0)): _*)
          .cast("array<double>").as("embedding")))
    val vecs = e.unionByName(adversarial)
    // a deterministic non-trivial 64x64 "rotation" (parity needs any
    // matrix, not an orthogonal one)
    val r: Seq[Seq[Double]] =
      Seq.tabulate(64, 64)((i, j) => ((i * 31 + j * 17) % 7 - 3) * 0.25)
    def bits(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Option[Long]]] =
      df.collect().map { row =>
        val id = row.getLong(0)
        val arr = row.getSeq[Any](1)
        id -> arr.map(x => Option(x).map(v =>
          java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])))
      }.toMap
    val ra = bits(vecs.select(col("vec_id"),
      Similarity.rotateVec(col("embedding"), r).as("out")))
    val rb = bits(vecs.select(col("vec_id"),
      ParityTwins.rotateVecTree(col("embedding"), r).as("out")))
    assert(ra == rb, s"rotate diff: ${ra.find(kv => rb.get(kv._1) != Some(kv._2)).take(1)}")
    for (outDim <- Seq(16, 32)) {
      val pa = bits(vecs.select(col("vec_id"),
        Similarity.projectVec(col("embedding"), 64, outDim).as("out")))
      val pb = bits(vecs.select(col("vec_id"),
        ParityTwins.projectVecTree(col("embedding"), 64, outDim).as("out")))
      assert(pa == pb, s"project outDim=$outDim diff: " +
        s"${pa.find(kv => pb.get(kv._1) != Some(kv._2)).take(1)}")
    }
  }

  test("embedding near-dup finds seeded jittered copies") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val aug = e.where(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), (x, i) => x + lit(0.01) * (pmod(i, lit(7)) - lit(3)))
          .as("embedding"))
    val pairs = Similarity.nearDupPairs(e.unionByName(aug), threshold = 0.98, dim = 64)
    val found = pairs.where(col("id2") - col("id1") === 1000000).count()
    val total = aug.count()
    assert(found.toDouble / total >= 0.7, s"recall $found/$total")
  }

  test("text analysis: tokens, quality, langid, fingerprint invariants") {
    val df = Seq((1L, "The cat and the dog. Le chat!")).toDF("doc_id", "text")
    val q = TextAnalysis.withQuality(df).collect()(0)
    assert(q.getAs[Int]("n_tokens") == 7)
    assert(q.getAs[Double]("punct_ratio") > 0)
    val l = TextAnalysis.withLangId(df).collect()(0)
    assert(l.getAs[Int]("sw_en") == 3) // the, and, the
    assert(l.getAs[String]("lang_pred") == "en")
    // fingerprint is whitespace/case-insensitive
    val fps = Seq((1L, "a  b C"), (2L, "A B  c")).toDF("doc_id", "text")
      .select(TextAnalysis.fingerprint(col("text")).as("f"))
      .distinct().count()
    assert(fps == 1)
  }

  test("multimodal: payload metadata + stubbed batched decode") {
    val df = Seq((1L, "abc")).toDF("doc_id", "text")
    val out = Multimodal.decodeFeatures(Multimodal.withPayload(df)).collect()(0)
    assert(out.getAs[org.apache.spark.sql.Row]("meta").getAs[Int]("n_bytes") == 3)
    // 'a'=97 'b'=98 'c'=99
    assert(out.getAs[Double]("mean_byte") == 98.0)
    assert(out.getAs[Int]("max_byte") == 99)
    assert(out.getAs[Seq[Long]]("byte_hist")(1) == 3L) // all in [64,128)
  }

  test("native expressions are callable from SQL via GraftExtensions") {
    val r = spark.sql(
      """SELECT word_shingles('a b c d', 2) AS sh,
        |       word_ngrams('a b a b', 2) AS ng,
        |       simhash64(array('x', 'y')) AS fp,
        |       cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs
        |""".stripMargin).collect()(0)
    assert(r.getSeq[String](r.fieldIndex("sh")).toList == List("a b", "b c", "c d"))
    assert(r.getSeq[String](r.fieldIndex("ng")).toList == List("a b", "b a", "a b"))
    assert(r.getAs[Double]("cs") == 1.0)
    assert(r.get(r.fieldIndex("fp")) != null)
  }

  test("frame sampling keeps every Nth frame including a short tail") {
    import spark.implicits._
    // 10-byte payload, 4-byte frames -> frames 0,1,2 (tail len 2); every 2nd
    val docs = Seq((1L, "aaaabbbbcc")).toDF("doc_id", "text")
    val frames = llm.Multimodal.frameSample(
        llm.Multimodal.withPayload(docs), frameBytes = 4, everyN = 2)
      .orderBy("frame_idx")
      .select("frame_idx", "frame", "mean_byte").collect()
    assert(frames.map(_.getInt(0)).toSeq == Seq(0, 2))
    assert(new String(frames(0).getAs[Array[Byte]]("frame")) == "aaaa")
    assert(new String(frames(1).getAs[Array[Byte]]("frame")) == "cc")
    assert(frames(1).getAs[Double]("mean_byte") == 'c'.toInt.toDouble)
  }

  test("resize stub rewrites payload size and metadata dims") {
    import spark.implicits._
    val docs = Seq((1L, "x" * 100)).toDF("doc_id", "text")
    val out = llm.Multimodal.resizeStub(
      llm.Multimodal.withPayload(docs), w = 32, h = 16).collect()(0)
    val target = 32 * 16 / 64
    assert(out.getAs[Array[Byte]]("payload").length == target)
    val meta = out.getAs[org.apache.spark.sql.Row]("meta")
    assert(meta.getAs[Int]("n_bytes") == target &&
      meta.getAs[Int]("width") == 32 && meta.getAs[Int]("height") == 16)
  }

  test("perceptual dHash: deterministic, local-edit tolerant, null on " +
      "empty payloads") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog " * 12
    val edited = base.updated(5, 'Q').updated(200, 'x') // in-place edits
    val docs = Seq((1L, base), (2L, base), (3L, edited), (4L, ""))
      .toDF("doc_id", "text")
    val out = Multimodal.withDHash(Multimodal.withPayload(docs))
      .select("doc_id", "dhash").orderBy("doc_id").collect()
    val h1 = out(0).getAs[Long]("dhash")
    assert(h1 == out(1).getAs[Long]("dhash"), "identical payloads, same hash")
    val h3 = out(2).getAs[Long]("dhash")
    // two point edits perturb at most a few block means → few bit flips
    assert(java.lang.Long.bitCount(h1 ^ h3) <= 10,
      s"local edit flipped ${java.lang.Long.bitCount(h1 ^ h3)} bits")
    assert(out(3).isNullAt(out(3).fieldIndex("dhash")), "empty payload → null")
  }

  test("perceptual near-dup: seeded in-place-edit twins recovered via the " +
      "Hamming-banded join, no cartesian") {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val twins = d.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        overlay(overlay(overlay(col("text"), lit("Q"), lit(5)),
          lit("x"), greatest(length(col("text")) / 2, lit(1))),
          lit("!"), greatest(length(col("text")) - 3, lit(1))).as("text"))
    val nSeeded = twins.count()
    val withP = Multimodal.withPayload(d.unionByName(twins))
    val pairs = Multimodal.perceptualNearDup(withP, maxHamming = 10)
    assertNoCartesian(pairs)
    val found = pairs.collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val seeded = d.where(col("doc_id") % 10 === 0).select("doc_id")
      .collect().map(_.getLong(0)).map(i => (i, i + 1000000L))
    val hit = seeded.count(found.contains)
    // every seeded pair differs in ≤3 blocks of the 9×8 grid → within
    // the Hamming budget; demand high recall of the seeded population
    val recall = hit.toDouble / nSeeded
    assert(recall >= 0.9, s"seeded perceptual recall: $recall ($hit/$nSeeded)")
  }

  test("container-aware dHash: hand-built PNG/JPEG fixtures (grid anchored " +
      "to the parsed region, header drift invisible, opaque fallback, " +
      "nulls) and seeded in-place-edit recall on real containers") {
    import spark.implicits._
    import graft.functions.DHash64
    val base = "pixel row payload bytes standing in for luminance " * 8
    val one = Seq((1L, base)).toDF("doc_id", "text")
    def containerHash(df: org.apache.spark.sql.DataFrame): Option[Long] = {
      val r = Multimodal.withContainerDHash(df).select("dhash")
        .collect().head
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    def opaqueHash(df: org.apache.spark.sql.DataFrame): Option[Long] = {
      val r = Multimodal.withDHash(df).select("dhash").collect().head
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    // PNG: the expression's hash IS the row-major grid at the IHDR width
    // over the post-header region (recomputed here via the static helper)
    val png = Multimodal.withPngPayload(one)
    val pngBytes = png.select("payload").collect().head.getAs[Array[Byte]](0)
    val ihdrW = ((pngBytes(16) & 0xFF) << 24) | ((pngBytes(17) & 0xFF) << 16) |
      ((pngBytes(18) & 0xFF) << 8) | (pngBytes(19) & 0xFF)
    assert(containerHash(png).contains(
      DHash64.hashImage(pngBytes, 33, ihdrW).longValue()))
    // JPEG: same body + dims under two different comment LENGTHS — the
    // re-save drift. Container hashes identical (region is offset-
    // anchored past the SOF); the opaque byte-stream hash smears.
    def jpeg(comment: String) = Multimodal.withPayload(one)
      .withColumn("payload", Multimodal.jpegHeader(
        col("meta.width"), col("meta.height"), lit(comment),
        encode(col("text"), "utf-8")))
    val j1 = jpeg("short")
    val j2 = jpeg("a much longer resave comment written by a second tool")
    assert(containerHash(j1) == containerHash(j2),
      "JPEG header drift moved the container hash")
    assert(opaqueHash(j1) != opaqueHash(j2),
      "fixture too weak: the opaque hash did not smear under drift")
    // the TRUE grid path (region fills the declared geometry): a 16-px-
    // wide, 32-row image — a point edit flips only the bits of the grid
    // cells covering its pixel rectangle, never one bit per row
    def pngOf(body: String) = one.select(col("doc_id"),
      Multimodal.pngHeader(lit(16), lit(32),
        encode(lit(body), "utf-8")).as("payload"))
    val wide = "rowmajorpixels.." * 32 // 512 bytes = 16 x 32
    val hw1 = containerHash(pngOf(wide)).get
    val hw2 = containerHash(pngOf(wide.updated(100, 'Z'))).get
    assert(java.lang.Long.bitCount(hw1 ^ hw2) <= 2,
      s"grid-path point edit flipped ${java.lang.Long.bitCount(hw1 ^ hw2)}")
    // appended pixel ROWS leave the upper grid signs mostly intact
    // (offset-anchored geometry; a byte-stream grid would rescale every
    // cell boundary)
    val hw3 = containerHash(pngOf(wide + "appendedrowbytes" * 4)).get
    assert(java.lang.Long.bitCount(hw1 ^ hw3) <= 16,
      s"row append flipped ${java.lang.Long.bitCount(hw1 ^ hw3)}")

    // non-container payloads fall back to the opaque whole-payload grid
    val raw = Multimodal.withPayload(one)
    assert(containerHash(raw) == opaqueHash(raw))
    // nulls: empty payload, and a container whose decoded region is empty
    val emptyPayload = one.select(col("doc_id"),
      encode(lit(""), "utf-8").as("payload"))
    assert(containerHash(emptyPayload).isEmpty)
    val headerOnlyPng = one.select(col("doc_id"),
      Multimodal.pngHeader(lit(40), lit(30),
        encode(lit(""), "utf-8")).as("payload"))
    assert(containerHash(headerOnlyPng).isEmpty,
      "empty decoded region must hash to null, not to a header hash")

    // seeded recall on real containers: even ids ride PNG, odd ids ride
    // JPEG with an id-keyed comment length (every twin's header offset
    // differs from its source's) — the contract key's corpus
    val pairs = SparkEntry.queries("perceptual_container")(spark, sfDir)
    assertNoCartesian(pairs)
    val found = pairs.collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val d = Tables.documents(spark, sfDir).select(col("doc_id"))
    val seeded = d.where(col("doc_id") % 5 === 0)
      .collect().map(_.getLong(0)).map(i => (i, i + 1000000L))
    val recall = seeded.count(found.contains).toDouble / seeded.length
    assert(recall >= 0.9,
      s"container perceptual recall: $recall over ${seeded.length} twins")
    // and the JPEG half is exactly the population the OPAQUE hash loses
    // under header drift: rebuild the key's JPEG corpus and run the
    // opaque-fingerprint join — container recall must strictly beat it
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val twins = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        overlay(col("text"), lit("Q"),
          greatest(length(col("text")) / 2, lit(1))).as("text"))
    val jpgAll = Multimodal.withPayload(
        docs.unionByName(twins).where(pmod(col("doc_id"), lit(2)) === 1))
      .withColumn("payload", Multimodal.jpegHeader(
        col("meta.width"), col("meta.height"),
        concat(lit("resave-comment-padding-padding-"), col("doc_id"))
          .substr(lit(1), (lit(5) + pmod(col("doc_id"), lit(23))).cast("int")),
        encode(col("text"), "utf-8")))
      .select("doc_id", "payload")
    val jpgSeeded = seeded.filter(_._1 % 2 == 1)
    assert(jpgSeeded.nonEmpty)
    val opaqueFound = Multimodal.perceptualNearDup(jpgAll, maxHamming = 10)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    val containerJpgRecall =
      jpgSeeded.count(found.contains).toDouble / jpgSeeded.length
    val opaqueJpgRecall =
      jpgSeeded.count(opaqueFound.contains).toDouble / jpgSeeded.length
    assert(containerJpgRecall > opaqueJpgRecall,
      s"container recall $containerJpgRecall must beat opaque " +
        s"$opaqueJpgRecall on header-drifted JPEGs")
  }

  test("perceptualNearDupIncremental: dup_of_index ≡ full-pass restriction," +
      " statuses exercised, replay cannot grow the corpus") {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val hist = d.where(col("doc_id") % 5 =!= 0)
    val editTwin = overlay(overlay(col("text"), lit("Q"), lit(5)),
      lit("!"), greatest(length(col("text")) - 3, lit(1)))
    val batch = d.where(col("doc_id") % 5 =!= 0 && col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), editTwin.as("text"))
      .unionByName(d.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" fresh"), col("doc_id")).as("text")))
      .unionByName(spark.range(1).select(lit(9999999L).as("doc_id"),
        lit("").as("text")))
    val histP = llm.Multimodal.withPayload(hist)
    val batchP = llm.Multimodal.withPayload(batch)
    val index = llm.Multimodal.buildDHashIndex(histP)
    val out = llm.Multimodal.perceptualNearDupIncremental(batchP, index,
      maxHamming = 10)
    // dup_of_index docs are EXACTLY the batch docs with a full-pass pair
    // to a history doc: identical fingerprints, identical band machinery
    val full = llm.Multimodal.perceptualNearDup(
      histP.unionByName(batchP).select(col("doc_id"), col("payload")),
      maxHamming = 10)
    val crossMatched = full
      .where(col("id1") < 1000000L && col("id2") >= 1000000L)
      .select(col("id2").as("doc_id")).distinct()
    val dupIdx = out.where(col("status") === "dup_of_index").select("doc_id")
    assert(dupIdx.exceptAll(crossMatched).count() == 0)
    assert(crossMatched.exceptAll(dupIdx).count() == 0)
    val byStatus = out.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.getOrElse("dup_of_index", 0L) > 0, byStatus.toString)
    assert(byStatus.getOrElse("accepted", 0L) > 0, byStatus.toString)
    assert(byStatus.getOrElse("unhashable", 0L) == 1, byStatus.toString)
    // replay against index ∪ accepted: every hashable doc matches the
    // index (itself at hamming 0) — the corpus cannot grow on retry
    val accepted = batchP.join(
      out.where(col("status") === "accepted").select("doc_id"), Seq("doc_id"))
    val out2 = llm.Multimodal.perceptualNearDupIncremental(batchP,
      index.unionByName(llm.Multimodal.buildDHashIndex(accepted)),
      maxHamming = 10)
    assert(out2.where(col("status") === "accepted").count() == 0)
    assert(out2.where(col("status") === "dup_of_index" &&
      col("hamming") === 0).count() >= accepted.count())
  }

  test("incremental maxBucket caps the COMBINED index + batch bucket " +
      "population (MinHash and dHash)") {
    // a 60-copy template family split 30 / 30 between index and batch:
    // each side alone is under the cap of 40, together every bucket the
    // family shares holds 60 — so only a combined count drops it
    val template = "the same boilerplate template text repeated across " +
      "the whole mirror family"
    val organic = "a genuinely distinct document about market " +
      "microstructure liquidity dynamics funding basis and open interest in "
    val hist = ((0L until 30L).map(i => (i, template)) :+
      (9000L, organic + "futures")).toDF("doc_id", "text")
    val batch = ((100L until 130L).map(i => (i, template)) :+
      (9001L, organic + "futurez")).toDF("doc_id", "text")
    Seq(
      "minhash" -> ((cap: Option[Int]) => MinHashLsh.nearDupIncremental(
        batch, MinHashLsh.buildIndex(hist), threshold = 0.3,
        maxBucket = cap)),
      "dhash" -> ((cap: Option[Int]) => Multimodal.perceptualNearDupIncremental(
        Multimodal.withPayload(batch),
        Multimodal.buildDHashIndex(Multimodal.withPayload(hist)),
        maxBucket = cap))
    ).foreach { case (family, decide) =>
      val byId = Seq(None, Some(40)).map { cap =>
        decide(cap).collect().map(r => r.getLong(0) -> r).toMap
      }
      val Seq(uncapped, capped) = byId
      val family100 = (100L until 130L)
      assert(family100.forall(i =>
        uncapped(i).getString(1) == "dup_of_index"), s"$family: $uncapped")
      assert(family100.forall(i =>
        capped(i).getString(1) != "dup_of_index"), s"$family: $capped")
      // within the batch alone the family is under the cap: it clusters
      // onto its min-id survivor instead
      assert(capped(100L).getString(1) == "accepted", s"$family: $capped")
      assert(family100.tail.forall(i => capped(i).getString(1) ==
        "dup_in_batch" && capped(i).getLong(2) == 100L), s"$family: $capped")
      // the organic pair shares no capped bucket: decided identically
      assert(uncapped(9001L) == capped(9001L), s"$family: ${capped(9001L)}")
      assert(capped(9001L).getString(1) == "dup_of_index" &&
        capped(9001L).getLong(2) == 9000L, s"$family: ${capped(9001L)}")
    }
  }

  test("shard packing: greedy token-budget packs, stable shards, straddle rule") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    // one shard (nShards=1): token counts 5, 4, 3 against budget 8
    val docs = Seq((10L, words(5)), (11L, words(4)), (12L, words(3)))
      .toDF("doc_id", "text")
    val out = llm.TextAnalysis.packShards(docs, tokensPerPack = 8L, nShards = 1)
      .orderBy("doc_id").collect()
    // doc 10: 0 tokens before -> pack 0; doc 11: 5 before -> pack 0
    // (straddles the boundary, cum 9); doc 12: 9 before -> pack 1
    assert(out.map(_.getAs[Long]("pack_id")).toSeq == Seq(0L, 0L, 1L))
    assert(out.map(_.getAs[Long]("cum_tokens")).toSeq == Seq(5L, 9L, 12L))
    assert(out.forall(_.getAs[Int]("shard") == 0))
    // shards are doc_id mod nShards — stable, engine-independent
    val sharded = llm.TextAnalysis.packShards(docs, 8L, nShards = 2)
      .orderBy("doc_id").collect()
    assert(sharded.map(_.getAs[Int]("shard")).toSeq == Seq(0, 1, 0))
    // per-shard running sums restart: doc 12 is second in shard 0
    assert(sharded.map(_.getAs[Long]("cum_tokens")).toSeq == Seq(5L, 4L, 8L))
  }

  test("dedupRateCurve: exact Jaccard from gram blocking, monotone curve") {
    // trigrams: docs 1/2 share {abc, bcd} (df=2, inside the cap); their
    // unique third grams have df=1 and are blocked out but still count in
    // the distinct-gram sizes -> jac = 2 / (3 + 3 - 2) = 0.5 exactly
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d x"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupRateCurve(docs, thresholds = Seq(0.25, 0.5, 0.75),
        n = 3).collect()
      .map(r => (r.getAs[Double]("threshold"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_dropped")))
    assert(out.toSeq == Seq((0.25, 1L, 1L), (0.5, 1L, 1L), (0.75, 0L, 0L)))
  }

  test("dedupRateCurve blocking is df-capped: stop-grams produce no pairs") {
    // every doc shares the gram "x y z" (df=4 > maxDf=3): the cap blocks
    // it, so no candidate pairs exist at all despite the common gram
    val docs = Seq((1L, "x y z a b"), (2L, "x y z c d"),
      (3L, "x y z e f"), (4L, "x y z g h")).toDF("doc_id", "text")
    val out = Dedup.dedupRateCurve(docs, thresholds = Seq(0.1),
        n = 3, maxDf = 3).collect()
      .map(r => (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_dropped")))
    assert(out.toSeq == Seq((0L, 0L)))
  }

  test("kmeansAssign: lowest-id codebook, max-cosine cells, ties to low cell") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),   // centroid 0
      (1L, Seq(0.0, 1.0, 0.0, 0.0)),   // centroid 1
      (2L, Seq(0.9, 0.1, 0.0, 0.0)),   // nearer centroid 0
      (3L, Seq(1.0, 1.0, 0.0, 0.0)),   // exact tie -> cell 0
      (10L, Seq(2.0, 0.0, 0.0, 0.0)))  // scaled copy of centroid 0
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansAssign(vecs, k = 2).orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cluster"),
        r.getAs[Double]("centroid_sim")))
    assert(out.toSeq == Seq((0L, 0, 1.0), (1L, 1, 1.0), (2L, 0, 0.993884),
      (3L, 0, 0.707107), (10L, 0, 1.0)))
  }

  test("NearestCentroid agrees with composed per-cell cosine columns at k=64") {
    // the fused-loop expression must match what k separate CosineSimilarity
    // columns + argmax would compute (incl. 6dp rounding and low-cell ties)
    val vecs = spark.range(500).select(col("id").as("vec_id"),
      array((0 until 8).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(1000L)) / 500.0 - 1.0)): _*)
        .as("embedding"))
    val k = 64
    val out = Similarity.kmeansAssign(vecs, k = k).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("cluster"), r.getAs[Double]("centroid_sim")))).toMap
    val centers = vecs.orderBy("vec_id").limit(k)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0))
    val sims = vecs.select(col("vec_id"),
      array(centers.toIndexedSeq.map(c => round(
        Similarity.cosine(col("embedding").cast("array<double>"),
          lit(c.toArray)), 6)): _*).as("_sims"))
      .withColumn("best", array_max(col("_sims")))
      .withColumn("cell", (array_position(col("_sims"), col("best")) - 1).cast("int"))
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("cell"), r.getAs[Double]("best")))).toMap
    assert(out == sims)
  }

  test("kmeansLloyd: one refinement migrates a bad init onto the true blobs") {
    // both init centroids (ids 0, 1) sit in blob A; after one iteration the
    // id-1 centroid absorbs blob B's members and moves to their mean, so the
    // final assignment separates the blobs exactly
    val blobA = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.9, 0.1, 0.0, 0.0)),
      (2L, Seq(0.95, 0.05, 0.0, 0.0)), (3L, Seq(1.0, 0.02, 0.0, 0.0)))
    val blobB = Seq(
      (4L, Seq(0.05, 1.0, 0.0, 0.0)), (5L, Seq(0.0, 0.9, 0.0, 0.0)),
      (6L, Seq(0.02, 1.0, 0.0, 0.0)), (7L, Seq(0.0, 1.0, 0.05, 0.0)),
      (8L, Seq(0.0, 0.95, 0.0, 0.0)), (9L, Seq(0.01, 1.0, 0.0, 0.0)))
    val vecs = (blobA ++ blobB).toDF("vec_id", "embedding")
    val before = Similarity.kmeansAssign(vecs, k = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    // init pathology: blob B is split off id 1's tilted vector, id 1 included
    assert(before(1L) == 1 && blobB.forall(v => before(v._1) == 1))
    val after = Similarity.kmeansLloyd(vecs, k = 2, iters = 1).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(blobA.forall(v => after(v._1) == 0), after.toString)
    assert(blobB.forall(v => after(v._1) == 1), after.toString)
  }

  test("kmeansLloyd with iters=0 degenerates to kmeansAssign") {
    val vecs = spark.range(50).select(col("id").as("vec_id"),
      array((0 until 6).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(100L)) / 50.0 - 1.0)): _*)
        .as("embedding"))
    val a = Similarity.kmeansAssign(vecs, k = 8).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val b = Similarity.kmeansLloyd(vecs, k = 8, iters = 0).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(a == b)
  }

  test("NearestCentroid interpreted eval agrees with the codegen path") {
    // force object-mode projections so nullSafeEval runs, then compare
    // against the default whole-stage-codegen result
    val vecs = spark.range(300).select(col("id").as("vec_id"),
      array((0 until 6).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(200L)) / 100.0 - 1.0)): _*)
        .as("embedding"))
    def run(): Seq[(Long, Int, Double)] =
      Similarity.kmeansAssign(vecs, k = 32).orderBy("vec_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val withCodegen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = run()
      assert(interpreted == withCodegen)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("semanticDedup drops within-cell lower-id matches, keeps the rest") {
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0)),
      (2L, Seq(0.9, 0.1, 0.0, 0.0)),   // cos to id 0 = 0.993884 < tau: kept
      (3L, Seq(1.0, 1.0, 0.0, 0.0)),
      (10L, Seq(2.0, 0.0, 0.0, 0.0)))  // cos 1.0 to id 0: dropped
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, k = 2, tau = 0.995)
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_dups_prev"),
        Option(r.getAs[Double]("max_sim_prev")), r.getAs[Int]("kept")))
    assert(out.toSeq == Seq(
      (0L, 0L, None, 1), (1L, 0L, None, 1), (2L, 0L, None, 1),
      (3L, 0L, None, 1), (10L, 1L, Some(1.0), 0)))
  }

  test("semanticDedup is cell-local: boundary-straddling twins both survive") {
    // ids 0/1 define the cells; 2 and 3 are near-identical (cosine
    // 0.99995) but straddle the decision boundary, so neither sees the
    // other — the documented SemDeDup recall trade-off vs all-pairs
    // (pairwise work stays O(sum c_i^2), never corpus-pairwise)
    val vecs = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.99, 0.0, 0.0)),   // barely cell 0
      (3L, Seq(0.99, 1.0, 0.0, 0.0)))   // barely cell 1
      .toDF("vec_id", "embedding")
    val asg = Similarity.kmeansAssign(vecs, k = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    assert(asg(2L) == 0 && asg(3L) == 1)
    val out = Similarity.semanticDedup(vecs, k = 2, tau = 0.95)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("kept")).toMap
    assert(out == Map(0L -> 1, 1L -> 1, 2L -> 1, 3L -> 1))
  }

  test("semanticDedupIncremental: hand-case statuses + match provenance, " +
      "twin recall against the kept index, replay cannot grow the corpus, " +
      "maxCell split identical") {
    import spark.implicits._
    // hand case: codebook anchors 1 (cell 0) and 2 (cell 1); 3 dups 1 so
    // the kept index is exactly {1, 2}
    val hist = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.0)),
      (3L, Seq(2.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val centers = Similarity.trainCodebook(hist, k = 2)
    val keptH = Similarity.semanticDedupWith(hist, centers, tau = 0.95)
      .where(col("kept") === 1).select("vec_id", "cluster")
    assert(keptH.select("vec_id").as[Long].collect().toSet == Set(1L, 2L))
    val keptIdx = hist.join(keptH, "vec_id")
    val batch = Seq(
      (10L, Seq(3.0, 0.0, 0.0, 0.0)),   // dup_of_index: match 1, sim 1.0
      (11L, Seq(0.0, 0.5, 0.1, 0.0)),   // dup_of_index: match 2, .980581
      (12L, Seq(0.0, 0.0, 1.0, 0.0)),   // orthogonal → accepted
      (13L, Seq(0.0, 0.0, 0.9, -0.1)))  // dup_in_batch of 12 (.993884)
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedupIncremental(batch, keptIdx, centers,
        tau = 0.95)
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("status"),
        Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong),
        Option(r.getAs[java.lang.Double]("sim")).map(_.toDouble)))
    assert(out.toSeq == Seq(
      (10L, "dup_of_index", Some(1L), Some(1.0)),
      (11L, "dup_of_index", Some(2L), Some(0.980581)),
      (12L, "accepted", None, None),
      (13L, "dup_in_batch", Some(12L), Some(0.993884))), out.mkString("\n"))
    // replay-cannot-grow: append the accepted vector to the index and
    // rerun — it matches ITSELF at cosine 1.0, so nothing re-enters
    val cl12 = out.collectFirst { case (12L, _, _, _) => () }
    assert(cl12.isDefined)
    val idx2 = keptIdx.unionByName(
      Seq((12L, Seq(0.0, 0.0, 1.0, 0.0))).toDF("vec_id", "embedding")
        .join(Similarity.kmeansAssignWith(
          Seq((12L, Seq(0.0, 0.0, 1.0, 0.0))).toDF("vec_id", "embedding"),
          centers).select("vec_id", "cluster"), "vec_id"))
    val replay = Similarity.semanticDedupIncremental(
        batch.where(col("vec_id") === 12L), idx2, centers, tau = 0.95)
      .collect().head
    assert(replay.getAs[String]("status") == "dup_of_index" &&
      replay.getAs[Long]("match_id") == 12L &&
      replay.getAs[Double]("sim") == 1.0)

    // corpus case (the contract key's shape): every batch twin whose
    // SOURCE is kept in the index and shares its cell must come back
    // dup_of_index — the seeded pairs sit at cosine ≥ .99, far over tau
    val e0 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val aug = e0.where(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x + lit(0.01) * (pmod(i, lit(7)) - lit(3)))
          .as("embedding"))
    val corpus = e0.unionByName(aug)
    val h2 = corpus.where(col("vec_id") % 3 =!= 0)
    val b2 = corpus.where(col("vec_id") % 3 === 0)
    val c2 = Similarity.trainCodebook(h2, k = 8)
    val k2 = Similarity.semanticDedupWith(h2, c2, tau = 0.95)
      .where(col("kept") === 1).select("vec_id", "cluster")
    val ki2 = h2.join(k2, "vec_id")
    val out2 = Similarity.semanticDedupIncremental(b2, ki2, c2, tau = 0.95)
    val byId = out2.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("cluster"), r.getAs[String]("status"))).toMap
    val keptCells = ki2.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val crossTwins = byId.keys.filter(_ >= 1000000L)
      .filter(t => keptCells.contains(t - 1000000L))
    assert(crossTwins.nonEmpty, "no cross-split twins — test data too weak")
    val sameCell = crossTwins.filter(t =>
      keptCells(t - 1000000L) == byId(t)._1)
    assert(sameCell.nonEmpty)
    assert(sameCell.forall(t => byId(t)._2 == "dup_of_index"),
      sameCell.filterNot(t => byId(t)._2 == "dup_of_index").mkString(","))
    // maxCell salt blocks: bit-identical to the plain join
    val split = Similarity.semanticDedupIncremental(b2, ki2, c2,
      tau = 0.95, maxCell = Some(7))
    assert(split.exceptAll(out2).count() == 0 &&
      out2.exceptAll(split).count() == 0)
  }

  test("semanticDedup maxCell salt-split is bit-identical to the plain join") {
    // one deliberately hot cell: 40 of 60 vectors ride the cell-0 codebook
    // direction with per-id jitter; maxCell=5 forces ceil(40/5)=8 salt
    // blocks through the split path on that cell while small cells get m=1
    val vecs = (0L until 60L).map { i =>
      val base =
        if (i >= 4 && i % 3 != 1) Seq(1.0, 0.0, 0.0, 0.0)
        else Seq(0.0, 1.0, 0.3 * (i % 5), 0.1 * (i % 7))
      (i, base.zipWithIndex.map { case (x, j) =>
        x + 0.01 * (((i * 31 + j * 17) % 11) - 5) })
    }.toDF("vec_id", "embedding")
    val plain = Similarity.semanticDedup(vecs, k = 4, tau = 0.98)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val split = Similarity.semanticDedup(vecs, k = 4, tau = 0.98,
        maxCell = Some(5))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(split == plain)
    // the hot cell really exercised the multi-block path
    val cells = Similarity.kmeansAssign(vecs, k = 4).groupBy("cluster").count()
      .collect().map(r => r.getAs[Int]("cluster") -> r.getAs[Long]("count")).toMap
    assert(cells.values.max > 5, s"no cell above the cap: $cells")
    // and the verdicts are not all-kept (dups actually fired on both paths)
    assert(plain.exists(_.last == 0))
  }

  test("embed_pipeline capstone: per-cell cap + contiguous ranks, twin " +
      "recall >= 90%, escapees are cell-blocking (not threshold) misses, " +
      "an unknown boundary mode throws") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("embed_pipeline")(spark, dir).collect()
    assert(out.nonEmpty)
    // cluster-balance cap engaged: every cell <= 30 survivors, ranks
    // contiguous from 1 (the md5-rank window is total per cell)
    val byCell = out.groupBy(_.getAs[Int]("cluster"))
    assert(byCell.values.forall(_.length <= 30))
    assert(byCell.values.forall(rs =>
      rs.map(_.getAs[Int]("cell_rank")).sorted.toSeq == (1 to rs.length)))
    // the seeded twins (ids >= 1e6, projected cosine to source >= 0.98,
    // far above tau=0.9) dedup in-cell: >= 90% recall end to end
    val twins = out.map(_.getAs[Long]("vec_id")).filter(_ >= 1000000L)
    assert(twins.length <= 12, s"${twins.length} twins survived the chain")
    // every escapee survived by CELL assignment, not by similarity: its
    // projected cosine to the source clears tau, so the only escape is
    // landing in a different k-means cell than its source — the
    // documented SemDeDup blocking trade (cell-local pairs, never
    // corpus-pairwise)
    if (twins.nonEmpty) {
      val e = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val aug = e.where(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x + lit(0.01) * (pmod(i, lit(7)) - lit(3)))
            .as("embedding"))
      val proj = e.unionByName(aug).select(col("vec_id"),
        transform(
          Similarity.projectVec(col("embedding"), inDim = 64, outDim = 32,
            seed = "jl"),
          x => round(x, 6)).as("embedding"))
      val cells = Similarity.kmeansAssign(proj, k = 8).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
      twins.foreach { t =>
        assert(cells(t) != cells(t - 1000000L),
          s"twin $t shares its source's cell yet survived — a real miss")
      }
    }
    // invalid boundary mode fails loudly
    spark.conf.set("graft.stage.boundary", "bogus")
    try intercept[IllegalArgumentException] {
      SparkEntry.queries("embed_pipeline")(spark, dir).collect()
    } finally spark.conf.unset("graft.stage.boundary")
  }

  test("random projection: hand signs, JL distance preservation, determinism") {
    // hand case: dim 2 -> 1, matrix entry signs from md5('jl:0:1'),
    // md5('jl:0:2') — recompute here independently
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(s: String) =
      if (((md.digest(s.getBytes("UTF-8"))(0) >> 4) & 1) == 1) 1.0 else -1.0
    val (s1, s2) = (sign("jl:0:1"), sign("jl:0:2"))
    val tiny = Seq((1L, Seq(3.0f, 5.0f))).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(tiny, inDim = 2, outDim = 1)
      .collect()(0).getAs[Double]("value")
    assert(math.abs(got - math.rint((3.0 * s1 + 5.0 * s2) * 1e6) / 1e6) < 1e-9)
    // JL on the real table: projected pairwise distances track originals
    // (loose band — outDim 16 from 64; Achlioptas guarantees in
    // expectation, we pin the median ratio near 1 and a wide max band)
    val emb = Tables.embeddings(spark, sfDir).where(col("vec_id") < 60)
    val proj = Similarity.randomProject(emb, 64, 16)
      .groupBy("vec_id").agg(collect_list(struct(col("out_dim"), col("value")))
        .as("p"))
      .select(col("vec_id"), expr(
        "transform(array_sort(p), s -> s.value)").as("pv"))
    val origs = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")).collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]]("v").toArray).toMap
    val projs = proj.collect().map(r => r.getLong(0) ->
      r.getAs[scala.collection.Seq[Double]]("pv").toArray).toMap
    def d(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val ratios = for {
      i <- origs.keys.toSeq.sorted; jj <- origs.keys.toSeq.sorted if i < jj
    } yield d(projs(i), projs(jj)) / d(origs(i), origs(jj))
    val sortedR = ratios.sorted
    val median = sortedR(sortedR.length / 2)
    assert(median > 0.75 && median < 1.25, s"median JL ratio $median")
    assert(sortedR.head > 0.3 && sortedR.last < 2.0,
      s"JL band [${sortedR.head}, ${sortedR.last}]")
    // deterministic across partitionings (literal matrix, no RNG state)
    val a1 = Similarity.randomProject(emb, 64, 16).orderBy("vec_id", "out_dim")
      .collect().map(_.getAs[Double]("value")).toSeq
    val a2 = Similarity.randomProject(emb.repartition(7), 64, 16)
      .orderBy("vec_id", "out_dim")
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(a1 == a2)
    // map-only: no exchange in the projection plan itself
    assert(!Similarity.randomProject(emb, 64, 16)
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("PNG header parsing: hand-written real header, round-trip, non-PNG") {
    // a genuine PNG signature + IHDR for a 3x2, bit depth 8, color type 6
    // image — written BYTE BY BYTE here, independent of the builder, so a
    // consistent endianness/offset bug in build+parse cannot cancel out
    val hand: Array[Byte] = (Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt,
      0x0D, 0x0A, 0x1A, 0x0A,                    // signature
      0x00, 0x00, 0x00, 0x0D,                    // IHDR length 13
      'I'.toInt, 'H'.toInt, 'D'.toInt, 'R'.toInt,
      0x00, 0x00, 0x00, 0x03,                    // width 3
      0x00, 0x00, 0x00, 0x02,                    // height 2
      0x08, 0x06, 0x00, 0x00, 0x00,              // depth 8, color 6 (RGBA)
      0x9A, 0x76, 0x82, 0x70,                    // (crc bytes, unchecked)
      0x00)                                      // 1 body byte -> >= 33
      ).map(_.toByte).toArray
    val rows = Seq((1L, hand), (2L, "just some text bytes not a png  xxxx"
      .getBytes("UTF-8"))).toDF("id", "payload")
    val out = Multimodal.pngMeta(rows).orderBy("id").collect()
    assert(out(0).getAs[Int]("is_png") == 1)
    assert(out(0).getAs[Long]("png_width") == 3L &&
      out(0).getAs[Long]("png_height") == 2L)
    assert(out(0).getAs[Int]("png_bit_depth") == 8 &&
      out(0).getAs[Int]("png_color_type") == 6)
    assert(out(1).getAs[Int]("is_png") == 0 &&
      out(1).isNullAt(out(1).fieldIndex("png_width")))
    // builder round-trip on the corpus: parsed dims equal the metadata
    val rt = Multimodal.pngMeta(Multimodal.withPngPayload(docs))
    assert(rt.where(col("is_png") =!= 1 ||
      col("png_width") =!= col("meta.width") ||
      col("png_height") =!= col("meta.height") ||
      col("png_bit_depth") =!= 8 || col("png_color_type") =!= 2)
      .count() == 0)
    // map-only plan
    assert(!rt.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("WAV header parsing: hand-written real header, round-trip, non-WAV") {
    // a genuine 44-byte RIFF/WAVE PCM header (mono, 8000 Hz, 16-bit,
    // 4 data bytes), written byte by byte independent of the builder
    val hand: Array[Byte] = (Seq[Int](
      'R', 'I', 'F', 'F', 0x28, 0x00, 0x00, 0x00,  // RIFF, size 40 LE
      'W', 'A', 'V', 'E', 'f', 'm', 't', ' ',
      0x10, 0x00, 0x00, 0x00,                      // fmt size 16 LE
      0x01, 0x00, 0x01, 0x00,                      // PCM, 1 channel
      0x40, 0x1F, 0x00, 0x00,                      // 8000 Hz LE
      0x80, 0x3E, 0x00, 0x00,                      // byte rate 16000 LE
      0x02, 0x00, 0x10, 0x00,                      // block align 2, 16 bit
      'd', 'a', 't', 'a', 0x04, 0x00, 0x00, 0x00,  // data, size 4 LE
      0x11, 0x22, 0x33, 0x44)                      // 4 sample bytes
      ).map(_.toByte).toArray
    val rows = Seq((1L, hand),
      (2L, ("x" * 50).getBytes("UTF-8"))).toDF("id", "payload")
    val out = Multimodal.wavMeta(rows).orderBy("id").collect()
    assert(out(0).getAs[Int]("is_wav") == 1)
    assert(out(0).getAs[Int]("wav_channels") == 1 &&
      out(0).getAs[Long]("wav_sample_rate") == 8000L)
    assert(out(0).getAs[Int]("wav_bits") == 16 &&
      out(0).getAs[Long]("wav_data_bytes") == 4L)
    // 4 bytes at 16000 B/s = 0.25 ms
    assert(out(0).getAs[Double]("wav_duration_ms") == 0.25)
    assert(out(1).getAs[Int]("is_wav") == 0 &&
      out(1).isNullAt(out(1).fieldIndex("wav_sample_rate")))
    // builder round-trip on the corpus
    val rt = Multimodal.wavMeta(Multimodal.withWavPayload(docs))
    assert(rt.where(col("is_wav") =!= 1 || col("wav_bits") =!= 16 ||
      col("wav_data_bytes") =!= octet_length(col("text"))).count() == 0)
    assert(!rt.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("JPEG SOF parsing: hand-written marker walk, round-trip, corrupt") {
    // a genuine multi-segment JPEG header stream written byte by byte,
    // with a DIFFERENT segment mix than the builder emits (APP1 + COM +
    // DQT before a PROGRESSIVE SOF2) — the SOF offset is reachable only
    // by walking the variable-length segments, and a build+parse bug
    // cannot cancel out
    val hand: Array[Byte] = (Seq[Int](
      0xFF, 0xD8,                                   // SOI
      0xFF, 0xE1, 0x00, 0x08, 'E', 'x', 'i', 'f', 0x00, 0x00, // APP1 len 8
      0xFF, 0xFE, 0x00, 0x05, 'a', 'b', 'c',       // COM len 5
      0xFF, 0xDB, 0x00, 0x07, 0x00, 1, 2, 3, 4,    // DQT len 7
      0xFF, 0xC2, 0x00, 0x0B,                      // SOF2 len 11
      0x08,                                        // precision 8
      0x00, 0x07, 0x00, 0x05,                      // height 7, width 5
      0x01, 0x01, 0x22, 0x00)                      // 1 component
      ).map(_.toByte).toArray
    val truncated = hand.take(20)                  // dies inside the COM
    val sosFirst: Array[Byte] = (Seq[Int](0xFF, 0xD8, 0xFF, 0xDA,
      0x00, 0x04, 0x01, 0x02) ++ Seq.fill(30)(0x55)).map(_.toByte).toArray
    val rows = Seq(
      (1L, hand), (2L, "plain text bytes, no jpeg here".getBytes("UTF-8")),
      (3L, truncated), (4L, sosFirst)).toDF("id", "payload")
    val out = Multimodal.jpegMeta(rows).orderBy("id").collect()
    assert(out(0).getAs[Int]("is_jpeg") == 1)
    assert(out(0).getAs[Int]("jpeg_marker") == 0xC2)
    assert(out(0).getAs[Long]("jpeg_width") == 5L &&
      out(0).getAs[Long]("jpeg_height") == 7L)
    assert(out(0).getAs[Int]("jpeg_precision") == 8 &&
      out(0).getAs[Int]("jpeg_components") == 1)
    for (i <- 1 to 3) {
      assert(out(i).getAs[Int]("is_jpeg") == 0, s"row ${i + 1}")
      assert(out(i).isNullAt(out(i).fieldIndex("jpeg_width")))
    }
    // builder round-trip on the corpus: the per-row variable-length COM
    // shifts the SOF to a different offset on every row; the walk must
    // still recover exactly the metadata dimensions
    val rt = Multimodal.jpegMeta(Multimodal.withJpegPayload(docs))
    assert(rt.where(col("is_jpeg") =!= 1 ||
      col("jpeg_marker") =!= 0xC0 ||
      col("jpeg_width") =!= col("meta.width") ||
      col("jpeg_height") =!= col("meta.height") ||
      col("jpeg_precision") =!= 8 || col("jpeg_components") =!= 3)
      .count() == 0)
    // map-only and codegen'd: the marker walk lives inside the
    // whole-stage-codegen span (the starred projects), not behind it
    val plan = rt.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
    assert(plan.contains("*(1) Project") && plan.contains("jpeg_sof_meta"),
      plan)
  }

  test("capstone v2 composes deterministically with monotone attrition") {
    def run(d: org.apache.spark.sql.DataFrame) = {
      val norm = d.withColumn("text", TextAnalysis.normalize(col("text")))
      val benchmark = norm.where(col("doc_id") % 10 === 0)
      val corpus = norm.where(col("doc_id") % 10 =!= 0)
      val gated = TextAnalysis.gopherRules(corpus)
        .where(col("pass_gopher") === 1).select("doc_id", "text")
      val contaminated = Dedup.contaminationNgram(benchmark, gated, n = 8)
        .where(col("share_frac") >= 0.3).select(col("test_id").as("doc_id"))
      val clean = gated.join(contaminated, Seq("doc_id"), "left_anti")
      (corpus.count(), gated.count(), clean.count(),
        graft.llm.Sampling.shardShuffle(
          Dedup.spanDedup(clean).where(col("kept_text") =!= ""),
          "doc_id", 4, "v2").collect()
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
            r.getAs[Long]("pos_in_shard"))).sorted.toSeq)
    }
    val (nCorpus, nGated, nClean, out) = run(docs)
    assert(nCorpus >= nGated && nGated >= nClean && nClean >= out.size)
    assert(out.nonEmpty)
    // bit-identical under a different input partitioning
    val (_, _, _, out2) = run(docs.repartition(7))
    assert(out == out2)
  }

  test("mean pooling: hand averages, counts, exploded shape") {
    val vecs = Seq(
      (1L, 10L, Seq(1.0f, 2.0f)),
      (2L, 10L, Seq(3.0f, 6.0f)),
      (3L, 20L, Seq(5.0f, 5.0f)))
      .toDF("vec_id", "parent", "embedding")
    val out = Similarity.meanPool(vecs, "parent")
      .orderBy("group_id", "dim").collect()
      .map(r => (r.getAs[Long]("group_id"), r.getAs[Int]("dim"),
        r.getAs[Double]("value"), r.getAs[Long]("n_members")))
    assert(out.toSeq == Seq(
      (10L, 0, 2.0, 2L), (10L, 1, 4.0, 2L),
      (20L, 0, 5.0, 1L), (20L, 1, 5.0, 1L)))
  }

  test("compressed ANN: recall vs uncompressed brute, determinism") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") < 30)
    val brute = Similarity.annTopKBrute(emb, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val comp = Similarity.annTopKCompressed(emb, q, k = 5,
      inDim = 64, projDim = 32, shortlist = 100).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.intersect(comp).size.toDouble / brute.size
    assert(recall >= 0.75, s"compressed recall $recall")
    // output shape: exactly k per query, exact sims (re-ranked on floats)
    val rows = Similarity.annTopKCompressed(emb, q, 5, 64).collect()
    assert(rows.length == 30 * 5)
    // a shortlist as large as the corpus recovers brute exactly: the
    // compression only prunes, the final ranking is the exact cosine
    val full = Similarity.annTopKCompressed(emb, q, 5, 64,
      shortlist = emb.count().toInt).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val bruteFull = Similarity.annTopKBrute(emb, q, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(full == bruteFull)
  }

  test("PQ: codes in range, error shrinks with ksub, deterministic") {
    val emb = Tables.embeddings(spark, sfDir)
    val rep16 = Similarity.quantizePqReport(emb, inDim = 64, m = 8, ksub = 16)
    val rows = rep16.orderBy("vec_id").collect()
    assert(rows.length == emb.count())
    // code_sum is bounded by m * (ksub - 1)
    assert(rows.forall { r =>
      val cs = r.getAs[Long]("code_sum"); cs >= 0 && cs <= 8L * 15 })
    // more centroids per subspace can only improve mean reconstruction
    val rep1 = Similarity.quantizePqReport(emb, inDim = 64, m = 8, ksub = 1)
    val m16 = rep16.agg(avg("rmse")).head.getDouble(0)
    val m1 = rep1.agg(avg("rmse")).head.getDouble(0)
    assert(m16 < m1, s"rmse ksub16=$m16 vs ksub1=$m1")
    // deterministic across partitionings
    val a = rows.map(_.toSeq).toSeq
    val b = Similarity.quantizePqReport(emb.repartition(13), inDim = 64)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("native PQ encode equals the HOF reference formulation") {
    val emb = Tables.embeddings(spark, sfDir)
    val sample = emb.orderBy("vec_id").limit(2048)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val books = Similarity.pqCodebooks(sample, 64, 8, 16, seed = 7L)
    val both = emb.select(col("vec_id"),
      Similarity.pqEncode(col("embedding"), books, 64).as("native"),
      ParityTwins.pqEncodeHof(col("embedding"), books, 64).as("hof"))
    assert(both.where(not(col("native") === col("hof"))).count() == 0)
    assert(both.where(col("native").isNull).count() == 0)
  }

  test("PQ ANN (ADC): recall vs brute, corpus-wide shortlist ≡ brute") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") < 30)
    val brute = Similarity.annTopKBrute(emb, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val pq = Similarity.annTopKPq(emb, q, k = 5, inDim = 64, m = 8,
      ksub = 16, shortlist = 100).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.intersect(pq).size.toDouble / brute.size
    assert(recall >= 0.6, s"PQ recall vs brute: $recall")
    // shortlist = corpus: PQ only prunes; exact re-rank recovers brute
    val full = Similarity.annTopKPq(emb, q, k = 5, inDim = 64,
      shortlist = emb.count().toInt).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val bruteFull = Similarity.annTopKBrute(emb, q, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(full == bruteFull)
  }

  test("OPQ: rotation orthogonal, rmse ≤ PQ at equal bytes, codes in " +
      "range, deterministic") {
    val emb = Tables.embeddings(spark, sfDir)
    val sample = emb.orderBy("vec_id").limit(2048)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val (r, _) = Similarity.opqTrain(sample, 64, 8, 16, seed = 7L, iters = 3)
    for (i <- 0 until 64; j <- 0 until 64) {
      val dot = (0 until 64).map(k2 => r(k2)(i) * r(k2)(j)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-8,
        s"RtR[$i][$j] = $dot")
    }
    val opq = Similarity.quantizeOpqReport(emb, inDim = 64, m = 8,
      ksub = 16, opqIters = 3)
    val pq = Similarity.quantizePqReport(emb, inDim = 64, m = 8, ksub = 16)
    val mo = opq.agg(avg("rmse")).head.getDouble(0)
    val mp = pq.agg(avg("rmse")).head.getDouble(0)
    assert(mo <= mp, s"OPQ rmse $mo must not exceed PQ rmse $mp")
    val rows = opq.orderBy("vec_id").collect()
    assert(rows.forall { r2 =>
      val cs = r2.getAs[Long]("code_sum"); cs >= 0 && cs <= 8L * 15 })
    val b = Similarity.quantizeOpqReport(emb.repartition(13), inDim = 64,
        m = 8, ksub = 16, opqIters = 3)
      .orderBy("vec_id").collect()
    assert(rows.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("OPQ ANN: recall ≥ PQ at equal m/ksub, corpus-wide shortlist " +
      "≡ brute") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") < 30)
    val brute = Similarity.annTopKBrute(emb, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val pq = Similarity.annTopKPq(emb, q, k = 5, inDim = 64, m = 8,
      ksub = 16, shortlist = 50).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val opq = Similarity.annTopKOpq(emb, q, k = 5, inDim = 64, m = 8,
      ksub = 16, shortlist = 50, opqIters = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val rPq = brute.intersect(pq).size.toDouble / brute.size
    val rOpq = brute.intersect(opq).size.toDouble / brute.size
    assert(rOpq >= rPq, s"OPQ recall $rOpq must not trail PQ recall $rPq")
    assert(rOpq >= 0.6, s"OPQ recall vs brute: $rOpq")
    // shortlist = corpus: the rotation only reorders the coarse stage;
    // exact re-rank recovers brute
    val full = Similarity.annTopKOpq(emb, q, k = 5, inDim = 64,
      shortlist = emb.count().toInt).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    val bruteFull = Similarity.annTopKBrute(emb, q, 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(full == bruteFull)
  }

  test("IVF-SQ8 composed ANN: recall vs brute, full-probe ≡ brute ladder, plan") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") < 30)
    val brute = Similarity.annTopKBrute(emb, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val df = Similarity.annTopKIvfCompressed(emb, q, k = 5, inDim = 64,
      projDim = 32, nCells = 16, nProbe = 8, shortlist = 100)
    assertNoCartesian(df)
    // the probe is an equi-join on cell (broadcast: queries are small) —
    // the plan must scan candidates through a hash join keyed on cell,
    // never a full candidate × query product
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val comp = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.intersect(comp).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF-SQ8 recall vs brute: $recall")
    // probing EVERY cell makes cell-pruning a no-op: the composed ladder
    // must then reproduce annTopKCompressed (same projection, same codes,
    // same rounded coarse scores, same shortlist window) exactly
    val full = Similarity.annTopKIvfCompressed(emb, q, k = 5, inDim = 64,
      projDim = 32, nCells = 8, nProbe = 8, shortlist = 100).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim"))).toSet
    val ladder = Similarity.annTopKCompressed(emb, q, k = 5, inDim = 64,
      projDim = 32, shortlist = 100).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim"))).toSet
    assert(full == ladder)
  }

  test("IVF-PQ composed ANN (IVFADC): recall vs brute, full-probe ≡ PQ " +
      "ladder, cell-keyed plan") {
    val emb = Tables.embeddings(spark, sfDir)
    val q = emb.where(col("vec_id") < 30)
    val brute = Similarity.annTopKBrute(emb, q, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val df = Similarity.annTopKIvfPq(emb, q, k = 5, inDim = 64, m = 8,
      ksub = 16, nCells = 16, nProbe = 8, shortlist = 100)
    assertNoCartesian(df)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    val comp = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = brute.intersect(comp).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF-PQ recall vs brute: $recall")
    // probing EVERY cell makes cell-pruning a no-op: the composed index
    // must then reproduce annTopKPq (same sub-codebooks, same ADC coarse
    // scores, same shortlist window) exactly
    val full = Similarity.annTopKIvfPq(emb, q, k = 5, inDim = 64, m = 8,
      ksub = 16, nCells = 8, nProbe = 8, shortlist = 100).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim"))).toSet
    val ladder = Similarity.annTopKPq(emb, q, k = 5, inDim = 64, m = 8,
      ksub = 16, shortlist = 100).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim"))).toSet
    assert(full == ladder)
  }

  test("CMS ngram profile: est >= exact, eps-bounded overshoot, determinism") {
    val prof = TextAnalysis.ngramCmsProfile(docs, n = 2, k = 20,
      eps = 0.001, confidence = 0.99)
    val rows = prof.collect()
    assert(rows.length == 20)
    // CMS never undercounts
    assert(rows.forall(r => r.getAs[Long]("overshoot") >= 0L))
    // overshoot <= eps * N (total grams) — deterministic seed, hard bound
    val totalGrams = docs
      .select(explode(TextAnalysis.ngrams(col("text"), 2))).count()
    val maxOver = rows.map(_.getAs[Long]("overshoot")).max
    assert(maxOver <= math.ceil(0.001 * totalGrams).toLong + 1,
      s"overshoot $maxOver vs eps*N=${0.001 * totalGrams}")
    // the exact side agrees with ngramFreq's counts
    val exact = TextAnalysis.ngramFreq(docs, 2)
      .orderBy(col("cnt").desc, col("ngram").asc).limit(20)
      .collect().map(r => r.getAs[String]("ngram") -> r.getAs[Long]("cnt")).toMap
    assert(rows.forall(r =>
      exact(r.getAs[String]("ngram")) == r.getAs[Long]("exact_count")))
    // seeded sketch: estimates reproduce across partitionings
    val again = TextAnalysis.ngramCmsProfile(docs.repartition(7), n = 2, k = 20)
      .collect().map(r => r.getAs[String]("ngram") -> r.getAs[Long]("est_count"))
      .toMap
    assert(rows.forall(r =>
      again(r.getAs[String]("ngram")) == r.getAs[Long]("est_count")))
  }

  test("text normalization: tags, entities, control chars, whitespace") {
    val d = Seq(
      (1L, "<p>Hello &amp; <b>world</b></p>"),
      (2L, "a\u0001b\tc   d\n\ne"),           // control + ragged whitespace
      (3L, "x &lt;tag&gt; y"),                 // entities survive as literals
      (4L, "<br/><br/>"),                      // tags only -> empty
      (5L, "plain already clean"),
      (6L, "see &amp;lt;b&amp;gt; here"))      // author-escaped entities
      .toDF("doc_id", "text")
    val out = TextAnalysis.withNormalized(d).orderBy("doc_id").collect()
      .map(r => r.getAs[String]("norm_text"))
    assert(out.toSeq == Seq(
      "Hello & world",
      "a b c d e",
      "x <tag> y",
      "",
      "plain already clean",
      // &amp; unescapes LAST: "&amp;lt;" is the literal text "&lt;", it
      // must NOT double-unescape to "<"
      "see &lt;b&gt; here"))
    // unescaped entities are literal text, NOT re-stripped as tags
    assert(out(2) == "x <tag> y")
    // char accounting
    val r2 = TextAnalysis.withNormalized(d).where(col("doc_id") === 2)
      .collect()(0)
    assert(r2.getAs[Long]("n_chars_raw") == 12L &&
      r2.getAs[Long]("n_chars_norm") == 9L)
  }

  test("incremental dedup: within-batch election then history anti-join") {
    val seen = Seq("old news", "shared item").toDF("text")
      .select(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    val batch = Seq(
      (10L, "fresh doc"),       // new, unique
      (11L, "Fresh  Doc"),      // canonical dup of 10 -> collapses into it
      (12L, "shared item"),     // already in history -> dropped entirely
      (13L, "another new one")) // new, unique
      .toDF("doc_id", "text")
    val out = Dedup.exactIncremental(batch, seen).orderBy("keep_id")
      .collect().map(r => (r.getAs[Long]("keep_id"),
        r.getAs[Long]("n_copies_in_batch")))
    assert(out.toSeq == Seq((10L, 2L), (13L, 1L)))
    // empty history: pure within-batch dedup
    val none = seen.limit(0)
    assert(Dedup.exactIncremental(batch, none).count() == 3)
  }

  test("vocab coverage: top-V vocabulary, per-doc OOV, deterministic ties") {
    val d = Seq(
      (1L, "a a a b b c"),   // freqs: a=3(+2 below)=5? counted corpus-wide
      (2L, "a a b rare1"),
      (3L, "rare2 rare3 b"),
      (4L, ""))              // empty: no tokens, absent from output
      .toDF("doc_id", "text")
    // corpus freqs: a=5, b=4, c=1, rare1=1, rare2=1, rare3=1
    // V=3 -> vocab {a, b} + tie at freq 1 broken lexicographically: c
    val out = TextAnalysis.vocabCoverage(d, vocabSize = 3).orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_oov")))
    assert(out.toSeq == Seq((1L, 6L, 0L), (2L, 4L, 1L), (3L, 3L, 2L)))
    // deterministic under repartitioning (the tie-break is total)
    val again = TextAnalysis.vocabCoverage(d.repartition(5), vocabSize = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_oov")))
    assert(again.toSeq == out.toSeq)
    // the vocabulary side is broadcast: no shuffle join on the token stream
    val plan = TextAnalysis.vocabCoverage(d, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("curation data card: volumes, cross-source dup attribution, gate rate") {
    import graft.llm.Curation
    val words60 = (1 to 60).map(i => s"word$i").mkString(" ")
    val d = Seq(
      (1L, "a", words60),            // passes gopher, unique
      (2L, "a", "too short"),        // fails gopher, unique
      (3L, "b", words60),            // exact copy of doc 1 -> b's dup
      (4L, "b", words60 + " tail"),  // near-dup but NOT exact: no dup flag
      (5L, "b", "TOO  SHORT"))       // canonical match of doc 2 -> b's dup
      .toDF("doc_id", "source", "text")
    val card = Curation.dataCard(d).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getAs[Double]("dup_rate"), r.getAs[Double]("gopher_pass_rate")))
    // a: 2 docs, 62 tokens, no dups (first occurrences live here), 1/2 pass
    assert(card(0) == (("a", 2L, 62L, 0.0, 0.5)))
    // b: 3 docs, 60+61+2 tokens; docs 3 and 5 are copies of a's docs ->
    // dup_rate 2/3 attributed to b; gopher passes on 3 and 4 -> 2/3
    assert(card(1) == (("b", 3L, 123L, math.rint(2e6 / 3) / 1e6,
      math.rint(2e6 / 3) / 1e6)))
  }

  test("bloom decontamination: superset of exact join, fpp-bounded extras") {
    val benchmark = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
    // the bloom pass flags corpus docs; the benchmark is a subset of the
    // corpus, so every benchmark source doc must be flagged
    val exactIds = docs.where(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = Dedup.contaminationBloom(docs, benchmark, n = 8, fpp = 0.001)
    val flagged = bloom.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactIds.subsetOf(flagged),
      s"missed ${exactIds.diff(flagged).size} contaminated docs")
    // benchmark copies share EVERY gram: flag_frac 1.0 on the sources
    val full = bloom.where(col("flag_frac") === 1.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactIds.subsetOf(full))
    // the exact twin in the SAME orientation (corpus docs vs benchmark
    // grams): bloom must never under-flag a doc (no false negatives) ...
    val exactCorpus = Dedup.contaminationNgram(benchmark, docs, n = 8)
      .select(col("test_id").as("doc_id"), col("n_shared_ngrams"))
    val joined = bloom.join(exactCorpus, Seq("doc_id"), "full")
    assert(joined.where(col("n_flagged").isNull).count() == 0,
      "exact-contaminated doc missing from bloom output")
    assert(joined.where(col("n_flagged") <
      coalesce(col("n_shared_ngrams"), lit(0L))).count() == 0)
    // ... and the fpp bound: flagged grams beyond the exact shared count
    // stay near fpp * total corpus grams (10x slack for variance)
    val totalGrams = docs.select(explode(Dedup.shingles(col("text"), 8)))
      .count()
    val extraFlagged = joined
      .agg(sum(col("n_flagged") - coalesce(col("n_shared_ngrams"), lit(0L))))
      .collect()(0).getLong(0)
    assert(extraFlagged <= math.max(20L, (0.001 * totalGrams * 10).toLong),
      s"$extraFlagged extra flagged grams of $totalGrams")
    // map-only corpus side: the only exchange is the per-doc count agg —
    // no join anywhere in the plan
    val plan = bloom.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan)
  }

  test("repeated ngram trim: hand-computed spans — cross-doc, within-doc, " +
      "case-folded, split spans, untouched docs") {
    val d = Seq(
      (1L, "a b c d e f"),                         // dup of doc 2: all gone
      (2L, "a b c d e f"),
      (3L, "x y z a b c q w e r t u"),             // shares only "a b c"
      (4L, "unique tokens only here now friend"),  // untouched
      (5L, "p q r s p q r s p q r"),               // within-doc repeats
      (6L, "a b c m1 m2 m3 m4 m5 m6 m7 m8 a b c"), // two separated spans
      (7L, "A B C d e f")                          // case-folded dup of 1/2
    ).toDF("doc_id", "text")
    val r = Dedup.repeatedNgramTrim(d, n = 3, minCount = 2)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3),
        x.getString(4)))
    assert(r(0) == ((1L, 6, 1, 6, "")))
    assert(r(1) == ((2L, 6, 1, 6, "")))
    // doc 3: "a b c" at pos 4 covers tokens 4-6 only
    assert(r(2) == ((3L, 12, 1, 3, "x y z q w e r t u")))
    assert(r(3) == ((4L, 6, 0, 0, "unique tokens only here now friend")))
    // doc 5: every 3-gram repeats within the doc -> fully trimmed
    assert(r(4) == ((5L, 11, 1, 11, "")))
    // doc 6: "a b c" at starts 1 and 12, gap 11 > 3 -> two spans
    assert(r(5) == ((6L, 14, 2, 6, "m1 m2 m3 m4 m5 m6 m7 m8")))
    // doc 7: grams case-fold to "a b c"... so the ORIGINAL casing of
    // surviving tokens is preserved (none survive the dup grams here,
    // but tokens d e f are covered too: starts 1..4 cover 1..6)
    assert(r(6) == ((7L, 6, 1, 6, "")))
  }

  test("repeated ngram trim: adversarial wall-to-wall self-repeat doc " +
      "fuses to ONE span (linear rebuild, not per-token × per-start)") {
    // 10k tokens of period-7 repetition: every 10-gram repeats, so the
    // duplicated-start set is ≈ the token count — the shape that made the
    // per-token exists() scan quadratic. Spans must fuse to 1 and the doc
    // must trim fully; an organic doc alongside survives intact.
    val repeated = (0 until 10000).map(i => s"w${i % 7}").mkString(" ")
    val organic = (0 until 500).map(i => s"u$i").mkString(" ")
    val d = Seq((1L, repeated), (2L, organic)).toDF("doc_id", "text")
    val r = Dedup.repeatedNgramTrim(d, n = 10, minCount = 2)
      .orderBy("doc_id").collect()
    assert(r(0).getInt(1) == 10000 && r(0).getInt(2) == 1 &&
      r(0).getInt(3) == 10000 && r(0).getString(4) == "")
    assert(r(1).getInt(1) == 500 && r(1).getInt(2) == 0 &&
      r(1).getInt(3) == 0 && r(1).getString(4) == organic)
  }

  test("repeated ngram trim: exact-string confirm survives forced hash " +
      "collisions — a unique doc is never mutilated by a colliding gram") {
    // weak 1-bucket nomination hash: EVERY gram collides with every other,
    // so nomination alone would trim all docs to nothing; the exact-string
    // confirm must restore precisely the xxhash64-path answer
    val d = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),      // true dup pair
      (3L, "unique tokens only here now friend"),    // must survive intact
      (4L, "m n o p q r s t")                        // must survive intact
    ).toDF("doc_id", "text")
    val weak = Dedup.repeatedNgramTrimHashed(d, 3, 2, "doc_id", "text",
      Some(g => lit(0L) + length(g) * 0L)) // constant hash: total collision
    val real = Dedup.repeatedNgramTrim(d, n = 3, minCount = 2)
    assert(weak.exceptAll(real).count() == 0 &&
      real.exceptAll(weak).count() == 0,
      "collided nomination must not change the exact answer")
    val kept = weak.orderBy("doc_id").collect()
    assert(kept(2).getString(4) == "unique tokens only here now friend")
    assert(kept(3).getString(4) == "m n o p q r s t")
    assert(kept(0).getString(4) == "" && kept(1).getString(4) == "")
  }

  test("repeated ngram trim: fused native gram-hash pass ≡ the layered-HOF " +
      "xxhash64 formulation (bytes equal ⇒ hash equal)") {
    // exercises multi-space runs (empty tokens survive split), unicode
    // width changes under lower(), within-doc AND cross-doc repeats, a
    // doc shorter than one gram, and an exactly-n-token doc
    val d = Seq(
      (1L, "The  Quick   brown FOX jumps over the quick brown fox"),
      (2L, "the quick brown fox also appears here the quick brown fox"),
      (3L, "İstanbul Straße ÇOK güzel İstanbul Straße ÇOK güzel ok"),
      (4L, "too short"),
      (5L, "exactly three tokens")
    ).toDF("doc_id", "text")
    val native = Dedup.repeatedNgramTrim(d, n = 3, minCount = 2)
    val hof = Dedup.repeatedNgramTrimHashed(d, 3, 2, "doc_id", "text",
      Some(g => xxhash64(g)))
    assert(native.exceptAll(hof).count() == 0 &&
      hof.exceptAll(native).count() == 0,
      "native positional-gram-hash pass must be bit-identical to the HOF twin")
    // the native expression itself: hashes equal xxhash64(concat_ws(" ", slice))
    val toks = org.apache.spark.sql.functions.split(lower(col("text")), "\\s+")
    val pair = d.select(
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.PositionalGramHashes(
          org.apache.spark.sql.GraftBridge.expression(toks), 3)).as("a"),
      when(size(toks) >= 3, transform(
        sequence(lit(1), size(toks) - 2),
        p => xxhash64(concat_ws(" ", slice(toks, p, lit(3))))))
        .otherwise(array().cast("array<long>")).as("b"))
      .collect()
    pair.foreach { r =>
      val a = r.getSeq[Long](0)
      val b = r.getSeq[Long](1)
      assert(a == b, s"native=$a hof=$b")
    }
  }

  test("incremental repeated ngram trim ≡ full pass restricted to the " +
      "batch; history contributes counts only") {
    // hand case: a cross-history dup, a within-batch self-repeat, an
    // organic doc — n=3, minCount=2
    val hist = Seq(
      (1L, "h1 h2 h3 a b c h4 h5"),
      (2L, "g1 g2 a b c g3 g4 g5")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "x1 x2 x3 a b c x4 x5"), // "a b c" count 3 across hist+batch
      (11L, "p q r s p q r s p q r"), // within-batch-doc repeats
      (12L, "u1 u2 u3 u4 u5 u6")      // organic, untouched
    ).toDF("doc_id", "text")
    val inc = Dedup.repeatedNgramTrimIncremental(batch,
      Dedup.buildGramIndex(hist, n = 3), n = 3, minCount = 2)
    val full = Dedup.repeatedNgramTrim(hist.unionByName(batch),
        n = 3, minCount = 2)
      .where(col("doc_id") >= 10L)
    assert(inc.exceptAll(full).count() == 0 &&
      full.exceptAll(inc).count() == 0,
      "incremental must equal the full pass on the batch rows")
    val byId = inc.orderBy("doc_id").collect()
    assert(byId(0).getString(4) == "x1 x2 x3 x4 x5")
    assert(byId(2).getString(4) == "u1 u2 u3 u4 u5 u6")
    // corpus-scale equivalence on the seeded documents table (the
    // contract key's construction): 2:1 history/batch split at n=10
    val boiler = " please subscribe to our newsletter for daily updates" +
      " and exclusive offers available today"
    val seeded = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
      .withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(boiler)))
          .when(col("doc_id") % 5 === 2,
            concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")))
    val h2 = seeded.where(col("doc_id") % 3 =!= 0)
    val b2 = seeded.where(col("doc_id") % 3 === 0)
    val inc2 = Dedup.repeatedNgramTrimIncremental(b2,
      Dedup.buildGramIndex(h2, n = 10), n = 10, minCount = 2)
    val full2 = Dedup.repeatedNgramTrim(seeded, n = 10, minCount = 2)
      .where(col("doc_id") % 3 === 0)
    assert(inc2.exceptAll(full2).count() == 0 &&
      full2.exceptAll(inc2).count() == 0)
  }

  test("bloom-verified decontamination: bit-identical to the exact join " +
      "even under a false-positive-heavy filter") {
    val benchmark = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
    val exact = Dedup.contaminationNgram(benchmark, docs, n = 8)
      .orderBy("test_id")
    // fpp 0.2: the bloom nominates plenty of clean docs; the exact verify
    // must discard every one of them — equality, not superset
    for (fpp <- Seq(0.001, 0.2)) {
      val ver = Dedup.contaminationBloomVerified(docs, benchmark, n = 8,
          fpp = fpp)
        .orderBy("test_id")
      assert(ver.exceptAll(exact).count() == 0 &&
        exact.exceptAll(ver).count() == 0,
        s"fpp=$fpp: verified output diverges from the exact twin")
    }
  }

  test("contamination scrub: hand-computed spans — full match, embedded " +
      "match, organic, short, case-folded; corpus grams never shuffle") {
    val benchmark = Seq((100L, "a b c d e f g h")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c d e f g h"),                   // == benchmark: all gone
      (2L, "x y a b c d e f g h z w"),           // embedded at pos 3
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),    // organic: untouched
      (4L, "a b c"),                             // shorter than n: untouched
      (5L, "A B C D E F G H")                    // case-folds to benchmark
    ).toDF("doc_id", "text")
    val r = Dedup.contaminationScrub(corpus, benchmark, n = 8)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3),
        x.getString(4)))
    assert(r(0) == ((1L, 8, 1, 8, "")))
    assert(r(1) == ((2L, 12, 1, 8, "x y z w")))
    assert(r(2) == ((3L, 10, 0, 0, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10")))
    assert(r(3) == ((4L, 3, 0, 0, "a b c")))
    assert(r(4) == ((5L, 8, 1, 8, "")))
    // the benchmark side broadcasts: no shuffle of corpus grams, nothing
    // pairwise
    val plan = Dedup.contaminationScrub(corpus, benchmark, n = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("contamination scrub: empty benchmark leaves every doc intact") {
    val benchmark = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val corpus = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val r = Dedup.contaminationScrub(corpus, benchmark, n = 8).collect()
    assert(r.length == 1 && r(0).getInt(2) == 0 &&
      r(0).getString(4) == "a b c d e f g h i j")
  }

  test("source overlap: hand-computed matrix — within-source duplicates " +
      "count once, disjoint pairs pin the zero row") {
    val d = Seq(
      ("A", "t1 one"), ("A", "t1 one"), ("A", "t2 two"), ("A", "t3 three"),
      ("A", "t4 four"),
      ("B", "t3 three"), ("B", "t4 four"), ("B", "t5 five"), ("B", "t6 six"),
      ("C", "t7 seven")
    ).toDF("source", "text").withColumn("doc_id", monotonically_increasing_id())
    val r = Dedup.sourceOverlap(d).orderBy("src_a", "src_b").collect()
      .map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getDouble(5)))
    assert(r(0) == (("A", "B", 4L, 4L, 2L, 0.333333)))
    assert(r(1) == (("A", "C", 4L, 1L, 0L, 0.0)))
    assert(r(2) == (("B", "C", 4L, 1L, 0L, 0.0)))
  }

  test("source overlap state: merged batch states are bit-identical to " +
      "the full single-pass state, and the matrix matches the full-pass " +
      "sketch exactly") {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val full = Dedup.sourceOverlapState(d, k = 64)
    val merged = Dedup.mergeOverlapStates(
      Dedup.sourceOverlapState(d.where(col("doc_id") % 3 === 0), k = 64),
      Dedup.sourceOverlapState(d.where(col("doc_id") % 3 === 1), k = 64),
      Dedup.sourceOverlapState(d.where(col("doc_id") % 3 === 2), k = 64))
    // signatures: elementwise min is associative/commutative, so the
    // merge must reproduce the single-pass slot mins EXACTLY
    val sigDiff = full.select(col("_src"), col("_sig"))
      .join(merged.select(col("_src"), col("_sig").as("_sig2")), "_src")
      .where(col("_sig") =!= col("_sig2"))
    assert(sigDiff.count() == 0)
    // the matrix from the merged state equals the matrix from the full
    // state row for row (HLL union is the same register algebra)
    val mFull = Dedup.overlapFromState(full)
    val mMerged = Dedup.overlapFromState(merged)
    assert(mFull.exceptAll(mMerged).count() == 0 &&
      mMerged.exceptAll(mFull).count() == 0)
    // and its estimates agree with the one-shot sketch (identical sigs)
    val sk = Dedup.sourceOverlapSketch(d, k = 64)
      .select(col("src_a"), col("src_b"),
        col("est_jaccard").as("ej_sketch"))
    val joined = mMerged.join(sk, Seq("src_a", "src_b")).collect()
    assert(joined.nonEmpty)
    assert(joined.forall(r =>
      r.getAs[Double]("est_jaccard") == r.getAs[Double]("ej_sketch")))
    // HLL sizes track the exact per-source distinct counts closely
    val exact = d.groupBy(col("source").as("src_a"))
      .agg(countDistinct(
        graft.llm.TextAnalysis.fingerprint(col("text"))).as("n_exact"))
    val sizes = mMerged.select(col("src_a"), col("est_n_a")).distinct()
      .join(exact, "src_a").collect()
    assert(sizes.nonEmpty)
    assert(sizes.forall(r => math.abs(
      r.getAs[Long]("est_n_a") - r.getAs[Long]("n_exact")).toDouble
        / r.getAs[Long]("n_exact") < 0.05))
  }

  test("source overlap state: merging states built with different k " +
      "fails loudly instead of silently null-padding the matrix") {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text")).limit(200)
    val bad = Dedup.mergeOverlapStates(
      Dedup.sourceOverlapState(d, k = 64),
      Dedup.sourceOverlapState(d, k = 32))
    val e = intercept[Throwable] { bad.collect() }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString("\n")
    assert(msgs.contains("mixed signature lengths"),
      s"expected the same-k assert, got: $msgs")
  }

  test("source overlap sketch: slot-agreement estimate tracks the exact " +
      "Jaccard within the 1/sqrt(k) band on the seeded corpus") {
    // seed real overlap: every 3rd doc's text also appears under the
    // next source id, as the contract key does
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val copies = d.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 5000000).as("doc_id"),
        concat(lit("src"),
          ((regexp_extract(col("source"), "(\\d+)", 1).cast("int") + 1) % 20)
            .cast("string")).as("source"),
        col("text"))
    val seededSrc = d.unionByName(copies)
    val exact = Dedup.sourceOverlap(seededSrc)
      .select(col("src_a"), col("src_b"), col("jaccard"))
    val est = Dedup.sourceOverlapSketch(seededSrc, k = 128)
      .select(col("src_a"), col("src_b"), col("est_jaccard"))
    val joined = exact.join(est, Seq("src_a", "src_b")).collect()
    assert(joined.nonEmpty)
    // sizes and pair set must agree exactly; estimates within ~3 se
    assert(exact.count() == est.count())
    val maxErr = joined.map(x =>
      math.abs(x.getDouble(2) - x.getDouble(3))).max
    assert(maxErr <= 0.27, s"minhash estimate off by $maxErr")
    // overlapping pairs must estimate clearly above the disjoint ones
    val overlapping = joined.filter(_.getDouble(2) > 0.1)
    assert(overlapping.nonEmpty)
    assert(overlapping.forall(_.getDouble(3) > 0.02))
  }

  test("int8 quantization: hand codes, reconstruction bound, zero vector") {
    val vecs = Seq(
      (1L, Seq(1.27f, -1.27f, 0.635f, 0.0f)), // scale 0.01: codes ±127, 64
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),      // all-zero: scale 0, codes 0
      (3L, Seq(2.54f, 1.27f, -0.01f, 0.005f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(vecs).orderBy("vec_id").collect()
    assert(q(0).getAs[scala.collection.Seq[Int]]("q8").toSeq == Seq(127, -127, 64, 0))
    assert(math.abs(q(0).getAs[Double]("scale") - 0.01) < 1e-9)
    assert(q(1).getAs[scala.collection.Seq[Int]]("q8").toSeq == Seq(0, 0, 0, 0))
    assert(q(1).getAs[Double]("scale") == 0.0)
    assert(q(2).getAs[scala.collection.Seq[Int]]("q8").head == 127)
    // reconstruction bound on the real table: |x - q·scale| <= scale/2,
    // codes within [-127, 127]
    val emb = Tables.embeddings(spark, sfDir)
    val r = Similarity.quantizeInt8(emb)
      .select(col("vec_id"), col("scale"), col("q8"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("max_err", array_max(zip_with(col("v"), col("q8"),
        (x, qi) => abs(x - qi * col("scale")))))
      .withColumn("max_code", array_max(transform(col("q8"), x => abs(x))))
    assert(r.where(col("max_err") > col("scale") / 2 + lit(1e-12)).count() == 0)
    assert(r.where(col("max_code") > 127).count() == 0)
    // the report's rmse respects the same bound
    val rep = Similarity.quantizeReport(emb)
    assert(rep.where(col("rmse") > col("scale") / 2 + lit(1e-6)).count() == 0)
    assert(rep.count() == emb.count())
    // map-only: no exchange anywhere in the quantization plan
    assert(!rep.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("unimax waterfill: hand-computed mixed regime, saturation cap, " +
      "budget conservation") {
    import graft.llm.Sampling
    // token masses [10, 20, 40, 100] split across two rows per source to
    // prove the per-source aggregation; epochCap 2 -> capacities
    // [20, 40, 80, 200], total 340
    val d = Seq(("a", 4), ("a", 6), ("b", 15), ("b", 5),
      ("c", 30), ("c", 10), ("d", 60), ("d", 40)).toDF("source", "n_tok")
    def run(budget: Double) =
      Sampling.unimaxAlloc(d, "source", col("n_tok"), budget, epochCap = 2.0)
        .orderBy("source").collect()
        .map(r => (r.getString(0), r.getAs[Double]("alloc_tokens"),
          r.getAs[Double]("epochs"), r.getAs[Double]("mix_frac")))
    // B=160: a,b saturate (20·4=80, 40·3+20=140 both <=160); c: 80·2+60=
    // 220 > 160 -> watermark (160-60)/2 = 50 for c and d
    assert(run(160.0).toSeq == Seq(
      ("a", 20.0, 2.0, 0.125), ("b", 40.0, 2.0, 0.25),
      ("c", 50.0, 1.25, 0.3125), ("d", 50.0, 0.5, 0.3125)))
    // B >= total capacity: everyone fully consumed at the epoch cap
    assert(run(400.0).toSeq == Seq(
      ("a", 20.0, 2.0, round6(20.0 / 340)), ("b", 40.0, 2.0, round6(40.0 / 340)),
      ("c", 80.0, 2.0, round6(80.0 / 340)), ("d", 200.0, 2.0, round6(200.0 / 340))))
    // B=60 < 4·c_min: nobody saturates, equal watermark B/S = 15
    assert(run(60.0).map(t => (t._1, t._2)).toSeq ==
      Seq(("a", 15.0), ("b", 15.0), ("c", 15.0), ("d", 15.0)))
    // conservation at every regime: sum(alloc) = min(B, total capacity)
    for (b <- Seq(60.0, 160.0, 400.0))
      assert(math.abs(run(b).map(_._2).sum - math.min(b, 340.0)) < 1e-6)
    // epochs never exceed the cap
    assert(run(400.0).forall(_._3 <= 2.0 + 1e-9))
  }

  test("unimax waterfill: zero-mass source gets epochs 0, not NaN; " +
      "null token counts coalesce to zero mass") {
    import graft.llm.Sampling
    val d = Seq(("a", Some(10)), ("z", Some(0)), ("n", None))
      .toDF("source", "n_tok")
    val r = Sampling.unimaxAlloc(d, "source", col("n_tok"), 100.0,
        epochCap = 2.0)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getAs[Double]("n_tokens"),
        r.getAs[Double]("alloc_tokens"), r.getAs[Double]("epochs")))
    // zero-capacity sources saturate at 0 and report epochs 0.0 — the
    // 0/0 division NaN the advice flagged must never surface
    assert(r.toSeq == Seq(("a", 10.0, 20.0, 2.0), ("n", 0.0, 0.0, 0.0),
      ("z", 0.0, 0.0, 0.0)))
    assert(r.forall(t => !t._4.isNaN))
  }

  test("doremi weights: eta*excess >> 709 stays finite via the " +
      "log-sum-exp shift") {
    import graft.llm.Selection
    // excess 100 at eta 20 -> exp(2000) = Inf unshifted; the max-shift
    // keeps the dominant domain's exponent at exactly 0
    val d = Seq(("a", 1.0), ("b", 101.0), ("c", 51.0))
      .toDF("domain", "proxy")
    val ws = Selection.doremiWeights(d, "domain", col("proxy"), lit(1.0),
        steps = 5, eta = 20.0, smoothing = 0.1)
      .orderBy("domain").collect().map(_.getAs[Double]("weight"))
    assert(ws.forall(w => !w.isNaN && !w.isInfinite))
    assert(math.abs(ws.sum - 1.0) < 1e-6)
    // the hardest domain dominates up to the smoothing floor split
    // (1e-6 slack: the output column is round(·, 6))
    assert(ws(1) > 0.9 && ws(0) >= 0.1 / 3 - 1e-6)
  }

  test("doremi weights: hand-computed EG steps, smoothing floor, " +
      "zero-step = uniform") {
    import graft.llm.Selection
    // domain a: proxy == ref (excess 0); domain b: excess = ln 4, so each
    // EG step multiplies b's unnormalized weight by exactly 4
    val ln4 = math.log(4.0)
    val d = Seq(("a", 1.0), ("a", 1.0), ("b", 1.0 + ln4), ("b", 1.0 + ln4))
      .toDF("domain", "proxy")
    def run(steps: Int) = Selection.doremiWeights(
        d, "domain", col("proxy"), lit(1.0),
        steps = steps, eta = 1.0, smoothing = 0.1)
      .orderBy("domain").collect()
      .map(r => r.getAs[Double]("weight"))
    // step 1: u = [0.5, 2.0], w = 0.9·[0.2, 0.8] + 0.05 = [0.23, 0.77]
    // step 2: u = [0.23, 3.08], w = [0.9·0.23/3.31 + 0.05, ...]
    val w1 = run(1); val w2 = run(2)
    assert(math.abs(w1(0) - 0.23) < 1e-9 && math.abs(w1(1) - 0.77) < 1e-9)
    assert(math.abs(w2(0) - (0.9 * 0.23 / 3.31 + 0.05)) < 1e-6)
    assert(math.abs(w2(0) + w2(1) - 1.0) < 1e-6)
    // steps=0: uniform regardless of loss
    assert(run(0).toSeq == Seq(0.5, 0.5))
    // smoothing floor: even a hugely-lagging domain keeps >= c/S
    val skew = Seq(("a", 1.0), ("b", 51.0)).toDF("domain", "proxy")
    val ws = Selection.doremiWeights(skew, "domain", col("proxy"), lit(1.0),
        steps = 8, eta = 1.0, smoothing = 0.1)
      .orderBy("domain").collect().map(_.getAs[Double]("weight"))
    assert(ws(0) >= 0.05 - 1e-9 && ws(1) <= 0.95 + 1e-9)
  }

  test("cluster-balanced sample: per-cell cap, small cells intact, " +
      "survivors partition-invariant") {
    import graft.llm.Sampling
    val asg = spark.range(200).select(col("id").as("vec_id"),
      when(col("id") < 150, lit(0)).otherwise(lit(1)).as("cluster"))
    val out = Sampling.clusterBalancedSample(asg, "vec_id", "cluster", 60)
    val per = out.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(per(0) == 60)   // hot cell capped
    assert(per(1) == 50)   // small cell keeps everything
    // determinism: identical survivors under a different partitioning
    val out2 = Sampling.clusterBalancedSample(
      asg.repartition(17, col("vec_id")), "vec_id", "cluster", 60)
    assert(out.select("vec_id", "cluster", "cell_rank")
      .exceptAll(out2.select("vec_id", "cluster", "cell_rank")).count() == 0)
    assert(out.count() == out2.count())
    // rank is dense 1..cap within the capped cell
    assert(out.where(col("cluster") === 0)
      .agg(max("cell_rank")).collect()(0).getInt(0) == 60)
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
