package graft.llm

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CosineSimilarity

/** Approximate-nearest-neighbor search and embedding near-dup detection over
  * an `array<float>` embedding column.
  *
  * Two paths, per the standard scale ladder:
  *  - brute-force top-k (exact baseline): broadcast the small query set,
  *    fused-loop cosine ([[CosineSimilarity]]) against every candidate,
  *    per-query top-k. Cost O(|Q|·N) — right when |Q| is small.
  *  - random-hyperplane LSH: sign-signature buckets (SimHash over the
  *    embedding space) → candidates from equi-joins on (band, chunk) →
  *    exact cosine re-rank. Cost O(N·P + candidates) — the 100 TB path;
  *    recall tunable via planes/bands (verified against brute in tests).
  *
  * Distributed top-k via partition-local pruning structures then a global
  * re-rank is the published pattern (cf. "REPOSE: Distributed Top-k
  * Trajectory Similarity Search with Local Reference Point Tries",
  * ICDE 2021, per PAPERS.md) — the band buckets play the role of the local
  * pruning index here.
  */
object Similarity {

  // Column <-> Expression bridging via the GraftBridge shim
  private def cos(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))
  }

  /** Cosine similarity column over two array<double> columns. */
  def cosine(a: Column, b: Column): Column = cos(a, b)

  /** Exact brute-force top-k: for each query row, the k nearest candidates
    * by cosine (rounded to 6dp for a deterministic, engine-stable order;
    * ties break on candidate id). Query side is broadcast. */
  def annTopKBrute(candidates: DataFrame, queries: DataFrame, k: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("_qv")))
    val c = candidates.select(
      col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("_cv"))
    val scored = c.crossJoin(q)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cos(col("_qv"), col("_cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Deterministic random hyperplanes (seeded), as raw arrays. */
  private[graft] def planesRaw(nPlanes: Int, dim: Int, seed: Int): Array[Array[Double]] = {
    val rnd = new Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-signature band buckets: `nPlanes` hyperplane sign bits split into
    * `bands` chunks; each row explodes into one (band, bucket) row per band.
    *
    * One fused native pass ([[graft.functions.LshBandBuckets]]) instead of
    * `nPlanes` literal-hyperplane [[CosineSimilarity]] sign columns fed
    * through `bands` `xxhash64` chains: the old tree compiled a codegen
    * unit growing with nPlanes×dim — the [[nearestCells]] wall — and every
    * plan-processing step carried the literal planes. Bit-identical
    * (LlmSpec pins native ≡ expression-tree, incl. null / zero-norm / NaN
    * / short vectors). */
  def withLshBuckets(df: DataFrame, dim: Int, nPlanes: Int = 16, bands: Int = 2,
                     seed: Int = 7, vecCol: String = "embedding"): DataFrame = {
    require(nPlanes % bands == 0)
    import org.apache.spark.sql.GraftBridge
    val v = col(vecCol).cast("array<double>")
    val bandStructs = GraftBridge.column(graft.functions.LshBandBuckets(
      GraftBridge.expression(v), planesRaw(nPlanes, dim, seed), bands))
    df.withColumn("_b", explode(bandStructs))
      .withColumn("band", col("_b.band"))
      .withColumn("bucket", col("_b.bucket"))
      .drop("_b")
  }

  /** LSH-bucketed approximate top-k: candidates restricted to rows sharing a
    * signature band with the query, then exact cosine re-rank.
    *
    * The band join and the candidate-pair `distinct` carry only ids — the
    * 64-dim vectors would otherwise ride through two shuffles; they re-join
    * afterwards (query side broadcast). */
  def annTopKLsh(candidates: DataFrame, queries: DataFrame, k: Int, dim: Int,
                 nPlanes: Int = 16, bands: Int = 2, seed: Int = 7,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = withLshBuckets(candidates, dim, nPlanes, bands, seed, vecCol)
      .select(col("band"), col("bucket"), col(idCol).as("neighbor_id"))
    val qb = withLshBuckets(queries, dim, nPlanes, bands, seed, vecCol)
      .select(col("band"), col("bucket"), col(idCol).as("query_id"))
    val ids = cb.join(qb, Seq("band", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv")))
    val cv = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val cand = ids.join(qv, "query_id").join(cv, "neighbor_id")
      .withColumn("sim", round(cos(col("_qv"), col("_cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** IVF-style approximate top-k: a spherical k-means coarse quantizer
    * assigns every candidate to its nearest cell; each query probes its
    * `nProbe` nearest centroids and exact-reranks only those cells. The
    * inverted-file layout is the other canonical ANN scale path next to
    * hyperplane LSH; candidate volume ~ nProbe/nCells of the corpus.
    *
    * The quantizer trains on a BOUNDED deterministic sample collected to the
    * driver (the standard IVF recipe — FAISS trains its coarse quantizer on
    * a sample regardless of corpus size; a 16-centroid codebook needs a few
    * thousand points, not a distributed iteration over 100 TB). Everything
    * per-row stays distributed and codegen'd: cell assignment and probing
    * are argmax over `nCells` literal-centroid [[CosineSimilarity]]
    * expressions — one narrow pass, no ML pipeline on the hot path. */
  def annTopKIvf(candidates: DataFrame, queries: DataFrame, k: Int,
                 nCells: Int = 16, nProbe: Int = 4, seed: Long = 7L,
                 sampleN: Int = 2048,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cv = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    // deterministic bounded sample (lowest ids) for codebook training
    val sample = cv.orderBy(col("neighbor_id")).limit(sampleN)
      .select(col("_cv")).collect().map(_.getSeq[Double](0).toArray)
    if (sample.isEmpty) // empty corpus: no codebook to train, brute is exact
      return annTopKBrute(candidates, queries, k, idCol, vecCol)
    val centers = sphericalKMeans(sample, nCells, seed)

    // candidate → nearest cell: argmax cosine over the literal codebook
    val assigned = cv.withColumn("cell", nearestCells(centers, col("_cv"), 1)(0))

    // query → its nProbe nearest cells
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val probed = qv
      .withColumn("_cells", nearestCells(centers, col("_qv"), nProbe))
      .select(col("query_id"), col("_qv"), explode(col("_cells")).as("cell"))

    val cand = broadcast(probed).join(assigned, "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", round(cos(col("_qv"), col("_cv")), 6))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** The `n` nearest codebook cells for a vector as an `array<int>` column:
    * top-n cosine over the codebook (sim ties resolve to the higher cell
    * id — the reverse of the ascending struct sort — exactly the
    * pre-factoring [[annTopKIvf]] semantics). Shared by the IVF entry
    * points so assignment and probing can never drift apart.
    *
    * One fused native loop ([[graft.functions.NearestCells]]) instead of
    * `nCells` literal-centroid [[CosineSimilarity]] structs fed through
    * `array_sort`/`reverse`/`slice`: the old tree compiled a codegen unit
    * that grew with nCells (and allocated nCells structs per row); the
    * expression is nCells-independent in code size and allocation-free up
    * to the result array. LlmSpec pins native ≡ expression-tree at the
    * operator grain. */
  private[graft] def nearestCells(centers: Array[Array[Double]], v: Column,
                           n: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      graft.functions.NearestCells(GraftBridge.expression(v), centers, n))
  }

  /** IVF × SQ composed — the faiss IVF-SQ8 search shape, and the actual
    * 100 TB ANN plan: the index holds, per candidate, its coarse CELL
    * (nearest spherical-k-means centroid in the ORIGINAL space) plus the
    * JL-projected ([[projectVec]]) int8-quantized code — and nothing else;
    * a query probes its `nProbe` nearest cells, coarse-scores ONLY those
    * cells' dequantized codes against its projected self, keeps a
    * per-query `shortlist`, and only shortlist rows re-join the float
    * vectors for the exact re-rank. Cell-pruning bounds the candidate
    * volume (~nProbe/nCells of the corpus), compression bounds the bytes
    * per candidate scanned (16-32 int8 codes vs 64 floats) — the two
    * compose multiplicatively, which is why this operator exists instead
    * of [[annTopKCompressed]]'s brute coarse pass at corpus scale.
    *
    * Scale: the codebook is a bounded driver artifact (as [[annTopKIvf]]);
    * the index build is one map-only pass; the probe join is broadcast
    * (queries are small); floats are touched for O(|Q|·shortlist) rows
    * only, via an equi-join — at no point does a full-width float scan
    * meet the quadratic candidate space. Coarse scores round to 6dp so
    * shortlist membership is engine- and partitioning-stable. */
  def annTopKIvfCompressed(candidates: DataFrame, queries: DataFrame, k: Int,
                           inDim: Int, projDim: Int = 32, nCells: Int = 16,
                           nProbe: Int = 4, shortlist: Int = 50,
                           seed: Long = 7L, projSeed: String = "jl",
                           sampleN: Int = 2048, idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    val cv = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val sample = cv.orderBy(col("neighbor_id")).limit(sampleN)
      .select(col("_cv")).collect().map(_.getSeq[Double](0).toArray)
    if (sample.isEmpty)
      return annTopKBrute(candidates, queries, k, idCol, vecCol)
    val centers = sphericalKMeans(sample, nCells, seed)

    // the compressed index: (cell, id, dequantized code) — no floats
    val index = cv
      .withColumn("cell", nearestCells(centers, col("_cv"), 1)(0))
      .withColumn("_p", projectVec(col("_cv"), inDim, projDim, projSeed))
      .withColumn("_pscale",
        array_max(transform(col("_p"), x => abs(x))) / 127.0)
      .withColumn("_q8", transform(col("_p"), x =>
        coalesce(round(x / when(col("_pscale") =!= 0.0, col("_pscale")), 0),
          lit(0.0)).cast("int")))
      .withColumn("_dq", transform(col("_q8"), x => x * col("_pscale")))
      .select(col("neighbor_id"), col("cell"), col("_dq"))

    // query: projected self + its nProbe probe cells (probed in the
    // original space, scored in the projected space — queries stay float)
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val probed = qv
      .withColumn("_qp", projectVec(col("_qv"), inDim, projDim, projSeed))
      .withColumn("_cells", nearestCells(centers, col("_qv"), nProbe))
      .select(col("query_id"), col("_qp"),
        explode(col("_cells")).as("cell"))

    val wCoarse = Window.partitionBy("query_id")
      .orderBy(col("_psim").desc, col("neighbor_id").asc)
    val short = broadcast(probed).join(index, "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("_psim", round(cos(col("_qp"), col("_dq")), 6))
      .withColumn("_prank", row_number().over(wCoarse))
      .where(col("_prank") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))

    // exact re-rank: floats touched ONLY for shortlist rows
    val qf = broadcast(qv)
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    short.join(cv, "neighbor_id").join(qf, "query_id")
      .withColumn("sim", round(cos(col("_qv"), col("_cv")), 6))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** IVF × PQ composed with asymmetric-distance scoring — the index
    * layout faiss actually ships at corpus scale (IVFADC, Jégou et al.
    * 2011): the index holds, per candidate, its coarse CELL (nearest
    * spherical-k-means centroid in the original space) plus its m-byte
    * PQ code — and nothing else; a query probes its `nProbe` nearest
    * cells, ADC-scores ONLY those cells' code reconstructions against
    * its full-precision float self (the asymmetric distance — queries
    * are never quantized), keeps a per-query `shortlist`, and only
    * shortlist rows re-join the float vectors for the exact re-rank.
    * Cell-pruning bounds candidate volume (~nProbe/nCells of the
    * corpus), PQ bounds bytes per scanned candidate (m·log2(ksub) BITS
    * vs 8·dim float bytes) — multiplicative, exactly the
    * [[annTopKIvfCompressed]] argument with the deeper-compression rung
    * ([[quantizePqReport]]'s 64× store shrink vs SQ8's 8×).
    *
    * Scale: both codebooks (coarse cells + PQ sub-books) are bounded
    * driver artifacts trained on the deterministic lowest-id sample (the
    * faiss recipe); index build is one map-only pass (native codegen'd
    * [[graft.functions.PqCodes]]/PqDecode); the probe join is broadcast
    * (queries small) keyed on cell; floats are touched for
    * O(|Q|·shortlist) rows via equi-join only. Coarse scores round to
    * 6dp (ties to lower neighbor id) so shortlist membership is
    * partitioning-stable. Rows-only contract key; LlmSpec pins recall
    * vs brute, full-probe ≡ [[annTopKPq]] (cell-pruning a no-op when
    * every cell is probed), and the no-cartesian plan. */
  def annTopKIvfPq(candidates: DataFrame, queries: DataFrame, k: Int,
                   inDim: Int, m: Int = 8, ksub: Int = 16, nCells: Int = 16,
                   nProbe: Int = 4, shortlist: Int = 50, seed: Long = 7L,
                   sampleN: Int = 2048, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val cv = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val sample = cv.orderBy(col("neighbor_id")).limit(sampleN)
      .select(col("_cv")).collect().map(_.getSeq[Double](0).toArray)
    if (sample.isEmpty)
      return annTopKBrute(candidates, queries, k, idCol, vecCol)
    val centers = sphericalKMeans(sample, nCells, seed)
    val books = pqCodebooks(sample, inDim, m, ksub, seed)

    // the compressed index: (cell, id, code reconstruction) — no floats;
    // decode ONCE per candidate, map-only
    val index = cv
      .withColumn("cell", nearestCells(centers, col("_cv"), 1)(0))
      .withColumn("_codes", pqEncode(col("_cv"), books, inDim))
      .withColumn("_dec", pqDecode(col("_codes"), books))
      .select(col("neighbor_id"), col("cell"), col("_dec"))

    // query: float self (ADC never quantizes the query) + nProbe cells
    val qv = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val probed = qv
      .withColumn("_cells", nearestCells(centers, col("_qv"), nProbe))
      .select(col("query_id"), col("_qv"), explode(col("_cells")).as("cell"))

    val wCoarse = Window.partitionBy("query_id")
      .orderBy(col("_psim").desc, col("neighbor_id").asc)
    val short = broadcast(probed).join(index, "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("_psim", round(cos(col("_qv"), col("_dec")), 6))
      .withColumn("_prank", row_number().over(wCoarse))
      .where(col("_prank") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))

    // exact re-rank: floats touched ONLY for shortlist rows
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    short.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .withColumn("sim", round(cos(col("_qv"), col("_cv")), 6))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Driver-local spherical k-means (cosine Lloyd's) over a sample:
    * deterministic seeding, assignment by max cosine, centroids re-normalized
    * each round. Microseconds at codebook scale; the distributed work stays
    * in the per-row assignment pass. */
  private[graft] def sphericalKMeans(points: Array[Array[Double]], k: Int,
                                   seed: Long, iters: Int = 10): Array[Array[Double]] = {
    require(points.nonEmpty)
    val dim = points.head.length
    val rnd = new Random(seed)
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    var centers = Array.tabulate(k)(i => normalize(points(
      if (points.length >= k) rnd.nextInt(points.length) else i % points.length).clone()))
    val normPts = points.map(normalize)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      normPts.foreach { p =>
        var best = 0; var bestSim = Double.NegativeInfinity
        var i = 0
        while (i < k) {
          var s = 0.0; var j = 0
          while (j < dim) { s += p(j) * centers(i)(j); j += 1 }
          if (s > bestSim) { bestSim = s; best = i }
          i += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      centers = Array.tabulate(k)(i =>
        if (counts(i) == 0) centers(i)   // keep empty cells stable
        else normalize(sums(i)))
    }
    centers
  }

  /** Embedding near-dup pairs: LSH candidates (id1 < id2) verified at
    * cosine >= threshold. */
  def nearDupPairs(df: DataFrame, threshold: Double, dim: Int,
                   nPlanes: Int = 16, bands: Int = 2, seed: Int = 7,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // plane projections evaluate once per row (MinHashLsh.bandSelfJoin);
    // the pair distinct carries ids only, vectors re-join afterwards
    val ids = MinHashLsh.bandSelfJoin(
      withLshBuckets(df, dim, nPlanes, bands, seed, vecCol)
        .select(col("band"), col("bucket"), col(idCol).as("_id")),
      Seq("band", "bucket"), "_id", maxBucket = None)
    val v = df.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
    ids
      .join(v.select(col(idCol).as("id1"), col("_v").as("_v1")), "id1")
      .join(v.select(col(idCol).as("id2"), col("_v").as("_v2")), "id2")
      .withColumn("cosine", round(cos(col("_v1"), col("_v2")), 6))
      .where(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** Deterministic k-means assignment over embeddings — the clustering
    * stage of SemDeDup ("SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", Abbas et al. 2023). The codebook is
    * the `k` lowest-id vectors (a deterministic closed-form init, so the
    * whole operator is engine-reproducible and oracle-checkable; swap in
    * [[sphericalKMeans]] centroids when codebook quality matters more than
    * reproducibility — the assignment pass is identical). Assignment is
    * max cosine over the literal codebook, ties to the lowest cell, sims
    * rounded to 6dp BEFORE the argmax so tie-breaks are engine-stable.
    *
    * Scale: the codebook is a bounded driver artifact (k rows, like the
    * IVF codebook); assignment is a map-only pass over a broadcast literal
    * — no shuffle at all. k grows with the corpus (SemDeDup uses ~50k
    * cells at web scale) but stays driver-trivial. */
  def kmeansAssign(vecs: DataFrame, k: Int = 8, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    assigned(vecs, k, idCol, vecCol)
      .select(col(idCol), col("cluster"), col("centroid_sim"))

  private def assigned(vecs: DataFrame, k: Int, idCol: String,
                       vecCol: String): DataFrame = {
    val v = vecs.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
    assignWith(v, initCenters(v, k, idCol))
  }

  /** The k lowest-id vectors — the deterministic closed-form codebook init
    * shared by the assignment, dedup, and Lloyd entry points. */
  private def initCenters(v: DataFrame, k: Int,
                          idCol: String): Array[Array[Double]] = {
    val centers = v.orderBy(col(idCol)).limit(k)
      .select(col("_v")).collect().map(_.getSeq[Double](0).toArray)
    require(centers.nonEmpty, "kmeansAssign: empty input, no codebook")
    centers
  }

  /** One assignment pass of `_v` rows against a literal codebook: one fused
    * k×dim loop per row (NearestCentroid) instead of k separate cosine
    * columns — the codebook can be thousands of cells without breaking
    * whole-stage codegen; sims are 6dp-rounded inside, ties to the lowest
    * cell. */
  private def assignWith(v: DataFrame,
                         centers: Array[Array[Double]]): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import graft.functions.NearestCentroid
    val nc = GraftBridge.column(
      NearestCentroid(GraftBridge.expression(col("_v")), centers))
    v.withColumn("_nc", nc)
      .withColumn("cluster", col("_nc.cell"))
      .withColumn("centroid_sim", col("_nc.sim"))
      .drop("_nc")
  }

  /** Distributed Lloyd refinement over the FULL corpus (vs [[annTopKIvf]],
    * which trains its codebook driver-side on a bounded sample): starting
    * from the deterministic lowest-id init, each iteration (a) assigns
    * every vector with the fused [[graft.functions.NearestCentroid]] pass
    * and (b) recomputes each cell's centroid as the element-wise MEAN of
    * its members — `posexplode` → ONE (cell, pos) hash aggregation →
    * a k×dim driver collect that becomes the next literal codebook. Cells
    * that lose all members keep their previous centroid (the standard
    * empty-cell rule). Returns the assignment under the refined codebook.
    *
    * Scale: per iteration, one map-only assignment pass + one combinable
    * aggregation whose result is k×dim doubles — the ONLY driver-side
    * state. This is the canonical distributed k-means shape: iteration
    * count is small and fixed, nothing driver-side grows with the corpus. */
  def kmeansLloyd(vecs: DataFrame, k: Int = 8, iters: Int = 1,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val v = vecs.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
    assignWith(v, trainCodebook(vecs, k, iters, idCol, vecCol))
      .select(col(idCol), col("cluster"), col("centroid_sim"))
  }

  /** Train and RETURN the codebook (k×dim doubles — a bounded driver
    * artifact, the IVF-codebook posture): deterministic lowest-id init +
    * `iters` distributed Lloyd iterations ([[kmeansLloyd]]'s loop). The
    * entry point for pipelines that FREEZE the clustering — the
    * incremental SemDeDup loop bootstraps its codebook once and every
    * later batch assigns under it, because re-clustering would reshuffle
    * every historical cell assignment. */
  def trainCodebook(vecs: DataFrame, k: Int = 8, iters: Int = 0,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Array[Array[Double]] = {
    val v = vecs.select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
    var centers = initCenters(v, k, idCol)
    for (_ <- 0 until iters) {
      val means = assignWith(v, centers)
        .select(col("cluster"), posexplode(col("_v")).as(Seq("_pos", "_x")))
        .groupBy(col("cluster"), col("_pos")).agg(avg(col("_x")).as("_cx"))
        .collect()
        .groupBy(_.getAs[Int]("cluster"))
        .map { case (c, rows) =>
          c -> rows.sortBy(_.getAs[Int]("_pos")).map(_.getAs[Double]("_cx"))
        }
      centers = centers.indices.map(c =>
        means.get(c).map(_.toArray).getOrElse(centers(c))).toArray
    }
    centers
  }

  /** [[kmeansAssign]] under an EXPLICIT frozen codebook — the assignment
    * every batch of the incremental SemDeDup loop runs (map-only fused
    * [[graft.functions.NearestCentroid]] pass, zero shuffle). */
  def kmeansAssignWith(vecs: DataFrame, centers: Array[Array[Double]],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame =
    assignWith(
        vecs.select(col(idCol), col(vecCol).cast("array<double>").as("_v")),
        centers)
      .select(col(idCol), col("cluster"), col("centroid_sim"))

  /** SemDeDup within-cluster semantic dedup: inside each k-means cell,
    * a vector is a duplicate if some LOWER-id cell-mate has cosine >=
    * `tau` (keep-first, matching the exact-dedup survivor convention).
    * Output keeps every input row with its verdict: (idCol, cluster,
    * n_dups_prev, max_sim_prev, kept) — the kept=1 rows are the
    * deduplicated corpus, and the stats say why each drop happened.
    *
    * Scale: the pairwise work is confined to cells by the equi-join on
    * `cluster` — O(sum c_i^2), never corpus-pairwise; cell sizes are
    * controlled by k (corpus-proportional at lake scale), which is
    * SemDeDup's entire point vs naive O(N^2) embedding dedup.
    *
    * Hot cells: cell sizes are data-dependent — a near-dup-heavy corpus
    * concentrates mass in one cell, and the O(c^2) pairs of that single
    * join key land in ONE task. Measured (BASELINE.md's round-9 hot-cell
    * table, 50k vecs with a 25%-mass cell): plain 9.3 s; AQE skew-split
    * 4.2 s — but ONLY with its byte threshold hand-tuned to ~the hot
    * partition's size (1 MB), because AQE keys on INPUT bytes while a
    * self-join's output is quadratic in key mass — at the 256 MB default a
    * hot cell of tens of MB emitting billions of pairs never triggers the
    * split; `maxCell` salt-split 6.0 s. `maxCell` is therefore the
    * production knob: it keys on ROW COUNT (the quantity that actually
    * predicts pair count), needs no conf tuning, and bounds every task at
    * ~c*maxCell pairs by construction — cells larger than the cap hash
    * their right side into `m = ceil(c / maxCell)` blocks, the left side
    * replicates once per block, and the join key becomes (cluster,
    * block). The pair SET is exactly the plain join's (every ordered pair
    * meets in exactly one block), so the output is bit-identical
    * (LlmSpec) — bounded parallelism without a semantics change. Cost
    * when nothing is hot: one k-row count aggregate and a broadcast join
    * against it. */
  def semanticDedup(vecs: DataFrame, k: Int = 8, tau: Double = 0.95,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxCell: Option[Int] = None): DataFrame =
    semanticDedupCore(assigned(vecs, k, idCol, vecCol), tau, idCol, maxCell)

  /** [[semanticDedup]] under an EXPLICIT frozen codebook (see
    * [[trainCodebook]]) — the full-pass reference the incremental loop's
    * ≡-pin restricts, and the batch operator a pipeline with a stored
    * clustering runs. */
  def semanticDedupWith(vecs: DataFrame, centers: Array[Array[Double]],
                        tau: Double = 0.95, idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        maxCell: Option[Int] = None): DataFrame =
    semanticDedupCore(
      assignWith(
        vecs.select(col(idCol), col(vecCol).cast("array<double>").as("_v")),
        centers),
      tau, idCol, maxCell)

  private def semanticDedupCore(a: DataFrame, tau: Double, idCol: String,
                                maxCell: Option[Int]): DataFrame = {
    val (lhs, rhs, joinKeys) = maxCell match {
      case None =>
        (a.select(col(idCol).as("_ida"), col("cluster"), col("_v").as("_va")),
          a.select(col(idCol).as("_idb"), col("cluster"), col("_v").as("_vb")),
          Seq("cluster"))
      case Some(cap) =>
        require(cap >= 1, "maxCell must be >= 1")
        // k rows -> broadcast; _m = number of salt blocks for the cell
        val m = a.groupBy(col("cluster"))
          .agg(ceil(count(lit(1)).cast("double") / cap).cast("int").as("_m"))
        val withM = a.join(broadcast(m), Seq("cluster"))
        (withM.select(col(idCol).as("_ida"), col("cluster"), col("_v").as("_va"),
            explode(sequence(lit(0), col("_m") - 1)).as("_blk")),
          withM.select(col(idCol).as("_idb"), col("cluster"), col("_v").as("_vb"),
            pmod(xxhash64(col(idCol)), col("_m")).cast("int").as("_blk")),
          Seq("cluster", "_blk"))
    }
    val dup = lhs.join(rhs, joinKeys)
      .where(col("_idb") < col("_ida"))
      .withColumn("_sim", round(cos(col("_va"), col("_vb")), 6))
      .where(col("_sim") >= tau)
      .groupBy(col("_ida"))
      .agg(count(lit(1)).as("n_dups_prev"), max(col("_sim")).as("max_sim_prev"))
    a.join(dup, col(idCol) === col("_ida"), "left")
      .select(col(idCol), col("cluster"),
        coalesce(col("n_dups_prev"), lit(0L)).as("n_dups_prev"),
        col("max_sim_prev"),
        col("n_dups_prev").isNull.cast("int").as("kept"))
  }

  /** Incremental SemDeDup — the growing-corpus production shape of
    * [[semanticDedup]], completing the batch+incremental pairing every
    * other dedup family here already has (exact / URL / span / MinHash /
    * SimHash / perceptual): each new embedding batch is assigned under
    * the FROZEN codebook `centers` (bootstrapped once via
    * [[trainCodebook]] — production freezes the clustering because
    * re-clustering would reshuffle every historical cell), compared
    * against the accumulated KEPT-vector index restricted to its own
    * cells, and the index-survivors then run the within-batch keep-first
    * rule among themselves. Decisions are per-batch-final, like every
    * incremental dedup here.
    *
    * Output per batch row: (idCol, cluster, status, match_id, sim) with
    * status ∈ {dup_of_index, dup_in_batch, accepted}; match_id is the
    * MIN matching kept id (sim = that pair's 6dp cosine) for
    * dup_of_index, the min lower-id surviving batch cellmate for
    * dup_in_batch, null otherwise. The accepted rows (with their cluster
    * and vector) are what a lake appends to the index, so the loop
    * composes with itself — `keptIndex` carries (idCol, cluster,
    * vecCol).
    *
    * LlmSpec pins a hand case covering all three statuses with exact
    * match provenance, 100% dup_of_index on seeded twins whose kept
    * source shares their cell, replay-cannot-grow (a re-ingested
    * accepted vector matches ITSELF at cosine 1), and maxCell ≡ plain;
    * the oracle pins the full decision frame cross-engine. Like every
    * keep-first dedup, decisions are survivor-relative: a batch vector
    * whose only close pair was itself dropped (non-transitivity of
    * cosine) is accepted — the published incremental semantics, same as
    * [[MinHashLsh.nearDupIncremental]].
    *
    * Scale posture: assignment is map-only against the broadcast frozen
    * codebook; the index join is cell-confined (equi-join on cluster —
    * never corpus-pairwise; `maxCell` salt-blocks a hot cell exactly
    * like the batch operator); historical vectors ship once per
    * MATCHED cell from the index relation (bucketed on cluster in the
    * lake, the join co-locates); per-batch cost is O(batch + matched
    * cells), independent of corpus age. */
  def semanticDedupIncremental(batch: DataFrame, keptIndex: DataFrame,
                               centers: Array[Array[Double]],
                               tau: Double = 0.95,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               maxCell: Option[Int] = None): DataFrame = {
    val b = assignWith(
      batch.select(col(idCol), col(vecCol).cast("array<double>").as("_v")),
      centers)
    val idx = keptIndex.select(col(idCol).as("_kid"), col("cluster"),
      col(vecCol).cast("array<double>").as("_kv"))
    // batch × kept-index, cell-confined; optional hot-cell salt blocks
    // (index side hashed into m blocks, batch side replicated per block —
    // the semanticDedup maxCell pattern on a two-sided join)
    val (bSide, iSide, keys) = maxCell match {
      case None =>
        (b.select(col(idCol), col("cluster"), col("_v")), idx, Seq("cluster"))
      case Some(cap) =>
        require(cap >= 1, "maxCell must be >= 1")
        val m = idx.groupBy(col("cluster"))
          .agg(ceil(count(lit(1)).cast("double") / cap).cast("int").as("_m"))
        (b.select(col(idCol), col("cluster"), col("_v"))
           .join(broadcast(m), Seq("cluster"), "left")
           .withColumn("_blk", explode(
             sequence(lit(0), greatest(coalesce(col("_m"), lit(1)), lit(1)) - 1)))
           .drop("_m"),
         idx.join(broadcast(m), Seq("cluster"))
           .withColumn("_blk", pmod(xxhash64(col("_kid")), col("_m")).cast("int"))
           .drop("_m"),
         Seq("cluster", "_blk"))
    }
    val dupIdx = bSide.join(iSide, keys)
      .withColumn("_sim", round(cos(col("_v"), col("_kv")), 6))
      .where(col("_sim") >= tau)
      .groupBy(col(idCol))
      .agg(min(col("_kid")).as("match_id"),
        min_by(col("_sim"), col("_kid")).as("sim"))
    // index-survivors run the batch operator's keep-first rule among
    // THEMSELVES (direct lower-id pairs, not transitive — exactly
    // semanticDedup's election); `maxCell` salt-blocks a hot cell INSIDE
    // the batch too (lhs replicated over blocks, rhs hashed into one —
    // the semanticDedup self-join pattern), not just on the index probe
    val rest = b.join(dupIdx.select(col(idCol)), Seq(idCol), "left_anti")
    val (restA, restB, restKeys) = maxCell match {
      case None =>
        (rest.select(col(idCol).as("_ida"), col("cluster"),
           col("_v").as("_va")),
         rest.select(col(idCol).as("_idb"), col("cluster"),
           col("_v").as("_vb")),
         Seq("cluster"))
      case Some(cap) =>
        val m = rest.groupBy(col("cluster"))
          .agg(ceil(count(lit(1)).cast("double") / cap).cast("int").as("_m"))
        val withM = rest.join(broadcast(m), Seq("cluster"))
        (withM.select(col(idCol).as("_ida"), col("cluster"),
           col("_v").as("_va"),
           explode(sequence(lit(0), col("_m") - 1)).as("_blk")),
         withM.select(col(idCol).as("_idb"), col("cluster"),
           col("_v").as("_vb"),
           pmod(xxhash64(col(idCol)), col("_m")).cast("int").as("_blk")),
         Seq("cluster", "_blk"))
    }
    val dupBatch = restA.join(restB, restKeys)
      .where(col("_idb") < col("_ida"))
      .withColumn("_sim", round(cos(col("_va"), col("_vb")), 6))
      .where(col("_sim") >= tau)
      .groupBy(col("_ida"))
      .agg(min(col("_idb")).as("match_id"),
        min_by(col("_sim"), col("_idb")).as("sim"))
    val decided = dupIdx
      .select(col(idCol), lit("dup_of_index").as("status"),
        col("match_id"), col("sim"))
      .unionByName(dupBatch
        .select(col("_ida").as(idCol), lit("dup_in_batch").as("status"),
          col("match_id"), col("sim")))
    b.select(col(idCol), col("cluster"))
      .join(decided, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(col("status"), lit("accepted")).as("status"),
        col("match_id"), col("sim"))
  }

  /** SSL-prototype data pruning ("Beyond neural scaling laws: beating
    * power law scaling via data pruning", Sorscher et al. 2022, the
    * self-supervised metric; the same shape drives D4's diversification
    * stage): cluster the embedding corpus with k-means, score each example
    * by its cosine similarity to its cluster centroid (high = prototypical
    * / easy, low = marginal / hard), and in the data-abundant regime DROP
    * the most prototypical fraction of every cluster — the paper's central
    * result is that easy examples are the redundant ones when data is
    * plentiful. `outlierFrac` additionally flags the LEAST prototypical
    * tail (noise/ambiguous examples — the paper prunes hard examples in
    * the data-scarce regime; web pipelines use the same tail as a garbage
    * filter). Returns a verdict frame — every input row with
    * (cluster, centroid_sim, proto_rank, n_cell, kept) — so a pipeline
    * keeps `kept = 1` and an audit can see exactly why each drop happened,
    * the [[semanticDedup]] output convention.
    *
    * `refineIters` Lloyd iterations refine the deterministic lowest-id
    * codebook before scoring (iters=0 scores against the raw init);
    * rank is by 6dp-rounded sim DESC then id ASC, so elections are
    * engine-stable and oracle-checkable end to end.
    *
    * Scale: assignment is the map-only fused-codebook pass ([[kmeansLloyd]]
    * — per iteration one combinable (cell,pos) aggregation whose result is
    * the only driver state); ranking is ONE shuffle on `cluster` with a
    * per-cell sort — cells are O(corpus/k) with k corpus-proportional
    * (SemDeDup uses ~50k cells at web scale), and this window is O(c log c)
    * per cell, NOT pairwise, so it tolerates far larger cells than the
    * O(c²) dedup join. A memory-dwarfing hot cell swaps the exact rank for
    * a per-cell approx_percentile sim threshold (the
    * [[graft.llm.Sampling.sourceQuantileFilter]] trade — rank error moves
    * the boundary, never the order). */
  def prototypePrune(vecs: DataFrame, k: Int = 8, pruneFrac: Double = 0.25,
                     outlierFrac: Double = 0.0, refineIters: Int = 1,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(pruneFrac >= 0 && pruneFrac <= 1, "pruneFrac must be in [0,1]")
    require(outlierFrac >= 0 && outlierFrac + pruneFrac <= 1,
      "pruneFrac + outlierFrac must be <= 1")
    val a =
      if (refineIters == 0) kmeansAssign(vecs, k, idCol, vecCol)
      else kmeansLloyd(vecs, k, refineIters, idCol, vecCol)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("centroid_sim").desc, col(idCol).asc)
    val wc = Window.partitionBy(col("cluster"))
    val nCell = count(lit(1)).over(wc)
    val rank = row_number().over(w)
    // ceil/floor on n_cell as DOUBLE: identical semantics in DuckDB, and
    // the boundary is a count, never a float comparison on sims
    val pruned = rank <= ceil(lit(pruneFrac) * nCell.cast("double"))
    val outlier = rank > nCell - floor(lit(outlierFrac) * nCell.cast("double"))
    a.select(col(idCol), col("cluster"), col("centroid_sim"),
      rank.cast("long").as("proto_rank"), nCell.as("n_cell"),
      (!pruned && !outlier).cast("int").as("kept"))
  }

  /** Achlioptas sign random projection — the dimensionality-reduction rung
    * of the embedding memory ladder (with [[quantizeInt8]] below it): a
    * Johnson-Lindenstrauss transform with entries ±1/√outDim, which
    * preserves pairwise distances within (1±ε) while cutting an
    * embedding store dim/outDim-fold before ANN indexing. The matrix
    * entry sign is `parity(md5(seed:j:i))` — engine-reproducible, so the
    * SAME matrix regenerates anywhere from the seed alone (no matrix to
    * ship or version); it is PRECOMPUTED driver-side into a literal, so
    * the corpus pass is a pure map-side literal-matrix multiply: no
    * shuffle, no per-row hashing, codegen'd zip_with/aggregate loops.
    *
    * Output: one row per (idCol, out_dim, value) — the exploded scalar
    * form. `i` is 1-based in the entry derivation (the SQL oracle's list
    * index convention). A vector shorter/longer than `inDim` projects to
    * null (zip_with pads), surfacing schema drift instead of hiding it. */
  def randomProject(vecs: DataFrame, inDim: Int, outDim: Int,
                    seed: String = "jl", idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    vecs
      .select(col(idCol),
        posexplode(projectVec(col(vecCol), inDim, outDim, seed))
          .as(Seq("out_dim", "value")))
      .select(col(idCol), col("out_dim"), round(col("value"), 6).as("value"))

  /** The array form of [[randomProject]]: project one vector column to
    * `array<double>` of `outDim` — composable into search pipelines
    * ([[annTopKCompressed]]) where the exploded scalar form isn't wanted. */
  def projectVec(vec: Column, inDim: Int, outDim: Int,
                 seed: String = "jl"): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.MatVec(
      GraftBridge.expression(vec.cast("array<double>")),
      jlMatrix(inDim, outDim, seed).map(_.toArray).toArray,
      Some(math.sqrt(outDim.toDouble))))
  }

  /** The deterministic ±1 JL sign matrix (outDim×inDim), derived from the
    * seed alone: entry (j, i) = parity(md5(seed:j:i)) with 1-based i. */
  private[graft] def jlMatrix(inDim: Int, outDim: Int,
                              seed: String): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Double = {
      val h = md.digest(s"$seed:$j:$i".getBytes("UTF-8"))
      // parity of the first hex digit = bit 4 of the first byte
      if (((h(0) >> 4) & 1) == 1) 1.0 else -1.0
    }
    Seq.tabulate(outDim, inDim)((j, i) => sign(j, i + 1))
  }

  /** Mean-pool member embeddings to group embeddings — the chunk→document
    * aggregation of an embedding pipeline (documents are embedded per
    * chunk; SemDeDup/clustering/ANN then want ONE vector per document),
    * and equally the doc→cluster centroid step. Emits the exploded scalar
    * form (group, dim, value, n_members) — joinable, oracle-checkable,
    * and re-assemblable with collect_list when an array is wanted.
    *
    * Scale: explode is map-side; ONE hash aggregation on (group, dim)
    * with partial (sum, count) combine — the exchange carries doubles at
    * dim× the row count, the honest cost of element-wise pooling, with
    * map-side combine collapsing co-located chunks first. No windows, no
    * per-group arrays in any buffer. */
  def meanPool(vecs: DataFrame, groupCol: String,
               vecCol: String = "embedding"): DataFrame =
    vecs
      .select(col(groupCol).as("group_id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("group_id"), col("dim"))
      .agg(round(avg(col("x")), 6).as("value"),
        count(lit(1)).as("n_members"))

  /** The full compressed-ANN ladder composed: candidates are indexed as
    * JL-projected ([[projectVec]]) then int8-quantized vectors — 16 int8
    * codes + one scale vs 64 floats is a 10× smaller index, the
    * difference between an in-memory and a spilling ANN store at 100 TB —
    * the coarse pass scores the DEQUANTIZED codes against the projected
    * query, keeps a `shortlist` per query, and only the shortlist is
    * re-ranked EXACTLY on the original float vectors (the standard
    * two-stage SQ recipe; faiss's IVF-SQ8 search shape). Recall vs the
    * uncompressed brute baseline is pinned in tests.
    *
    * The coarse stage here is the broadcast brute pass over the
    * compressed index (right when |Q| is small); at corpus scale
    * [[annTopKIvfCompressed]] runs the SAME code/shortlist/re-rank ladder
    * inside the IVF cell probe — compression and cell-pruning compose,
    * they don't compete. Coarse scores round to 6dp (ties to the lower
    * neighbor id) so shortlist membership is engine-stable — this key is
    * fully DuckDB-oracled, projection matrix and all. */
  def annTopKCompressed(candidates: DataFrame, queries: DataFrame, k: Int,
                        inDim: Int, projDim: Int = 16, shortlist: Int = 50,
                        seed: String = "jl", idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val qp = broadcast(queries.select(
      col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"),
      projectVec(col(vecCol), inDim, projDim, seed).as("_qp")))
    // the compressed index: per-candidate projected scale + int8 codes
    val proj = projectVec(col(vecCol), inDim, projDim, seed)
    val cp = candidates
      .withColumn("_p", proj)
      .withColumn("_pscale",
        array_max(transform(col("_p"), x => abs(x))) / 127.0)
      .withColumn("_q8", transform(col("_p"), x =>
        coalesce(round(x / when(col("_pscale") =!= 0.0, col("_pscale")), 0),
          lit(0.0)).cast("int")))
      // dequantize ONCE per candidate, below the join — inline in the
      // coarse cosine it would be rebuilt |Q| times per candidate
      .withColumn("_dq", transform(col("_q8"), x => x * col("_pscale")))
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("_cv"), col("_dq"))
    val coarse = cp.crossJoin(qp)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("_psim", round(cos(col("_qp"), col("_dq")), 6))
    val wCoarse = Window.partitionBy("query_id")
      .orderBy(col("_psim").desc, col("neighbor_id").asc)
    val short = coarse.withColumn("_prank", row_number().over(wCoarse))
      .where(col("_prank") <= shortlist)
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    short
      .withColumn("sim", round(cos(col("_qv"), col("_cv")), 6))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Driver-local Euclidean k-means over a bounded sample — the
    * per-subspace PQ codebook trainer ([[sphericalKMeans]] is the cosine
    * twin used by IVF; PQ subvectors want plain L2). Deterministic
    * seeding; empty clusters keep their previous centroid. */
  private def euclideanKMeans(points: Array[Array[Double]], k: Int,
                              seed: Long, iters: Int = 10): Array[Array[Double]] = {
    require(points.nonEmpty)
    val dim = points.head.length
    val rnd = new Random(seed)
    val centers = Array.tabulate(k)(i => points(
      if (points.length >= k) rnd.nextInt(points.length)
      else i % points.length).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = p(i) - centers(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      for (c <- 0 until k if counts(c) > 0; i <- 0 until dim)
        centers(c)(i) = sums(c)(i) / counts(c)
    }
    centers
  }

  /** Product-quantization codebooks: split `inDim` into `m` subspaces and
    * train a `ksub`-centroid Euclidean codebook per subspace over the
    * given sample. A bounded driver artifact (m·ksub·(inDim/m) doubles —
    * KBs) exactly like the IVF codebook. */
  private[graft] def pqCodebooks(sample: Array[Array[Double]], inDim: Int,
                               m: Int, ksub: Int,
                               seed: Long): Array[Array[Array[Double]]] = {
    require(inDim % m == 0, s"inDim $inDim must divide into $m subspaces")
    val sub = inDim / m
    Array.tabulate(m) { j =>
      val pts = sample.map(v => v.slice(j * sub, (j + 1) * sub))
      euclideanKMeans(pts, ksub, seed + j)
    }
  }

  /** PQ encode: per subspace, the argmin-distance code (ties to the
    * lowest code; a wrong-length vector encodes to null, surfacing
    * dimension drift). Returns `array<int>` of length m. Native
    * codegen'd [[graft.functions.PqCodes]] — 54× over the HOF reference
    * formulation (measured 47 K → 316 K vecs/s at 2.5 M 64-dim vectors on
    * local[32]), which the equivalence spec keeps in test scope. */
  private[graft] def pqEncode(vec: Column, books: Array[Array[Array[Double]]],
                            inDim: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.PqCodes(
      GraftBridge.expression(vec.cast("array<double>")), books))
  }

  /** PQ decode as a column: concatenate each subspace's selected centroid
    * (native codegen'd [[graft.functions.PqDecode]]). */
  private def pqDecode(codes: Column,
                       books: Array[Array[Array[Double]]]): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.PqDecode(
      GraftBridge.expression(codes), books))
  }

  /** Product quantization report — the third rung of the embedding memory
    * ladder (float → SQ8 int8 → PQ codes): `m` sub-codebooks of `ksub`
    * centroids give m·log2(ksub) BITS per vector (8 subspaces × 16
    * centroids = 4 bytes vs 256 float bytes, a 64× store shrink — what
    * makes a 100 TB embedding index RAM-resident), at higher
    * reconstruction error than SQ8 — which is why PQ pairs with an exact
    * float re-rank ([[annTopKPq]]) exactly as SQ8 does.
    *
    * Codebooks train driver-side on the deterministic lowest-id sample
    * (the bounded-artifact pattern of the IVF codebook); encoding is one
    * map-side projection (m·ksub literal sub-distances per row), no
    * shuffle. Rows-only contract key (k-means has no SQL oracle);
    * LlmSpec pins code ranges, determinism, and that reconstruction
    * error improves with codebook size. */
  def quantizePqReport(vecs: DataFrame, inDim: Int, m: Int = 8,
                       ksub: Int = 16, sampleN: Int = 2048, seed: Long = 7L,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val sample = vecs.orderBy(col(idCol)).limit(sampleN)
      .select(v).collect().map(_.getSeq[Double](0).toArray)
    val books = pqCodebooks(sample, inDim, m, ksub, seed)
    val withCodes = vecs
      .withColumn("pq_codes", pqEncode(col(vecCol), books, inDim))
      .withColumn("_dec", pqDecode(col("pq_codes"), books))
    withCodes.select(
      col(idCol), lit(m).as("m"), lit(ksub).as("ksub"),
      aggregate(col("pq_codes"), lit(0L), (acc, x) => acc + x).as("code_sum"),
      round(sqrt(aggregate(zip_with(v, col("_dec"),
        (x, d) => (x - d) * (x - d)), lit(0.0), (acc, t) => acc + t)
        / lit(inDim)), 6).as("rmse"))
  }

  /** PQ-compressed ANN with asymmetric-distance scoring (the faiss ADC
    * recipe): candidates carry only their m-byte PQ codes; the coarse
    * score is cos(float query, PQ-decoded candidate) — mathematically the
    * asymmetric distance, since the query stays full-precision and the
    * candidate is its centroid reconstruction — then the per-query
    * `shortlist` re-ranks EXACTLY on the original floats, touched via
    * equi-join only. Same two-stage ladder as [[annTopKCompressed]]
    * (which uses JL+SQ8 codes); at corpus scale the code column drops
    * into [[annTopKIvfCompressed]]'s cell probe unchanged — the
    * compression family shares one search skeleton.
    *
    * Scale: codebooks are a bounded driver artifact; encode and decode
    * are map-side below the broadcast query join; coarse scores round to
    * 6dp (ties to lower neighbor id) so shortlist membership is
    * partitioning-stable. */
  def annTopKPq(candidates: DataFrame, queries: DataFrame, k: Int,
                inDim: Int, m: Int = 8, ksub: Int = 16, shortlist: Int = 50,
                sampleN: Int = 2048, seed: Long = 7L,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val cv = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val sample = cv.orderBy(col("neighbor_id")).limit(sampleN)
      .select(col("_cv")).collect().map(_.getSeq[Double](0).toArray)
    if (sample.isEmpty)
      return annTopKBrute(candidates, queries, k, idCol, vecCol)
    val books = pqCodebooks(sample, inDim, m, ksub, seed)

    // the compressed index: codes only; decode ONCE per candidate
    val index = cv
      .withColumn("_codes", pqEncode(col("_cv"), books, inDim))
      .withColumn("_dec", pqDecode(col("_codes"), books))
      .select(col("neighbor_id"), col("_dec"))
    val qp = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv")))

    val wCoarse = Window.partitionBy("query_id")
      .orderBy(col("_psim").desc, col("neighbor_id").asc)
    val short = index.crossJoin(qp)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("_psim", round(cos(col("_qv"), col("_dec")), 6))
      .withColumn("_prank", row_number().over(wCoarse))
      .where(col("_prank") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))

    val wExact = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    short.join(cv, "neighbor_id").join(broadcast(queries.select(
        col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("_qv"))), "query_id")
      .withColumn("sim", round(cos(col("_qv"), col("_cv")), 6))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Apply a d×d rotation to a vector column — map-side O(d²) per
    * vector, the [[projectVec]] matmul shape with a square learned
    * matrix instead of the random sign matrix. Native fused
    * [[graft.functions.MatVec]] loop (the equivalence spec keeps the HOF
    * reference formulation in test scope). */
  private[graft] def rotateVec(vec: Column, r: Seq[Seq[Double]]): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.MatVec(
      GraftBridge.expression(vec.cast("array<double>")),
      r.map(_.toArray).toArray, None))
  }

  /** Driver-side nearest-centroid encode+reconstruct of one vector under
    * PQ sub-codebooks — the [[graft.functions.PqCodes]]/PqDecode
    * semantics (strict-< argmin, ties to the lowest code) in plain
    * Scala, for the OPQ trainer's sample loop. */
  private def pqReconstructLocal(y: Array[Double],
                                 books: Array[Array[Array[Double]]])
      : Array[Double] = {
    val m = books.length
    val sub = y.length / m
    val out = new Array[Double](y.length)
    var j = 0
    while (j < m) {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < books(j).length) {
        var d = 0.0; var i = 0
        while (i < sub) {
          val t = y(j * sub + i) - books(j)(c)(i); d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      System.arraycopy(books(j)(best), 0, out, j * sub, sub)
      j += 1
    }
    out
  }

  /** OPQ rotation training (Ge et al. 2014, the non-parametric
    * alternation faiss ships as OPQMatrix): alternate (a) PQ codebook
    * training + encode/reconstruct of the ROTATED sample and (b) the
    * orthogonal-Procrustes rotation update — maximize tr(R·A) with
    * A = Σ xᵢ x̂ᵢᵀ over orthogonal R, solved by R = V·Uᵀ from
    * svd(A) = U·S·Vᵀ (breeze, a d×d driver-local decomposition). The
    * rotation redistributes variance across the m subspaces so each
    * sub-codebook quantizes a balanced slice, cutting reconstruction
    * error at the SAME bytes/vector — LlmSpec pins rmse(OPQ) ≤ rmse(PQ)
    * and RᵀR = I. Runs on the bounded deterministic sample (the
    * codebook posture); returns (rotation, sub-codebooks trained under
    * the final rotation). */
  private[graft] def opqTrain(sample: Array[Array[Double]], inDim: Int,
                              m: Int, ksub: Int, seed: Long, iters: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    import breeze.linalg.{svd, DenseMatrix}
    require(sample.nonEmpty, "opqTrain: empty sample")
    var r = Array.tabulate(inDim, inDim)((i, j) => if (i == j) 1.0 else 0.0)
    def rot(x: Array[Double]): Array[Double] = {
      val y = new Array[Double](inDim)
      var i = 0
      while (i < inDim) {
        var s = 0.0; var j = 0
        while (j < inDim) { s += r(i)(j) * x(j); j += 1 }
        y(i) = s; i += 1
      }
      y
    }
    var t = 0
    while (t < iters) {
      val ys = sample.map(rot)
      val books = pqCodebooks(ys, inDim, m, ksub, seed)
      val yhat = ys.map(pqReconstructLocal(_, books))
      val a = DenseMatrix.zeros[Double](inDim, inDim)
      var i = 0
      while (i < sample.length) {
        var p = 0
        while (p < inDim) {
          var q = 0
          while (q < inDim) {
            a(p, q) += sample(i)(p) * yhat(i)(q); q += 1
          }
          p += 1
        }
        i += 1
      }
      val svd.SVD(u, _, vt) = svd(a)
      val rm = vt.t * u.t
      r = Array.tabulate(inDim, inDim)((x, y2) => rm(x, y2))
      t += 1
    }
    (r, pqCodebooks(sample.map(rot), inDim, m, ksub, seed))
  }

  /** OPQ report — the fourth rung of the embedding memory ladder
    * (float → SQ8 → PQ → OPQ): identical bytes/vector to
    * [[quantizePqReport]] (m·log2(ksub) bits), lower reconstruction
    * error because the learned orthogonal rotation balances variance
    * across subspaces before the sub-codebooks quantize them. The
    * rotation and codebooks are bounded driver artifacts; rotation +
    * encode are one map-side projection, no shuffle. Rows-only contract
    * key; `rmse` is measured in the rotated space, which equals the
    * original-space error exactly (orthogonality preserves norms), so
    * the OPQ-vs-PQ comparison is like for like. */
  def quantizeOpqReport(vecs: DataFrame, inDim: Int, m: Int = 8,
                        ksub: Int = 16, opqIters: Int = 3,
                        sampleN: Int = 2048, seed: Long = 7L,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val sample = vecs.orderBy(col(idCol)).limit(sampleN)
      .select(v).collect().map(_.getSeq[Double](0).toArray)
    val (r, books) = opqTrain(sample, inDim, m, ksub, seed, opqIters)
    val rSeq: Seq[Seq[Double]] = r.map(_.toSeq).toSeq
    val withCodes = vecs
      .withColumn("_rot", rotateVec(col(vecCol), rSeq))
      .withColumn("pq_codes", pqEncode(col("_rot"), books, inDim))
      .withColumn("_dec", pqDecode(col("pq_codes"), books))
    withCodes.select(
      col(idCol), lit(m).as("m"), lit(ksub).as("ksub"),
      aggregate(col("pq_codes"), lit(0L), (acc, x) => acc + x).as("code_sum"),
      round(sqrt(aggregate(zip_with(col("_rot"), col("_dec"),
        (x, d) => (x - d) * (x - d)), lit(0.0), (acc, t) => acc + t)
        / lit(inDim)), 6).as("rmse"))
  }

  /** OPQ-compressed ANN with asymmetric-distance scoring — [[annTopKPq]]
    * with the learned rotation applied to both sides of the coarse
    * stage: the index holds m-byte codes of ROTATED candidates, the
    * coarse score is cos(R·query, decode(codes)) (cosine is
    * rotation-invariant, so this estimates the same similarity with
    * less quantization noise), and the per-query shortlist re-ranks
    * EXACTLY on the original floats via equi-join. Same skeleton, same
    * bytes, better recall at equal m/ksub — LlmSpec pins
    * recall(OPQ) ≥ recall(PQ) on the seeded corpus. */
  def annTopKOpq(candidates: DataFrame, queries: DataFrame, k: Int,
                 inDim: Int, m: Int = 8, ksub: Int = 16,
                 shortlist: Int = 50, opqIters: Int = 3,
                 sampleN: Int = 2048, seed: Long = 7L,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val cv = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("_cv"))
    val sample = cv.orderBy(col("neighbor_id")).limit(sampleN)
      .select(col("_cv")).collect().map(_.getSeq[Double](0).toArray)
    if (sample.isEmpty)
      return annTopKBrute(candidates, queries, k, idCol, vecCol)
    val (r, books) = opqTrain(sample, inDim, m, ksub, seed, opqIters)
    val rSeq: Seq[Seq[Double]] = r.map(_.toSeq).toSeq

    val index = cv
      .withColumn("_codes",
        pqEncode(rotateVec(col("_cv"), rSeq), books, inDim))
      .withColumn("_dec", pqDecode(col("_codes"), books))
      .select(col("neighbor_id"), col("_dec"))
    val qp = broadcast(queries.select(col(idCol).as("query_id"),
      rotateVec(col(vecCol), rSeq).as("_qr")))

    val wCoarse = Window.partitionBy("query_id")
      .orderBy(col("_psim").desc, col("neighbor_id").asc)
    val short = index.crossJoin(qp)
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("_psim", round(cos(col("_qr"), col("_dec")), 6))
      .withColumn("_prank", row_number().over(wCoarse))
      .where(col("_prank") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))

    val wExact = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    short.join(cv, "neighbor_id").join(broadcast(queries.select(
        col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("_qv"))), "query_id")
      .withColumn("sim", round(cos(col("_qv"), col("_cv")), 6))
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** Int8 scalar quantization of the embedding column — the memory ladder
    * under the ANN family: a 100 TB float32 embedding store is 25 TB at
    * int8, which is the difference between an IVF codebook sweep that fits
    * in cluster memory and one that spills. Per-vector absmax scaling
    * (`scale = max|x| / 127`, `q_i = round(x_i / scale)` clamped by
    * construction to [-127, 127]), the standard faiss/SQ8 recipe; the
    * all-zero vector quantizes to all-zero at scale 0 rather than NaN.
    *
    * Output: the input row plus `q8` (array<int> codes), `scale` (double),
    * and `dim` — dequantization is `q_i · scale`. Downstream ANN re-ranks
    * exact on the float column for the final top-k (the usual two-stage
    * scheme); tests pin the reconstruction bound |x - q·scale| ≤ scale/2.
    *
    * Scale: pure per-row column algebra — one projection, no shuffle, no
    * UDF; the transform/aggregate HOFs evaluate in one pass per vector. */
  def quantizeInt8(vecs: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val scale = array_max(transform(v, x => abs(x))) / 127.0
    // null when scale is 0 (all-zero vector): x/null -> null, coalesce 0
    val safe = when(col("scale") =!= 0.0, col("scale"))
    vecs
      .withColumn("dim", size(v).cast("int"))
      .withColumn("scale", scale)
      .withColumn("q8",
        transform(v, x => coalesce(round(x / safe, 0), lit(0.0)).cast("int")))
  }

  /** Reconstruction-error report over [[quantizeInt8]]'s output: per-vector
    * code checksums and the root-mean-square dequantization error (single
    * elementwise pass; q_i is recomputed from x_i inside the transform so
    * no array zip is needed). */
  def quantizeReport(vecs: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = quantizeInt8(vecs, idCol, vecCol)
    val v = col(vecCol).cast("array<double>")
    val safe = when(col("scale") =!= 0.0, col("scale"))
    val sqErr = transform(v, x =>
      pow(x - coalesce(round(x / safe, 0), lit(0.0)) * col("scale"), 2))
    // _rmse via withColumn, NOT inline in the select below: there the
    // `round(scale, 6) AS scale` item would capture sqErr's col("scale")
    // as a LATERAL column alias (Spark 3.4+ resolves later select items
    // against earlier aliases first), silently quantizing against the
    // display-rounded scale
    q.withColumn("_rmse",
        sqrt(aggregate(sqErr, lit(0.0), (acc, e) => acc + e) / col("dim")))
      .select(
        col(idCol), col("dim"),
        round(col("scale"), 6).as("scale"),
        aggregate(col("q8"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(col("q8"), lit(0L), (acc, x) => acc + abs(x)).as("q_abs_sum"),
        round(col("_rmse"), 6).as("rmse"))
  }
}
