package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reference formulations of the native expressions, in Spark's own
  * expression trees and higher-order functions. Each one is what the
  * library ran before its fused native expression replaced it; the parity
  * specs pin native ≡ reference on hand cases and corpus data. None of
  * them is on a query path, so they live in test scope.
  */
object ParityTwins {

  /** Expression-tree twin of [[Similarity.withLshBuckets]]: one literal
    * hyperplane cosine sign column per plane, `xxhash64` per band. */
  def withLshBucketsTree(df: DataFrame, dim: Int, nPlanes: Int = 16,
                         bands: Int = 2, seed: Int = 7,
                         vecCol: String = "embedding"): DataFrame = {
    require(nPlanes % bands == 0)
    val perBand = nPlanes / bands
    val ps = Similarity.planesRaw(nPlanes, dim, seed).map(p => lit(p)).toIndexedSeq
    val v = col(vecCol).cast("array<double>")
    val signBits = ps.map(p =>
      when(coalesce(Similarity.cosine(v, p), lit(0.0)) > 0.0, 1).otherwise(0))
    val bandStructs = array((0 until bands).map { b =>
      val chunk = signBits.slice(b * perBand, (b + 1) * perBand)
      struct(lit(b).as("band"), xxhash64((lit(b) +: chunk): _*).as("bucket"))
    }: _*)
    df.withColumn("_b", explode(bandStructs))
      .withColumn("band", col("_b.band"))
      .withColumn("bucket", col("_b.bucket"))
      .drop("_b")
  }

  /** Expression-tree twin of [[Similarity.nearestCells]]: one literal
    * centroid cosine struct per cell, sorted and sliced. */
  def nearestCellsTree(centers: Array[Array[Double]], v: Column,
                       n: Int): Column = {
    val sims = array(centers.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(coalesce(Similarity.cosine(v, lit(c)), lit(-2.0)).as("sim"),
        lit(i).as("cell"))
    }: _*)
    slice(reverse(array_sort(sims)), 1, n).getField("cell")
  }

  /** HOF twin of [[Similarity.projectVec]]. */
  def projectVecTree(vec: Column, inDim: Int, outDim: Int,
                     seed: String = "jl"): Column = {
    val mLit = typedLit(Similarity.jlMatrix(inDim, outDim, seed))
    val v = vec.cast("array<double>")
    val scale = math.sqrt(outDim.toDouble)
    transform(sequence(lit(0), lit(outDim - 1)), j =>
      aggregate(zip_with(v, element_at(mLit, j + 1), (x, w) => x * w),
        lit(0.0), (acc, t) => acc + t) / scale)
  }

  /** Squared L2 distance between an array column and a literal centroid. */
  private def sqDist(a: Column, c: Array[Double]): Column =
    aggregate(zip_with(a, lit(c), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, t) => acc + t)

  /** HOF twin of [[Similarity.pqEncode]]: per-centroid distance structs
    * and an `array_sort` argmin per subspace. */
  def pqEncodeHof(vec: Column, books: Array[Array[Array[Double]]],
                  inDim: Int): Column = {
    val m = books.length
    val sub = inDim / m
    val v = vec.cast("array<double>")
    val codes = (0 until m).map { j =>
      val sv = slice(v, j * sub + 1, sub)
      val ds = array(books(j).zipWithIndex.toIndexedSeq.map { case (c, i) =>
        struct(coalesce(sqDist(sv, c), lit(Double.MaxValue)).as("d"),
          lit(i).as("code"))
      }: _*)
      element_at(array_sort(ds), 1).getField("code")
    }
    array(codes: _*)
  }

  /** HOF twin of [[Similarity.rotateVec]]. */
  def rotateVecTree(vec: Column, r: Seq[Seq[Double]]): Column = {
    val mLit = typedLit(r)
    val v = vec.cast("array<double>")
    transform(sequence(lit(0), lit(r.size - 1)), j =>
      aggregate(zip_with(v, element_at(mLit, j + 1), (x, w) => x * w),
        lit(0.0), (acc, t) => acc + t))
  }

  /** HOF twin of [[TextAnalysis.winnowFingerprints]]. Never a pipeline
    * stage: Catalyst's CollapseProject inlines the gram array into every
    * transform lambda that references it, so this plan re-evaluates the
    * full gram array per gram index and per window — O(n³) per document
    * (76 s for the sf0.01 dump where the native pass takes 0.4 s). */
  def winnowFingerprintsHof(docs: DataFrame, k: Int = 3, w: Int = 4,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFingerprints: k,w must be >= 1")
    val grams = TextAnalysis.ngrams(col(textCol), k)
    // encoded selection keys: hash(gram_i)·2^21 − i, one per gram
    val keys = transform(sequence(lit(0), size(col("_g")) - 1),
      i => conv(substring(md5(element_at(col("_g"), i + 1)), 1, 8), 16, 10)
        .cast("long") * lit(2097152L) - i.cast("long"))
    // per window start s: min key over the w-slice (clamped at the end;
    // a doc with fewer than w grams winnows one short window)
    val mins = transform(sequence(lit(0), greatest(size(col("_k")) - w, lit(0))),
      s => array_min(slice(col("_k"), s + 1, lit(w))))
    docs
      .select(col(idCol), grams.as("_g"))
      .where(size(col("_g")) > 0)
      .withColumn("_k", keys)
      .withColumn("_m", array_distinct(mins))
      .select(col(idCol), explode(col("_m")).as("_sel"), col("_g"))
      // decode (hash, pos) from the encoded key: pos ∈ [0, 2^21) ⇒
      // hash = ceil(key / 2^21), pos = hash·2^21 − key
      .withColumn("gram_hash",
        floor((col("_sel") + lit(2097151L)) / lit(2097152L)).cast("long"))
      .withColumn("pos", (col("gram_hash") * lit(2097152L) - col("_sel")).cast("long"))
      .withColumn("gram", element_at(col("_g"), (col("pos") + 1).cast("int")))
      .select(col(idCol), col("pos"), col("gram_hash"), col("gram"))
  }

  /** HOF twin of [[TextAnalysis.ngrams]]. */
  def ngramsHof(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** HOF twin of [[Dedup.shingles]]. */
  def shinglesHof(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(lower(text))
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
        .otherwise(array(concat_ws(" ", toks))))
  }

  /** HOF twin of [[SimHash.withFingerprint]] (interpreted; bit-for-bit
    * against [[graft.functions.SimHash64]]). Variable shift amounts need
    * SQL-expression lambdas (the Scala DSL's shiftright takes a literal
    * only). */
  def withFingerprintHof(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val withToks = docs.withColumn("_toks", TextAnalysis.tokens(lower(col(textCol))))
    val bitSums = expr(
      """aggregate(
        |  _toks,
        |  array_repeat(0, 64),
        |  (acc, t) -> zip_with(
        |    acc,
        |    transform(sequence(0, 63),
        |      i -> CASE WHEN (shiftright(xxhash64(t), i) & 1) = 1
        |           THEN 1 ELSE -1 END),
        |    (x, y) -> x + y))""".stripMargin)
    val fp = expr(
      """aggregate(
        |  zip_with(_bitsums, sequence(0, 63), (s, i) -> IF(s > 0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
        |  CAST(0 AS BIGINT),
        |  (acc, v) -> acc | v)""".stripMargin)
    withToks
      .withColumn("_bitsums", bitSums)
      .withColumn("simhash", fp)
      .drop("_toks", "_bitsums")
  }
}
