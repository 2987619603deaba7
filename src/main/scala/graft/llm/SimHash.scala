package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate fingerprinting: 64-bit token-weighted fingerprint,
  * band-bucketed candidate generation, Hamming-distance verification.
  *
  * The fingerprint is pure per-row column algebra (higher-order aggregate
  * over the token array, all inside codegen); banding splits the 64 bits
  * into 16-bit quarters — two near-dups within Hamming distance 8 of each
  * other collide on at least one quarter with high probability (exact for
  * distance <= 3 by pigeonhole). Candidates come from equi-joins on
  * (band, 16-bit chunk) — no all-pairs anywhere.
  */
object SimHash {

  /** 64-bit SimHash over whitespace tokens of the case-folded text — the
    * native fused-loop expression ([[graft.functions.SimHash64]]). */
  def withFingerprint(docs: DataFrame, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val toks = TextAnalysis.tokens(lower(col(textCol)))
    docs.withColumn("simhash",
      GraftBridge.column(graft.functions.SimHash64(GraftBridge.expression(toks))))
  }

  /** Four 16-bit band chunks of the fingerprint. */
  def bandChunk(fp: Column, band: Int): Column =
    shiftrightunsigned(fp, band * 16).bitwiseAND(lit(0xFFFFL))

  /** Candidate pairs sharing at least one 16-bit chunk, verified to be
    * within `maxHamming` bits (bit_count of the XOR).
    *
    * `maxBucket` drops chunks shared by more than that many docs before
    * the self-join: a boilerplate/template-heavy corpus concentrates
    * thousands of near-identical fingerprints in one chunk, whose B^2
    * join rows are the hot-bucket blowup (same guard, same recall trade,
    * and same zero-extra-shuffle window as
    * [[MinHashLsh.candidatePairs]]). */
  def nearDupPairs(docs: DataFrame, maxHamming: Int = 8,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxBucket: Option[Int] = None): DataFrame =
    nearDupPairsOnFingerprint(
      withFingerprint(docs, textCol).select(col(idCol), col("simhash")),
      maxHamming, idCol, "simhash", maxBucket)

  /** The Hamming-banded candidate join over ANY 64-bit fingerprint
    * relation (idCol, fpCol) — shared by text SimHash and the
    * perceptual dHash ([[Multimodal.perceptualNearDup]]): 4×16-bit band
    * chunks, equi-join per chunk, exact bit_count(XOR) verify. Same
    * hot-bucket `maxBucket` guard and recall trade as
    * [[MinHashLsh.candidatePairs]]. */
  def nearDupPairsOnFingerprint(fps: DataFrame, maxHamming: Int,
                                idCol: String, fpCol: String,
                                maxBucket: Option[Int]): DataFrame = {
    // compute-once without caching: the explicit repartition on the join
    // keys pins a shuffle exchange that is canonically identical under both
    // self-join sides, so exchange/stage reuse runs the fingerprint map
    // stage once and serves both readers from shuffle files — no
    // block-manager residue, fault-tolerant via lineage
    val banded0 = fps.select(col(idCol), col(fpCol).as("simhash"))
      .select(col(idCol), col("simhash"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"), bandChunk(col("simhash"), b).as("chunk"))
        }: _*)).as("_b"))
      .select(col(idCol), col("simhash"), col("_b.band").as("band"), col("_b.chunk").as("chunk"))
      .repartition(col("band"), col("chunk"))
    val banded = maxBucket.fold(banded0) { cap =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("chunk"))
      banded0.withColumn("_bc", count(lit(1)).over(w))
        .where(col("_bc") <= cap).drop("_bc")
    }
    val l = banded.select(col("band"), col("chunk"), col(idCol).as("id1"), col("simhash").as("fp1"))
    val r = banded.select(col("band"), col("chunk"), col(idCol).as("id2"), col("simhash").as("fp2"))
    l.join(r, Seq("band", "chunk"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("fp1"), col("fp2"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp1").bitwiseXOR(col("fp2"))))
      .where(col("hamming") <= maxHamming)
  }
}
