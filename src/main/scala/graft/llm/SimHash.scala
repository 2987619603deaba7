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
    * within `maxHamming` bits (bit_count of the XOR). `maxBucket` drops
    * chunks shared by more than that many docs before the self-join
    * ([[MinHashLsh.capBuckets]]: same guard, same recall trade). */
  def nearDupPairs(docs: DataFrame, maxHamming: Int = 8,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxBucket: Option[Int] = None): DataFrame =
    nearDupPairsOnFingerprint(withFingerprint(docs, textCol), maxHamming,
      idCol, "simhash", maxBucket)

  /** (idCol, fpCol, band, chunk): one row per 16-bit band chunk of each
    * 64-bit fingerprint — the band keys of text SimHash and the
    * perceptual dHash, in the full pass and the incremental one. */
  private[graft] def bandChunks(fps: DataFrame, idCol: String,
                                fpCol: String): DataFrame =
    fps.select(col(idCol), col(fpCol),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"), bandChunk(col(fpCol), b).as("chunk"))
        }: _*)).as("_b"))
      .select(col(idCol), col(fpCol), col("_b.band").as("band"),
        col("_b.chunk").as("chunk"))

  /** The Hamming-banded candidate join over ANY 64-bit fingerprint
    * relation (idCol, fpCol) — shared by text SimHash and the
    * perceptual dHash ([[Multimodal.perceptualNearDup]]): 4×16-bit band
    * chunks through [[MinHashLsh.bandSelfJoin]], exact bit_count(XOR)
    * verify. Output: (id1, id2, fp1, fp2, hamming). */
  def nearDupPairsOnFingerprint(fps: DataFrame, maxHamming: Int,
                                idCol: String, fpCol: String,
                                maxBucket: Option[Int]): DataFrame =
    MinHashLsh.bandSelfJoin(
        bandChunks(fps.select(col(idCol), col(fpCol).as("simhash")), idCol,
          "simhash"),
        Seq("band", "chunk"), idCol, maxBucket, Seq("simhash" -> "fp"))
      .withColumn("hamming", bit_count(col("fp1").bitwiseXOR(col("fp2"))))
      .where(col("hamming") <= maxHamming)
}
