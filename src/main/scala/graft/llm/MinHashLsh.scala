package graft.llm

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH banding near-duplicate detection.
  *
  * Pipeline: word shingles → 31-bit shingle hashes → k permutation minima
  * (the MinHash signature) → b bands of r = k/b values hashed to bucket keys
  * → equi-join on (band, bucket) for candidate pairs → n-gram Jaccard
  * verification.
  *
  * Scale posture (the ONLY design that survives 100 TB): candidate pairs come
  * exclusively from equi-joins on band buckets — an all-pairs cross join is
  * structurally impossible here. (Index-first candidate generation over
  * similarity predicates is the published design point — cf. "Highly
  * Efficient String Similarity Search and Join over Compressed Indexes",
  * ICDE 2022, per PAPERS.md.) Signature computation is per-row codegen'd
  * column algebra (no shuffle); the band join shuffles on (band, bucket)
  * which AQE skew-splits if a bucket runs hot (identical boilerplate docs);
  * a bucket-size cap can be applied upstream for pathological corpora.
  */
object MinHashLsh {

  /** Mersenne prime 2^61 - 1: (a·h + b) mod P stays overflow-free for
    * 31-bit h and 31-bit a/b even under ANSI arithmetic. */
  val Prime: Long = (1L << 61) - 1

  private def perm(seed: Int, k: Int): (Array[Long], Array[Long]) = {
    val rnd = new Random(seed)
    val a = Array.fill(k)(1L + rnd.nextInt(Int.MaxValue - 1).toLong)
    val b = Array.fill(k)(rnd.nextInt(Int.MaxValue).toLong)
    (a, b)
  }

  /** Append the k-value MinHash signature array for `textCol`.
    *
    * The signature is a native Catalyst expression
    * ([[graft.functions.MinHashSignature]]): one fused hash+minima loop in
    * generated code. The equivalent higher-order-function formulation
    * (`aggregate` over `transform`) is CodegenFallback and measured several
    * times slower; k separate `array_min(transform(...))` columns are ~20x
    * slower again because projection collapse re-evaluates the shingle
    * array per column. */
  def withSignature(docs: DataFrame, textCol: String = "text", k: Int = 32,
                    shingleN: Int = 3, seed: Int = 42): DataFrame = {
    val (a, b) = perm(seed, k)
    val sigExpr = graft.functions.MinHashSignature(
      org.apache.spark.sql.GraftBridge.expression(Dedup.shingles(col(textCol), shingleN)),
      a.toSeq, b.toSeq)
    docs.withColumn("minhash_sig", org.apache.spark.sql.GraftBridge.column(sigExpr))
  }

  /** Explode each doc into `bands` rows keyed by (band, bucket-hash of its
    * r signature values). */
  def bandBuckets(signed: DataFrame, idCol: String = "doc_id", k: Int = 32,
                  bands: Int = 8): DataFrame = {
    require(k % bands == 0, s"bands must divide k: k=$k bands=$bands")
    val r = k / bands
    val bandStructs = array((0 until bands).map { bIdx =>
      val cols = (0 until r).map(j => element_at(col("minhash_sig"), bIdx * r + j + 1))
      struct(lit(bIdx).as("band"), xxhash64((lit(bIdx) +: cols): _*).as("bucket"))
    }: _*)
    signed.select(col(idCol), explode(bandStructs).as("_b"))
      .select(col(idCol), col("_b.band").as("band"), col("_b.bucket").as("bucket"))
  }

  /** Distinct candidate pairs (id1 < id2) from shared band buckets — an
    * equi-join on (band, bucket), never a cross join.
    *
    * Signatures are computed ONCE even though the bucket frame feeds both
    * join sides: the explicit `repartition` on the join keys pins a shuffle
    * exchange whose subtree is canonically identical under both sides, so
    * exchange/stage reuse runs the signature map stage a single time and
    * serves both readers from shuffle files (under AQE even a runtime
    * broadcast reads the materialized stage instead of recomputing). That
    * replaces the explicit `.cache()` this pipeline once carried — same
    * compute-once guarantee, but fault-tolerant (shuffle files re-derive
    * from lineage) and with zero block-manager residue in a long-lived
    * session. ScaleHygieneSpec pins the single-evaluation behavior with an
    * accumulator. */
  def candidatePairs(signed: DataFrame, idCol: String = "doc_id", k: Int = 32,
                     bands: Int = 8,
                     maxBucket: Option[Int] = None): DataFrame = {
    val bb0 = bandBuckets(signed, idCol, k, bands)
      .repartition(col("band"), col("bucket"))
    // maxBucket: a bucket shared by B docs emits B^2 join rows, and a
    // boilerplate/template-heavy corpus concentrates thousands of docs in
    // one bucket (the sf1.0 replica corpus emits 19.9M candidate pairs
    // from 50K docs) — the standard guard is to DROP oversized buckets:
    // their members are near-identical template families that every other
    // band also catches, so the recall cost is the documented LSH trade
    // (DedupSpec pins it on a seeded mega-bucket). The count rides a
    // window over the SAME (band, bucket) exchange the join pins — the
    // cap adds no shuffle.
    val bb = maxBucket.fold(bb0) { cap =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bucket"))
      bb0.withColumn("_bc", count(lit(1)).over(w))
        .where(col("_bc") <= cap).drop("_bc")
    }
    val l = bb.select(col("band"), col("bucket"), col(idCol).as("id1"))
    val rgt = bb.select(col("band"), col("bucket"), col(idCol).as("id2"))
    l.join(rgt, Seq("band", "bucket"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"))
      .distinct()
  }

  /** Full near-dup pipeline: candidates + n-gram Jaccard verification,
    * keeping pairs with jaccard >= `threshold`. */
  def nearDupPairs(docs: DataFrame, threshold: Double, idCol: String = "doc_id",
                   textCol: String = "text", k: Int = 32, bands: Int = 8,
                   shingleN: Int = 3, seed: Int = 42,
                   maxBucket: Option[Int] = None): DataFrame = {
    val signed = withSignature(docs, textCol, k, shingleN, seed)
    val pairs = candidatePairs(signed, idCol, k, bands, maxBucket)
    // the verify arrays carry xxhash64 SHINGLE HASHES, not strings: the
    // two pair-join exchanges move 8 bytes per shingle instead of the
    // n-gram text, and intersect/distinct compare longs — identical
    // n_inter/n_union/jaccard unless two distinct shingles of one
    // candidate pair collide in 64 bits (~1e-12 at 1e6-shingle docs); the
    // same hash-relation trade as Cluster.rareShingleEdges' verify stage
    val sh = docs.select(col(idCol),
      transform(Dedup.shingles(col(textCol), shingleN), s => xxhash64(s))
        .as("_sh"))
    val s1 = sh.select(col(idCol).as("id1"), col("_sh").as("_a"))
    val s2 = sh.select(col(idCol).as("id2"), col("_sh").as("_b"))
    Dedup.jaccardOnShingles(pairs.join(s1, "id1").join(s2, "id2"))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("n_inter"), col("n_union"), col("jaccard"))
  }

  /** [[nearDupPairs]] over a PRE-ENRICHED (idCol, minhash_sig, _sh)
    * relation — the within-batch pass of [[nearDupIncremental]], where the
    * signature and shingle-hash maps were already paid for by the
    * index-check phase and must not be recomputed from text. Same output
    * contract as [[nearDupPairs]]. */
  private[graft] def nearDupPairsPrepped(prep: DataFrame, threshold: Double,
                                  idCol: String, k: Int, bands: Int,
                                  maxBucket: Option[Int]): DataFrame = {
    val pairs = candidatePairs(prep, idCol, k, bands, maxBucket)
    val s1 = prep.select(col(idCol).as("id1"), col("_sh").as("_a"))
    val s2 = prep.select(col(idCol).as("id2"), col("_sh").as("_b"))
    Dedup.jaccardOnShingles(pairs.join(s1, "id1").join(s2, "id2"))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("n_inter"), col("n_union"), col("jaccard"))
  }

  /** The near-dup INDEX relation for [[nearDupIncremental]]: one row per
    * accepted doc with its MinHash signature (k longs — band buckets
    * re-derive map-side from it) and its xxhash64 shingle-hash array (the
    * verify relation). NO text: at 8 bytes/shingle the index is a fraction
    * of corpus bytes, and every later batch verifies by exact hash-set
    * Jaccard without ever touching historical text. In the lake layout
    * this relation is written bucketed by the band-bucket keys
    * ([[bandBuckets]] is exactly the map that derives them) so each
    * batch's candidate join co-locates. */
  def buildIndex(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", k: Int = 32, shingleN: Int = 3,
                 seed: Int = 42): DataFrame =
    withSignature(docs, textCol, k, shingleN, seed)
      .select(col(idCol),
        col("minhash_sig"),
        transform(Dedup.shingles(col(textCol), shingleN), s => xxhash64(s))
          .as("shingle_hashes"))

  /** Incremental near-dup dedup — the growing-corpus production shape
    * (daily crawl batches against an accumulated index), the near-dup twin
    * of [[Dedup.exactIncremental]]. Returns one row per batch doc:
    * (idCol, status, match_id, jaccard) with status ∈ {dup_of_index,
    * dup_in_batch, accepted}; match_id is the min matching index id (with
    * that pair's exact Jaccard) for dup_of_index, the cluster survivor for
    * dup_in_batch (jaccard null — membership may be transitive), null for
    * accepted. The accepted rows are exactly what gets appended to the
    * corpus AND (via [[buildIndex]]) to the index.
    *
    * Scale posture: every stage is an equi-join keyed by band buckets, doc
    * ids, or shingle hashes — per-batch cost is O(batch + candidates),
    * never O(corpus) text. The index side contributes (a) its band-bucket
    * relation (map-derived from k-long signatures, co-located when the
    * lake stores it bucketed) and (b) its shingle-hash arrays, joined only
    * for the candidate ids. Verification is bit-identical to a full
    * [[nearDupPairs]] pass over history ∪ batch restricted to pairs
    * touching the batch — pinned by LlmSpec. `maxBucket` caps the COMBINED
    * (index + batch) population of a band bucket, the same drop-the-
    * template-family guard as [[candidatePairs]], riding the one
    * (band, bucket) exchange the join already pins.
    *
    * Lifecycle: the call materializes internally (three relations need
    * block-manager pins across its multiple jobs — the batch prep map, the
    * index-match relation, and the component loop's final labels), then
    * RELEASES those pins before returning. The returned frame is an
    * eagerly-materialized local checkpoint, O(batch) decision rows;
    * `unpersist()` it when done — the streaming loop
    * ([[graft.streaming.Ingest.nearDupBatch]]) does exactly that per
    * micro-batch, so a long-running stream holds at most one batch's
    * decision blocks at a time instead of accumulating per-batch caches
    * for the stream's lifetime. */
  def nearDupIncremental(batch: DataFrame, index: DataFrame, threshold: Double,
                         idCol: String = "doc_id", textCol: String = "text",
                         k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                         seed: Int = 42,
                         maxBucket: Option[Int] = None): DataFrame = {
    val (res, release) = nearDupIncrementalPinned(batch, index, threshold,
      idCol, textCol, k, bands, shingleN, seed, maxBucket)
    // eager: run every remaining consumer job while the pins are alive,
    // then drop the pins — their lineage is severed from the returned
    // frame by the checkpoint, so the release cannot trigger recompute
    val out = res.localCheckpoint(true)
    release()
    out
  }

  /** The lazy plan behind [[nearDupIncremental]] plus a release thunk for
    * its block-manager pins. Callers (tests auditing the lazy plan) must
    * run ALL actions over the returned frame BEFORE calling release —
    * the pins include localCheckpoint blocks whose lineage is truncated,
    * so an early release fails downstream jobs rather than recomputing. */
  private[graft] def nearDupIncrementalPinned(
      batch: DataFrame, index: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 32, bands: Int = 8, shingleN: Int = 3,
      seed: Int = 42,
      maxBucket: Option[Int] = None): (DataFrame, () => Unit) = {
    // The batch's text -> shingles -> (signature, shingle hashes) map is
    // the expensive per-row pass, and FIVE consumers need its output (band
    // join, index verify, anti-join, within-batch candidates, within-batch
    // verify) — spread across SEPARATE actions: the component loop below
    // materializes its rounds job-by-job, then the final union is one more
    // job, and exchange reuse only dedupes within a single plan, not
    // across jobs. cache() (lineage kept — a lost block recomputes) makes
    // the map pass run once for the whole call; the cached relation is
    // O(batch) — the id, k longs, and 8-byte shingle hashes, text never
    // leaves the map stage — i.e. exactly the relation [[buildIndex]]
    // appends to the index when the batch is accepted. The id-keyed
    // repartition stays although AQE coalesces the cache to a partition
    // or two: without it a traced 80-doc ingest batch (4 cores, seeds 3
    // and 4) ran 1-4 more jobs and its near-dup step took 0.22-0.26 s
    // longer, for ~20 % fewer shuffle bytes, and `graft.Bench`
    // neardup_incremental (sf0.1, 2 paired runs) took 4.79 / 4.71 s
    // against 4.38 / 4.31 s.
    val prep = withSignature(batch, textCol, k, shingleN, seed)
      .select(col(idCol), col("minhash_sig"),
        transform(Dedup.shingles(col(textCol), shingleN), s => xxhash64(s))
          .as("_sh"))
      .repartition(col(idCol))
      .cache()
    val bb0 = bandBuckets(prep, idCol, k, bands)
      .select(col(idCol).as("batch_id"), col("band"), col("bucket"))
    val ib0 = bandBuckets(index, idCol, k, bands)
      .select(col(idCol).as("index_id"), col("band"), col("bucket"))
    // combined-population cap: count over the tagged union's single
    // (band, bucket) exchange, then split sides back out
    val (bb, ib) = maxBucket match {
      case None => (bb0, ib0)
      case Some(cap) =>
        val u = bb0.select(col("batch_id").as("_id"), col("band"), col("bucket"),
            lit(true).as("_isBatch"))
          .unionByName(ib0.select(col("index_id").as("_id"), col("band"),
            col("bucket"), lit(false).as("_isBatch")))
          .repartition(col("band"), col("bucket"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))
        val capped = u.withColumn("_bc", count(lit(1)).over(w))
          .where(col("_bc") <= cap).drop("_bc")
        (capped.where(col("_isBatch")).select(col("_id").as("batch_id"),
           col("band"), col("bucket")),
         capped.where(!col("_isBatch")).select(col("_id").as("index_id"),
           col("band"), col("bucket")))
    }
    val cand = bb.join(ib, Seq("band", "bucket"))
      .select(col("batch_id"), col("index_id")).distinct()
    // verify: batch shingle hashes from the prep relation, index ones from
    // the index relation — no text on either side
    val bSh = prep.select(col(idCol).as("batch_id"), col("_sh").as("_a"))
    val iSh = index.select(col(idCol).as("index_id"),
      col("shingle_hashes").as("_b"))
    // cached for the same cross-job reason as prep: the anti-join below,
    // the component loop's edge chain, AND the final union each read this
    // relation from a different action, and its upstream contains the one
    // INDEX-side scan of the call — without the cache the index relation
    // (corpus-scale, the expensive side) is recomputed once per consumer.
    // The cached frame itself is O(batch dups): one row per batch doc that
    // matched the index.
    val dupIdx = Dedup.jaccardOnShingles(
        cand.join(bSh, "batch_id").join(iSh, "index_id"))
      .where(col("jaccard") >= threshold)
      .groupBy(col("batch_id"))
      .agg(min(col("index_id")).as("match_id"),
        min_by(col("jaccard"), col("index_id")).as("jaccard"))
      .cache()
    // docs that cleared the index dedup near-dup-cluster WITHIN the batch;
    // min-id member of each component survives (cluster_id IS the min id)
    val rest = prep.join(dupIdx.select(col("batch_id").as(idCol)),
      Seq(idCol), "left_anti")
    val pairs = nearDupPairsPrepped(rest, threshold, idCol, k, bands,
      maxBucket)
    val comps = Cluster.activeComponents(pairs.select(col("id1"), col("id2")))
    val dupInBatch = comps.where(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol), lit("dup_in_batch").as("status"),
        col("cluster_id").as("match_id"),
        lit(null).cast("double").as("jaccard"))
    val accepted = rest.select(col(idCol))
      .join(dupInBatch.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), lit("accepted").as("status"),
        lit(null).cast("long").as("match_id"),
        lit(null).cast("double").as("jaccard"))
    val result = dupIdx.select(col("batch_id").as(idCol),
        lit("dup_of_index").as("status"), col("match_id"), col("jaccard"))
      .unionByName(dupInBatch)
      .unionByName(accepted)
    val release = () => {
      prep.unpersist(blocking = false)
      dupIdx.unpersist(blocking = false)
      // activeComponents returns its final round as a pinned local
      // checkpoint; without this the streaming loop leaks one labels
      // relation per micro-batch on top of the two caches above
      org.apache.spark.sql.GraftBridge.releasePinned(comps)
    }
    (result, release)
  }
}
