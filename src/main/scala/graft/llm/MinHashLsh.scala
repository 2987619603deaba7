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

  /** The band self-join every banded near-dup family shares (MinHash
    * here, SimHash and dHash chunks in [[SimHash.nearDupPairsOnFingerprint]],
    * embedding hyperplane bands in [[Similarity.nearDupPairs]]): distinct
    * (id1 < id2) pairs of `banded` rows that agree on every column of
    * `keys`, with each `carry` column `c -> as` emitted as `as1`/`as2` —
    * an equi-join, never a cross join.
    *
    * Each row is banded ONCE even though the frame feeds both join sides:
    * the explicit `repartition` on the keys pins a shuffle exchange whose
    * subtree is canonically identical under both sides, so exchange/stage
    * reuse runs the band map stage a single time and serves both readers
    * from shuffle files (under AQE even a runtime broadcast reads the
    * materialized stage instead of recomputing). Same compute-once
    * guarantee as a `.cache()`, but fault-tolerant (shuffle files
    * re-derive from lineage) and with zero block-manager residue in a
    * long-lived session. ScaleHygieneSpec pins the single evaluation with
    * an accumulator. The optional `maxBucket` cap ([[capBuckets]]) rides
    * the same exchange. */
  private[graft] def bandSelfJoin(banded: DataFrame, keys: Seq[String],
                                  idCol: String, maxBucket: Option[Int],
                                  carry: Seq[(String, String)] = Nil): DataFrame = {
    val b = capBuckets(banded.repartition(keys.map(col): _*), keys, maxBucket)
    def side(n: String) = b.select(keys.map(col) ++ (col(idCol).as(s"id$n") +:
      carry.map { case (c, as) => col(c).as(s"$as$n") }): _*)
    side("1").join(side("2"), keys)
      .where(col("id1") < col("id2"))
      .select(("id1" +: "id2" +: carry.flatMap { case (_, as) =>
        Seq(s"${as}1", s"${as}2") }).map(col): _*)
      .distinct()
  }

  /** Drop every band bucket (the rows sharing one value of `keys`) that
    * holds more than `maxBucket` rows. A bucket shared by B docs emits B^2
    * join rows, and a boilerplate/template-heavy corpus concentrates
    * thousands of docs in one bucket (the sf1.0 replica corpus emits 19.9M
    * candidate pairs from 50K docs) — the standard guard is to DROP
    * oversized buckets: their members are near-identical template
    * families that every other band also catches, so the recall cost is
    * the documented LSH trade (LlmSpec pins it on a seeded mega-bucket).
    * The count is a window partitioned by the keys, so over a frame
    * already hash-partitioned on them it adds no shuffle. */
  private[graft] def capBuckets(df: DataFrame, keys: Seq[String],
                                maxBucket: Option[Int]): DataFrame =
    maxBucket.fold(df) { cap =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
      df.withColumn("_bc", count(lit(1)).over(w))
        .where(col("_bc") <= cap).drop("_bc")
    }

  /** Distinct candidate pairs (id1 < id2) from shared (band, bucket)
    * keys — [[bandSelfJoin]] over [[bandBuckets]]. */
  def candidatePairs(signed: DataFrame, idCol: String = "doc_id", k: Int = 32,
                     bands: Int = 8,
                     maxBucket: Option[Int] = None): DataFrame =
    bandSelfJoin(bandBuckets(signed, idCol, k, bands), Seq("band", "bucket"),
      idCol, maxBucket)

  /** The xxhash64 hashes of `textCol`'s n-gram shingles — the verify
    * relation of every MinHash pass. Hashes, not strings: the pair-join
    * exchanges move 8 bytes per shingle instead of the n-gram text, and
    * intersect/distinct compare longs — identical n_inter/n_union/jaccard
    * unless two distinct shingles of one candidate pair collide in 64 bits
    * (~1e-12 at 1e6-shingle docs); the same hash-relation trade as
    * Cluster.rareShingleEdges' verify stage. */
  private def shingleHashes(textCol: String, shingleN: Int): Column =
    transform(Dedup.shingles(col(textCol), shingleN), s => xxhash64(s))

  /** Candidate `pairs` joined to both sides' shingle hashes (`a` keyed by
    * the pairs' first id column, `b` by the second, hashes as `_a`/`_b`)
    * and kept at jaccard >= `threshold`. */
  private def jaccardAtLeast(pairs: DataFrame, a: DataFrame, b: DataFrame,
                             threshold: Double): DataFrame =
    Dedup.jaccardOnShingles(pairs.join(a, a.columns.head)
        .join(b, b.columns.head))
      .where(col("jaccard") >= threshold)

  /** Full near-dup pipeline: candidates + n-gram Jaccard verification,
    * keeping pairs with jaccard >= `threshold`. */
  def nearDupPairs(docs: DataFrame, threshold: Double, idCol: String = "doc_id",
                   textCol: String = "text", k: Int = 32, bands: Int = 8,
                   shingleN: Int = 3, seed: Int = 42,
                   maxBucket: Option[Int] = None): DataFrame =
    verifiedPairs(candidatePairs(withSignature(docs, textCol, k, shingleN,
      seed), idCol, k, bands, maxBucket),
      docs.select(col(idCol), shingleHashes(textCol, shingleN).as("_sh")),
      threshold, idCol)

  /** `pairs` verified against the (idCol, _sh) shingle-hash relation `sh`:
    * the [[nearDupPairs]] output contract. */
  private def verifiedPairs(pairs: DataFrame, sh: DataFrame,
                            threshold: Double, idCol: String): DataFrame =
    jaccardAtLeast(pairs,
        sh.select(col(idCol).as("id1"), col("_sh").as("_a")),
        sh.select(col(idCol).as("id2"), col("_sh").as("_b")), threshold)
      .select(col("id1"), col("id2"), col("n_inter"), col("n_union"), col("jaccard"))

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
        shingleHashes(textCol, shingleN).as("shingle_hashes"))

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
    * Per-batch cost is O(batch + candidates), never O(corpus) text: the
    * index contributes its band-bucket relation (map-derived from k-long
    * signatures) and, only for candidate ids, its shingle-hash arrays.
    * Verification is bit-identical to a full [[nearDupPairs]] pass over
    * history ∪ batch restricted to pairs touching the batch — pinned by
    * LlmSpec. The mechanism, `maxBucket`'s combined cap and the returned
    * frame's lifecycle are [[decideIncremental]]'s. */
  def nearDupIncremental(batch: DataFrame, index: DataFrame, threshold: Double,
                         idCol: String = "doc_id", textCol: String = "text",
                         k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                         seed: Int = 42,
                         maxBucket: Option[Int] = None): DataFrame =
    checkpointed(nearDupIncrementalPinned(batch, index, threshold, idCol,
      textCol, k, bands, shingleN, seed, maxBucket))

  /** The lazy plan behind [[nearDupIncremental]] plus its release thunk
    * ([[decideIncremental]]). The cached batch relation is O(batch) — the
    * id, k longs and 8-byte shingle hashes; text never leaves the map
    * stage — i.e. exactly the relation [[buildIndex]] appends to the
    * index when the batch is accepted. */
  private[graft] def nearDupIncrementalPinned(
      batch: DataFrame, index: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 32, bands: Int = 8, shingleN: Int = 3,
      seed: Int = 42,
      maxBucket: Option[Int] = None): (DataFrame, () => Unit) =
    decideIncremental(batch, index, idCol, maxBucket,
      fingerprint = withSignature(_, textCol, k, shingleN, seed)
        .select(col(idCol), col("minhash_sig"),
          shingleHashes(textCol, shingleN).as("_sh")),
      keys = Seq("band", "bucket"), bandKeys = bandBuckets(_, idCol, k, bands),
      score = "jaccard",
      // batch shingle hashes from the cached batch relation, index ones
      // from the index relation — no text on either side
      verify = (cand, prep) => jaccardAtLeast(
        cand.select(col("batch_id"), col("index_id")).distinct(),
        prep.select(col(idCol).as("batch_id"), col("_sh").as("_a")),
        index.select(col(idCol).as("index_id"),
          col("shingle_hashes").as("_b")), threshold),
      within = rest => verifiedPairs(candidatePairs(rest, idCol, k, bands,
        maxBucket), rest, threshold, idCol))

  /** The incremental decision pass every banded near-dup family shares
    * ([[nearDupIncrementalPinned]] for MinHash,
    * [[Multimodal.perceptualNearDupIncrementalPinned]] for dHash): one
    * batch decided against an accumulated index, one row per batch doc
    * (idCol, status, match_id, `score`) with status ∈ {dup_of_index,
    * dup_in_batch, accepted} plus `unhashable` for the rows that fail
    * `hashable` (they never band, so they never match). A family supplies
    * only its `fingerprint` map over the batch (idCol + the columns its
    * other pieces read; the index carries the same ones), its `bandKeys`
    * map (a fingerprinted or index row → idCol, `keys`, then any columns
    * verify reads), its `verify` of the batch × index candidate join
    * (`batch_id`, `index_id`, `keys`, and each carried column `c` as
    * `batch_c`/`index_c`; the second argument is the cached batch relation)
    * returning (batch_id, index_id, `score`) rows that passed, and its
    * `within` pair function over the batch survivors returning
    * (id1, id2, ...).
    *
    * Steps: (1) the batch × index band join, with `maxBucket` capping the
    * COMBINED (index + batch) population of a bucket over the tagged
    * union's single exchange (the [[capBuckets]] guard); (2) verify, then
    * the min matching index id per batch doc (`min_by` keeps that pair's
    * score); (3) the survivors (left anti); (4) their within-batch pairs;
    * (5) [[Cluster.activeComponents]] over them — the min-id member of
    * each component survives, the rest are dup_in_batch with the survivor
    * as match_id and a null score (membership may be transitive); (6) the
    * union of dup_of_index, dup_in_batch and accepted (and unhashable).
    *
    * Lifecycle: the batch fingerprint map and the index-match relation
    * are each read by several separate actions (the component loop runs
    * its rounds job-by-job, the final union is one more job) and exchange
    * reuse only dedupes within one plan, so both are `cache()`d (lineage
    * kept — a lost block recomputes) and the index side is mapped once
    * per call (uncached, the dHash pass ran ~4x and its index-side map ~3x
    * per batch). The id-keyed repartition of the batch relation stays
    * although AQE coalesces the cache to a partition or two: without it a
    * traced 80-doc ingest batch (4 cores, seeds 3 and 4) ran 1-4 more jobs
    * and its near-dup step took 0.22-0.26 s longer, and `graft.Bench`
    * neardup_incremental (sf0.1, 2 paired runs) took 4.79 / 4.71 s against
    * 4.38 / 4.31 s (perceptual_incremental 1.99 / 2.38 s against
    * 1.97 / 2.04 s). The returned thunk drops both caches and the
    * component loop's pinned labels; callers must run ALL actions over the
    * lazy frame before calling it — the labels are a local checkpoint
    * whose lineage is truncated, so an early release fails downstream
    * jobs rather than recomputing. The public entry points return
    * [[checkpointed]] decisions instead. */
  private[graft] def decideIncremental(
      batch: DataFrame, index: DataFrame, idCol: String,
      maxBucket: Option[Int], fingerprint: DataFrame => DataFrame,
      keys: Seq[String], bandKeys: DataFrame => DataFrame, score: String,
      verify: (DataFrame, DataFrame) => DataFrame,
      within: DataFrame => DataFrame,
      hashable: Option[Column] = None): (DataFrame, () => Unit) = {
    val prep = fingerprint(batch).repartition(col(idCol)).cache()
    val live = hashable.fold(prep)(prep.where)
    val (bk, ik) = (bandKeys(live), bandKeys(index))
    val (bCapped, iCapped) = maxBucket.fold((bk, ik)) { _ =>
      val u = capBuckets(bk.withColumn("_isBatch", lit(true))
        .unionByName(ik.withColumn("_isBatch", lit(false)))
        .repartition(keys.map(col): _*), keys, maxBucket)
      (u.where(col("_isBatch")).drop("_isBatch"),
       u.where(!col("_isBatch")).drop("_isBatch"))
    }
    def side(df: DataFrame, s: String) = {
      val carried = df.columns.filterNot(c => c == idCol || keys.contains(c))
      df.select((col(idCol).as(s"${s}_id") +: keys.map(col)) ++
        carried.map(c => col(c).as(s"${s}_$c")): _*)
    }
    val dupIdx = verify(side(bCapped, "batch").join(side(iCapped, "index"),
        keys), prep)
      .groupBy(col("batch_id"))
      .agg(min(col("index_id")).as("match_id"),
        min_by(col(score), col("index_id")).as(score))
      .cache()
    val nullScore = lit(null).cast(dupIdx.schema(score).dataType).as(score)
    val rest = live.join(dupIdx.select(col("batch_id").as(idCol)),
      Seq(idCol), "left_anti")
    val comps = Cluster.activeComponents(within(rest)
      .select(col("id1"), col("id2")))
    val dupInBatch = comps.where(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol), lit("dup_in_batch").as("status"),
        col("cluster_id").as("match_id"), nullScore)
    val decided = dupIdx.select(col("batch_id").as(idCol),
        lit("dup_of_index").as("status"), col("match_id"), col(score))
      .unionByName(dupInBatch)
    // every other batch row is accepted; under `hashable` the rows that
    // fail it are unhashable, and one anti-join against both decided
    // sets covers them all
    val (others, decidedIds, status) = hashable match {
      case None => (rest.select(col(idCol)), dupInBatch, lit("accepted"))
      case Some(h) =>
        (prep, decided, when(!h, "unhashable").otherwise("accepted"))
    }
    val result = decided.unionByName(others.join(
        decidedIds.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), status.as("status"),
        lit(null).cast("long").as("match_id"), nullScore))
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

  /** Run every remaining job of a [[decideIncremental]] plan into an eager
    * local checkpoint, then release its pins — lineage is severed from
    * the returned frame, so the release cannot trigger recompute. The
    * result is O(batch) decision rows whose blocks are RDD-persisted
    * directly (a LogicalRDD leaf, which CacheManager-based unpersist does
    * not touch): `GraftBridge.releasePinned` it when done, as the
    * streaming loops ([[graft.streaming.Ingest.nearDupBatch]],
    * [[graft.streaming.Ingest.perceptualDedupBatch]]) do per micro-batch,
    * so a long-running stream holds at most one batch's decision blocks at
    * a time. */
  private[graft] def checkpointed(pinned: (DataFrame, () => Unit)): DataFrame = {
    val (res, release) = pinned
    try res.localCheckpoint(true) finally release()
  }
}
