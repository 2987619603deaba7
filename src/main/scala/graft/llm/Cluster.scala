package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-dup clustering: candidate edges by rare-shingle blocking, then
  * connected components, then canonical-survivor selection — the step
  * between pair detection ([[MinHashLsh]], [[Dedup]]) and an actually
  * deduplicated corpus (a near-dup RELATION is not a PARTITION until its
  * transitive closure is taken).
  *
  * Candidate generation is an inverted-index self-join bounded by document
  * frequency: only shingles appearing in 2..maxDf documents join, so each
  * shingle contributes at most C(maxDf,2) pairs and the all-pairs cross
  * product is structurally impossible — the prefix/rare-token filtering
  * idea of the string-similarity-join literature (see PAPERS.md, ICDE 2022
  * compressed-index similarity joins). At 100 TB the DF table is itself a
  * one-shuffle aggregate and hot (stop-word-like) shingles are dropped by
  * the DF cap rather than salted.
  *
  * Components run as iterative min-label propagation ("hash-to-min") with a
  * POINTER-JUMPING step each round: every vertex first adopts the smallest
  * label among itself and its neighbors, then re-adopts its label's own
  * label (label ← label(label)). The jump keeps halving the remaining
  * label-chain depth, so rounds are O(log diameter) instead of O(diameter)
  * — a million-long chain converges in ~20 rounds, which is what makes a
  * fixed `maxIter` safe for real graphs (the same convergence class as
  * large-star/small-star). The driver sees only a per-round changed-row
  * COUNT, never data, and superseded rounds' checkpoint blocks are released
  * as the loop advances.
  */
object Cluster {

  /** Candidate near-dup edges (id1 < id2): documents sharing at least
    * `minCommon` rare shingles (document frequency in [2, maxDf]) whose
    * exact shingle Jaccard then clears `minJaccard`.
    *
    * The verify stage is what makes the edge set trustworthy: blocking
    * alone admits coincidental rare-shingle collisions (and on a
    * small-vocabulary corpus those chain clusters into one giant
    * component); verifying candidates with the exact similarity — a join
    * bounded by the candidate count, never all-pairs — is the standard
    * LSH-candidate → verify contract. Longer shingles (default n=5)
    * keep the blocking discriminative even when individual tokens repeat
    * across the corpus. */
  def rareShingleEdges(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 5,
                       maxDf: Int = 5, minCommon: Int = 2,
                       minJaccard: Double = 0.5): DataFrame = {
    // per-doc shingle arrays feed the explode AND both verify-join
    // branches. No materialization needed: the explicit repartition pins a
    // shuffle exchange that is canonically identical under all three
    // consumers, so exchange/stage reuse computes the shingles ONCE and
    // serves every reader from shuffle files. This replaces an eager
    // `localCheckpoint` — no job at construction time, no block-manager
    // residue, and fault-tolerant: an executor loss re-derives from the
    // parquet scan instead of killing the run (localCheckpoint's
    // non-replicated executor-local blocks could not promise that at
    // 1000-executor scale).
    // The arrays carry xxhash64 SHINGLE HASHES, not strings: hashing
    // happens in this map stage, so no exchange in the whole edge pipeline
    // ever moves a 5-word string — the hash-relation trade Selection.scala
    // measured at 1.7x on its token joins. The verify-stage Jaccard
    // intersects the hash arrays; its value differs from the string-shingle
    // Jaccard only if two distinct shingles of ONE candidate pair collide
    // in 64 bits (~1e-16 at 100-shingle docs) — negligible for a blocking
    // stage whose recall is already probabilistic in `minCommon`, and a
    // collision can only ADD a candidate, which verify then filters.
    val shArr = docs
      .select(col(idCol).cast("long").as("_id"),
        transform(Dedup.shingles(col(textCol), n), s => xxhash64(s)).as("_sharr"))
      .repartition(col("_id"))
    // Candidate generation is ONE shuffle of the exploded posting stream:
    // per-shingle posting lists come from [[BoundedPostingList]], a capped
    // aggregate (> maxDf postings ⇒ NULL ⇒ dropped): hot boilerplate
    // shingles cost 8*(maxDf+1) bytes of buffer instead of an unbounded
    // collect_list, and the df-count pre-pass plus the re-shuffle of the
    // full posting stream to join against it disappear. Pairs then expand
    // from the tiny sorted lists (≤ C(maxDf,2) per shingle).
    val sh = shArr.select(col("_id"), explode(col("_sharr")).as("_h"))
    val postings = sh.groupBy("_h")
      .agg(org.apache.spark.sql.GraftBridge.column(
        graft.functions.BoundedPostingList(
          org.apache.spark.sql.GraftBridge.expression(col("_id")), maxDf)
          .toAggregateExpression()).as("_ids"))
      .where(col("_ids").isNotNull && size(col("_ids")) >= 2)
    // eval() sorted the list, so ids[i] <= ids[j] for i < j; the strict
    // id1 < id2 filter drops the self-pair a within-doc shingle-hash
    // collision would fabricate (two distinct shingles of one doc sharing
    // a 64-bit hash put that doc in the list twice) — the invariant the
    // old `<`-join had structurally
    val cand = postings
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("_ids")) - 2),
        i => transform(
          sequence(i + 1, size(col("_ids")) - 1),
          j => struct(
            element_at(col("_ids"), i + 1).as("id1"),
            element_at(col("_ids"), j + 1).as("id2")))))).as("_p"))
      .select(col("_p.id1"), col("_p.id2"))
      .where(col("id1") < col("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_common"))
      .where(col("n_common") >= minCommon)
    cand
      .join(shArr.select(col("_id").as("id1"), col("_sharr").as("_a")), "id1")
      .join(shArr.select(col("_id").as("id2"), col("_sharr").as("_b")), "id2")
      .withColumn("jaccard",
        size(array_intersect(col("_a"), col("_b"))).cast("double") /
          when(size(array_distinct(concat(col("_a"), col("_b")))) =!= 0,
            size(array_distinct(concat(col("_a"), col("_b"))))).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("id1", "id2", "n_common", "jaccard")
  }

  /** Connected components over undirected edges: returns (id, cluster_id)
    * with cluster_id = the component's minimum vertex id.
    *
    * Each round: (1) min-label propagation — adopt the smallest label among
    * self and neighbors; (2) from the third round on, pointer jumping —
    * adopt the adopted label's own label (labels are always vertex ids, so
    * the lookup is a self-join). Jumping halves the remaining label-chain
    * depth, giving O(log diameter) rounds; `maxIter = 20` therefore covers
    * components up to ~2^17 in effective chain depth. The first two rounds
    * skip the jump: real near-dup graphs are shallow (clusters of 2-5
    * docs converge in two plain rounds), so the extra self-join would be
    * pure overhead on the common path — the jump engages exactly when
    * depth is demonstrated (the loop is still running). If the loop exits
    * unconverged, this THROWS rather than silently returning partial
    * labels — wrong cluster_ids poison every downstream dedup decision.
    *
    * Checkpointing (eager) truncates lineage each round: the naive
    * labels-referenced-twice recurrence doubles the logical plan per
    * iteration (2^k nodes by round k — an OOM on the DRIVER long before
    * executors see load). Pinning each round's result as a new leaf keeps
    * plan size O(1) per round — mandatory for iterative DataFrame
    * algorithms. The checkpoint kind follows `graft.stage.boundary`
    * ([[Curation.reliableStages]]): under `local` (default) rounds are
    * `localCheckpoint`s — fastest, but blocks are non-replicated
    * executor-local, so an executor loss mid-propagation fails the job and
    * it must be retried from the start — acceptable for minutes-long runs.
    * Under `reliable` rounds are written to checkpoint-dir storage and
    * survive executor loss — the right trade on a long 1000-executor run.
    * Superseded rounds are released eagerly either way (blocks unpersisted
    * / files left to the checkpoint dir's lifecycle). */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          maxIter: Int = 20): DataFrame = {
    val labels = activeComponents(edges, maxIter)
    // inert vertices (no incident edge) are their own singleton component;
    // left_anti on the converged active set restores the full vertex set
    labels.unionByName(
      vertices.select(col("id"))
        .join(labels.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster_id")))
  }

  /** [[connectedComponents]] restricted to edge-incident vertices: returns
    * (id, cluster_id) for exactly the vertices appearing in `edges`. The
    * returned frame is a checkpointed leaf, so consumers may read it
    * repeatedly without recompute. Callers that know the full vertex set
    * handle the inert singletons themselves (see [[nearDupClusters]] —
    * keeping the singleton union OUT of the iterated/reused frame avoids
    * re-running the anti-join once per downstream consumer). */
  def activeComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val reliable = Curation.reliableStages(edges.sparkSession)
    // Local mode pins LAZILY: the per-round changed-row count is the only
    // action, and it both materializes the round's checkpoint blocks and
    // returns the convergence signal — ONE job per round instead of the
    // eager-pin-then-count pair (per-round job overhead, not data volume,
    // dominated this loop at small scale; at cluster scale one fewer
    // stage-scheduling round-trip per iteration still matters). Reliable
    // mode keeps eager checkpoints: a lazy reliable checkpoint recomputes
    // its RDD a second time when writing files, which is the worse trade
    // on the fault-tolerant path.
    def pinLazy(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(false)
    def pinEager(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(true)
    def release(df: DataFrame): Unit =
      if (!reliable) org.apache.spark.sql.GraftBridge.releasePinned(df)

    // Cache the EDGE LIST, not the symmetrized union: the union's two
    // branches share exchanges only up to the edge plan's join inputs, so
    // caching the union would execute the (expensive) verify join twice —
    // the join output is not an exchange boundary and ReusedExchange cannot
    // dedupe it. cache() keeps lineage, so a lost block recomputes instead
    // of failing the job; re-read every round, released at the end.
    val e = edges.select(col("id1"), col("id2")).cache()
    val sym = e.select(col("id1").as("_src"), col("id2").as("_dst"))
      .unionByName(e.select(col("id2").as("_src"), col("id1").as("_dst")))
    // Only vertices incident to an edge can ever change label — iterate
    // over THOSE (usually a small fraction of the corpus) and union the
    // inert majority back as singletons at the end. On a near-dup graph
    // the active set is ~2x the dup count, so every per-round shuffle
    // shrinks by the clean-corpus fraction; the singleton union is one
    // anti-join, paid once, after the loop.
    // Initial labels FUSE the active-vertex distinct with the first
    // min-label propagation round: label0(v) = min(v, min neighbor(v)) is
    // one aggregation over sym — the same frame a distinct-then-propagate
    // sequence reaches after its first loop round, for one exchange
    // instead of four (AQE schedules a job per exchange, so exchange count
    // IS the fixed cost of this loop at any scale).
    // Eager: round 1 reads `labels` from two map stages at once; a lazy
    // first pin would let both compute the aggregation (and race e's
    // cache) concurrently. This job also materializes the edge cache once.
    var labels = pinEager(
      sym.groupBy(col("_src"))
        .agg(min(col("_dst")).as("_m"))
        .select(col("_src").as("id"),
          least(col("_src"), col("_m")).as("cluster_id")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // (1) min-label propagation over neighbors, as ONE aggregation over
      // the tagged union of neighbor contributions and self rows instead
      // of the old join → agg(_dst) → left-join-back chain: exactly one
      // self row exists per active id (so max(_s) recovers the old label;
      // contribution rows carry null there), and min(_l) over the union is
      // min(own, neighbors) — the same _mid. One exchange per round
      // instead of two (AQE schedules a stage per exchange, so exchange
      // count IS the loop's fixed cost).
      val contrib = sym.join(labels, col("_src") === col("id"))
        .select(col("_dst").as("id"), col("cluster_id").as("_l"),
          lit(null).cast("long").as("_s"))
      val selfRows = labels.select(col("id"), col("cluster_id").as("_l"),
        col("cluster_id").as("_s"))
      val propPlan = contrib.unionByName(selfRows).groupBy(col("id"))
        .agg(min(col("_l")).as("_mid"), max(col("_s")).as("_old"))
        .select(col("id"), col("_old"), col("_mid"))
      // (2) pointer jumping from round 3 on: label ← label(label); every
      // label is a vertex id present in prop, so the left lookup always
      // matches (coalesce is belt-and-braces). The jump self-joins prop, so
      // prop is pinned EAGERLY there (two concurrently-scheduled map stages
      // over an unmaterialized lazy checkpoint would each compute it); the
      // common shallow-graph path (rounds 1-2) never pays that extra job.
      val (next, spent) =
        if (iter < 2) (pinLazy(propPlan), None)
        else {
          val prop = pinEager(propPlan)
          val lut = prop.select(col("id").as("_lid"), col("_mid").as("_lmid"))
          val jumped = pinLazy(prop.join(lut, col("_mid") === col("_lid"), "left")
            .select(col("id"), col("_old"),
              coalesce(col("_lmid"), col("_mid")).as("_mid")))
          (jumped, Some(prop))
        }
      // the count materializes `next`'s checkpoint blocks AND yields the
      // convergence signal in the same job — no separate pin action. prop
      // (jump rounds) is released only AFTER that job: its lineage was
      // truncated by the checkpoint, so dropping its blocks earlier would
      // fail the materialization rather than recompute.
      changed = next.where(col("_mid") =!= col("_old")).count()
      spent.foreach(release)
      release(labels)
      labels = next.select(col("id"), col("_mid").as("cluster_id"))
      iter += 1
    }
    e.unpersist(blocking = false)
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing); raise maxIter")
    labels
  }

  /** Full near-dup clustering pass: blocking edges → components → cluster
    * sizes and canonical flag (survivor = min doc_id per cluster). */
  def nearDupClusters(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", n: Int = 5,
                      maxDf: Int = 5, minCommon: Int = 2,
                      minJaccard: Double = 0.5): DataFrame = {
    val edges =
      rareShingleEdges(docs, idCol, textCol, n, maxDf, minCommon, minJaccard)
    // components over edge-incident docs only (a checkpointed leaf, read
    // three times below); the clean-corpus majority never enters the loop
    // and joins back as size-1 self-canonical rows via one anti-join
    val act = Cluster.activeComponents(edges.select("id1", "id2"))
    val sizes = act.groupBy(col("cluster_id").as("_cid"))
      .agg(count(lit(1)).as("cluster_size"))
    val dupRows = act.join(sizes, col("cluster_id") === col("_cid"))
      .select(col("id").as(idCol), col("cluster_id"), col("cluster_size"),
        (col("id") === col("cluster_id")).cast("int").as("is_canonical"))
    val singletons = docs.select(col(idCol))
      .join(act.select(col("id").as(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), col(idCol).as("cluster_id"),
        lit(1L).as("cluster_size"), lit(1).as("is_canonical"))
    dupRows.unionByName(singletons)
  }
}
