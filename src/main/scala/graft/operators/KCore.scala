package graft.operators

import graft.core.Gates
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** k-core decomposition (fixed k): the maximal subgraph in which every
  * vertex has degree ≥ k, found by iteratively peeling vertices of
  * degree < k until a fixed point. The classic graph-quality filter —
  * link-spam pruning, dense-community extraction, "well-connected
  * entity" selection — and, like PageRank/Components, a loop the
  * declarative layer cannot express in one plan.
  *
  * Scale shape — delta peeling over a u-hash arc layout built ONCE:
  *
  *  - Prep is a single shuffle: both directed arcs explode from each
  *    input pair, repartition on `u`, then dedup — HashPartitioning(u)
  *    satisfies the (u,v)-clustered distribution dropDuplicates needs
  *    (u ⊆ (u,v)), so the dedup aggregate runs exchange-free in the
  *    layout every later step reuses (the PageRank large-|V|
  *    precedent). No collect_set adjacency arrays, so a celebrity
  *    vertex cannot overflow an executor.
  *  - The loop maintains a (vertex, deg) table by SUBTRACTING each
  *    round's losses instead of rewriting the arc set: the arc table is
  *    scanned map-side against the broadcast peel set (semi-join on v,
  *    partitioning preserved), the per-u loss aggregates without an
  *    exchange, and the |V|-sized degree table absorbs it. Per round
  *    the only work is one exchange-free pass over the checkpointed
  *    arcs plus |V|-sized bookkeeping — no |E|-sized checkpoint, no
  *    anti-join rewrite (the round-4→5 formulation paid both, 18 s at
  *    sf0.1; this one ~5 s).
  *  - Arcs incident to a peeled vertex are never physically removed;
  *    correctness holds because peel sets are disjoint: an arc
  *    (u, v ∈ peel_i) was still live this round iff u is still in the
  *    degree table, which is exactly the frame the loss joins into.
  *  - Termination: the final degree table IS the answer (degree inside
  *    the core, maintained exactly by induction) — no final arc pass.
  *  - Peel sets ride broadcasts under the same executor-sized gate as
  *    PageRank's rank table; above it the round falls back to shuffle
  *    joins (correct, layout-suboptimal, never hit by bounded peels).
  *  - Every round releases the previous round's localCheckpoint blocks
  *    once the next has materialized, and the |E|-sized arc blocks are
  *    released before returning — a long-lived driver keeps the small
  *    answer, not rounds × |E|.
  *
  * Cites the peeling algorithm of Matula-Beck (1983) as described in
  * public literature; no reference-engine counterpart (the reference
  * pipeline has no graph surface — this extends SURVEY §2's
  * LLM-pipeline additions).
  */
object KCore {

  /** Peel sets ride broadcasts while they stay executor-sized (same
    * budget as PageRank's rank-table gate: 4M longs ≈ 32 MB before
    * hash-relation overhead). Above it the round shuffles instead.
    */
  private val BroadcastMaxPeel = 4L * 1000 * 1000

  /** Small-graph gate for the exact driver-side cascade (the
    * [[Components]] union-find precedent): under it the whole peel runs
    * as one collect + linear-time bucket cascade — a synchronous
    * distributed loop pays ~4 job launches per round for a graph that
    * fits in a few tens of MB. Counts RAW pair rows (r16): [[driverPeel]]
    * normalizes on the driver, so graphs this small skip the explode,
    * exchange, checkpoint and count. ~300-500 MB transient driver heap.
    */
  private val DriverMaxPairRows = 4L * 1000 * 1000

  /** Textbook cascade over RAW undirected pairs (self-loops/nulls
    * pre-filtered by the caller; any orientation, duplicates fine —
    * both directions and the dedup happen here, one HashSet pass):
    * seed every vertex under k, then each removal decrements its live
    * neighbors, enqueuing exactly when one crosses k.
    * O(|E| + |V|), single pass per arc.
    */
  private def driverPeel(pairs: Array[(Long, Long)], k: Int): Seq[(Long, Long)] = {
    import scala.collection.mutable
    val seen = mutable.HashSet.empty[(Long, Long)]
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    pairs.foreach { case (a, b) =>
      val (u, v) = if (a < b) (a, b) else (b, a)
      if (seen.add((u, v))) {
        adj.getOrElseUpdate(u, new mutable.ArrayBuffer[Long]()) += v
        adj.getOrElseUpdate(v, new mutable.ArrayBuffer[Long]()) += u
      }
    }
    val deg = mutable.HashMap.empty[Long, Int]
    adj.foreach { case (u, vs) => deg(u) = vs.length }
    val removed = mutable.HashSet.empty[Long]
    val queue = mutable.ArrayDeque.empty[Long]
    deg.foreach { case (u, d) => if (d < k) queue += u }
    while (queue.nonEmpty) {
      val u = queue.removeHead()
      if (removed.add(u)) {
        adj(u).foreach { v =>
          if (!removed.contains(v)) {
            val d = deg(v) - 1
            deg(v) = d
            if (d == k - 1) queue += v // crosses the bar exactly once
          }
        }
      }
    }
    deg.iterator.collect {
      case (u, d) if !removed.contains(u) => (u, d.toLong)
    }.toSeq
  }

  /** Free a round's localCheckpoint blocks once the next round has
    * materialized (see [[Lineage.release]] — after this the frame is
    * unrecomputable, so only frames no live plan references go in).
    */
  private def release(df: DataFrame): Unit = Lineage.release(df)

  /** Vertices of the k-core of the undirected graph given as `pairs`
    * (any orientation, duplicates fine — canonicalized and deduped
    * internally; self-loops dropped). Returns (vertex, core_degree):
    * the surviving vertices with their degree INSIDE the core
    * (≥ k by construction). Empty result when no k-core exists.
    */
  def core(pairs: DataFrame, aCol: String, bCol: String, k: Int, maxIter: Int = 50): DataFrame =
    coreGated(pairs, aCol, bCol, k, maxIter)(Gates.collectAtMost(_, DriverMaxPairRows))

  /** [[core]] on the lane `gate` picks from the RAW non-null, non-loop
    * pair rows, before canonicalization and dedup. */
  private[graft] def coreGated(
      pairs: DataFrame, aCol: String, bCol: String, k: Int, maxIter: Int = 50)(
      gate: Dataset[(Long, Long)] => Option[Array[(Long, Long)]]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import pairs.sparkSession.implicits._
    // LAZY localCheckpoint: the gate probe below and (over the gate)
    // the prep both read THIS frame — one LogicalRDD, one shuffle
    // lineage — so the caller's producer plan evaluates its map stages
    // once no matter which lane runs. Two separate Dataset plans
    // (probe vs prep) would each instantiate their own exchange and
    // the over-gate lane would pay the producer twice.
    val cleaned = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .localCheckpoint(false)

    // Small-graph fast path (solo q144 at sf0.1: 4.7 → 3.5 s). Cost
    // model: the probe evaluates the producer only until the gate's
    // cap + 1 rows arrive, and the lazy checkpoint materializes the
    // rest in a follow-up job, so either lane pays one full pass over
    // the producer; the over-gate lane reads the checkpointed blocks.
    gate(cleaned.as[(Long, Long)]) match {
      case Some(edges) =>
        release(cleaned)
        return pairs.sparkSession.createDataset(driverPeel(edges, k)).toDF("vertex", "core_degree")
      case None =>
    }

    // over the gate: pay the normalization the distributed rounds need.
    // Both directions explode in ONE pass over the input (a union of
    // the pair pipeline with its swap would evaluate it twice), then
    // the single prep shuffle lands the u-hash layout and the
    // exchange-free dedup
    // checkpointKeepingLayout, not a plain checkpoint: under AQE the
    // checkpoint forgets the u-hash layout the prep shuffle landed, and
    // the "exchange-free" claims below silently regress to a full |E|
    // re-shuffle per round (see core.Partitioning.checkpointByKey).
    // finally: the raw-pair blocks are superseded by the arc layout on
    // success, and must not strand block-manager storage on failure
    val arcs =
      try graft.core.Partitioning.checkpointKeepingLayout(cleaned
        .select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .repartition(col("u"))
        .dropDuplicates("u", "v"))
      finally release(cleaned)

    var iter = 0
    var done = false
    // deg/peel are hoisted so the failure path below can release the
    // round in flight; a failed INIT job (the degree aggregation), non-
    // convergence, and mid-round exceptions must all free arcs/deg/peel
    // or a long-lived driver pins rounds x |E| blocks
    var deg: DataFrame = null
    var peel: DataFrame = null
    try {
      // initial degrees: exchange-free in the arc layout, and the layout
      // (u-hash) rides through the checkpoint so every round's joins
      // against deg stay exchange-free too
      deg = graft.core.Partitioning.checkpointKeepingLayout(
        arcs.groupBy(col("u")).agg(count(lit(1)).as("deg")))
      while (!done && iter < maxIter) {
        // layout-preserving: peel inherits deg's u-hash (alias-tracked
        // through the rename), so the non-broadcast rounds' anti/semi
        // joins against it are exchange-free on both sides
        peel = graft.core.Partitioning.checkpointKeepingLayout(
          deg.where(col("deg") < k).select(col("u").as("peel")))
        val peelCount = peel.count()
        if (peelCount == 0) { done = true; release(peel); peel = null }
        else {
          val small = peelCount <= BroadcastMaxPeel
          def side(df: DataFrame): DataFrame =
            if (small) broadcast(df) else df.hint("shuffle_hash")
          // per-u loss to this round's peel: map-side semi-join keeps the
          // arc layout, so the aggregation needs no exchange
          val loss = arcs
            .join(side(peel.select(col("peel").as("peel_v"))),
              arcs("v") === col("peel_v"), "left_semi")
            .groupBy(col("u")).agg(count(lit(1)).as("loss"))
          val next = graft.core.Partitioning.checkpointKeepingLayout(deg
            .join(side(peel), deg("u") === peel("peel"), "left_anti")
            .join(loss, Seq("u"), "left")
            .select(col("u"), (col("deg") - coalesce(col("loss"), lit(0L))).as("deg")))
          release(deg)
          release(peel)
          peel = null
          deg = next
          iter += 1
        }
      }
      require(done, s"k-core peeling did not converge in $maxIter rounds")
    } catch {
      case t: Throwable =>
        release(arcs)
        if (deg != null) release(deg)
        if (peel != null) release(peel)
        throw t
    }
    // the maintained table is already the core degrees; free the
    // |E|-sized arc blocks before handing the small answer back
    release(arcs)
    deg.select(col("u").as("vertex"), col("deg").as("core_degree"))
  }
}
