package graft.operators

import scala.collection.mutable

import graft.core.Gates
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the step that turns
  * near-duplicate PAIRS into duplicate GROUPS (one canonical survivor
  * per group, the rest dropped).
  *
  * Algorithm: iterative min-label propagation WITH pointer jumping.
  * Every node starts labeled with itself; each round, a node adopts
  * the minimum label in its closed neighborhood (one shuffle join
  * edges ⋈ labels + one groupBy(src) min), then labels are shortcut
  * one hop (label := label's label — a self-join on the label table,
  * which is far smaller than the edge set). Plain propagation needs
  * diameter-many rounds — chain-shaped near-dup components at tau-low
  * settings reach diameters in the tens — while the shortcut step
  * doubles the effective propagation distance per round, giving
  * O(log diameter) convergence (the classic pointer-jumping bound;
  * cf. two-phase CC algorithms like large-star/small-star). Each round
  * costs one more tiny join but the round count drops exponentially,
  * and rounds (driver-synchronized Spark jobs) are the scarce resource
  * at cluster scale.
  *
  * Determinism: labels are ids and min() is order-insensitive, so the
  * result is exactly reproducible — the DuckDB oracle replicates it
  * with a recursive transitive-closure CTE.
  */
object Components {

  /** Edge lists small enough to solve on the driver. Budget honestly:
    * 2M collected (Long, Long) tuples plus union-find HashMaps over up
    * to 4M node entries is ~300-500 MB transient driver heap (boxing +
    * map-entry overhead, not 16 bytes/edge), comfortably inside the
    * default driver but far below where the distributed path is needed.
    * Near-dup edge lists are usually orders of magnitude smaller than
    * the corpus — the same size asymmetry broadcast joins exploit — so
    * the common case pays one collect + exact union-find instead of
    * diameter-bound rounds of driver-synchronized Spark jobs. Above the
    * threshold the distributed label propagation below takes over.
    */
  private val DriverMaxPairRows = 2L * 1000 * 1000

  /** @param pairs undirected edge list (one row per pair; direction and
    *   duplicates are normalized away here). CONSUMED: any
    *   localCheckpoint blocks the pair plan references are released once
    *   the normalized edge set is materialized — the result never
    *   references the input, so a checkpoint-backed pair frame (the LSH
    *   candidate tables) would otherwise outlive every live plan and
    *   sit in the block manager until GC (observed as the q95 bench
    *   leak). Callers needing the pair frame afterwards should pass a
    *   recomputable plan or re-checkpoint.
    * @return (node, component) — component = min node id reachable
    */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 25): DataFrame =
    connectedComponentsGated(pairs, aCol, bCol, maxIter)(Gates.collectAtMost(_, DriverMaxPairRows))

  /** [[connectedComponents]] on the lane `gate` picks from the RAW
    * non-null pair rows, before direction normalization and dedup. */
  private[graft] def connectedComponentsGated(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 25)(
      gate: Dataset[(Long, Long)] => Option[Array[(Long, Long)]]): DataFrame = {
    import pairs.sparkSession.implicits._
    val e0 = pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))

    // Small-graph fast path: exact union-find over the RAW pair list,
    // probed with no shuffle (r15: normalizing first re-ran quadratic
    // exact-dedup producers three times; union-find absorbs duplicates,
    // reversals and self-loops). Over the gate the truncated probe is
    // discarded and the distributed rounds below pay the normalization.
    gate(e0.where(col("src").isNotNull && col("dst").isNotNull).as[(Long, Long)]) match {
      case Some(edges) =>
        Lineage.release(pairs) // see @param pairs
        return pairs.sparkSession.createDataset(driverUnionFind(edges)).toDF("node", "component")
      case None =>
    }

    // ONE explode of both orientations, not union-of-two-selects: the
    // union embedded the caller's pair plan twice, and the producers
    // that overflow the driver gate are exactly the quadratic exact-
    // dedup plans a double evaluation hurts most
    val edgesPlan = e0
      .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("a"))
      .select(col("a.src").as("src"), col("a.dst").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)

    // Iterative dataflow MUST truncate lineage each round: chaining the
    // round-N plan onto round-N-1 doubles the logical tree per
    // iteration (2^rounds nodes — the first chain-graph test OOMed just
    // STRINGIFYING the plan). localCheckpoint materializes the round and
    // restarts the plan from the cached result; a cluster deployment
    // with executor churn would use reliable checkpoint() instead.
    //
    // Truncating the PLAN is not enough: localCheckpoint carries the
    // original plan's STATS through as LogicalRDD originStats, and this
    // loop's self-joins make sizeInBytes a PRODUCT of the inputs — so
    // the inherited estimate is raised to a constant power every round,
    // its bit-length grows geometrically, and by round ~6 Catalyst's
    // stats visitor is multiplying BigInts with millions of digits
    // (observed: planning pinned a core for minutes at sf0.1).
    // Rebuilding the frame from the checkpointed RDD resets stats to a
    // round-independent constant.
    //
    // Storage discipline (the KCore pattern): every checkpoint handle is
    // kept and released explicitly the moment the next eager checkpoint
    // supersedes it. NOTE (round 10): rewrapKeepingLayout SHARES the
    // checkpoint's persisted RDD — releasing a rewrap-derived frame
    // releases the live checkpoint blocks themselves (lineage is
    // truncated, so the blocks are unrecomputable). Release only the
    // *Cp handles, never scratch frames built from a rewrap, while a
    // round is in flight. Only the FINAL round's blocks survive the
    // loop, and the returned frame references that checkpoint directly
    // (no rewrap) so the consumer's Lineage.release(result) can free it.
    // rewrapKeepingLayout (round 10): the public createDataFrame rewrap
    // reset stats but paid an InternalRow→Row→InternalRow codec round
    // trip per row per round; the bridge rebuilds the LogicalRDD on the
    // same InternalRow RDD and drops only the inherited stats. (It also
    // carries partitioning through, but the round checkpoints build
    // under AQE and report Unknown — only the one-time edge layout
    // below is declared; see the A/B note at labelsCp.)
    def rewrap(cp: DataFrame): DataFrame =
      org.apache.spark.sql.graft.DatasetBridge.rewrapKeepingLayout(cp)

    // Init checkpoints live INSIDE the try below (the LabelProp
    // discipline): a failed init job must release whatever it already
    // materialized — the |E|-sized dst-hash checkpoint would otherwise
    // pin block-manager storage for the life of a long-lived driver.
    var edgesByDst: DataFrame = null
    var labelsCp: DataFrame = null
    var iter = 0
    var done = false
    // hoisted so the failure path can release the round in flight — a
    // mid-round exception must not pin superseded blocks in a
    // long-lived driver
    var propagatedCp: DataFrame = null
    try {
      // The per-round neighborhood join is keyed on dst. ONE exchange
      // lands both the dedup and that layout (r16): repartition(dst)
      // satisfies dropDuplicates' (src, dst)-clustered distribution
      // ({dst} ⊆ {src, dst} — the KCore prep precedent), so the dedup
      // aggregate runs exchange-free in the dst-hash layout the
      // checkpoint keeps. The former shape paid distinct's (src, dst)
      // exchange + persist + count + a SECOND full-|E| exchange inside
      // checkpointByKey — two passes and a cache write over the raw
      // pair plan for the same materialized table. Trade-off: the
      // build job runs AQE-off (checkpointKeepingLayout mechanics), so
      // a caller whose PRODUCER plan needs AQE (skew-split heavy join)
      // should localCheckpoint the pair list before calling; the
      // over-gate bench producer (q97) is a narrow scan projection.
      edgesByDst = graft.core.Partitioning.checkpointKeepingLayout(
        edgesPlan.repartition(col("dst")).dropDuplicates("src", "dst"))
      // edge set materialized — the input pair plan is consumed now
      // (see @param pairs)
      Lineage.release(pairs)

      // Per-round checkpoints build under AQE, deliberately FORGETTING
      // the label layout: the round's build job contains the edge join,
      // the shortcut double self-join, and the old-label join, and an
      // AQE-off build (checkpointKeepingLayout) would run ALL of them
      // without runtime broadcast upgrades or coalescing — measured at
      // sf1 (A/B, this round): q97 3.3-3.7 s with AQE-on rounds vs
      // 4.7-5.7 s with layout-preserving rounds, q95 same direction.
      // The |V|-row label shuffle a lost layout costs per round is far
      // cheaper than the lost AQE planning inside the round. The |E|
      // table keeps its one-time dst-hash layout above — that side of
      // the neighborhood join never re-shuffles either way.
      labelsCp =
        edgesByDst.select(col("src").as("node")).distinct()
          .select(col("node"), col("node").as("label")).localCheckpoint(true)
      var labels = rewrap(labelsCp)

      while (!done && iter < maxIter) {
        // min label over the closed neighborhood (self ∪ neighbors)
        val nbrMin = edgesByDst
          .join(labels.select(col("node").as("dst"), col("label").as("dst_label")), Seq("dst"))
          .groupBy(col("src")).agg(min(col("dst_label")).as("nbr_label"))
          .select(col("src").as("node"), col("nbr_label"))
        // checkpointed: the shortcut step below self-joins this twice, and
        // Spark's self-join deduplication clones the subtree per side — an
        // un-materialized propagate would re-run the edge join 4×
        propagatedCp = labels
          .join(nbrMin, Seq("node"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
          .localCheckpoint(true)
        val propagated = rewrap(propagatedCp)
        // pointer jumping: follow the label one hop (label := label(label));
        // labels only ever decrease, so taking the hop unconditionally is
        // safe and at least doubles the distance already covered. Two
        // jumps per round — each is a self-join of the LABEL table (tiny
        // next to the edge set) inside the same lineage, no extra action —
        // so per round the covered distance roughly quadruples.
        def shortcut(t: DataFrame): DataFrame = t
          .join(t.select(col("node").as("label"), col("label").as("hop_label")),
            Seq("label"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("hop_label"), col("label"))).as("label"))
        // carry the previous label through the checkpoint so convergence is
        // a filter on materialized data, not another join
        val nextCp =
          shortcut(shortcut(propagated))
            .join(labels.select(col("node"), col("label").as("old_label")), Seq("node"))
            .localCheckpoint(true)
        // the eager checkpoint above materialized this round, so the
        // round's scratch and the superseded label table are dead —
        // release them NOW, not at loop exit (rounds × |V| blocks
        // otherwise pile up for the whole solve; observed as the q97/q95
        // bench leak counter)
        Lineage.release(propagatedCp)
        propagatedCp = null
        Lineage.release(labelsCp)
        labelsCp = nextCp
        val next = rewrap(nextCp)
        val changed = next.where(col("label") =!= col("old_label")).limit(1).count() > 0
        labels = next.drop("old_label")
        done = !changed
        iter += 1
      }
      require(done, s"connectedComponents did not converge in $maxIter rounds " +
        "(pathological chain graph — use a log-round decomposition at this scale)")
    } catch {
      case t: Throwable =>
        if (edgesByDst != null) Lineage.release(edgesByDst)
        if (propagatedCp != null) Lineage.release(propagatedCp)
        if (labelsCp != null) Lineage.release(labelsCp)
        throw t
    }
    Lineage.release(edgesByDst)
    labelsCp.select(col("node"), col("label").as("component"))
  }

  /** Exact union-find (path halving + union by rank), then one pass to
    * relabel every component with its min member id — identical output
    * contract to the distributed path.
    */
  private def driverUnionFind(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = mutable.HashMap.empty[Long, Long]
    val rank = mutable.HashMap.empty[Long, Int]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    def union(a: Long, b: Long): Unit = {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (qa, qb) = (rank.getOrElse(ra, 0), rank.getOrElse(rb, 0))
        if (qa < qb) parent(ra) = rb
        else if (qa > qb) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = qa + 1 }
      }
    }
    edges.foreach { case (a, b) => union(a, b) }
    val minOfRoot = mutable.HashMap.empty[Long, Long]
    parent.keys.foreach { n =>
      val r = find(n)
      minOfRoot.updateWith(r)(m => Some(math.min(m.getOrElse(n), n)))
    }
    parent.keys.toSeq.map(n => (n, minOfRoot(find(n))))
  }

  /** Duplicate-group summary: one row per component with its canonical
    * survivor (min id) and size.
    */
  def dupGroups(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))
      .select(col("component").as("keep_id"), col("n_members"))

  /** The end-to-end near-dup DROP: keep every row whose id is either
    * untouched by any pair or is its component's canonical survivor
    * (min id). Anti-join on the loser set — the loser table is
    * component-bounded (≤ pairs), usually tiny next to the corpus, so
    * Catalyst broadcasts it and the corpus never shuffles.
    */
  def dropNearDuplicates(
      corpus: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // The label table's stats are reset to the default (huge) estimate
    // by the lineage truncation above, so Catalyst can't see that the
    // loser set is usually small — without a hint the corpus side would
    // shuffle. But the hint must be GATED: the loser set scales with the
    // duplicate count (worst case ~the whole corpus), and a mandatory
    // broadcast of that would blow the driver at the cluster design
    // point. Labels are materialized (driver dataset or checkpointed
    // RDD), so the gate count is one cheap job; above the threshold the
    // anti-join falls back to a shuffle join (AQE may still upgrade it
    // from runtime sizes).
    val losersDf = connectedComponents(pairs, aCol, bCol)
      .where(col("node") =!= col("component"))
      .select(col("node"))
    val maxRows = graft.core.Joins.maxBroadcastRows(corpus.sparkSession, bytesPerRow = 24)
    val losers = if (losersDf.count() <= maxRows) broadcast(losersDf) else losersDf
    corpus.join(losers, corpus(idCol).cast("long") === losers("node"), "left_anti")
  }

  /** Quality-aware near-dup drop: per component keep the member with
    * the HIGHEST `qualityCol` (ties → lowest id) instead of the min-id
    * canonical survivor — the production retention policy ("keep the
    * best copy", not "keep the first crawl"). The loser set is
    * component-bounded like [[dropNearDuplicates]] and rides the same
    * gated broadcast anti-join; the survivor election is one per-
    * component window over the members only (≤ 2·pairs rows), never
    * the corpus.
    */
  def dropNearDuplicatesByQuality(
      corpus: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      qualityCol: String): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
    val members = labels.join(
      corpus.select(col(idCol).cast("long").as("node"), col(qualityCol).as("_q")),
      Seq("node"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("_q").desc, col("node"))
    val losersDf = members
      .withColumn("_rk", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("_rk") > 1)
      .select(col("node"))
    val maxRows = graft.core.Joins.maxBroadcastRows(corpus.sparkSession, bytesPerRow = 24)
    val losers = if (losersDf.count() <= maxRows) broadcast(losersDf) else losersDf
    corpus.join(losers, corpus(idCol).cast("long") === losers("node"), "left_anti")
  }
}
