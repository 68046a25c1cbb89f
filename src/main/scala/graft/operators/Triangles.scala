package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle enumeration over an undirected edge list — the graph kernel
  * beyond connected components (operators.Components): co-occurrence
  * triangles, cluster-coefficient inputs, spam/boilerplate ring
  * detection over near-dup graphs.
  *
  * Formulation (measured on q104, 1.2M edges / 20k vertices, sf0.1):
  * adjacency-array intersection, not a wedge join. For oriented edge
  * a→b the triangles are exactly c ∈ N⁺(a) ∩ N⁺(b); materializing each
  * wedge as a join row costs a 49M-row shuffle (14 s) where the
  * per-edge `array_intersect` does the same Σd⁺ work with nothing wider
  * than an edge row in flight (~2 s). The adjacency table (Σd⁺ entries
  * ≈ the edge list, grouped into |V| rows) is broadcast — attaching
  * arrays through a shuffle join instead replicates them per edge row
  * (measured 22 s). Dedup rides the adjacency groupBy (`array_distinct`
  * after `collect_list`) so callers pass RAW pair streams — no separate
  * `.distinct()` shuffle.
  *
  * Orientation: default is the canonical id order (u < v). For graphs
  * with power-law hubs set `degreeOriented = true`: every edge then
  * points from its lower-(degree, id) endpoint to the higher one, which
  * bounds per-vertex out-degree by ~√m and keeps both the adjacency
  * rows and the intersection work executor-sized — the O(m^1.5) bound.
  * It costs one extra degree-count shuffle + an orientation join, which
  * near-uniform graphs (like the co-order fixture, max degree 222)
  * don't pay back. The triangle SET is orientation-invariant — the
  * DuckDB oracle verifies either plan with the naive formulation.
  *
  * Each triangle (a, b, c) appears exactly once: orientation is a total
  * order, and the triangle's three edges all point "up" that order.
  */
object Triangles {

  /** Canonical distinct undirected edges (u < v), self-loops dropped. */
  def canonicalEdges(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.select(least(col(aCol), col(bCol)).as("u"), greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u") < col("v"))
      .distinct()

  /** Out-neighbor adjacency under the chosen orientation, deduped,
    * materialized once (|V| rows; reused by both sides of the probe).
    *
    * Public so callers that need BOTH triangles and another
    * adjacency-derived statistic (degrees, wedges — q186) can build the
    * staging exactly once and pass it to [[trianglesFromAdjacency]] /
    * [[degreesFromAdjacency]], instead of checkpointing the edge list
    * themselves and paying a second materialization inside here.
    */
  def adjacency(edges: DataFrame, degreeOriented: Boolean = false): DataFrame = {
    val o =
      if (!degreeOriented) edges.select(col("u").as("src"), col("v").as("dst"))
      else {
        // the edge list feeds the degree count AND the orientation join —
        // materialize so the caller's construction lineage runs once
        val e = edges.select(col("u"), col("v")).distinct().localCheckpoint()
        val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
          .groupBy("x").agg(count(lit(1)).as("d"))
        val du = deg.select(col("x").as("u"), col("d").as("du"))
        val dv = deg.select(col("x").as("v"), col("d").as("dv"))
        val up = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
        e.join(du, "u").join(dv, "v")
          .select(
            when(up, col("u")).otherwise(col("v")).as("src"),
            when(up, col("v")).otherwise(col("u")).as("dst"))
      }
    // layout-preserving: the groupBy lands src-hash, and keeping it
    // through the checkpoint makes the big-graph fallback's probe side
    // (aliased src → b0) exchange-free in the dst attach join
    graft.core.Partitioning.checkpointKeepingLayout(
      o.groupBy(col("src"))
        .agg(array_distinct(collect_list(col("dst"))).as("nbrs")))
  }

  /** Broadcast the adjacency only while its payload (Σd⁺ longs ≈ the
    * edge count) fits comfortably in executor/driver memory. 8M entries
    * ≈ 64 MB of ids plus row overhead — the same order as a generous
    * autoBroadcastJoinThreshold. Above it the attach falls back to a
    * shuffled hash join on dst (see [[triangles]]).
    */
  private val BroadcastMaxAdjEntries = 8L * 1000 * 1000

  /** Decision threshold for [[autoDegreeOriented]]: orient by degree
    * once the max degree exceeds `factor`·√m. Degree orientation's
    * whole point is capping per-vertex out-degree at ~√m (the O(m^1.5)
    * bound); under canonical orientation a hub of degree D does Θ(D)
    * intersection work on each of its ~D incident edges — Θ(D²) total
    * — so D vs √m IS the cost ratio of the two lanes. Near √m the
    * quadratic hub term matches the oriented bound and the
    * orientation's extra degree-count shuffle + join dominate (the
    * co-order fixture: max degree 222 vs √m ≈ 1095, canonical measured
    * faster); far above it the hub term grows unboundedly (the Zipf
    * fixture: max degree ~39 k vs √m ≈ 884, degree orientation
    * measured 36× faster, BASELINE.md round-12). 2.0 sits in the wide
    * indifferent band between those regimes.
    */
  val DefaultOrientSkewFactor = 2.0

  /** One-pass degree-skew probe (round-12 verdict #4): should
    * [[triangles]] use degree orientation for this graph? One degree
    * aggregate over the edge list — the same narrow shuffle the
    * oriented build itself starts with, so a TRUE answer pre-pays
    * nothing wasted and a FALSE answer costs one cheap pass. Degrees
    * are counted over the RAW stream (duplicates inflate them —
    * callers with heavily duplicated pair streams should
    * [[canonicalEdges]] first; inflation can only push toward the
    * orientation that tolerates skew, never away from it on a graph
    * that needs it).
    */
  def autoDegreeOriented(
      edges: DataFrame, skewFactor: Double = DefaultOrientSkewFactor): Boolean = {
    val r = edges
      .select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy("x").agg(count(lit(1)).as("d"))
      .agg(coalesce(max(col("d")), lit(0L)), coalesce(sum(col("d")), lit(0L)))
      .head()
    val maxd = r.getLong(0)
    val m = r.getLong(1) / 2
    maxd > skewFactor * math.sqrt(m.toDouble)
  }

  /** [[triangles]] with the orientation picked by the degree-skew
    * probe: power-law graphs auto-take the degree-oriented lane, near-
    * uniform graphs keep the (measured-faster) canonical lane. The
    * explicit `degreeOriented` override on [[triangles]] remains for
    * callers that know their graph.
    */
  def trianglesAuto(
      edges: DataFrame,
      skewFactor: Double = DefaultOrientSkewFactor,
      broadcastMaxAdjEntries: Long = BroadcastMaxAdjEntries): DataFrame =
    triangles(edges, autoDegreeOriented(edges, skewFactor), broadcastMaxAdjEntries)

  /** One row per triangle (a, b, c), each triangle exactly once.
    * Input: undirected edges as (u, v) with u < v; duplicates fine
    * (deduped in the adjacency build), self-loops are not.
    *
    * The destination-side adjacency attach is size-gated: the adjacency
    * payload is Σd⁺ entries (≈ |E|), so broadcasting it is only safe
    * while that fits in memory — q104's 1.2M-edge fixture does, a 100×
    * graph does not. The measurement is exact and cheap (one agg over
    * the already-checkpointed adjacency). Large graphs take a shuffled
    * hash join on dst instead, which replicates neighbor arrays per
    * edge row — bounded when `degreeOriented` caps array width at ~√m,
    * which is the recommended setting for any graph big enough to hit
    * this branch.
    */
  def triangles(
      edges: DataFrame, degreeOriented: Boolean = false,
      broadcastMaxAdjEntries: Long = BroadcastMaxAdjEntries): DataFrame =
    trianglesFromAdjacency(adjacency(edges, degreeOriented), broadcastMaxAdjEntries)

  /** Probe-side adjacency rows larger than this split into disjoint
    * chunks (union of chunk intersections = the full intersection, each
    * triangle still exactly once) — the hub guard: a power-law hub's
    * multi-MB neighbor row otherwise sits whole in the shuffled-hash
    * build map and rides every skew-split replica. 64k entries ≈ 512 KB
    * of ids.
    */
  private val DefaultMaxAdjChunk = 64 * 1024

  /** [[triangles]] over a pre-built [[adjacency]] frame — for callers
    * that reuse the adjacency for other statistics (q186's clustering
    * coefficient derives wedges from it too). `adj` must come from
    * [[adjacency]] (checkpointed, (src, nbrs) deduped).
    *
    * Two attach lanes, size-gated on the adjacency payload (Σd⁺
    * entries), both intersecting raw neighbor arrays with
    * `array_intersect`:
    *  - broadcast (small graphs): the whole adjacency rides to every
    *    task and joins on dst;
    *  - shuffled fallback (big graphs): a shuffled hash join on dst.
    *    Probe rows above `maxAdjChunk` entries split into disjoint
    *    chunks (hub guard, doc above; a slice partitions the entry set
    *    whatever the order, so no sort is needed) and AQE's skew-split
    *    balances the stream side. The kernel is the raw-array hash
    *    intersection because the round-12 interleaved A/B at sf10 (120 M
    *    edge rows, 3 rounds each, BASELINE.md) kept it fastest-or-tied
    *    on a single host with storage-local shuffle against a sorted
    *    two-pointer merge (within-noise worse: its data-dependent branches
    *    mispredict) and delta-varint packed arrays (2.4× fewer exchange
    *    bytes for ~2× intersect CPU — a loss while shuffle never leaves
    *    page cache).
    */
  def trianglesFromAdjacency(
      adj: DataFrame,
      broadcastMaxAdjEntries: Long = BroadcastMaxAdjEntries,
      maxAdjChunk: Int = DefaultMaxAdjChunk): DataFrame = {
    val adjEntries = adj.agg(coalesce(sum(size(col("nbrs"))), lit(0L))).head.getLong(0)
    // re-expand edges FROM the adjacency (narrow), carrying the source's
    // neighbor payload along — only the destination side needs a join.
    // The adjacency is |V| rows post-AQE-coalesce (observed: 5
    // partitions at sf0.1), but the explode multiplies it to |E| rows
    // and the intersection stage is CPU-bound — spread it across the
    // full parallelism first (a ~|E|-long shuffle of a |V|-row table,
    // trivial next to leaving 27 of 32 cores idle through the probe).
    val spread = adj.repartition(adj.sparkSession.sparkContext.defaultParallelism)
    val stream = spread.select(col("src").as("a"), col("nbrs").as("na"),
      explode(col("nbrs")).as("b"))
    val attached =
      if (adjEntries <= broadcastMaxAdjEntries) {
        val probe = adj.select(col("src").as("b0"), col("nbrs").as("nb"))
        stream.join(broadcast(probe), col("b") === col("b0"))
      } else {
        // disjoint chunks of the probe row (1 chunk for normal vertices
        // — the slice is the whole array; hubs split)
        val chunks = transform(
          sequence(lit(0), ((size(col("nbrs")) - 1) / maxAdjChunk).cast("int")),
          i => slice(col("nbrs"), i * maxAdjChunk + 1, lit(maxAdjChunk)))
        val probe = adj.select(col("src").as("b0"), explode(chunks).as("nb"))
        // shuffle_hash (not default sort-merge): no sort over wide-
        // payload rows, and the per-partition build side is the
        // adjacency slice, which partitions evenly on vertex id
        stream.join(probe.hint("shuffle_hash"), col("b") === col("b0"))
      }
    attached.select(col("a"), col("b"),
      explode(array_intersect(col("na"), col("nb"))).as("c"))
  }

  /** Undirected vertex degrees recovered from an [[adjacency]] frame:
    * out-degree is `size(nbrs)` free per row, in-degree is one explode
    * of the already-checkpointed |V|-row table — the same Σd shuffle the
    * edge-list union formulation pays, but WITHOUT re-running (or
    * re-materializing) the edge construction lineage. Only valid for
    * the canonical (u < v) orientation, where out+in = total degree and
    * each undirected edge contributes exactly one adjacency entry.
    */
  def degreesFromAdjacency(adj: DataFrame): DataFrame =
    adj.select(col("src").as("x"), size(col("nbrs")).cast("long").as("c"))
      .unionAll(adj.select(explode(col("nbrs")).as("x"), lit(1L).as("c")))
      .groupBy(col("x")).agg(sum(col("c")).as("deg"))

  /** Per-vertex triangle participation counts. */
  def triangleCounts(
      edges: DataFrame, degreeOriented: Boolean = false,
      broadcastMaxAdjEntries: Long = BroadcastMaxAdjEntries): DataFrame =
    triangles(edges, degreeOriented, broadcastMaxAdjEntries)
      .select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
      .groupBy("vertex").agg(count(lit(1)).as("n_triangles"))
}
