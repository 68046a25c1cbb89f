package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Similarity search over embedding columns.
  *
  * `bruteForceTopK` is the exact baseline: queries are broadcast against
  * the corpus (no shuffle of the big side), ranked per query by a
  * bounded-heap aggregate (map-side top-k — the scored set itself never
  * shuffles). `lshCandidates`/`lshTopK` is the scale path: L tables of
  * b-bit random-hyperplane signatures; candidates are generated by a
  * bucket equi-join (shuffle on the bucket key, never O(N²)) and then
  * exactly re-scored. Hyperplane components are ±1 derived from md5 —
  * deterministic, seedable, and engine-portable.
  */
object Similarity {

  /** Normalize input to (id, unit-vector double[]) shape: the norm is
    * computed ONCE per row here, so every downstream cosine is a single
    * dot product instead of dot + two norm folds per pair. Shared with
    * operators.Ivf (same contract — changing normalization semantics in
    * one place keeps brute/LSH/IVF results consistent).
    */
  private[operators] def prep(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    unitVectors(fanOut(df), idCol, vecCol)

  /** [[prep]]'s projection without its repartition. */
  private[operators] def unitVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vid"), normalized(vecD(col(vecCol))).as("v"))

  private def fanOut(df: DataFrame): DataFrame = graft.core.Partitioning.fanOut(df)

  /** Vector dimensionality, inferred from the data (one tiny driver-side
    * job at plan-build time). Mismatched literal hyperplanes would make
    * ArrayDotProduct yield null → every row in bucket 0 → a silent full
    * cross join, so inference beats a hardcoded default. Empty/all-null
    * input falls back to 1 — the downstream result is empty anyway, so
    * any plane family works; it must not crash at plan-build time.
    */
  private def inferDims(df: DataFrame, vecCol: String): Int =
    df.where(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("d")).limit(1).collect()
      .headOption.map(_.getInt(0)).filter(_ > 0).getOrElse(1)

  /** Auto-sized LSH signature width. `bits = 0` (the default on every
    * LSH consumer) derives the signature width from a cheap corpus
    * count so the BUCKET SIZE, not the bucket COUNT, is what stays
    * constant as data grows: smallest `b` in [minBits, maxBits] with
    * `2^b · targetBucket ≥ n`. Candidate pairs per table are then
    * ~`N · targetBucket / 2` — LINEAR in N — where a fixture-tuned
    * constant `bits` gives `N² / 2^bits`, a scale-killer at 100×
    * (2 M vectors at bits = 4 ≈ 10¹² candidate dot products). Same
    * move as RangeJoin's auto bin width.
    *
    * The bits-vs-recall trade (document, don't hide): for a pair at
    * angle θ, a table of `b` planes collides with probability
    * `(1 − θ/π)^b`, so raising `b` at constant `tables` LOWERS recall
    * — holding recall while scaling needs `tables ≈ ln(1/miss) /
    * (1 − θ/π)^b`, i.e. more tables as the corpus grows. Auto mode
    * accepts that trade (linear candidates first, recall via the
    * `tables` knob); recall-critical jobs at a known scale should pin
    * `bits`/`tables` explicitly. Every REPORTED pair/score is exactly
    * verified regardless — recall is the only approximate axis.
    *
    * `maxBits = 24` is a parity cap shared with the DuckDB oracles
    * (their static SQL embeds plane literals for exactly this many
    * planes per table and derives `b` from `COUNT(*)` with the same
    * integer formula): past `2^24 · 32 ≈ 5×10⁸` rows the derived
    * width saturates and bucket size grows ~`N/2^24` — at that scale
    * pass `bits` explicitly (the bucket id supports up to 30).
    */
  private[graft] val AutoTargetBucket = 32L
  private[graft] val AutoMaxBits = 24

  private[graft] def autoBits(
      n: Long, targetBucket: Long = AutoTargetBucket,
      minBits: Int = 1, maxBits: Int = AutoMaxBits): Int = {
    var b = minBits
    while (b < maxBits && (1L << b) * targetBucket < n) b += 1
    b
  }

  /** 0 → derive from a corpus count (one cheap metadata-backed job at
    * plan-build time); positive → caller-pinned.
    */
  private def resolveBits(df: DataFrame, bits: Int): Int =
    if (bits > 0) bits else autoBits(df.count())

  /** Auto graph degree for [[knnGraph]] (k = 0): max(8, ⌈1.2·log₂N⌉).
    * Greedy-search navigability needs degree ~ ln N (the HNSW M
    * guidance); measured at the knee on the q206 fixture family
    * (GraphAnnProbe3, r15). N = 500 → 11, 20k → 18, 10⁹ → 36.
    */
  private[graft] def autoDegree(n: Long, min: Int = 8): Int =
    math.max(min,
      math.ceil(1.2 * math.log(math.max(n, 2L).toDouble) / math.log(2.0)).toInt)

  /** Exact top-k cosine neighbors for each query row (queries small →
    * broadcast; corpus side never shuffles until the per-query rank).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val c = prep(corpus, idCol, vecCol)
    val q = prep(queries, idCol, vecCol)
      .withColumnRenamed("vid", "query_id").withColumnRenamed("v", "qv")
    val scored = c.crossJoin(broadcast(q))
      .where(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"),
        dot(col("qv"), col("v")).as("sim"))
    // bounded-heap rank, not a window: a window would shuffle ALL
    // |queries|·|corpus| scored rows to per-query sorts — at 100 TB the
    // rank tail would dwarf the scoring. The aggregate's partials keep
    // k per query per partition, so only |queries|·k·partitions tiny
    // rows cross the wire. Same result set and ranks for scoreable
    // rows (spec-pinned); null-embedding rows are excluded (see
    // topKByQuery). The stream has one row per (query, neighbor), so
    // no dedup scan.
    topKByQuery(scored, k, dedup = false)
  }

  /** Exact re-ranking of approximate candidates — the FAISS "refine"
    * stage (IndexRefineFlat): keep each query's top `depth` approximate
    * candidates, re-score them EXACTLY on the raw vectors (same `prep`
    * as bruteForceTopK — bit-identical cosines), return the exact top-k
    * of the refined pool. Quantization error (PQ/ADC, int8) survives
    * only when the TRUE neighbor fell outside the depth-sized pool:
    * refinement converts score distortion into a pure candidate-recall
    * question, so a shallow k over a deeper pool beats a deeper ADC k.
    *
    * Works over any (query_id, neighbor_id[, rank]) candidate frame
    * (IvfPq.probe, Pq.adcTopK, Quantize, lshTopK). Scale shape: the
    * pool is |queries|·depth rows — broadcast against the corpus scan
    * (the corpus never shuffles); one |pool|-row window ranks it.
    */
  def refineExact(
      candidates: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, depth: Int = 0): DataFrame = {
    // a positive depth REQUIRES a rank column: silently skipping the
    // truncation would let the broadcast pool blow past the
    // |queries|·depth size contract the caller asked for
    require(depth == 0 || candidates.columns.contains("rank"),
      s"refineExact: depth=$depth but the candidate frame has no 'rank' " +
        "column to truncate on — rank the candidates or pass depth = 0")
    // distinct: the contract accepts ANY candidate frame, including
    // multi-table LSH candidates where a neighbor repeats per query —
    // duplicates would consume top-k rank slots and return the same
    // neighbor twice
    val pool =
      (if (depth > 0) candidates.where(col("rank") <= depth)
       else candidates)
        .select(col("query_id"), col("neighbor_id"))
        .distinct()
    val c = prep(corpus, idCol, vecCol)
    val q = prep(queries, idCol, vecCol)
      .select(col("vid").as("query_id"), col("v").as("qv"))
    val scored = c.join(broadcast(pool), c("vid") === pool("neighbor_id"))
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("v")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Approximate k-NN GRAPH over the whole corpus — every vector's
    * top-k among its LSH-bucket candidates, exact-cosine scored (the
    * building block under kNN-graph clustering, UMAP-style layouts,
    * and graph-based ANN indexes). Unlike `lshTopK` (a small probe set
    * against a corpus) this is all-points: candidates come from the
    * bucket SELF-join — shuffle on (table, bucket), never O(N²) — each
    * undirected candidate pair is scored once and fans into both
    * directions before the per-query top-k window. Recall vs the exact
    * graph depends on (tables, bits); every reported edge's similarity
    * is exact. An oracle replicates the plane family (q94 technique).
    *
    * `refineRounds` > 0 runs that many NN-DESCENT rounds (Dong et al.,
    * WWW'11) on the LSH-seeded graph: each round proposes every
    * neighbor-of-a-neighbor as a candidate (over the SYMMETRIZED edge
    * set — "a neighbor of my neighbor is likely my neighbor"), scores
    * the proposals exactly on the raw vectors, and keeps each node's
    * best k of old ∪ new. Opt-in (default 0) because the q204 oracle
    * replicates the UNREFINED LSH graph bit-for-bit; graph-ANN serving
    * (q206) wants the refined graph — the LSH seed's quality, not the
    * walk budget, was what bounded recall as the corpus grew
    * (round-14 verdict #1: 0.98/0.90/0.64 at N = 500/2k/20k on the
    * raw deg-8 seed).
    *
    * Scale shape: a round is bounded by N·(2k)² candidate rows —
    * LINEAR in N at fixed degree — flowing through one distinct and
    * two hash joins against the stationary prepped corpus, then the
    * same map-side-combined top-k aggregate as the seed build. Old
    * edges re-score to bit-identical sims (same prep/dot), so the
    * in-buffer (sim, id) dedup of topKDistinct merges them exactly.
    * Each round's graph is eagerly checkpointed and its predecessor
    * released (the graphSearch staging discipline). At extreme N
    * (≥10⁹·deg² proposal rows) a production build would sample
    * proposals per node (NN-descent's ρ < 1) — not needed at any
    * measured scale here.
    *
    * `k = 0` AUTO-SIZES the degree as max(8, ⌈1.2·log₂N⌉) — measured
    * at N = 20k (GraphAnnProbe3, r15): the deg-8 graph searches at
    * 0.64 recall while deg-16 searches at 0.96 at LOWER probe wall —
    * fixed degree was the real scale leak behind q206's recall decay
    * (navigability needs degree to grow with ln N; the HNSW M
    * guidance). Logarithmic, so the edge set stays ~N·log N.
    */
  def knnGraph(
      df: DataFrame, idCol: String, vecCol: String, k: Int,
      tables: Int = 8, bits: Int = 0, refineRounds: Int = 0): DataFrame = {
    require(refineRounds >= 0, s"refineRounds must be >= 0, got $refineRounds")
    require(k >= 0, s"k must be >= 0 (0 = auto degree), got $k")
    val deg = if (k > 0) k else autoDegree(df.count())
    // resolve HERE so symCandidates' inner call sees a pinned width
    // (one count job, not one per layer)
    val seed =
      topKByQuery(symCandidates(df, idCol, vecCol, tables, resolveBits(df, bits)), deg)
    if (refineRounds == 0) seed
    else {
      val staged = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def stage(d: DataFrame): DataFrame = {
        val cp = d.localCheckpoint(true); staged += cp; cp
      }
      try {
        val c = stage(prep(df, idCol, vecCol))
        var g = stage(seed.select(col("query_id"), col("neighbor_id"), col("sim")))
        // the seed build checkpointed its LSH bucket table internally;
        // the staged copy above supersedes it — release the seed plan
        // NOW or the bucket blocks are orphaned (the q55/q36 rebase
        // shape; observed as bench leaks)
        Lineage.release(seed)
        var r = 0
        while (r < refineRounds) {
          // undirected adjacency: in-edges carry as much "is likely my
          // neighbor" signal as out-edges, and NN-descent needs both
          val sym = g
            .select(col("query_id").as("u"), col("neighbor_id").as("w"))
            .unionAll(g.select(col("neighbor_id").as("u"), col("query_id").as("w")))
            .distinct()
          // propose u → w for every 2-path u—v—w; dedup BEFORE scoring
          // (many 2-paths repeat a proposal; one dot each is enough)
          val cand = sym.select(col("u"), col("w").as("_via"))
            .join(sym.select(col("u").as("_via"), col("w")), "_via")
            .where(col("u") =!= col("w"))
            .select(col("u").as("query_id"), col("w").as("neighbor_id"))
            .distinct()
          val scored = cand
            .join(c.select(col("vid").as("neighbor_id"), col("v").as("nv")), "neighbor_id")
            .join(c.select(col("vid").as("query_id"), col("v").as("qv")), "query_id")
            .select(col("query_id"), col("neighbor_id"),
              dot(col("qv"), col("nv")).as("sim"))
          g = stage(topKByQuery(g.unionAll(scored), deg)
            .select(col("query_id"), col("neighbor_id"), col("sim")))
          r += 1
        }
        // final rank pass (cheap — N·k rows) restores the seed's output
        // contract; the returned plan references only the last
        // checkpoint, which the caller's Lineage.release frees
        staged.dropRight(1).foreach(Lineage.release(_))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("neighbor_id"))
        g.withColumn("rank", row_number().over(w).cast("long"))
      } catch {
        case e: Throwable =>
          staged.foreach(Lineage.release(_))
          Lineage.release(seed) // idempotent; the bucket table is eager
          throw e
      }
    }
  }

  /** Shared candidate tail for [[knnGraph]]/[[hardNegatives]]: every
    * scored LSH-bucket candidate, fanned into both directions —
    * (query_id, neighbor_id, sim) — one row PER COLLIDING TABLE (the
    * top-k aggregate dedups; see [[approxScoredPairs]]).
    */
  private def symCandidates(
      df: DataFrame, idCol: String, vecCol: String,
      tables: Int, bits: Int): DataFrame = {
    // cosine of unit vectors is ≥ −1, so tau = −2 keeps EVERY scored
    // bucket candidate: the whole bucket/score tail is
    // nearDupPairsApprox's, not a re-implementation (one staging
    // discipline to maintain) — the oracles make the same move with
    // approxPairsCtes(tau = -2.0).
    // Both directions come from ONE explode over the join output — a
    // unionAll of two projections would make Catalyst clone the whole
    // bucket-self-join subtree and score every candidate twice (the
    // bucket table itself is checkpoint-shared, but the join + dots
    // are not).
    approxScoredPairs(df, idCol, vecCol, tau = -2.0, tables, bits)
      .select(explode(array(
        struct(col("id_a").as("query_id"), col("id_b").as("neighbor_id"), col("sim")),
        struct(col("id_b").as("query_id"), col("id_a").as("neighbor_id"), col("sim"))))
        .as("_e"))
      .select(col("_e.query_id"), col("_e.neighbor_id"), col("_e.sim"))
  }

  /** Per-query top-k of a (query_id, neighbor_id, sim) candidate
    * stream via the bounded dedup heap aggregate — same result set and
    * rank semantics as `row_number() OVER (PARTITION BY query_id ORDER
    * BY sim DESC, neighbor_id)` ≤ k (the heap's total order matches the
    * window's, and posexplode position + 1 is the rank), but map-side
    * combined: each partial forwards at most k pairs per query instead
    * of shuffling the full candidate multiset to a per-query sort, and
    * the in-buffer dedup replaces the upstream `distinct()` shuffle the
    * window formulation needed. The heap orders by (sim, id); the id
    * doubles as the neighbor, so ties and ranks are deterministic.
    *
    * Null-sim rows (a null embedding on either side) are EXCLUDED from
    * the ranking — aggregate null-skip semantics, where the replaced
    * window formulations ranked them last and could emit them when a
    * query had fewer than k scoreable candidates. NaN sims (zero
    * vectors) still rank first, exactly as the window ranked them.
    * `dedup` opts in to the in-buffer (score, id) repeat skip — only
    * the LSH consumers need it; the brute-force stream is repeat-free
    * and should not pay the containment scan.
    */
  private def topKByQuery(cands: DataFrame, k: Int, dedup: Boolean = true): DataFrame =
    cands.groupBy(col("query_id"))
      .agg((if (dedup) topKDistinct(col("sim"), col("neighbor_id"), k)
            else topK(col("sim"), col("neighbor_id"), k)).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("_pos", "_e")))
      .select(col("query_id"), col("_e.id").as("neighbor_id"),
        col("_e.score").as("sim"), (col("_pos") + 1).cast("long").as("rank"))

  /** HARD-NEGATIVE mining for contrastive training: each anchor's
    * top-k most-similar vectors with a DIFFERENT label — similar
    * enough to be confusable, labeled differently, which is exactly
    * what a contrastive loss needs to see. Candidates ride the same
    * LSH bucket self-join as [[knnGraph]]; the label filter runs
    * BEFORE the per-anchor window so the top-k is the top-k of the
    * negatives, not a post-filtered top-k of everything.
    */
  def hardNegatives(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String, k: Int,
      tables: Int = 8, bits: Int = 0): DataFrame = {
    val labels = df.select(col(idCol).cast("long").as("vid"), col(labelCol).as("lbl"))
    val filtered = symCandidates(df, idCol, vecCol, tables, resolveBits(df, bits))
      .join(labels.select(col("vid").as("query_id"), col("lbl").as("_lq")), "query_id")
      .join(labels.select(col("vid").as("neighbor_id"), col("lbl").as("_ln")), "neighbor_id")
      .where(col("_lq") =!= col("_ln"))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    // neg_label rejoins AFTER the top-k: the rank aggregate sees only
    // (query, neighbor, sim) and the label join runs over |queries|·k
    // survivors, not the full candidate multiset
    topKByQuery(filtered, k)
      .join(labels.select(col("vid").as("neighbor_id"), col("lbl").as("neg_label")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("neg_label"), col("rank"))
  }

  /** HNSW-style GRAPH-ANN probe: greedy beam search over a precomputed
    * kNN graph ([[knnGraph]]'s output — the single-layer navigable
    * graph; HNSW's hierarchy buys hop count on a single machine, while
    * here each hop is one broadcast join round, so a flat graph with a
    * slightly wider beam is the Spark-native shape).
    *
    * Search: seed every query with a deterministic HASH-SPREAD entry
    * set — the `entryPoints` corpus ids with the smallest
    * md5(id) — then `rounds` times expand the current per-query beam
    * through the graph's out-edges, score the unvisited frontier
    * EXACTLY on the raw vectors, and keep the best `beam` per query.
    * Result: exact top-k of everything visited — like every ANN path
    * here, scores are exact and only recall is approximate (it
    * depends on graph degree, beam, rounds, entry count).
    *
    * FIXED search parameters are what made recall fall with corpus
    * growth (round-13 verdict #7 — 0.90 at 500 vectors, 0.46-0.58 at
    * 2,000 with beam=32/rounds=4/entries=4: a bounded walk visits a
    * bounded set while the target neighborhoods spread). Passing 0
    * (the defaults for `entryPoints`, and opt-in for `beam`/`rounds`)
    * AUTO-SIZES by corpus count N, measured at the recall knee
    * (BASELINE.md "Graph-ANN auto-sized search"):
    *  - entries: ⌈√N⌉ (min 4) — seed coverage must scale with N; the
    *    seed pool stays |queries|·√N, sub-linear and broadcast-sized.
    *    This is the flat-graph answer to HNSW's hierarchy, whose top
    *    layers are exactly a shrinking entry cascade — here extra
    *    layers would each cost a broadcast-join round, while √N seeds
    *    cost rows in the SAME first round.
    *  - beam: max(2k, 3·√N), rounds: 3 — WIDE beam, FEW rounds: a
    *    round costs fixed job-launch overhead (4 broadcast joins)
    *    while beam costs only frontier rows, so buying recall with
    *    beam is near-free and buying it with rounds is not.
    * Measured on the LSH-built deg-8 graph (k=10): recall 0.98 / 0.90
    * / 0.64 at N = 500 / 2,000 / 20,000 vs 0.86 / 0.46 / 0.20 fixed —
    * at EQUAL or lower wall (3.3 / 3.2 / 4.0 s vs 6.0 / 3.6 / 4.2 s).
    *
    * Scale shape: the per-round frontier is ≤ |queries|·beam·degree
    * rows — broadcast against the STATIONARY graph and corpus tables
    * (neither ever shuffles; the corpus join is refineExact's shape).
    * Visited sets ride eager checkpoints, released per round; a
    * failure releases everything staged (the LabelProp discipline).
    * Determinism: all ranks tie-break on neighbor_id, so results are
    * reproducible run to run (the oracle counts on it).
    */
  def graphSearch(
      graph: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      beam: Int = 16, rounds: Int = 3, entryPoints: Int = 0): DataFrame = {
    require(k >= 1 && (beam >= k || beam == 0),
      s"need beam >= k >= 1 (or beam = 0 = auto), got beam=$beam k=$k")
    require(rounds >= 0 && entryPoints >= 0,
      s"rounds/entryPoints must be >= 0 (0 = auto-size by corpus), got $rounds/$entryPoints")
    // every eager checkpoint registers here; the failure path releases
    // them all (a half-run search must not strand block-manager storage)
    val staged = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def stage(df: DataFrame): DataFrame = { val cp = df.localCheckpoint(true); staged += cp; cp }
    try {
      val c = stage(prep(corpus, idCol, vecCol))
      val q = stage(prep(queries, idCol, vecCol)
        .select(col("vid").as("query_id"), col("v").as("qv")))
      val edges = stage(graph
        .select(col("query_id").as("_src"), col("neighbor_id").as("_dst")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      // pool: (query_id, neighbor_id) → exact-scored rows. The corpus
      // side stays put; the tiny pool broadcasts.
      def score(pool: DataFrame): DataFrame =
        c.join(broadcast(pool), c("vid") === pool("neighbor_id"))
          .join(broadcast(q), "query_id")
          .where(col("vid") =!= col("query_id")) // family convention: no self-matches
          .select(col("query_id"), col("neighbor_id"), dot(col("qv"), col("v")).as("sim"))
      // auto-sized hash-spread entries (see the search doc): md5 order
      // is a deterministic pseudo-random spread over the corpus — the
      // smallest-id entry set this replaces concentrated all seeds in
      // one id range, which is as bad as one seed when ids correlate
      // with insert order. The vid tie-break keeps md5 collisions (or
      // truncation ties) deterministic.
      // The corpus count is ONLY needed to auto-size: a caller pinning
      // all three params must not pay a full-corpus job per search
      // (advice r14) — lazy, computed at most once.
      lazy val sqrtN = math.ceil(math.sqrt(c.count().toDouble)).toLong
      val nEntries = if (entryPoints > 0) entryPoints.toLong else math.max(4L, sqrtN)
      // WIDE beam, FEW rounds (the auto shape): a round costs fixed
      // job-launch overhead (4 broadcast joins) while beam costs only
      // frontier ROWS — measured at sf0.1 (BASELINE.md "Graph-ANN
      // auto-sized search"): 3√N beam × 3 rounds reaches 0.90 recall
      // in 3.8 s where 1.5√N × 6 rounds reached 0.80 in 8.9 s. Rows stay sub-linear: |queries|·3√N·deg.
      val nBeam =
        if (beam > 0) beam.toLong
        else math.max(2L * k, 3L * sqrtN)
      val nRounds = if (rounds > 0) rounds.toLong else 3L
      val entry = c.select(col("vid"))
        .orderBy(md5(col("vid").cast("string")), col("vid")).limit(nEntries.toInt)
      var visited = stage(score(
        q.select(col("query_id")).crossJoin(entry.select(col("vid").as("neighbor_id")))))
      var r = 0
      while (r < nRounds) {
        val frontier = visited.withColumn("_rk", row_number().over(w))
          .where(col("_rk") <= nBeam).select(col("query_id"), col("neighbor_id"))
        val expand = frontier.join(edges, frontier("neighbor_id") === edges("_src"))
          .select(col("query_id"), col("_dst").as("neighbor_id")).distinct()
          .join(visited.select(col("query_id"), col("neighbor_id")),
            Seq("query_id", "neighbor_id"), "left_anti")
        visited = stage(visited.unionAll(score(expand)))
        r += 1
      }
      // release everything staged EXCEPT the final visited set — the
      // returned plan references that checkpoint, so the caller's
      // Lineage.release(result) frees it
      staged.dropRight(1).foreach(Lineage.release(_))
      visited.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
    } catch {
      case e: Throwable => staged.foreach(Lineage.release(_)); throw e
    }
  }

  /** Deterministic ±1 hyperplane for (table, plane): md5-derived signs,
    * computed ONCE on the driver and shipped as a literal array — the
    * runtime does a plain dot per plane instead of millions of
    * row-independent md5 calls.
    */
  /** The ±1 sign family itself — exposed (package-private) so the
    * DuckDB oracle for the LSH queries can embed the IDENTICAL planes
    * as SQL literals and replicate the full bucket/candidate pipeline.
    */
  private[graft] def planeSigns(table: Int, plane: Int, dims: Int): IndexedSeq[Double] = {
    val mdHex = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until dims).map { d =>
      if (mdHex(s"$table:$plane:$d").charAt(0) < '8') 1d else -1d
    }
  }

  /** (vid, table, bucket) rows for an L-table, b-bit hyperplane LSH.
    *
    * ONE scan, ONE expression: all L×b projections are computed per
    * row by the codegen [[graft.expressions.HyperplaneSigs]] kernel on
    * the RAW double vector (hyperplane signs are scale-invariant, so
    * skipping normalization changes no bucket) and posexploded — not
    * L unioned re-scans, not L×b separate literal-array folds (the
    * composed `when(dot(v, planeLit) > 0, …)` tree this replaced
    * dominated the family's runtime at auto-sized widths). Buckets are
    * bit-identical to the composed tree — the expression runs the same
    * sequential folds over the same planeSigns constants — so every
    * replicated-plane oracle transfers unchanged.
    */
  def lshBuckets(
      df: DataFrame, idCol: String, vecCol: String,
      tables: Int, bits: Int, dims: Int = 0): DataFrame = {
    // bucket ids are built as Int bit-ors of (1 << p): p = 31 flips the
    // sign bit and p >= 32 wraps, silently aliasing planes into the same
    // bit and collapsing buckets — fail loudly instead
    require(bits >= 1 && bits <= 30, s"bits must be in [1,30], got $bits")
    require(tables >= 1, s"tables must be >= 1, got $tables")
    val d = if (dims > 0) dims else inferDims(df, vecCol)
    val flat = new Array[Double](tables * bits * d)
    for (t <- 0 until tables; p <- 0 until bits) {
      val signs = planeSigns(t, p, d)
      var i = 0
      while (i < d) { flat((t * bits + p) * d + i) = signs(i); i += 1 }
    }
    val p = fanOut(df).select(col(idCol).as("vid"), vecD(col(vecCol)).as("v"))
    val sigsCol = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.HyperplaneSigs(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("v")),
        flat, tables, bits, d))
    // a NULL vector's composed tree yielded bucket 0 in every table
    // (null dot → unset bit); coalesce preserves that contract
    val zeros = array(Seq.fill(tables)(lit(0)): _*)
    p.select(col("vid"), col("v"),
        posexplode(coalesce(sigsCol, zeros)).as(Seq("table", "bucket")))
  }

  /** Approximate top-k: candidates from any shared (table, bucket), then
    * exact cosine re-scoring. Deterministic given (tables, bits).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, tables: Int = 8, bits: Int = 0): DataFrame = {
    // infer dims ONCE from the corpus and share with the query side:
    // independent inference on mismatched inputs would hash the two
    // sides with unrelated plane families and silently join garbage;
    // auto bits likewise derives from the CORPUS count only
    val dims = inferDims(corpus, vecCol)
    val b = resolveBits(corpus, bits)
    val cb = lshBuckets(corpus, idCol, vecCol, tables, b, dims)
    val qb = lshBuckets(queries, idCol, vecCol, tables, b, dims)
      .select(col("vid").as("query_id"), col("v").as("qv"), col("table"), col("bucket"))
    // Score IN-ROW at the bucket join, then rank through the dedup heap
    // aggregate: the old shape (dropDuplicates on ids first, cosine
    // after) shuffled every candidate row still CARRYING both raw
    // vectors (~1 KB/row at 64 dims) just to dedup multi-table
    // collisions; scoring first shuffles 24-byte (query, neighbor, sim)
    // rows and the in-buffer dedup replaces the distinct — sound
    // because the cosine is a deterministic function of the pair, so
    // repeats are bit-identical. A pair colliding in t tables is scored
    // t times, but a dot is cheap (the nearDupPairsApprox trade-off,
    // measured there at ~3×).
    cb.join(qb, Seq("table", "bucket"))
      .where(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("sim"))
      .transform(topKByQuery(_, k))
  }

  /** Corpus-size gate for the broadcast all-pairs kernel below:
    * rows × dims ≤ 32M elements ≈ 256 MB of primitive doubles on the
    * driver and per executor — the Components/BPE driver-gate sizing
    * discipline. Exact all-pairs is definitionally O(N²); this gate is
    * about where the MATRIX fits, the quadratic work is the operator's
    * contract either way (the 100 TB lane is [[nearDupPairsApprox]]).
    */
  private[graft] val MaxBruteKernelElements: Long = 32L * 1000 * 1000

  /** Exact near-duplicate pairs by cosine ≥ tau (upper-triangle brute
    * kernel over unit vectors — the exact baseline; `nearDupPairsApprox`
    * is the scale path).
    *
    * Under the element gate (and a bigint id — the kernel emits longs)
    * the scoring runs as a BROADCAST MATRIX KERNEL: the prepped
    * (id, unit-vector) matrix is collected once, broadcast, and each
    * task scores a hash-striped slice of the upper triangle with a
    * primitive loop, emitting only the ≥ tau survivors. The crossJoin
    * formulation it replaces materialized a ~1 KB UnsafeRow (both raw
    * 64-dim vectors) per candidate pair BEFORE the dot+filter — at
    * sf1 that is 200M pairs × 1 KB of nested-loop-join row traffic for
    * a pair set that fits in one screen (measured r15: q57 family
    * 8-10 s → see BASELINE; the kernel path is the whole win).
    * Bit-identical by construction: the matrix is collected AFTER the
    * same `prep` normalization, the loop replays [[ArrayDotProduct]]'s
    * ascending-index fold on the same doubles, and rows any crossJoin
    * pair would null out (null vector, null element, length mismatch)
    * are excluded up front / per pair (null sims never pass ≥ tau).
    * NearDupKernelSpec pins kernel ≡ crossJoin on the fixture.
    */
  def nearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      maxKernelElements: Long = MaxBruteKernelElements): DataFrame = {
    val p = prep(df, idCol, vecCol)
    val idIsLong = p.schema("vid").dataType ==
      org.apache.spark.sql.types.LongType
    lazy val dims = inferDims(df, vecCol).toLong
    lazy val n = df.count()
    if (idIsLong && maxKernelElements > 0 && n * dims <= maxKernelElements) {
      // pairs involving a null vector, a null element, or (per pair) a
      // length mismatch score to NULL in the crossJoin formulation and
      // are dropped by `sim >= tau`; null-carrying rows can therefore
      // be excluded before the collect (lengths stay per-pair checks —
      // two short vectors still pair with each other)
      val spark = df.sparkSession
      import spark.implicits._
      val mat = p
        .where(col("v").isNotNull && forall(col("v"), _.isNotNull))
        .select(col("vid"), col("v"))
        .as[(Long, Array[Double])].collect()
        .sortBy(_._1) // index order = id order, so j > i ⇔ id_b > id_a
      val bc = spark.sparkContext.broadcast(mat)
      val nn = mat.length
      val parts = math.max(1, math.min(nn,
        spark.sparkContext.defaultParallelism * 4))
      // hash-striping the row indices balances the triangle: row i has
      // nn−i−1 pairs, but a murmur-hashed stripe mixes long and short
      // rows uniformly across tasks
      spark.range(0, nn.toLong).repartition(parts).as[Long]
        .mapPartitions { it =>
          // imperative inner loops, survivors buffered per row: a
          // per-pair Option/closure would allocate 200M objects at sf1
          // for a survivor set of a few thousand (measured 2× the whole
          // kernel cost)
          val m = bc.value
          it.flatMap { iL =>
            val i = iL.toInt
            val vi = m(i)._2
            val ida = m(i)._1
            val len = vi.length
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
            var j = i + 1
            while (j < m.length) {
              val vj = m(j)._2
              // duplicate ids never pair under the strict id_a < id_b
              // of the crossJoin formulation
              if (vj.length == len && m(j)._1 != ida) {
                // ArrayDotProduct's fold, verbatim
                var acc = 0.0
                var d = 0
                while (d < len) { acc += vi(d) * vj(d); d += 1 }
                if (acc >= tau) out += ((ida, m(j)._1, acc))
              }
              j += 1
            }
            out.iterator
          }
        }.toDF("id_a", "id_b", "sim")
    } else {
      val a = p.select(col("vid").as("id_a"), col("v").as("va"))
      val b = p.select(col("vid").as("id_b"), col("v").as("vb"))
      a.crossJoin(b).where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), dot(col("va"), col("vb")).as("sim"))
        .where(col("sim") >= tau)
    }
  }

  /** Approximate near-duplicate pairs: candidates from shared LSH
    * buckets (shuffle join on (table, bucket) — never O(N²)), then
    * exact cosine verification of each candidate. Recall depends on
    * (tables, bits) vs tau; every REPORTED pair is exactly verified.
    *
    * Verification happens IN-ROW during the bucket self-join: the
    * bucket table already carries the vector, so the unit-normalized
    * copy rides along and the cosine is computed the moment a pair
    * collides, with the distinct taken on the tiny SURVIVING pair set.
    * The alternative (distinct the candidate ids, then re-join vectors
    * by id) shuffles the full candidate set — orders of magnitude
    * larger than the survivors at recall-oriented (tables, bits) — plus
    * two more joins; measured ~3× slower at sf0.1. A pair colliding in
    * k tables is verified k times, but a dot product is cheap and the
    * duplicates never survive the final distinct (sim is a
    * deterministic function of the pair, so distinct is exact).
    */
  def nearDupPairsApprox(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      tables: Int = 8, bits: Int = 0): DataFrame =
    approxScoredPairs(df, idCol, vecCol, tau, tables, bits).distinct()

  /** The shared LSH candidate/verify kernel, PRE-distinct: each
    * verified pair appears once per colliding table. `nearDupPairsApprox`
    * adds the `distinct()` (its contract is a pair SET); the top-k
    * consumers ([[knnGraph]]/[[hardNegatives]]) skip it — their bounded
    * top-k aggregate dedups in-buffer, so the candidate multiset never
    * crosses the wire twice (once for distinct, once for the rank).
    */
  private[operators] def approxScoredPairs(
      df: DataFrame, idCol: String, vecCol: String, tau: Double,
      tables: Int, bits: Int): DataFrame = {
    // Materialized ONCE via eager localCheckpoint: both self-join sides
    // read the same blocks (Catalyst clones the subtree per side — left
    // lazy, the scan+signature pipeline would run twice), and unlike
    // persist() the blocks are released by the ContextCleaner as soon as
    // the returned frame is unreachable — repeated calls (q94 and q95
    // each build their own) don't accumulate session-lifetime cache
    // entries. Trade-off: truncated lineage means executor loss fails
    // the job instead of recomputing the bucket table.
    // Normalization here (element ÷ norm, then a plain dot) keeps the
    // operation sequence bit-identical to nearDupPairs/the oracle.
    // PLAIN checkpoint, deliberately NOT checkpointByKey (measured,
    // round-10 continuation): a (table, bucket)-co-partitioned staging
    // makes the self-join exchange-free but pins it to the fixed
    // shuffle layout — real LSH buckets are CORRELATED, so one hot
    // bucket lands whole in one task and AQE's skew-join splitting
    // (which needs an exchange to act on) never runs. At sf10 the
    // co-partitioned shape was 20-60% slower on the distinct-path
    // consumers (q94 9.3 vs 7.8 s, q95 15.5 vs 8.3, q203 18.7 vs 9.8;
    // BENCH_FORENSICS_r10c_sf10 vs the plain re-measure) and neutral
    // for the top-k consumers. Letting the self-join shuffle under AQE
    // buys skew splitting + runtime planning for one extra pass over
    // the ~0.5 KB/row bucket table — the right trade at every measured
    // scale. (Contrast the BANDED dedup stagings in Dedup/Multimodal,
    // which keep checkpointByKey: their md5/banded keys are uniform by
    // construction, so the skew hazard doesn't exist and the saved
    // shuffle wins — measured at sf10: q34 16.4 vs 21.7, q55 4.0 vs
    // 5.8.)
    val b =
      lshBuckets(df, idCol, vecCol, tables, resolveBits(df, bits))
        .select(col("vid"), col("table"), col("bucket"), normalized(col("v")).as("vn"))
        .localCheckpoint()
    b.as("x").join(b.as("y"),
        col("x.table") === col("y.table") && col("x.bucket") === col("y.bucket") &&
          col("x.vid") < col("y.vid"))
      .select(col("x.vid").as("id_a"), col("y.vid").as("id_b"),
        dot(col("x.vn"), col("y.vn")).as("sim"))
      .where(col("sim") >= tau)
  }
}
