package graft.queries

import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.operators.Similarity

/** Similarity-search coverage over the `embeddings` fixture
  * (`array<float>` × 64). The brute-force kernels carry DuckDB oracles —
  * both engines compute the identical sequential double fold, so raw
  * cosine values hash-match. The LSH variant is the scale path
  * (bucket-join candidates, never O(N²)); its recall is spec-verified
  * against the brute baseline rather than oracle-matched.
  */
object VectorQueries {

  /** Shared oracle prelude: embeddings as double vectors, plus the
    * unit-normalized copy mirroring Similarity.prep (norm computed once,
    * element-wise division — same operation sequence, bit-identical).
    */
  private[queries] val vecCte =
    """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
      |           FROM embeddings),
      |nrm AS (SELECT vec_id, label,
      |          list_transform(v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b))) vn
      |        FROM e)""".stripMargin

  /** Reduced-assertion oracle (q97 precedent) shared by the
    * data-dependent ANN paths (q48 IVF, q112 PQ, q113 IVF-PQ): their
    * float codebooks/centroids cannot be replicated in static SQL, so
    * the query instead RETURNS the exact brute-force top-k — which
    * DuckDB recomputes independently and hash-matches bit-for-bit
    * (q41's fold idiom) — plus one flag column asserting the ANN
    * path's mean recall@k against that same exact set cleared `floor`.
    * The oracle pins the flag to 1: a recall regression flips the row
    * to a hash mismatch. Spark side of the contract:
    * [[exactAnchoredRecall]].
    */
  private[queries] def bruteTopKRecallOracle(k: Int): String = s"""
    $vecCte,
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        list_reduce(list_transform(generate_series(1, len(q.vn)),
          i -> q.vn[i] * c.vn[i]), (x, y) -> x + y) AS sim
      FROM nrm q JOIN nrm c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
      FROM pairs)
    SELECT query_id, neighbor_id, sim, rank, CAST(1 AS BIGINT) AS recall_ok
    FROM ranked WHERE rank <= $k
  """

  /** Spark side of [[bruteTopKRecallOracle]]: exact brute-force top-k
    * rows with `recall_ok` = (mean recall@k of `ann` vs that exact set
    * ≥ floor) attached as a one-row broadcast stat. Each query
    * contributes exactly k exact rows, so the overall hit fraction IS
    * the mean per-query recall. The floor is picked per path from
    * measured recalls at sf0.01/sf0.1 with ≥2× margin, far above the
    * k/N chance level (~0.002 on the fixture).
    */
  private[queries] def exactAnchoredRecall(
      emb: org.apache.spark.sql.DataFrame, ann: org.apache.spark.sql.DataFrame,
      k: Int, floor: Double,
      staged: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    // staged: the brute-force subtree feeds BOTH the output rows and
    // the recall flag — without the checkpoint Spark executes the
    // corpus-wide scored join + window twice per run. A bench `prepare`
    // can pass the checkpointed anchors in (`staged`) so the oracle's
    // exact recompute doesn't ride inside the timed probe.
    val exact = staged.getOrElse(exactAnchors(emb, k))
    val flag = exact.select(col("query_id"), col("neighbor_id"))
      .join(ann.select(col("query_id"), col("neighbor_id")).distinct()
        .withColumn("_hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
      .agg((sum(coalesce(col("_hit"), lit(0L))) / count(lit(1))).as("_recall"))
      .select((col("_recall") >= floor).cast("long").as("recall_ok"))
    exact.crossJoin(broadcast(flag))
  }

  /** The exact brute-force anchor set [[exactAnchoredRecall]] compares
    * against, checkpointed eagerly — exposed so bench `prepare` hooks
    * can stage it outside the timed probe.
    */
  private[queries] def exactAnchors(
      emb: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame =
    Similarity.bruteForceTopK(
        emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
      .localCheckpoint(true)

  /** SQL fragments replicating Similarity's md5-derived hyperplane LSH
    * in DuckDB: identical plane family (via Similarity.planeSigns),
    * identical sequential-fold projections, identical b-bit sign-mask
    * buckets. Generated, not handwritten — the plane literals are ~6 KB
    * of ±1 arrays. Shared by the lshTopK oracle (q42) and the
    * approximate near-dup oracles (q94/q95).
    */
  private def planeLitSql(t: Int, p: Int, dims: Int): String =
    Similarity.planeSigns(t, p, dims)
      .map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ",", "]")

  private def foldSql(vExpr: String, wExpr: String, dims: Int): String =
    s"list_reduce(list_transform(generate_series(1, $dims), i -> $vExpr[i] * $wExpr[i]), (a, b) -> a + b)"

  /** AUTO-SIZED signature width, in SQL: `nb` counts the corpus and
    * `ab` replicates Similarity.autoBits' integer derivation exactly
    * (smallest b in [1, AutoMaxBits] with 2^b·targetBucket ≥ n, else
    * AutoMaxBits) — so the oracle tracks the engine's derived width at
    * ANY scale factor without editing SQL. Pure integer arithmetic on
    * both sides: no float log2 rounding to diverge on.
    */
  private def autoBitsCtes: String =
    s"""nb AS (SELECT count(*) AS n FROM embeddings),
       ab AS (SELECT coalesce(min(CASE WHEN (CAST(1 AS BIGINT) << p) * ${Similarity.AutoTargetBucket} >= nb.n THEN p END), ${Similarity.AutoMaxBits}) AS b
              FROM generate_series(1, ${Similarity.AutoMaxBits}) t(p), nb)"""

  /** Dynamic-width bucket: plane literals are embedded for ALL
    * AutoMaxBits planes per table, each term guarded FIRST by
    * `p >= ab.b` so DuckDB short-circuits the folds beyond the derived
    * width (the engine computes exactly `b` planes; the guarded sum is
    * the same value).
    */
  private def bucketSqlDyn(vExpr: String, t: Int, dims: Int): String =
    (0 until Similarity.AutoMaxBits).map(p =>
      s"(CASE WHEN $p >= ab.b THEN 0 WHEN ${foldSql(vExpr, s"(${planeLitSql(t, p, dims)})", dims)} > 0 THEN ${1 << p} ELSE 0 END)")
      .mkString(" + ")

  private def bucketLegsSqlDyn(tables: Int, dims: Int): String =
    (0 until tables).map(t =>
      s"SELECT vec_id, v, $t AS tbl, ${bucketSqlDyn("v", t, dims)} AS bucket FROM e, ab")
      .mkString("\nUNION ALL\n")

  /** CTE chain replicating Similarity.nearDupPairsApprox end to end:
    * auto-width buckets ([[autoBitsCtes]]) → distinct candidate pairs
    * (id_a < id_b sharing any (table, bucket)) → exact cosine
    * verification on the unit-normalized vectors. Terminal CTE:
    * aprs(id_a, id_b, sim).
    */
  private def approxPairsCtesAuto(tau: Double, tables: Int, dims: Int): String =
    approxPairsCtesWith(tau, dims, bucketLegsSqlDyn(tables, dims),
      extraCtes = s"$autoBitsCtes,\n       ")

  private def approxPairsCtesWith(
      tau: Double, dims: Int, legs: String, extraCtes: String): String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       nrmx AS (SELECT vec_id,
           list_transform(v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b))) vn
         FROM e),
       $extraCtes bk AS (
         $legs),
       cand AS (
         SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
         FROM bk x JOIN bk y
           ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       aprs AS (
         SELECT * FROM (
           SELECT cand.id_a, cand.id_b,
             ${foldSql("a.vn", "b.vn", dims)} AS sim
           FROM cand
           JOIN nrmx a ON a.vec_id = cand.id_a
           JOIN nrmx b ON b.vec_id = cand.id_b) t
         WHERE sim >= $tau)"""

  /** DuckDB replica of Similarity.lshTopK — full algorithm, so the
    * approximate result hash-matches bit-for-bit.
    */
  private def lshOracleSql(tables: Int, dims: Int, k: Int): String = {
    def fold(vExpr: String, wExpr: String): String = foldSql(vExpr, wExpr, dims)
    s"""
      WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
      $autoBitsCtes,
      bk AS (
        ${bucketLegsSqlDyn(tables, dims)}),
      q AS (SELECT vec_id AS query_id, tbl, bucket FROM bk WHERE vec_id < 5),
      cand AS (
        SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
        FROM bk c JOIN q ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id <> q.query_id),
      scored AS (
        SELECT cand.query_id, cand.neighbor_id,
          ${fold("qe.v", "ce.v")} /
            (sqrt(${fold("qe.v", "qe.v")}) * sqrt(${fold("ce.v", "ce.v")})) AS sim
        FROM cand
        JOIN e qe ON qe.vec_id = cand.query_id
        JOIN e ce ON ce.vec_id = cand.neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, sim,
          row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= $k
    """
  }

  val queries: Seq[GraftQuery] = Seq(

    // ---- q40: L2 norms — the float-parity canary (raw doubles) ----
    GraftQuery(
      "q40_vector_norms",
      (s, d) => {
        import graft.functions.VectorFunctions._
        Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            normL2(vecD(col("embedding"))).as("norm"))
      },
      Some(s"""
        $vecCte
        SELECT vec_id, label,
          sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS norm
        FROM e
      """)),

    // ---- q41: exact top-10 cosine neighbors for 5 query vectors ----
    GraftQuery(
      "q41_knn_bruteforce",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(
            emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
      },
      Some(s"""
        $vecCte,
        pairs AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            list_reduce(list_transform(generate_series(1, len(q.vn)),
              i -> q.vn[i] * c.vn[i]), (x, y) -> x + y) AS sim
          FROM nrm q JOIN nrm c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 5),
        ranked AS (
          SELECT query_id, neighbor_id, sim,
            row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
          FROM pairs)
        SELECT query_id, neighbor_id, sim, rank FROM ranked WHERE rank <= 10
      """)),

    // ---- q42: LSH-bucketed approximate top-k (scale path). The oracle
    //      replicates the ENTIRE algorithm — the md5-derived ±1
    //      hyperplanes are embedded as SQL literals (identical family to
    //      Similarity.planeLit), buckets are sign masks of the
    //      sequential-fold projections at the AUTO-DERIVED width (the
    //      SQL re-derives bits from COUNT(*) with the same integer
    //      formula as Similarity.autoBits, keeping bucket SIZE constant
    //      as data grows), candidates come from the same (table,
    //      bucket) equi-join, and the final cosine is the same
    //      raw-double fold — so even the approximate result hash-matches
    //      bit-for-bit at any scale factor. Recall vs brute force is
    //      additionally spec-verified. ----
    GraftQuery(
      "q42_ann_lsh",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.lshTopK(
            emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
            k = 10, tables = 8)
          .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
      },
      Some(lshOracleSql(tables = 8, dims = 64, k = 10))),

    // ---- q49: array function family (size/sort/slice/element_at/
    //      filter/aggregate) over the embedding arrays. Output columns
    //      are all SCALAR: the driver's oracle compare sorts rows with
    //      pandas, which cannot hash raw array cells — the top-3 slice
    //      is therefore projected element-wise, not returned as a list.
    GraftQuery(
      "q49_array_ops",
      (s, d) => {
        import graft.functions.VectorFunctions.vecD
        val top3 = slice(sort_array(vecD(col("embedding")), asc = false), 1, 3)
        Tables.embeddings(s, d)
          .select(
            col("vec_id"),
            size(col("embedding")).cast("long").as("dim"),
            element_at(top3, 1).as("top1"),
            element_at(top3, 2).as("top2"),
            element_at(top3, 3).as("top3"),
            element_at(vecD(col("embedding")), 1).as("first_val"),
            size(filter(vecD(col("embedding")), x => x > 0d)).cast("long").as("n_positive"),
            aggregate(vecD(col("embedding")), lit(0d), (a, x) => a + x).as("sum_val"))
      },
      Some("""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        s AS (SELECT vec_id, v, list_sort(v, 'DESC') sv FROM e)
        SELECT vec_id,
          CAST(len(v) AS BIGINT) AS dim,
          sv[1] AS top1,
          sv[2] AS top2,
          sv[3] AS top3,
          v[1] AS first_val,
          CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_positive,
          list_reduce(list_prepend(CAST(0 AS DOUBLE), v), (a, b) -> a + b) AS sum_val
        FROM s
      """)),

    // ---- q43: exact near-dup pairs by cosine ≥ 0.4 (corpus max is
    //      0.513 — threshold chosen to yield a non-trivial result) ----
    GraftQuery(
      "q43_embedding_neardup",
      (s, d) => Similarity.nearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding", tau = 0.4),
      Some(s"""
        $vecCte
        SELECT * FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            list_reduce(list_transform(generate_series(1, len(a.vn)),
              i -> a.vn[i] * b.vn[i]), (x, y) -> x + y) AS sim
          FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id) t
        WHERE sim >= 0.4
      """)),

    // ---- q57: near-dup pairs → duplicate GROUPS (connected components
    //      by iterative min-label propagation; the oracle replicates it
    //      with a recursive transitive-closure CTE — labels are min
    //      reachable ids on both sides, so results match exactly) ----
    GraftQuery(
      "q57_dedup_clusters",
      (s, d) => {
        val pairs = Similarity.nearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding", tau = 0.4)
        graft.operators.Components.dupGroups(pairs, "id_a", "id_b")
      },
      Some(s"""
        WITH RECURSIVE
        e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        nrm2 AS (SELECT vec_id,
            list_transform(v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b))) vn
          FROM e),
        prs AS (
          SELECT * FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              list_reduce(list_transform(generate_series(1, len(a.vn)),
                i -> a.vn[i] * b.vn[i]), (x, y) -> x + y) AS sim
            FROM nrm2 a JOIN nrm2 b ON a.vec_id < b.vec_id) t
          WHERE sim >= 0.4),
        edges AS (
          SELECT id_a AS s, id_b AS d FROM prs
          UNION SELECT id_b, id_a FROM prs),
        reach(node, r) AS (
          SELECT s, s FROM edges
          UNION
          SELECT reach.node, edges.d FROM reach JOIN edges ON edges.s = reach.r),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
        SELECT component AS keep_id, count(*) AS n_members
        FROM comp GROUP BY component
      """)),

    // ---- q59: the end-to-end near-dup DROP — corpus minus every
    //      non-survivor (component members that aren't the min id).
    //      Anti-join against the loser set; losers are broadcast-sized
    //      so the corpus side never shuffles ----
    GraftQuery(
      "q59_dedup_survivors",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", tau = 0.4)
        graft.operators.Components
          .dropNearDuplicates(emb, "vec_id", pairs, "id_a", "id_b")
          .select(col("vec_id"), col("label"))
      },
      Some(s"""
        WITH RECURSIVE
        e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        nrm2 AS (SELECT vec_id,
            list_transform(v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b))) vn
          FROM e),
        prs AS (
          SELECT * FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              list_reduce(list_transform(generate_series(1, len(a.vn)),
                i -> a.vn[i] * b.vn[i]), (x, y) -> x + y) AS sim
            FROM nrm2 a JOIN nrm2 b ON a.vec_id < b.vec_id) t
          WHERE sim >= 0.4),
        edges AS (
          SELECT id_a AS s, id_b AS d FROM prs
          UNION SELECT id_b, id_a FROM prs),
        reach(node, r) AS (
          SELECT s, s FROM edges
          UNION
          SELECT reach.node, edges.d FROM reach JOIN edges ON edges.s = reach.r),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        losers AS (SELECT node FROM comp WHERE node <> component)
        SELECT vec_id, label FROM e
        WHERE vec_id NOT IN (SELECT node FROM losers)
      """)),

    // ---- q125: quality-aware near-dup retention — per cluster keep
    //      the HIGHEST-quality member (label as the quality stand-in;
    //      ties → lowest id), the production policy "keep the best
    //      copy", vs q59's min-id canonical survivor. Same component
    //      machinery, survivor election is a per-component window over
    //      members only. Oracle: q57's closure CTE + a rank window. ----
    GraftQuery(
      "q125_dedup_best_quality",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", tau = 0.4)
        graft.operators.Components
          .dropNearDuplicatesByQuality(emb, "vec_id", pairs, "id_a", "id_b", "label")
          .select(col("vec_id"), col("label"))
      },
      Some(s"""
        WITH RECURSIVE
        e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        nrm2 AS (SELECT vec_id,
            list_transform(v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b))) vn
          FROM e),
        prs AS (
          SELECT * FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              list_reduce(list_transform(generate_series(1, len(a.vn)),
                i -> a.vn[i] * b.vn[i]), (x, y) -> x + y) AS sim
            FROM nrm2 a JOIN nrm2 b ON a.vec_id < b.vec_id) t
          WHERE sim >= 0.4),
        edges AS (
          SELECT id_a AS s, id_b AS d FROM prs
          UNION SELECT id_b, id_a FROM prs),
        reach(node, r) AS (
          SELECT s, s FROM edges
          UNION
          SELECT reach.node, edges.d FROM reach JOIN edges ON edges.s = reach.r),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        ranked AS (
          SELECT c.node,
            row_number() OVER (PARTITION BY c.component
              ORDER BY m.label DESC, c.node) AS rk
          FROM comp c JOIN e m ON m.vec_id = c.node),
        losers AS (SELECT node FROM ranked WHERE rk > 1)
        SELECT vec_id, label FROM e
        WHERE vec_id NOT IN (SELECT node FROM losers)
      """)),

    // ---- q94: the APPROXIMATE near-dup kernel — the one that survives
    //      100 TB (bucket equi-join candidates, never O(N²)) — oracle-
    //      checked end to end with the q42 technique: the DuckDB SQL
    //      embeds the identical md5-derived plane literals and replicates
    //      buckets → distinct candidates → exact cosine verify, so the
    //      approximate result hash-matches bit-for-bit ----
    GraftQuery(
      "q94_neardup_approx",
      (s, d) => Similarity.nearDupPairsApprox(
        Tables.embeddings(s, d), "vec_id", "embedding", tau = 0.4,
        tables = 8),
      Some(s"""
        WITH ${approxPairsCtesAuto(tau = 0.4, tables = 8, dims = 64)}
        SELECT id_a, id_b, sim FROM aprs
      """)),

    // ---- q95: duplicate clustering over the APPROXIMATE pairs — the
    //      full 100 TB dedup chain (LSH candidates → verify → connected
    //      components), oracle-checked: the recursive transitive-closure
    //      CTE runs over the replicated approximate pair set ----
    GraftQuery(
      "q95_clusters_approx",
      (s, d) => {
        val pairs = Similarity.nearDupPairsApprox(
          Tables.embeddings(s, d), "vec_id", "embedding", tau = 0.4,
          tables = 8)
        graft.operators.Components.dupGroups(pairs, "id_a", "id_b")
      },
      Some(s"""
        WITH RECURSIVE ${approxPairsCtesAuto(tau = 0.4, tables = 8, dims = 64)},
        edges AS (
          SELECT id_a AS s, id_b AS d FROM aprs
          UNION SELECT id_b, id_a FROM aprs),
        reach(node, r) AS (
          SELECT s, s FROM edges
          UNION
          SELECT reach.node, edges.d FROM reach JOIN edges ON edges.s = reach.r),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
        SELECT component AS keep_id, count(*) AS n_members
        FROM comp GROUP BY component
      """)),

    // ---- q154: LEAKAGE-SAFE train/val/test split — the dedup-aware
    //      splitter: near-duplicate documents must land in the SAME
    //      split (a train/test pair of near-dups is evaluation
    //      leakage), so the split hash is taken per CLUSTER (connected
    //      component of the exact near-dup graph; singletons cluster
    //      as themselves), not per document. `n_leaked` audits the
    //      guarantee in-plan: near-dup pairs crossing splits — zero by
    //      construction, and the oracle RECOMPUTES it rather than
    //      pinning a constant. The pair plan is passed raw (one extra
    //      evaluation for the audit join): connectedComponents CONSUMES
    //      checkpoint-backed inputs, so staging it would free the very
    //      blocks the audit still needs. ----
    GraftQuery(
      "q154_leakage_safe_split",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", tau = 0.4)
          .select(col("id_a"), col("id_b"))
        val comp = graft.operators.Components
          .connectedComponents(pairs, "id_a", "id_b")
        val assigned = emb.select(col("vec_id"))
          .join(comp.select(col("node").as("vec_id"), col("component")), Seq("vec_id"), "left")
          .select(col("vec_id"), coalesce(col("component"), col("vec_id")).as("cluster"))
          .withColumn("_m", pmod(graft.functions.TextFunctions.hash60(
            concat(col("cluster").cast("string"), lit(":split"))), lit(10L)))
          .withColumn("split",
            when(col("_m") <= 7, "train").when(col("_m") === 8, "val").otherwise("test"))
        val leak = pairs
          .join(assigned.select(col("vec_id").as("id_a"), col("split").as("_sa")), Seq("id_a"))
          .join(assigned.select(col("vec_id").as("id_b"), col("split").as("_sb")), Seq("id_b"))
          .agg(coalesce(sum(when(col("_sa") =!= col("_sb"), 1L).otherwise(0L)), lit(0L))
            .as("n_leaked"))
        assigned.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster")).as("n_clusters"),
            sum(col("vec_id")).as("id_checksum"))
          .crossJoin(broadcast(leak))
      },
      Some(s"""
        WITH RECURSIVE
        e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        nrm2 AS (SELECT vec_id,
            list_transform(v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b))) vn
          FROM e),
        prs AS (
          SELECT id_a, id_b FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              list_reduce(list_transform(generate_series(1, len(a.vn)),
                i -> a.vn[i] * b.vn[i]), (x, y) -> x + y) AS sim
            FROM nrm2 a JOIN nrm2 b ON a.vec_id < b.vec_id) t
          WHERE sim >= 0.4),
        edges AS (
          SELECT id_a AS s, id_b AS d FROM prs
          UNION SELECT id_b, id_a FROM prs),
        reach(node, r) AS (
          SELECT s, s FROM edges
          UNION
          SELECT reach.node, edges.d FROM reach JOIN edges ON edges.s = reach.r),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        sp AS (
          SELECT vec_id, cluster,
            CASE WHEN m <= 7 THEN 'train' WHEN m = 8 THEN 'val' ELSE 'test' END AS split
          FROM (
            SELECT n.vec_id, coalesce(c.component, n.vec_id) AS cluster,
              CAST(concat('0x', substr(md5(CAST(coalesce(c.component, n.vec_id) AS VARCHAR) || ':split'), 1, 15)) AS BIGINT) % 10 AS m
            FROM e n LEFT JOIN comp c ON c.node = n.vec_id) t),
        leak AS (
          SELECT CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaked
          FROM prs p JOIN sp a ON a.vec_id = p.id_a JOIN sp b ON b.vec_id = p.id_b)
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
          CAST(sum(vec_id) AS BIGINT) AS id_checksum, leak.n_leaked
        FROM sp CROSS JOIN leak
        GROUP BY split, leak.n_leaked
      """)),

    // ---- q203: the PRODUCTION leakage-safe split — q154's chain with
    //      the pair source swapped to the APPROXIMATE kernel
    //      (nearDupPairsApprox: LSH bucket candidates → exact cosine
    //      verify, never O(N²)), so the end-to-end composition that
    //      would actually run at 100 TB is itself oracle-gated: the
    //      DuckDB SQL embeds the identical plane literals (q94/q95
    //      technique), re-derives the approximate pair set, and runs
    //      the same closure + cluster-hash split + leak audit.
    //      Staging discipline: connectedComponents RELEASES its
    //      argument's checkpoint blocks once its edge set is persisted,
    //      so the audit join reads a SEPARATE eager checkpoint taken
    //      before components run; the rebase first frees the LSH
    //      bucket stage the raw plan would otherwise pin. ----
    GraftQuery(
      "q203_leakage_split_approx",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val pairs = graft.operators.Lineage.rebase(
          Similarity.nearDupPairsApprox(emb, "vec_id", "embedding", tau = 0.4,
              tables = 8)
            .select(col("id_a"), col("id_b")))
        val pairsAudit = pairs.localCheckpoint(true)
        val comp = graft.operators.Components
          .connectedComponents(pairs, "id_a", "id_b")
        val assigned = emb.select(col("vec_id"))
          .join(comp.select(col("node").as("vec_id"), col("component")), Seq("vec_id"), "left")
          .select(col("vec_id"), coalesce(col("component"), col("vec_id")).as("cluster"))
          .withColumn("_m", pmod(graft.functions.TextFunctions.hash60(
            concat(col("cluster").cast("string"), lit(":split"))), lit(10L)))
          .withColumn("split",
            when(col("_m") <= 7, "train").when(col("_m") === 8, "val").otherwise("test"))
        val leak = pairsAudit
          .join(assigned.select(col("vec_id").as("id_a"), col("split").as("_sa")), Seq("id_a"))
          .join(assigned.select(col("vec_id").as("id_b"), col("split").as("_sb")), Seq("id_b"))
          .agg(coalesce(sum(when(col("_sa") =!= col("_sb"), 1L).otherwise(0L)), lit(0L))
            .as("n_leaked"))
        assigned.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("cluster")).as("n_clusters"),
            sum(col("vec_id")).as("id_checksum"))
          .crossJoin(broadcast(leak))
      },
      Some(s"""
        WITH RECURSIVE ${approxPairsCtesAuto(tau = 0.4, tables = 8, dims = 64)},
        prs AS (SELECT id_a, id_b FROM aprs),
        edges AS (
          SELECT id_a AS s, id_b AS d FROM prs
          UNION SELECT id_b, id_a FROM prs),
        reach(node, r) AS (
          SELECT s, s FROM edges
          UNION
          SELECT reach.node, edges.d FROM reach JOIN edges ON edges.s = reach.r),
        comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
        sp AS (
          SELECT vec_id, cluster,
            CASE WHEN m <= 7 THEN 'train' WHEN m = 8 THEN 'val' ELSE 'test' END AS split
          FROM (
            SELECT n.vec_id, coalesce(c.component, n.vec_id) AS cluster,
              CAST(concat('0x', substr(md5(CAST(coalesce(c.component, n.vec_id) AS VARCHAR) || ':split'), 1, 15)) AS BIGINT) % 10 AS m
            FROM e n LEFT JOIN comp c ON c.node = n.vec_id) t),
        leak AS (
          SELECT CAST(coalesce(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_leaked
          FROM prs p JOIN sp a ON a.vec_id = p.id_a JOIN sp b ON b.vec_id = p.id_b)
        SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
          CAST(sum(vec_id) AS BIGINT) AS id_checksum, leak.n_leaked
        FROM sp CROSS JOIN leak
        GROUP BY split, leak.n_leaked
      """)),

    // ---- q204: approximate k-NN GRAPH over the whole corpus — every
    //      vector's top-5 among its LSH-bucket candidates (the
    //      building block under kNN-graph clustering and graph-ANN
    //      indexes). All-points, so candidates come from the bucket
    //      SELF-join, never a probe-set broadcast. Oracle replicates
    //      the plane literals (q94) with the tau filter disabled
    //      (τ = −2 keeps every scored candidate), then ranks per
    //      query — the approximate graph hash-matches bit-for-bit. ----
    GraftQuery(
      "q204_knn_graph",
      (s, d) => Similarity.knnGraph(
        Tables.embeddings(s, d), "vec_id", "embedding", k = 5, tables = 8),
      Some(s"""
        WITH ${approxPairsCtesAuto(tau = -2.0, tables = 8, dims = 64)},
        sym AS (
          SELECT id_a AS query_id, id_b AS neighbor_id, sim FROM aprs
          UNION ALL SELECT id_b, id_a, sim FROM aprs),
        ranked AS (
          SELECT query_id, neighbor_id, sim,
            row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
          FROM sym)
        SELECT query_id, neighbor_id, sim, CAST(rk AS BIGINT) AS rank
        FROM ranked WHERE rk <= 5
      """)),

    // ---- q205: HARD-NEGATIVE mining for contrastive training — each
    //      anchor's top-3 most-similar vectors with a DIFFERENT label
    //      (confusable but differently-labeled: what a contrastive
    //      loss needs to see). The label filter runs BEFORE the
    //      per-anchor window, so this is the top-3 of the negatives,
    //      not a post-filtered top-3 of everything. Same replicated-
    //      plane oracle as q204 plus the label join. ----
    GraftQuery(
      "q205_hard_negatives",
      (s, d) => Similarity.hardNegatives(
        Tables.embeddings(s, d), "vec_id", "embedding", "label", k = 3),
      Some(s"""
        WITH ${approxPairsCtesAuto(tau = -2.0, tables = 8, dims = 64)},
        lbl AS (SELECT vec_id, label FROM embeddings),
        sym AS (
          SELECT id_a AS query_id, id_b AS neighbor_id, sim FROM aprs
          UNION ALL SELECT id_b, id_a, sim FROM aprs),
        neg AS (
          SELECT s.query_id, s.neighbor_id, s.sim, ln.label AS neg_label
          FROM sym s
          JOIN lbl lq ON lq.vec_id = s.query_id
          JOIN lbl ln ON ln.vec_id = s.neighbor_id
          WHERE lq.label <> ln.label),
        ranked AS (
          SELECT query_id, neighbor_id, sim, neg_label,
            row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
          FROM neg)
        SELECT query_id, neighbor_id, sim, neg_label, CAST(rk AS BIGINT) AS rank
        FROM ranked WHERE rk <= 3
      """))
  )
}
