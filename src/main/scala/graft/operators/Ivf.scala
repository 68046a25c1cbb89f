package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions._

/** IVF-flat approximate nearest neighbor: partition the corpus into
  * coarse cells (k-means-style centroids), probe only the nProbe
  * nearest cells per query, exact-score within them.
  *
  * The scale path complements hyperplane LSH (operators.Similarity):
  * IVF shines when embeddings cluster; LSH needs no training. Both
  * bound the scanned fraction and both re-score exactly.
  *
  * Centroid seeding is deterministic (first nCentroids ids) followed by
  * one Lloyd refinement — at production scale you'd run k-means on a
  * sample and broadcast the codebook; the dataflow here is exactly
  * that shape (centroids are always broadcast-sized, assignments are
  * the corpus shuffled once by cell id).
  */
object Ivf {

  // Same (id, unit-vector) contract as the other similarity operators.
  private def prep(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    Similarity.prep(df, idCol, vecCol)

  /** Nearest centroid id per row of `vecs` against broadcast `cents`.
    * `keepRank = true` retains the probe rank as `prnk` (1 = primary
    * cell) for multi-probe callers; default keeps the historical
    * (vid, v, cid) schema.
    */
  private[operators] def nearest(
      vecs: DataFrame, cents: DataFrame, keep: Int,
      keepRank: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("vid")).orderBy(col("score").desc, col("cid"))
    val ranked = vecs.crossJoin(broadcast(cents))
      .select(col("vid"), col("v"), col("cid"), dot(col("v"), col("cvec")).as("score"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= keep)
    if (keepRank) ranked.withColumnRenamed("rnk", "prnk").drop("score")
    else ranked.drop("rnk", "score")
  }

  /** Build the index: (centroids, assignments). Both persisted — the
    * index is built once and probed many times.
    *
    * @param lloydSteps k-means refinement rounds over the seeds. Each
    *   step is one vecSum aggregation of the corpus (a single shuffle on
    *   cid — the VectorSumAgg accumulator keeps dims OUT of the row
    *   count), so extra steps are cheap; cell balance improves markedly
    *   over raw seeds by step 2 on clustered data.
    */
  def build(
      df: DataFrame, idCol: String, vecCol: String, nCentroids: Int,
      lloydSteps: Int = 2, farthestSeeding: Boolean = false): (DataFrame, DataFrame) = {
    require(lloydSteps >= 0, s"lloydSteps must be >= 0, got $lloydSteps")
    val p = prep(df, idCol, vecCol).persist(StorageLevel.MEMORY_AND_DISK)
    // cid is just a deterministic cell id: the seed's own vid serves (no
    // global row_number window — an unpartitioned WindowExec funnels its
    // input, however small, through one partition). vid order == rank
    // order, so tie-breaks in `nearest` are unchanged.
    val seeds =
      if (farthestSeeding) farthestPointSeeds(p, nCentroids)
      else p.orderBy(col("vid")).limit(nCentroids)
        .select(col("vid").as("cid"), col("v").as("cvec"))
    // Lloyd iterations: assign → cell mean → renormalize. Each
    // iteration's centroids are persisted and materialized so the next
    // round's `nearest` broadcasts a computed table instead of
    // re-running the whole lineage (centroids are always
    // broadcast-sized). Cells that lose all members simply drop out
    // (their cid disappears from the mean aggregation).
    var centroids = seeds
    var step = 0
    while (step < lloydSteps) {
      val assigned = nearest(p, centroids, keep = 1)
      // normalized() cancels uniform scaling, so the cell MEAN and the
      // cell SUM have the same direction — no count / division needed.
      val next = assigned
        .groupBy(col("cid"))
        .agg(vecSum(col("v")).as("vs"))
        .select(col("cid"), normalized(col("vs")).as("cvec"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      next.count() // materialize before the previous iteration unpins
      if (step > 0) centroids.unpersist(blocking = false)
      centroids = next
      step += 1
    }
    val assignments = nearest(p, centroids, keep = 1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    assignments.count() // materialize first, so the corpus staging can unpin
    p.unpersist(blocking = false)
    (centroids, assignments)
  }

  /** Free a built index's cached frames. `build`'s returned centroids/
    * assignments are deliberately persisted (built once, probed many
    * times) — long-lived services call this when done with the index so
    * the cache entries don't outlive their use.
    */
  def release(index: (DataFrame, DataFrame)): Unit = {
    index._1.unpersist(blocking = false)
    index._2.unpersist(blocking = false)
    ()
  }

  /** Deterministic k-means++-style seeding: farthest-point traversal
    * (the 2-approximation for k-center) over a hash-chosen sample. The
    * sample is picked by md5-derived hash of the id (deterministic, not
    * id-order-biased), capped so the driver does O(sample × k) dot
    * products and the corpus never leaves the executors.
    *
    * OFF by default, by measurement: on the near-uniform fixture
    * embeddings it LOWERS recall@10 vs first-k seeding (0.82→0.52 at
    * sf0.001, 0.80→0.60 at sf0.01, nProbe=4) — k-center deliberately
    * seeds on extreme points, the wrong objective for unclustered data
    * where random-equivalent seeds are already well spread. Reach for
    * it on corpora with strong natural clusters, where first-k can land
    * every seed inside one dense cluster.
    */
  private def farthestPointSeeds(
      p: DataFrame, nCentroids: Int, sampleSize: Int = 2048): DataFrame = {
    val spark = p.sparkSession
    val sample = p
      .withColumn("h", graft.functions.TextFunctions.hash60(col("vid").cast("string")))
      .orderBy(col("h"), col("vid")).limit(sampleSize)
      .select(col("vid"), col("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(sample.nonEmpty, "cannot seed IVF from an empty corpus")
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i) * b(i); i += 1 }
      s
    }
    val startIdx = sample.indices.minBy(sample(_)._1)
    val chosen = scala.collection.mutable.ArrayBuffer(
      sample(startIdx)) // deterministic start: min id in the sample
    val isChosen = new Array[Boolean](sample.length)
    isChosen(startIdx) = true
    // maxSim(i) = similarity of sample(i) to its closest chosen seed;
    // O(sample × k) total — one dot per point per round, flag array for
    // membership (a chosen.exists scan would make this O(sample × k²))
    val maxSim = Array.fill(sample.length)(-2.0)
    while (chosen.length < math.min(nCentroids, sample.length)) {
      val last = chosen.last._2
      var bestIdx = -1
      var bestVal = 2.0 // want the MIN max-similarity (farthest point)
      var i = 0
      while (i < sample.length) {
        val s = dot(sample(i)._2, last)
        if (s > maxSim(i)) maxSim(i) = s
        // tie-break on id for determinism
        if (!isChosen(i) &&
            (maxSim(i) < bestVal || (maxSim(i) == bestVal && bestIdx >= 0 &&
              sample(i)._1 < sample(bestIdx)._1))) {
          bestVal = maxSim(i); bestIdx = i
        }
        i += 1
      }
      if (bestIdx < 0) return toSeedsDf(spark, chosen.toSeq) // all points chosen
      isChosen(bestIdx) = true
      chosen += sample(bestIdx)
    }
    toSeedsDf(spark, chosen.toSeq)
  }

  private def toSeedsDf(
      spark: org.apache.spark.sql.SparkSession,
      seeds: Seq[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    seeds.map { case (id, v) => (id, v.toSeq) }.toDF("cid", "cvec")
  }

  /** Assign NEW vectors to frozen centroids — the per-batch rows of
    * [[extend]], before the union. Same (vid, v, cid) schema as the
    * assignments table.
    */
  def assignNew(
      centroids: DataFrame, newVecs: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    nearest(prep(newVecs, idCol, vecCol), centroids, keep = 1)

  /** Extend a PREBUILT index with new vectors WITHOUT re-clustering —
    * the daily-ingest shape (the q126 incremental-dedup precedent): the
    * centroids are the index's stable contract (probe routing, saved
    * layouts, downstream cell statistics all key on them), so new
    * vectors are assigned to the EXISTING cells and appended. Re-run
    * [[build]] periodically when drift makes cell shapes stale — the
    * recall floor, not this operator, is the signal.
    *
    * The superseded assignment table's cache entry is released once the
    * merged one materializes (the Components discipline); callers must
    * not reuse the OLD index tuple afterwards. Ids are not checked for
    * collision — feed deduplicated batches (Dedup.* upstream) or
    * duplicate ids will shadow each other in top-k scoring.
    */
  def extend(
      index: (DataFrame, DataFrame), newVecs: DataFrame,
      idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    val assigned = assignNew(index._1, newVecs, idCol, vecCol)
    val merged = index._2.unionByName(assigned)
      .persist(StorageLevel.MEMORY_AND_DISK)
    merged.count() // materialize before the superseded table unpins
    index._2.unpersist(blocking = false)
    (index._1, merged)
  }

  /** Probe a PREBUILT index (from `build`) — the steady-state serving
    * path: build once, probe many query batches without re-clustering.
    */
  def probe(
      centroids: DataFrame, assignments: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    val q = prep(queries, idCol, vecCol)
      .withColumnRenamed("vid", "query_id").withColumnRenamed("v", "qv")
    val probes = nearest(
      q.select(col("query_id").as("vid"), col("qv").as("v")), centroids, keep = nProbe)
      .select(col("vid").as("query_id"), col("v").as("qv"), col("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    probes.join(assignments, Seq("cid"))
      .where(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"), dot(col("qv"), col("v")).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** One-shot convenience: build + probe + release. The probe result
    * (≤ k rows per query) is materialized via localCheckpoint so the
    * index caches can be released before returning — repeated one-shot
    * calls leave nothing cached. Long-lived services should call `build`
    * once, `probe` per batch, and `release` when done.
    */
  def topK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val index = build(corpus, idCol, vecCol, nCentroids)
    val out = probe(index._1, index._2, queries, idCol, vecCol, k, nProbe)
      .localCheckpoint()
    release(index)
    out
  }
}
