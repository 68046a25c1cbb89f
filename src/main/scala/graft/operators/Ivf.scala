package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil, TypeUtils}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Gates
import graft.expressions.{ArrayDotProduct, NormalizeVector, VectorSumAgg}
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
  * `lloydSteps` Lloyd refinements (default 2). A corpus of at most
  * [[DriverMaxVectors]] vectors is clustered on the driver in one job;
  * a larger one runs the distributed lane, whose dataflow is the
  * production shape (centroids are always broadcast-sized, assignments
  * are the corpus shuffled once by cell id).
  */
object Ivf {

  /** Vectors the driver lane clusters. One copy of them as doubles is
    * 16,384 × dims × 8 bytes: 8 MiB at 64 dimensions, 192 MiB at 1,536.
    * The lane holds about four such copies at its peak: the collected
    * rows box each element (about 2.5 copies), the returned assignment
    * relation refers to the same boxes, and the working copy is
    * unboxed — some 32 MiB at 64 dimensions and 770 MiB at 1,536.
    */
  private val DriverMaxVectors = 16384L

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

  // cid is just a deterministic cell id: the seed's own vid serves (no
  // global row_number window — an unpartitioned WindowExec funnels its
  // input, however small, through one partition). vid order == rank
  // order, so tie-breaks in `nearest` are unchanged.
  private def seeds(vecs: DataFrame, nCentroids: Int): DataFrame =
    vecs.orderBy(col("vid")).limit(nCentroids).select(col("vid").as("cid"), col("v").as("cvec"))

  // One Lloyd round: assign → cell sum → renormalize. normalized()
  // cancels uniform scaling, so the cell MEAN and the cell SUM have the
  // same direction — no count / division needed. Cells that lose all
  // members drop out (their cid disappears from the aggregation).
  private def lloydRound(vecs: DataFrame, centroids: DataFrame): DataFrame =
    nearest(vecs, centroids, keep = 1)
      .groupBy(col("cid"))
      .agg(vecSum(col("v")).as("vs"))
      .select(col("cid"), normalized(col("vs")).as("cvec"))

  /** Build the index: (centroids, assignments), the (cid, cvec) and
    * (vid, v, cid) tables. On the driver lane both are local relations;
    * on the distributed lane both are persisted — the index is built
    * once and probed many times. [[release]] frees either.
    *
    * @param lloydSteps k-means refinement rounds over the seeds. Each
    *   distributed step is one vecSum aggregation of the corpus (a
    *   single shuffle on cid — the VectorSumAgg accumulator keeps dims
    *   OUT of the row count), so extra steps are cheap; cell balance
    *   improves markedly over raw seeds by step 2 on clustered data.
    */
  def build(
      df: DataFrame, idCol: String, vecCol: String, nCentroids: Int,
      lloydSteps: Int = 2): (DataFrame, DataFrame) =
    buildGated(df, idCol, vecCol, nCentroids, lloydSteps)(Gates.collectAtMost(_, DriverMaxVectors))

  /** [[build]] on the lane `gate` picks from the (vid, v) rows: the
    * distributed lane's projection without its repartition, so the
    * probe is one job and `v` is bit-identical on both lanes. */
  private[graft] def buildGated(
      df: DataFrame, idCol: String, vecCol: String, nCentroids: Int, lloydSteps: Int = 2)(
      gate: DataFrame => Option[Array[Row]]): (DataFrame, DataFrame) = {
    require(lloydSteps >= 0, s"lloydSteps must be >= 0, got $lloydSteps")
    val vecs = Similarity.unitVectors(df, idCol, vecCol)
    gate(vecs) match {
      case Some(rows) => return driverBuild(vecs, rows, nCentroids, lloydSteps)
      case None =>
    }
    val p = prep(df, idCol, vecCol).persist(StorageLevel.MEMORY_AND_DISK)
    // Each round's centroids are persisted and materialized so the next
    // round's `nearest` broadcasts a computed table instead of
    // re-running the whole lineage (centroids are always
    // broadcast-sized).
    var centroids = seeds(p, nCentroids)
    var step = 0
    while (step < lloydSteps) {
      val next = lloydRound(p, centroids).persist(StorageLevel.MEMORY_AND_DISK)
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

  /** The distributed lane's k-means over `rows`, the collected (vid, v)
    * of `vecs`, with no job: seeds are the first `nCentroids` rows by
    * vid; each assignment keeps, per vid, the (vector, centroid) pair
    * first in `nearest`'s window order (score descending with nulls
    * last, then cid ascending, in Spark's orderings); a cell's next
    * centroid is the normalized sum of its non-null vectors, null when
    * it has none. Scores, sums and norms go through the kernels'
    * shared folds, so only the order of the cell sums' additions
    * differs from the distributed lane. Both frames are local relations
    * whose schemas come from analysing the distributed lane's plans.
    */
  private def driverBuild(
      vecs: DataFrame, rows: Array[Row], nCentroids: Int, lloydSteps: Int): (DataFrame, DataFrame) = {
    val vidType = vecs.schema("vid").dataType
    val toKey = CatalystTypeConverters.createToCatalystConverter(vidType)
    val keyOrder = TypeUtils.getInterpretedOrdering(vidType)
    val byVid: Ordering[Any] = (a, b) => // ascending, nulls first
      if (a == null) { if (b == null) 0 else -1 } else if (b == null) 1 else keyOrder.compare(a, b)
    val (keys, sorted) = rows.map(r => (toKey(r.get(0)), r)).sortBy(_._1)(byVid).unzip
    val n = sorted.length
    // rank(i): the first position holding sorted(i)'s vid, so equal ids
    // (the window's partition, the aggregate's group) share a rank and
    // rank order is vid order
    val rank = new Array[Int](n)
    for (i <- 1 until n) rank(i) = if (byVid.compare(keys(i - 1), keys(i)) == 0) rank(i - 1) else i
    val vs: Array[ArrayData] = sorted.map { r =>
      if (r.isNullAt(1)) null else UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](1).toArray)
    }

    // Centroids are (cid rank, vector), sorted by rank. Per vid, the
    // (position, centroid index) first in `nearest`'s window order.
    def assign(cents: Array[(Int, ArrayData)]): Seq[(Int, Int)] = {
      val won = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var start = 0
      while (start < n && cents.nonEmpty) {
        var end = start + 1
        while (end < n && rank(end) == rank(start)) end += 1
        var (pos, c, score) = (-1, -1, null: java.lang.Double)
        for (i <- start until end; j <- cents.indices) {
          val s = if (vs(i) == null || cents(j)._2 == null) null else ArrayDotProduct.fold(vs(i), cents(j)._2)
          if (pos < 0 || beats(s, score) || (sameScore(s, score) && cents(j)._1 < cents(c)._1)) {
            pos = i; c = j; score = s
          }
        }
        won += ((pos, c))
        start = end
      }
      won.toSeq
    }

    var cents = (0 until math.min(nCentroids, n)).map(i => (rank(i), vs(i))).toArray
    for (_ <- 0 until lloydSteps) {
      val sums = scala.collection.mutable.TreeMap.empty[Int, Array[Double]]
      assign(cents).foreach { case (pos, c) =>
        val cell = cents(c)._1
        val acc = sums.getOrElse(cell, Array.emptyDoubleArray)
        sums(cell) = if (vs(pos) == null) acc else VectorSumAgg.add(acc, vs(pos))
      }
      cents = sums.iterator.map { case (cell, acc) =>
        (cell, if (acc.isEmpty) null else NormalizeVector.fold(UnsafeArrayData.fromPrimitiveArray(acc)))
      }.toArray
    }

    val spark = vecs.sparkSession
    def vid(pos: Int): Any = sorted(pos).get(0)
    def seq(v: ArrayData): Any = if (v == null) null else v.toDoubleArray().toSeq
    val seedPlan = seeds(vecs, nCentroids)
    val centSchema = (if (lloydSteps == 0) seedPlan else lloydRound(vecs, seedPlan)).schema
    val centroids = spark.createDataFrame(
      cents.toSeq.map { case (cell, v) => Row(vid(cell), seq(v)) }.asJava, centSchema)
    val assignments = spark.createDataFrame(
      assign(cents).map { case (pos, c) =>
        Row(vid(pos), sorted(pos).get(1), vid(cents(c)._1))
      }.asJava,
      nearest(vecs, seedPlan, keep = 1).schema)
    (centroids, assignments)
  }

  // `nearest`'s score order: descending, nulls last, Spark's double
  // ordering (NaN largest, -0.0 == 0.0)
  private def beats(s: java.lang.Double, other: java.lang.Double): Boolean =
    s != null && (other == null || SQLOrderingUtil.compareDoubles(s, other) > 0)

  private def sameScore(s: java.lang.Double, other: java.lang.Double): Boolean =
    if (s == null) other == null else other != null && SQLOrderingUtil.compareDoubles(s, other) == 0

  /** Free a built index's cached frames. The distributed lane's
    * centroids/assignments are deliberately persisted (built once,
    * probed many times) — long-lived services call this when done with
    * the index so the cache entries don't outlive their use. A no-op on
    * the driver lane's local relations.
    */
  def release(index: (DataFrame, DataFrame)): Unit = {
    index._1.unpersist(blocking = false)
    index._2.unpersist(blocking = false)
    ()
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
