package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions.dot

/** IVF-PQ — the composition that carries billion-scale ANN in practice
  * (FAISS IndexIVFPQ): an IVF coarse quantizer prunes the corpus to
  * `nProbe` cells per query, and product-quantized RESIDUALS (vector −
  * its cell centroid) score the survivors by table lookup. The two
  * halves attack the two costs independently: IVF cuts the CANDIDATE
  * COUNT (only nProbe/nCells of the corpus is touched), PQ cuts the
  * PER-CANDIDATE cost and memory (32× smaller rows, multiply-free ADC).
  * Residual encoding is what makes the composition better than either
  * half: residuals live in a much smaller ball than raw vectors, so the
  * same codebook budget quantizes them with far less distortion.
  *
  * Score decomposition: q·x = q·c + q·r (x = c + r exactly), so a
  * candidate's score is its cell's base dot (computed once per
  * query×cell — nProbe values) plus the ADC lookup of its residual
  * codes. Both halves reuse the existing kernels: `Ivf.build/nearest`
  * for cells, `Pq.trainPrepped/encodePrepped` for residuals.
  *
  * Scale shape: the index build touches the corpus twice (IVF build,
  * residual encode — both narrow after their one shuffle); probing
  * joins the coded corpus on its cell id against a broadcast probe set,
  * so per-query work is |cell|·nProbe lookup-adds and the corpus never
  * crosses the wire at full width.
  */
object IvfPq {

  /** Built index: IVF centroids, PQ-coded assignments (cid, vid,
    * codes), residual codebooks. `coded` is persisted (built once,
    * probed many times) — release with [[release]].
    */
  final case class Index(centroids: DataFrame, coded: DataFrame, cb: Pq.Codebooks)

  def build(
      df: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, m: Int = 8, k: Int = 16): Index = {
    val (cents, assigns) = Ivf.build(df, idCol, vecCol, nCentroids)
    val resid = assigns.join(broadcast(cents), "cid")
      .select(col("vid"), col("cid"),
        zip_with(col("v"), col("cvec"), (a, b) => a - b).as("v"))
    val cb = Pq.trainPrepped(resid.select(col("vid"), col("v")), m, k)
    val coded = Pq.encodePrepped(resid, cb).persist(StorageLevel.MEMORY_AND_DISK)
    coded.count() // materialize before the assignments unpin
    // the centroids stay as built for the probe path (a local relation
    // on Ivf's driver lane; on its distributed lane the persisted Lloyd
    // result, which a release and re-persist would recompute); only the
    // full-width assignments are dropped here
    assigns.unpersist(blocking = false)
    Index(cents, coded, cb)
  }

  def release(ix: Index): Unit = {
    ix.centroids.unpersist(blocking = false)
    ix.coded.unpersist(blocking = false)
    ()
  }

  /** Residual-encode NEW vectors against the index's frozen centroids
    * and codebooks — the per-batch rows of [[extend]] (the
    * [[Ivf.assignNew]] counterpart). Same (vid, cid, codes) schema as
    * `coded`.
    */
  def encodeNew(
      ix: Index, newVecs: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val p = Similarity.prep(newVecs, idCol, vecCol)
    val assigned = Ivf.nearest(p, ix.centroids, keep = 1)
    val resid = assigned.join(broadcast(ix.centroids), "cid")
      .select(col("vid"), col("cid"),
        zip_with(col("v"), col("cvec"), (a, b) => a - b).as("v"))
    Pq.encodePrepped(resid, ix.cb)
  }

  /** Extend a built index with new vectors using the EXISTING coarse
    * centroids and residual codebooks (no retraining) — the
    * [[Ivf.extend]] contract at the IVF-PQ level: assign, re-derive
    * residuals against the assigned cells, encode with the frozen
    * codebooks, append. Quantization error for the new batch is
    * whatever the frozen codebooks give it; retrain via [[build]] when
    * the recall floor says drift has made them stale. The superseded
    * coded table is released once the merged one materializes; callers
    * must not reuse the OLD Index afterwards.
    */
  def extend(
      ix: Index, newVecs: DataFrame, idCol: String, vecCol: String): Index = {
    val coded = ix.coded.unionByName(encodeNew(ix, newVecs, idCol, vecCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    coded.count() // materialize before the superseded table unpins
    ix.coded.unpersist(blocking = false)
    Index(ix.centroids, coded, ix.cb)
  }

  /** Top-k per query over the probed cells: base cell dot + residual
    * ADC lookups. A corpus row lives in exactly one cell, so no
    * cross-cell dedup is needed.
    */
  def probe(
      ix: Index, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val q = Similarity.prep(queries, idCol, vecCol)
    // nProbe nearest cells per query, with the base dot q·c per cell
    val probes = Ivf.nearest(q, ix.centroids, keep = nProbe)
      .select(col("vid").as("query_id"), col("v").as("qv"), col("cid"))
      .join(broadcast(ix.centroids), "cid")
      .select(col("query_id"), col("cid"), dot(col("qv"), col("cvec")).as("base"))
    // residual lookup tables per query (m×k doubles — driver-computed;
    // same bounded serving-batch contract as Pq.adcTopK, ids cast to
    // long so non-long integral id columns work)
    val qRows = q.select(col("vid").cast("long").as("vid"), col("v")).collect()
    require(qRows.length <= Pq.MaxAdcQueryBatch,
      s"probe query batch ${qRows.length} exceeds ${Pq.MaxAdcQueryBatch} — " +
        "the per-query lookup tables are driver-built and broadcast")
    val tables = qRows.map { r =>
      val qv = r.getSeq[Double](1).toArray
      val tbl = Array.tabulate(ix.cb.m * ix.cb.k) { idx =>
        val j = idx / ix.cb.k; val c = idx % ix.cb.k
        val cent = ix.cb.cents(j)(c)
        var s = 0.0; var i = 0
        while (i < ix.cb.subDim) { s += qv(j * ix.cb.subDim + i) * cent(i); i += 1 }
        s
      }
      (r.getLong(0), tbl)
    }.toSeq.toDF("query_id", "tbl")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    ix.coded
      .join(broadcast(probes.join(tables, "query_id")), "cid")
      .where(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"),
        (col("base") + org.apache.spark.sql.graft.ColumnBridge.column(
          graft.expressions.AdcScore(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("codes")),
            org.apache.spark.sql.graft.ColumnBridge.expression(col("tbl")),
            ix.cb.k))).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Build + probe + free — the one-shot entry (mirrors Ivf.topK). */
  def topK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val ix = build(corpus, idCol, vecCol, nCentroids)
    val out = probe(ix, queries, idCol, vecCol, k, nProbe).localCheckpoint()
    release(ix)
    out
  }
}
