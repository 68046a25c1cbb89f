package graft.operators

import graft.SparkTestBase
import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

class IvfSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def scale(name: String): String = new java.io.File(new java.io.File(sf).getParent, name).getPath

  test("IVF topK reaches a recall floor while probing a corpus fraction") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Ivf.topK(emb, queries, "vec_id", "embedding", k = 10,
        nCentroids = 16, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"IVF recall@10 = $recall%.2f (random-vector corpus, nProbe=8/16)")
    assert(recall >= 0.3, s"IVF recall collapsed: $recall")
  }

  test("index build: every vector assigned to exactly one cell; cells nonempty-ish") {
    val emb = Tables.embeddings(spark, sf)
    val index @ (centroids, assignments) = Ivf.build(emb, "vec_id", "embedding", nCentroids = 16)
    assert(centroids.count() == 16)
    assert(assignments.count() == emb.count())
    assert(assignments.groupBy("vid").count().where($"count" > 1).count() == 0)
    // two Lloyd steps (the default) from arbitrary seeds: most cells should be used
    assert(assignments.select("cid").distinct().count() >= 8)
    Ivf.release(index)
  }

  private def isLocal(df: DataFrame): Boolean = df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** Builds `df`'s index on both lanes (the driver lane through the real
    * gate, the distributed one forced by a gate giving None) and checks
    * they agree: equal schemas, the same cid set, identical assignment
    * rows (vid, v, cid) and centroid components within 1e-12. Returns
    * the driver lane's cid set and vid → cid. */
  private def lanesAgree(df: DataFrame, nCentroids: Int, steps: Int): (Set[Any], Map[Any, Any]) = {
    val (dc, da) = Ivf.build(df, "vec_id", "embedding", nCentroids, steps)
    val dist @ (xc, xa) = Ivf.buildGated(df, "vec_id", "embedding", nCentroids, steps)(_ => None)
    try {
      val at = s"nCentroids=$nCentroids lloydSteps=$steps"
      assert(isLocal(dc) && isLocal(da), s"$at: the driver lane returns local relations")
      assert(!isLocal(xc) && !isLocal(xa), s"$at: the forced lane is distributed")
      assert(dc.schema == xc.schema && da.schema == xa.schema, at)
      def cents(c: DataFrame) = c.collect().map(r => r.get(0) -> Option(r.getSeq[Double](1))).toMap
      val (dm, xm) = (cents(dc), cents(xc))
      assert(dm.keySet == xm.keySet, s"$at: cid sets differ")
      dm.foreach { case (cid, v) =>
        assert(v.map(_.size) == xm(cid).map(_.size), s"$at: cid $cid")
        v.foreach(_.zip(xm(cid).get).foreach { case (a, b) =>
          assert(math.abs(a - b) <= 1e-12, s"$at: cid $cid component $a vs $b")
        })
      }
      assertSameRows(da, xa)
      (dm.keySet, da.collect().map(r => r.get(0) -> r.get(2)).toMap)
    } finally Ivf.release(dist)
  }

  test("build lanes agree at lloydSteps 0, 1 and 2 on sf0.001 and sf0.1") {
    for (dir <- Seq(sf, scale("sf0.1")); steps <- 0 to 2) {
      val emb = Tables.embeddings(spark, dir)
      val (cents, assigned) = lanesAgree(emb, nCentroids = 16, steps)
      assert(cents.size == 16 || steps > 0)
      assert(assigned.size == emb.count(), s"$dir: every vector is assigned")
    }
  }

  private def vectors(rows: (Long, Seq[Double])*): DataFrame =
    rows.map { case (id, v) => (id, Option(v)) }.toDF("vec_id", "embedding")

  test("build lanes agree on edge cases: empty input, null and zero vectors, nCentroids over the row count, a repeated id") {
    val empty = vectors()
    val withNulls = vectors(
      1L -> Seq(1.0, 0.0), 2L -> null, 3L -> Seq(0.0, 1.0), 4L -> Seq(1.0, 1.0),
      5L -> null, 6L -> Seq(0.0, 0.0), 7L -> Seq(-1.0, 0.5))
    val few = vectors(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0), 3L -> Seq(1.0, 2.0))
    val repeated = vectors(1L -> Seq(1.0, 0.0), 2L -> Seq(0.0, 1.0), 5L -> Seq(0.6, 0.8), 5L -> Seq(1.0, 0.1))
    for (steps <- 0 to 2) {
      val (ec, ea) = lanesAgree(empty, nCentroids = 4, steps)
      assert(ec.isEmpty && ea.isEmpty)
      // null embeddings (2, 5) and the zero vector (6) score null against
      // every cell, so each goes to the smallest cid, 1; the null seed
      // (2) wins no vector and drops out after the first round
      val (_, na) = lanesAgree(withNulls, nCentroids = 3, steps)
      assert(na.size == 7 && Seq(2L, 5L, 6L).forall(na(_) == 1L), s"lloydSteps=$steps: $na")
      val (fc, fa) = lanesAgree(few, nCentroids = 8, steps)
      assert(fc == Set(1L, 2L, 3L) || steps > 0)
      assert(fa.size == 3)
      // `nearest` partitions by vid: id 5 keeps one row, its best-scoring
      // (vector, cell) pair — (1.0, 0.1) in cell 1 — on both lanes
      val (_, ra) = lanesAgree(repeated, nCentroids = 2, steps)
      assert(ra == Map(1L -> 1L, 2L -> 2L, 5L -> 1L), s"lloydSteps=$steps: $ra")
    }
  }

  test("build lanes agree on tied seeds: the smaller cid wins the tie, the loser's cell drops out") {
    val tied = vectors(
      1L -> Seq(1.0, 0.0), 2L -> Seq(1.0, 0.0), 3L -> Seq(0.0, 1.0),
      4L -> Seq(2.0, 0.0), 5L -> Seq(0.0, 3.0))
    val (c0, a0) = lanesAgree(tied, nCentroids = 3, steps = 0)
    assert(c0 == Set(1L, 2L, 3L))
    assert(a0 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 1L, 5L -> 3L))
    for (steps <- 1 to 2) {
      val (c, a) = lanesAgree(tied, nCentroids = 3, steps)
      assert(c == Set(1L, 3L) && a == a0, s"lloydSteps=$steps")
    }
  }

  test("a driver-lane build on sf0.01 runs one Spark job") {
    val emb = Tables.embeddings(spark, scale("sf0.01"))
    val (index, jobs) = jobsDuring(Ivf.build(emb, "vec_id", "embedding", nCentroids = 16))
    assert(isLocal(index._1) && isLocal(index._2))
    assert(jobs == 1, s"the gate's probe is the build's only job, got $jobs")
    Ivf.release(index)
  }

  test("HLL approx distinct stays within its declared error (q24)") {
    // round 6: the query now carries the error assertion itself — the
    // within_rsd flag the reduced-assertion oracle pins to 1
    val out = graft.Registry.byName("q24_approx_distinct").run(spark, sf)
      .select($"exact_orders", $"within_rsd").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (exact, ok) =>
      assert(exact > 0)
      assert(ok == 1L, s"HLL estimate strayed past 3x rsd for exact=$exact")
    }
  }
}
