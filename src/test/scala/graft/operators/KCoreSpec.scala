package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class KCoreSpec extends SparkTestBase {
  import spark.implicits._

  /** Reference peel on the driver for small graphs. */
  private def naive(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    var es = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    var changed = true
    while (changed) {
      val deg = es.groupBy(_._1).map { case (v, xs) => v -> xs.size }
      val bad = deg.filter(_._2 < k).keySet
      changed = bad.nonEmpty
      es = es.filterNot { case (a, b) => bad(a) || bad(b) }
    }
    es.groupBy(_._1).map { case (v, xs) => v -> xs.size }
  }

  // a gate giving None forces the distributed delta-peel loop; every
  // case below runs through BOTH paths so the gate can never hide a
  // divergence between the driver cascade and the degree-table loop
  private def run(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    val driver = KCore.core(edges.toDF("a", "b"), "a", "b", k)
      .as[(Long, Long)].collect().map { case (v, d) => v -> d.toInt }.toMap
    val dist = KCore.coreGated(edges.toDF("a", "b"), "a", "b", k)(_ => None)
      .as[(Long, Long)].collect().map { case (v, d) => v -> d.toInt }.toMap
    assert(driver == dist, "driver cascade and distributed delta-peel diverge")
    driver
  }

  test("clique survives, pendant chain peels away") {
    // K4 on 1-4, chain 4-5-6 hanging off it
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L))
    assert(run(edges, 3) == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3))
    assert(run(edges, 2) == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3),
      "chain vertices cascade out at k=2 (6 peels, then 5)")
    assert(run(edges, 4) == Map.empty, "no 4-core exists")
  }

  test("cascading peel needs multiple rounds") {
    // path 1-2-3-4-5: every vertex eventually peels at k=2, but only
    // the endpoints are sub-k in round one
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(run(path, 2) == Map.empty)
  }

  test("matches the reference peel on a messy random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    for (k <- Seq(2, 4, 8)) {
      assert(run(edges, k) == naive(edges, k), s"mismatch at k=$k")
    }
  }

  test("duplicate and reversed input edges do not inflate degrees") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L))
    // triangle 1-2-3: degrees exactly 2 despite duplicated inputs
    assert(run(edges, 2) == Map(1L -> 2, 2L -> 2, 3L -> 2))
  }

  test("raw-row gate boundary: identical answer at the cap and one over (r16 limit-probed gate)") {
    // 5 raw rows (with a dup and a reverse), 3 distinct undirected edges
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L))
    def result(cap: Long) =
      KCore.coreGated(edges.toDF("a", "b"), "a", "b", k = 2)(graft.core.Gates.collectAtMost(_, cap))
        .as[(Long, Long)].collect().toMap
    // cap = raw rows → driver cascade; cap = raw rows - 1 → the probe
    // overflows and the distributed loop runs; answers must agree
    assert(result(5L) == result(4L))
    assert(result(5L) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("gate bound: Int.MaxValue - 1 takes the driver lane; Long.MaxValue fails loud, not empty") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("a", "b")
    def gated(cap: Long) =
      KCore.coreGated(edges, "a", "b", k = 2)(graft.core.Gates.collectAtMost(_, cap))
    // the largest accepted bound: probe limit = Int.MaxValue, full answer
    val top = gated(Int.MaxValue - 1L).as[(Long, Long)].collect().toMap
    assert(top == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // cap + 1 would wrap and probe nothing; the operator refuses it
    val e = intercept[IllegalArgumentException](gated(Long.MaxValue))
    assert(e.getMessage.contains("driver-lane cap"))
    intercept[IllegalArgumentException](gated(Int.MaxValue.toLong))
  }
}
