package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Degree-oriented triangle enumeration: exact counts on known graphs,
  * agreement with the naive u<v formulation on a pseudo-random graph
  * (the oracle-equivalence argument, locally), and no double counting.
  */
class TrianglesSpec extends SparkTestBase {
  import spark.implicits._

  test("K4: four triangles, every vertex in three") {
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("u", "v")
    val t = Triangles.triangles(e).collect()
    assert(t.length == 4)
    val counts = Triangles.triangleCounts(e)
      .as[(Long, Long)].collect().toMap
    assert(counts == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("path graph has no triangles; canonicalEdges dedups and drops loops") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    assert(Triangles.triangles(path).count() == 0)
    val messy = Seq((2L, 1L), (1L, 2L), (3L, 3L), (2L, 3L)).toDF("a", "b")
    val canon = Triangles.canonicalEdges(messy, "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(canon == Set((1L, 2L), (2L, 3L)))
  }

  test("degree-oriented result equals the naive formulation on a hashed graph") {
    // deterministic pseudo-random graph with hubs (skewed degrees — the
    // case degree orientation exists for)
    val rnd = new scala.util.Random(42) // seeded → deterministic fixture
    val edges = (0 until 400).map { _ =>
      val u = rnd.nextInt(30).toLong
      val v = rnd.nextInt(30).toLong
      (math.min(u, v), math.max(u, v))
    }.filter { case (u, v) => u != v }.distinct.toDF("u", "v")
    val idOriented = Triangles.triangles(edges).count()
    val degOriented = Triangles.triangles(edges, degreeOriented = true).count()
    // naive: wedges on u<v edges closed by a third u<v edge
    val e = edges
    val naive = e.as("e1")
      .join(e.as("e2"), col("e2.u") === col("e1.v"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"),
        "leftsemi")
      .count()
    assert(idOriented == naive, s"id-oriented $idOriented vs naive $naive")
    assert(degOriented == naive, s"degree-oriented $degOriented vs naive $naive")
    assert(naive > 0, "fixture graph must actually contain triangles")
    // duplicate input edges must not create duplicate triangles
    assert(Triangles.triangles(edges.unionAll(edges)).count() == naive)
    // the large-graph branch (adjacency too big to broadcast → shuffled
    // hash join) must produce the identical triangle set
    val shuffled = Triangles.triangles(edges, broadcastMaxAdjEntries = 0L)
    assert(shuffled.count() == naive, "shuffle-attach branch diverged")
    val a = Triangles.triangles(edges).select("a", "b", "c")
      .as[(Long, Long, Long)].collect().toSet
    val b = shuffled.select("a", "b", "c").as[(Long, Long, Long)].collect().toSet
    assert(a == b, "broadcast and shuffle branches enumerate different triangles")
  }

  test("adjacency attach is size-gated: broadcast small, shuffle large") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    def hasBroadcast(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
    assert(hasBroadcast(Triangles.triangles(e)),
      "small adjacency must broadcast")
    assert(!hasBroadcast(Triangles.triangles(e, broadcastMaxAdjEntries = 0L)),
      "over-threshold adjacency must not broadcast")
  }

  test("auto-orientation probe: power-law graphs take the degree-oriented lane, near-uniform graphs keep canonical; result identical either way") {
    // near-uniform ring lattice: every vertex degree 6, max degree far
    // BELOW sqrt(m) — the co-order shape, canonical lane
    val n = 300L
    val lattice = (0L until n).flatMap(v => (1L to 3L).map(k => (v, (v + k) % n)))
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toDF("u", "v")
    assert(!Triangles.autoDegreeOriented(lattice),
      "near-uniform lattice must keep the canonical lane")
    // star-plus-ring: hub degree 24 vs sqrt(47) ~ 6.9 — the power-law
    // shape, degree-oriented lane
    val hub = (1L to 24L).map(v => (0L, v))
    val ring = (1L until 24L).map(v => (v, v + 1))
    val skewed = (hub ++ ring).toDF("u", "v")
    assert(Triangles.autoDegreeOriented(skewed),
      "hub-skewed graph must take the degree-oriented lane")
    // the probe picks a LANE, never changes the triangle set
    assert(Triangles.trianglesAuto(skewed).count() ==
      Triangles.triangles(skewed).count())
    assert(Triangles.trianglesAuto(lattice).count() ==
      Triangles.triangles(lattice).count())
    // degenerate inputs: empty and single-edge graphs probe false
    assert(!Triangles.autoDegreeOriented(Seq.empty[(Long, Long)].toDF("u", "v")))
  }

  test("hub chunking: every payload lane with split probe rows enumerates the identical triangle set") {
    // star-plus-ring: vertex 0 is a hub of degree 24 (its adjacency row
    // splits into many chunks at maxAdjChunk=4); ring edges close
    // triangles through the hub
    val hub = (1L to 24L).map(v => (0L, v))
    val ring = (1L until 24L).map(v => (v, v + 1))
    val edges = (hub ++ ring).toDF("u", "v")
    val expected = Triangles.triangles(edges) // broadcast lane, unchunked
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet
    assert(expected.size == 23, s"fixture should close 23 hub triangles, got ${expected.size}")
    val adj = Triangles.adjacency(Triangles.canonicalEdges(edges, "u", "v"))
    val chunked = Triangles.trianglesFromAdjacency(
      adj, broadcastMaxAdjEntries = 0L, maxAdjChunk = 4)
      .select("a", "b", "c").as[(Long, Long, Long)].collect().toSet
    assert(chunked == expected, "chunked fallback lane diverged")
  }
}
