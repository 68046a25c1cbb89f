package graft.operators

import graft.SparkTestBase

class ComponentsSpec extends SparkTestBase {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("two separate components label to their minima") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a chain longer than one hop still converges to one label") {
    // 9-node path: diameter 8 — exercises multiple propagation rounds
    val chain = (1L to 8L).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == (1L to 9L).toSet)
  }

  test("duplicate and reversed edges change nothing") {
    val got = cc(Seq((2L, 1L), (1L, 2L), (2L, 1L), (3L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("distributed propagation path agrees with driver union-find") {
    // random-ish graph incl. a long chain; a gate giving None forces the
    // distributed path, default takes the union-find fast path
    val edges = ((1L to 30L).map(i => (i, i + 1)) ++
      Seq((100L, 200L), (200L, 300L), (41L, 40L), (1L, 31L))).toDF("a", "b")
    val dist = Components.connectedComponentsGated(edges, "a", "b")(_ => None)
      .as[(Long, Long)].collect().toMap
    val drv = Components.connectedComponents(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(dist == drv)
    assert(drv((31L)) == 1L && drv(300L) == 100L && drv(41L) == 40L)
  }

  test("soak: >2M-edge chain takes the distributed path and converges in O(log d) rounds") {
    // Two chains over 2,000,002 nodes (split at the midpoint), generated
    // distributed — never materialized on the driver. The edge count
    // exceeds DriverMaxPairRows, so the POINTER-JUMPING path (not driver
    // union-find) runs. Chain diameter ≈ 1e6; plain min-propagation
    // would need ~1e6 rounds, pointer jumping covers ~4^r distance per
    // round → ~10-11 rounds. maxIter=15 makes the spec FAIL (require
    // inside connectedComponents) if the log-round bound regresses.
    val n = 2000001L
    val mid = n / 2
    val edges = spark.range(n)
      .where($"id" =!= mid - 1) // cut one edge → exactly two components
      .select($"id".as("a"), ($"id" + 1).as("b"))
    val labels = Components.connectedComponents(edges, "a", "b", maxIter = 15)
    val comps = labels.groupBy($"component").count()
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(0L -> mid, mid -> (n + 1 - mid)))
  }

  test("dropNearDuplicates keeps untouched rows and one survivor per group") {
    val corpus = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "z"))
      .toDF("id", "payload")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val kept = Components.dropNearDuplicates(corpus, "id", pairs, "a", "b")
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 9L)) // 2,3 lose to survivor 1; 4,9 untouched
  }

  test("dupGroups reports canonical survivor and size") {
    val groups = Components.dupGroups(
        Seq((5L, 7L), (7L, 9L), (20L, 21L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(groups == Map(5L -> 3L, 20L -> 2L))
  }

  test("distributed path leaves zero persisted RDDs once the result is released") {
    // the r7 bench leak: every round's localCheckpoint survived the
    // loop because the stats-resetting rewrap hid it from
    // Lineage.release. Discipline now: superseded rounds release
    // in-loop; the FINAL round's blocks are referenced by the returned
    // plan, so the consumer's release frees everything.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val edges = ((1L to 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L))).toDF("a", "b")
    val labels = Components.connectedComponentsGated(edges, "a", "b")(_ => None)
    labels.write.format("noop").mode("overwrite").save() // consume
    Lineage.release(labels, blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.keySet}")
  }

  test("a checkpoint-backed pair frame is consumed (its blocks released)") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b").localCheckpoint(true)
    val got = Components.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got(3L) == 1L && got(11L) == 10L)
    // the driver union-find path never references the input in its
    // result; the input's checkpoint blocks must not outlive the call
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.keySet}")
  }

  test("dropNearDuplicatesByQuality keeps the best member, ties to lowest id") {
    val corpus = Seq(
      (1L, 10), (2L, 50), (3L, 50), // cluster {1,2,3}: best quality 50, tie → 2
      (4L, 99),                     // untouched
      (8L, 1), (9L, 7))             // cluster {8,9}: 9 wins outright
      .toDF("id", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("a", "b")
    val kept = Components
      .dropNearDuplicatesByQuality(corpus, "id", pairs, "a", "b", "quality")
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 9L))
    // min-id policy on the same graph keeps different survivors
    val minId = Components.dropNearDuplicates(corpus, "id", pairs, "a", "b")
      .select($"id").as[Long].collect().toSet
    assert(minId == Set(1L, 4L, 8L))
  }

  test("gate bound: Int.MaxValue - 1 takes the driver lane; Long.MaxValue fails loud, not empty") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    def gated(cap: Long) =
      Components.connectedComponentsGated(edges, "a", "b")(graft.core.Gates.collectAtMost(_, cap))
    // the largest accepted bound: probe limit = Int.MaxValue, full answer
    val top = gated(Int.MaxValue - 1L).as[(Long, Long)].collect().toMap
    assert(top == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // cap + 1 would wrap and probe nothing; the operator refuses it
    val e = intercept[IllegalArgumentException](gated(Long.MaxValue))
    assert(e.getMessage.contains("driver-lane cap"))
    intercept[IllegalArgumentException](gated(Int.MaxValue.toLong))
  }
}
