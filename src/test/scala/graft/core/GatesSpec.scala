package graft.core

import graft.SparkTestBase

/** [[Gates.collectAtMost]] at its boundaries: the cap itself, one row
  * over it, an empty input, and the caps whose `cap + 1` limit would
  * wrap.
  */
class GatesSpec extends SparkTestBase {
  import spark.implicits._

  // three partitions, so the probe's incremental scan crosses partitions
  private def ds = spark.range(0, 10, 1, 3).as[Long]

  test("a cap equal to the row count gives every row, in collect() order") {
    assert(Gates.collectAtMost(ds, 10L).map(_.toSeq) == Some(ds.collect().toSeq))
    // the largest cap accepted: its limit is Int.MaxValue
    assert(Gates.collectAtMost(ds, Int.MaxValue - 1L).map(_.toSeq) == Some(ds.collect().toSeq))
  }

  test("a cap one below the row count gives None") {
    assert(Gates.collectAtMost(ds, 9L).isEmpty)
  }

  test("cap 0 on an empty input gives Some(empty)") {
    assert(Gates.collectAtMost(ds.where($"id" < 0), 0L).map(_.toSeq) == Some(Seq.empty))
  }

  test("caps whose limit would wrap or go negative are refused, naming the cap") {
    for (cap <- Seq(-1L, Int.MaxValue.toLong, Long.MaxValue)) {
      val e = intercept[IllegalArgumentException](Gates.collectAtMost(ds, cap))
      assert(e.getMessage.contains(cap.toString), e.getMessage)
    }
  }
}
