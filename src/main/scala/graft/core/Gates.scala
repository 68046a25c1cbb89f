package graft.core

import org.apache.spark.sql.Dataset

/** The driver-lane gate of Components, KCore, Bpe, Unigram, LangId,
  * QualityClassifier and Ivf: each runs its driver lane on `Some(rows)`
  * and its distributed lane on `None`.
  */
object Gates {

  /** At most `cap` rows of `ds`, in `collect()`'s partition order, or
    * `None` when it holds more: one bounded `ds.limit(cap + 1).collect()`
    * with no `count()` first. The limit scans partitions incrementally,
    * so the probe may run a few jobs. Trade-off: above the cap, up to
    * `cap + 1` rows reach the driver before the distributed lane runs;
    * the cap is the budget the driver lane is sized for. `cap` must lie
    * in `[0, Int.MaxValue)`, as a wrapped limit would pass empty input.
    */
  def collectAtMost[T](ds: Dataset[T], cap: Long): Option[Array[T]] = {
    require(cap >= 0 && cap < Int.MaxValue, s"driver-lane cap $cap is outside [0, ${Int.MaxValue})")
    val rows = ds.limit(cap.toInt + 1).collect()
    if (rows.length <= cap) Some(rows) else None
  }
}
