package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles per group, with a group-count-gated
  * choice of physical strategy.
  *
  * Two regimes, two plans — both computing Spark's `percentile`
  * semantics bit-for-bit (position `(n−1)·p`, then
  * `lo·(⌈pos⌉−pos) + hi·(pos−⌊pos⌋)`), so DuckDB `quantile_cont`
  * oracles hash-match either way and QuantilesSpec pins the two paths
  * equal on arbitrary (non-grid) percentages:
  *
  *  - FEW groups → the combined-buffer `percentile` AGGREGATE (one
  *    ObjectHashAggregate; map-side partials, one value→count map per
  *    group per partial). Group count is small, so the merge fans in
  *    over few maps and the whole job is one exchange of tiny partial
  *    state — measured 3× faster than the sort path on a 500-group ×
  *    6M-row profile (q155 at sf1: 6.1 s → aggregate ~1.5 s), and the
  *    regime every latency/SLA dashboard profile (≤ thousands of
  *    groups) lives in.
  *
  *  - MANY groups → the SORT path: rank each value in its group (one
  *    hash exchange on the keys + codegen sort), keep only the ≤ 2·|ps|
  *    interpolation-anchor rows per group, fold them into the answer.
  *    Per-row cost is flat regardless of value distinctness, which is
  *    what survives when the group count (per-key profiles at corpus
  *    scale) makes per-group value→count maps the size of the data.
  *
  * The gate is a cheap `approx_count_distinct` over the key struct
  * (single scan, partial-merged, no shuffle of data rows) against
  * `aggGroupLimit`. HLL ±2% error is irrelevant at a 64× margin: the
  * crossover between the plans is shallow (both are correct; measured
  * times cross between ~10⁴ and ~10⁵ groups on 32 cores), so a
  * misestimate near the limit costs a few percent, not correctness.
  * Callers that know their regime can pin it with `aggGroupLimit = 0`
  * (always sort) or `Int.MaxValue` (always aggregate).
  *
  * Numeric contract (both paths): nulls in `valCol` are excluded;
  * a group whose values are ALL null still appears, with `n` = 0 and a
  * null `pct` — exactly the aggregate's semantics.
  *
  * Scale shape: the aggregate path ships one map per group per partial
  * (fine when groups are few); the sort path ships each row once into
  * its group's sort range. Skew bound on the sort path: a single group
  * sorts in one task — for a near-keyless profile at extreme scale,
  * range-partition the value column and compose counts instead (or
  * accept `percentile_approx`, the sketch path q150 pairs with this
  * exact anchor).
  */
object Quantiles {

  /** Default dispatch threshold: at ≤ this many groups the combined-
    * buffer aggregate wins. Deliberately EQUAL to the
    * `objectHashAggregate.sortBased.fallbackThreshold` the engine
    * session sets (graft.core.Sessions): routing more groups than the
    * fallback threshold into the agg path would hand them to an
    * ObjectHashAggregate that silently degrades to sort-based
    * aggregation — the exact pathology the dispatch exists to avoid.
    */
  val DefaultAggGroupLimit: Long = 4096L

  /** @return one row per group: keyCols, `n` (non-null value count),
    *   and `pct` = array of interpolated percentiles aligned with `ps`
    *   (the `percentile(col, array(...))` output shape).
    */
  def gridPercentiles(
      df: DataFrame, keyCols: Seq[String], valCol: String,
      ps: Seq[Double], aggGroupLimit: Long = DefaultAggGroupLimit): DataFrame = {
    requireArgs(keyCols, ps)
    val useAgg =
      if (aggGroupLimit <= 0L) false
      else if (aggGroupLimit == Long.MaxValue) true
      else {
        val est = df
          .agg(approx_count_distinct(struct(keyCols.map(col): _*)).as("g"))
          .head().getLong(0)
        est <= aggGroupLimit
      }
    if (useAgg) gridPercentilesAgg(df, keyCols, valCol, ps)
    else gridPercentilesSorted(df, keyCols, valCol, ps)
  }

  /** Few-group path: the value-buffering `ExactPercentiles` aggregate
    * (one growable primitive array per group; partial+final
    * ObjectHashAggregate, merge = arraycopy, one sort at eval). Beats
    * both Spark's `percentile` (value→count map: ~50 B + a hash probe
    * per distinct value, map-union merge) and the sort-path window
    * (full-row shuffle + rank pass) whenever groups are few enough
    * that their buffers fit the final tasks — measured 8.5 s /
    * 6.1 s / ~2 s respectively on q155 at sf1. `fanOut` first: the
    * partial is CPU-bound and a small parquet scan arrives narrow.
    */
  private[graft] def gridPercentilesAgg(
      df: DataFrame, keyCols: Seq[String], valCol: String,
      ps: Seq[Double]): DataFrame = {
    requireArgs(keyCols, ps)
    val keys = keyCols.map(col)
    val np = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.ExactPercentiles(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("_v")),
        ps).toAggregateExpression())
    graft.core.Partitioning.fanOut(df)
      .select(keys :+ col(valCol).cast("double").as("_v"): _*)
      .groupBy(keys: _*)
      .agg(np.as("_np"))
      .select(keys ++ Seq(col("_np.n").as("n"), col("_np.pct").as("pct")): _*)
  }

  /** Many-group path: rank-in-group window, keep interpolation anchors,
    * fold. See the object doc for the regime argument.
    */
  private[graft] def gridPercentilesSorted(
      df: DataFrame, keyCols: Seq[String], valCol: String,
      ps: Seq[Double]): DataFrame = {
    requireArgs(keyCols, ps)
    val keys = keyCols.map(col)
    val w = Window.partitionBy(keys: _*).orderBy(col("_v"))
    val wc = Window.partitionBy(keys: _*)
    val rows = df.where(col(valCol).isNotNull)
      .select(keys :+ col(valCol).cast("double").as("_v"): _*)
      .withColumn("_idx", row_number().over(w).cast("long") - 1)
      .withColumn("_n", count(lit(1)).over(wc))
    // keep only rank positions some percentage interpolates from; the
    // filter runs inside the same window stage, so the wide sorted data
    // never leaves it
    def pos(p: Double): Column = (col("_n") - 1).cast("double") * lit(p)
    val needed = ps.map(p =>
      col("_idx") === floor(pos(p)) || col("_idx") === ceil(pos(p))).reduce(_ || _)
    val picked = rows.where(needed)
    // ≤ 2·|ps| rows per group survive; min(when(...)) collapses the
    // unique rank row (min of one value) into a column per bound
    val bounds = ps.zipWithIndex.flatMap { case (p, i) =>
      Seq(
        min(when(col("_idx") === floor(pos(p)), col("_v"))).as(s"_lo_$i"),
        min(when(col("_idx") === ceil(pos(p)), col("_v"))).as(s"_hi_$i"))
    }
    val agg = picked.groupBy(keys: _*)
      .agg(max(col("_n")).as("n"), bounds: _*)
      // a group whose values are ALL null has no surviving row, but the
      // percentile aggregate still emits it (null result, zero count) —
      // restore it from the key set so a caller switching from the
      // aggregate loses no groups
    val allGroups = df.select(keys: _*).distinct()
    // Spark Percentile.getPercentile's exact double expression:
    // lower==higher → the value; else lo·(⌈pos⌉−pos) + hi·(pos−⌊pos⌋)
    def interp(i: Int, p: Double): Column = {
      val position = (col("n") - 1).cast("double") * lit(p)
      when(floor(position) === ceil(position), col(s"_lo_$i"))
        .otherwise(
          col(s"_lo_$i") * (ceil(position) - position) +
            col(s"_hi_$i") * (position - floor(position)))
    }
    // null-safe key join (a NULL group key is still a group, exactly as
    // groupBy treats it) of the two sides by alias, as both derive from
    // `df`; missing groups report n = 0 and a null pct — the aggregate's
    // output for an all-null group
    def key(side: String, c: String): Column = col(s"$side.`$c`")
    val joined = allGroups.as("_g").join(agg.as("_a"),
      keyCols.map(c => key("_g", c) <=> key("_a", c)).reduce(_ && _), "left")
    joined.select(
      keyCols.map(c => key("_g", c).as(c)) ++ Seq(
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("n").isNull, lit(null))
          .otherwise(array(ps.zipWithIndex.map { case (p, i) => interp(i, p) }: _*))
          .as("pct")): _*)
  }

  private def requireArgs(keyCols: Seq[String], ps: Seq[Double]): Unit = {
    require(keyCols.nonEmpty, "gridPercentiles needs at least one group key")
    require(ps.nonEmpty, "gridPercentiles needs at least one percentage")
    require(ps.forall(p => p >= 0.0 && p <= 1.0), s"percentages outside [0,1]: $ps")
  }
}
