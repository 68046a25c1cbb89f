package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's rollup-by-union pattern (SURVEY.md §2.5 A1-A3;
  * reference `src/main.py:87-119`) and its single-shuffle grouping-sets
  * reformulation.
  *
  * Semantics (note N5): the second rollup runs over base ∪ first-rollup,
  * so the (label2, label1) cell aggregates the already-rolled rows —
  * which makes the composite exactly a labeled CUBE over the two rolled
  * coordinates (no double counting: "Both" rows are the only rows whose
  * label1 coordinate is label1, so re-summing them yields the grand
  * total, the cube's (ALL, ALL) cell).
  *
  * `byUnion` is the row-for-row faithful translation (two shuffles, and
  * the base plan copied into the union four times); `cubeLabeled` is
  * one Aggregate over one Catalyst `Expand` — one shuffle. A ScalaTest
  * property asserts multiset equality of the two under every
  * `pandasExact` setting.
  *
  * `pandasExact` (opt-in; off keeps the engine's SQL semantics, the
  * better ones and what every oracle encodes) flips the two rollup
  * divergences the register documents:
  *  - D2: a group whose every measure value is null sums to 0, as
  *    pandas `sum(min_count=0)` does, instead of SQL's null;
  *  - D6: rows with a null in any non-rolled grouping key are EXCLUDED
  *    from the re-aggregation, as pandas `groupby` silently drops NaN
  *    keys — the base copies of those rows still pass through the
  *    union untouched, exactly like the reference.
  *
  * `byUnion` passes base rows through unaggregated, while the grouping-
  * sets form aggregates every set including the finest. Without a
  * `rowKey` the two agree only when `base` is unique at (grain); with a
  * `rowKey` (a non-string column set unique per base row) the finest set
  * is a passthrough and they agree on any input, duplicate grain rows
  * included.
  */
object Rollup {

  /** Re-aggregate `df` after overwriting `rollCol` with a constant label.
    * `grain` must list every output key column (including `rollCol`);
    * `measures` are summed with their original names kept.
    */
  private def relabelAgg(
      df: DataFrame, grain: Seq[String], rollCol: String, label: String,
      measures: Seq[String], pandasExact: Boolean): DataFrame = {
    val kept =
      if (!pandasExact) df
      else grain.filterNot(_ == rollCol)
        .foldLeft(df)((d, k) => d.where(col(k).isNotNull))
    val relabeled = kept.withColumn(rollCol, lit(label))
    val aggs = measures.map { m =>
      val s = sum(col(m))
      (if (pandasExact) coalesce(s, lit(0L)) else s).as(m)
    }
    relabeled.groupBy(grain.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Faithful translation of main.py:87-119: base ∪ roll1 ∪ roll2(base ∪ roll1). */
  def byUnion(
      base: DataFrame, grain: Seq[String], measures: Seq[String],
      roll1: (String, String), roll2: (String, String),
      pandasExact: Boolean = false): DataFrame = {
    val r1 = relabelAgg(base, grain, roll1._1, roll1._2, measures, pandasExact)
    val withR1 = base.unionByName(r1)
    val r2 = relabelAgg(withR1, grain, roll2._1, roll2._2, measures, pandasExact)
    withR1.unionByName(r2)
  }

  /** Single-pass equivalent: GROUPING SETS over the two rolled columns
    * (their four combinations = a labeled CUBE), via Spark 4's
    * `Dataset.groupingSets`. One shuffle through a Catalyst `Expand`
    * node; partial aggregation still combines map-side per grouping set.
    * `grouping()` indicators (legal only inside the aggregate) drive the
    * label substitution and the `pandasExact` rules, which run as a
    * projection and filter over the one aggregate:
    *  - `rowKey` joins the finest set only, making it a passthrough of
    *    the base rows (see the object doc);
    *  - D2 coalesces the rolled sets' sums to 0;
    *  - D6 drops rolled groups with a null non-rolled key. The
    *    (label2, label1) cell re-aggregates roll1's rows, and under D6
    *    those exist only for base rows whose `roll2` column is non-null,
    *    so that cell sums and counts just those rows (no such row: no
    *    cell).
    */
  def cubeLabeled(
      base: DataFrame, grain: Seq[String], measures: Seq[String],
      roll1: (String, String), roll2: (String, String),
      rowKey: Seq[String] = Nil,
      pandasExact: Boolean = false): DataFrame = {
    val (c1, l1) = roll1
    val (c2, l2) = roll2
    val keep = grain.filterNot(c => c == c1 || c == c2)
    val sets = Seq(
      keep ++ Seq(c1, c2) ++ rowKey, keep :+ c1, keep :+ c2, keep
    ).map(_.map(col))
    // aggregate functions read the un-expanded input columns, so the
    // roll2 test below sees real values even in the sets that roll it
    val fromRoll1 = col(c2).isNotNull
    val cellAggs =
      if (!pandasExact) Nil
      else measures.map(m => sum(when(fromRoll1, col(m))).as(s"_r1_$m")) :+
        count(when(fromRoll1, lit(1))).as("_r1_n")
    val aggs =
      measures.map(m => sum(col(m)).as(m)) ++ cellAggs :+
        grouping(col(c1)).as("_g1") :+ grouping(col(c2)).as("_g2")
    val agg = base
      .groupingSets(sets, (keep ++ Seq(c1, c2) ++ rowKey).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val rolled1 = col("_g1") === 1
    val rolled2 = col("_g2") === 1
    val rolled = rolled1 || rolled2
    val cell = rolled1 && rolled2
    val kept =
      if (!pandasExact) agg
      else agg.where(!rolled || (
        keep.map(col(_).isNotNull).foldLeft(lit(true))(_ && _) &&
          (rolled1 || col(c1).isNotNull) && (rolled2 || col(c2).isNotNull) &&
          (!cell || col("_r1_n") > 0)))
    val measureCols = measures.map { m =>
      if (!pandasExact) col(m).as(m)
      else when(rolled, coalesce(when(cell, col(s"_r1_$m")).otherwise(col(m)), lit(0L)))
        .otherwise(col(m)).as(m)
    }
    kept
      .withColumn(c1, when(rolled1, lit(l1)).otherwise(col(c1)))
      .withColumn(c2, when(rolled2, lit(l2)).otherwise(col(c2)))
      .select((grain.map(col) ++ measureCols): _*)
  }
}
