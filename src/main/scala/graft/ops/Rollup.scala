package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's rollup-by-union pattern (SURVEY.md §2.5 A1-A3;
  * reference `src/main.py:87-119`) in three equivalent forms.
  *
  * Semantics (note N5): the second rollup runs over base ∪ first-rollup,
  * so the (label2, label1) cell aggregates the already-rolled rows —
  * which makes the composite exactly a labeled CUBE over the two rolled
  * coordinates (no double counting: "Both" rows are the only rows whose
  * label1 coordinate is label1, so re-summing them yields the grand
  * total, the cube's (ALL, ALL) cell).
  *
  *  - `byUnion` is the row-for-row faithful translation (two shuffles,
  *    and the base plan copied into the union four times);
  *  - `cubeLabeled` is one Aggregate over one Catalyst `Expand` — one
  *    shuffle. It aggregates every set including the finest, so it
  *    agrees with `byUnion` only when `base` is unique at (grain);
  *  - `labeledCubeRows` computes the same cube over rows already on the
  *    driver, with no Spark job: each base row passes through as it is,
  *    so it agrees with `byUnion` on any input, duplicate grain rows
  *    included. The HPV fact table (about 12k rows) is rolled up this way.
  *
  * A ScalaTest property asserts multiset equality of each with
  * `byUnion`, under every `pandasExact` setting the form takes.
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
    * label substitution, a projection over the one aggregate.
    */
  def cubeLabeled(
      base: DataFrame, grain: Seq[String], measures: Seq[String],
      roll1: (String, String), roll2: (String, String)): DataFrame = {
    val (c1, l1) = roll1
    val (c2, l2) = roll2
    val keep = grain.filterNot(c => c == c1 || c == c2)
    val sets = Seq(keep ++ Seq(c1, c2), keep :+ c1, keep :+ c2, keep).map(_.map(col))
    val aggs = measures.map(m => sum(col(m)).as(m)) :+
      grouping(col(c1)).as("_g1") :+ grouping(col(c2)).as("_g2")
    base
      .groupingSets(sets, (keep ++ Seq(c1, c2)).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(c1, when(col("_g1") === 1, lit(l1)).otherwise(col(c1)))
      .withColumn(c2, when(col("_g2") === 1, lit(l2)).otherwise(col(c2)))
      .select((grain ++ measures).map(col): _*)
  }

  /** The labeled cube over `rows` on the driver, returned in the same
    * layout as `rows` (named by `columns`; every column not in
    * `measures` is a grouping key, every measure a nullable long).
    *
    * Each base row passes through unchanged, and also joins three
    * groups: roll1's (its `roll1` column set to the label), roll2's
    * (its `roll2` column set to the label) and the cell (both set). SQL
    * semantics: null keys group together, a group with no non-null value
    * sums to null, and a sum past the long range fails as ANSI `sum`
    * does, never wrapping. Under `pandasExact` a row joins a group only
    * when that group's non-rolled keys are all non-null (D6), and rolled
    * sums coalesce to 0 (D2). The cell re-aggregates roll1's rows, and
    * under D6 those exist only for rows whose `roll2` column is non-null,
    * so the cell then takes just those rows (none: no cell).
    */
  def labeledCubeRows(
      rows: Seq[Row], columns: Seq[String], measures: Seq[String],
      roll1: (String, String), roll2: (String, String),
      pandasExact: Boolean = false): Seq[Row] = {
    def index(c: String): Int = {
      val i = columns.indexOf(c)
      require(i >= 0, s"no column $c in ${columns.mkString("[", ", ", "]")}")
      i
    }
    val n = columns.size
    val (i1, i2) = (index(roll1._1), index(roll2._1))
    val ms = measures.map(index).toIndexedSeq
    val keep = columns.indices.filterNot(i => i == i1 || i == i2 || ms.contains(i))
    // per rolled set: the labels it sets, and the columns that must be
    // non-null under D6
    val sets = Seq(
      (Seq(i1 -> roll1._2), keep :+ i2),
      (Seq(i2 -> roll2._2), keep :+ i1),
      (Seq(i1 -> roll1._2, i2 -> roll2._2), keep :+ i2)).zipWithIndex
    // key: the group's output row with its measures blank, then the set's
    // index (a base value can equal a label); value: the measures' sums
    val groups = mutable.LinkedHashMap.empty[mutable.ArraySeq[Any], Array[java.lang.Long]]
    for (r <- rows; ((labels, nonNull), s) <- sets
         if !pandasExact || nonNull.forall(!r.isNullAt(_))) {
      val key = Array.tabulate[Any](n + 1)(i => if (i < n) r.get(i) else s)
      ms.foreach(key(_) = null)
      labels.foreach { case (i, label) => key(i) = label }
      val sums = groups.getOrElseUpdate(mutable.ArraySeq.make(key), new Array[java.lang.Long](ms.size))
      for (j <- ms.indices if !r.isNullAt(ms(j))) {
        val v = r.getLong(ms(j))
        sums(j) = if (sums(j) == null) v else Math.addExact(sums(j).longValue, v)
      }
    }
    rows ++ groups.map { case (key, sums) =>
      val out = key.toArray.take(n)
      for (j <- ms.indices) out(ms(j)) = if (sums(j) == null && pandasExact) 0L else sums(j)
      Row.fromSeq(out.toIndexedSeq)
    }
  }
}
