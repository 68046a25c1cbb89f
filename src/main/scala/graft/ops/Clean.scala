package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType

/** Null-handling and sentinel scrubbing (SURVEY.md §2.2 P3/P4).
  *
  * Ordering contract (N1, reference `src/main.py:80-83`): `dropNullRows`
  * runs BEFORE `sentinelsToNull` — a measure holding the *string* `"*"`
  * survives the null-filter and only then becomes null, so it flows into
  * downstream rollups (where SQL `sum` skips it), while born-null
  * measures were already dropped.
  *
  * The HPV pipeline applies N1 and N2 to its driver rows itself
  * (`HpvPipeline.combine`), with [[DefaultSentinels]] and
  * [[droppedByName]] from here. [[dropNullRows]] and [[sentinelsToNull]]
  * are the DataFrame reference forms of P3/P4: the faithful combine in
  * `HpvPipelineSpec` and `OpsSpec` check against them.
  */
object Clean {

  /** NHS small-number suppression markers (reference `src/main.py:81-83`). */
  val DefaultSentinels: Seq[String] = Seq("*", "[E]", "[DS]")

  /** P3: drop rows where ANY of `cols` is null (pandas dropna(subset));
    * the reference form of `HpvPipeline.combine`'s N1. */
  def dropNullRows(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop(cols)

  /** P4 + N2: replace sentinel strings with null in EVERY string-typed
    * column (the reference's replace is full-frame — keys included); the
    * reference form of `HpvPipeline.combine`'s N2.
    */
  def sentinelsToNull(df: DataFrame, sentinels: Seq[String] = DefaultSentinels): DataFrame = {
    val stringCols = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }
    if (stringCols.isEmpty) df
    else df.na.replace(stringCols.toSeq, sentinels.map(_ -> (null: String)).toMap)
  }

  /** P1/P2: the reference's name-pattern column drops — a header naming
    * a percentage or the 2-doses measure is not kept.
    */
  def droppedByName(header: String): Boolean =
    header.contains("%") || header.contains("2 doses")
}
