package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StringType

/** The DataFrame reference forms of P3/P4 (SURVEY.md §2.2): the
  * reference's dropna and full-frame replace, spelled with Spark's `na`
  * functions. `OpsSpec` pins their N1/N2 semantics, and
  * `HpvPipelineSpec`'s faithful combine checks `HpvPipeline.combine`'s
  * driver-side N1/N2 against them.
  */
object CleanFrames {

  /** P3: drop rows where ANY of `cols` is null (pandas dropna(subset)). */
  def dropNullRows(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop(cols)

  /** P4 + N2: replace sentinel strings with null in EVERY string-typed
    * column (the reference's replace is full-frame — keys included).
    */
  def sentinelsToNull(df: DataFrame, sentinels: Seq[String] = Clean.DefaultSentinels): DataFrame = {
    val stringCols = df.schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }
    if (stringCols.isEmpty) df
    else df.na.replace(stringCols.toSeq, sentinels.map(_ -> (null: String)).toMap)
  }
}
