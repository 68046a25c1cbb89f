package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Manual skew-mitigation patterns (SURVEY §4 / 100-TB design point).
  *
  * AQE's skew-join splitting (enabled in graft.core.Sessions) covers
  * sort-merge joins at runtime; the salted aggregation here covers a
  * case AQE doesn't reach — sums over hot keys. Salts are derived
  * deterministically from row content, so results are stable across
  * retries/speculation.
  */
object Skew {

  /** Two-phase salted sum aggregation: partial sums per (keys, salt) —
    * spreading a hot key across `salts` reducers — then final sums per
    * keys. Result identical to a direct groupBy-sum (sum is
    * commutative/associative; decimal-exact inputs keep it
    * order-independent).
    */
  def saltedSumAgg(
      df: DataFrame, keys: Seq[String], measures: Seq[String], salts: Int): DataFrame = {
    require(salts > 1, "salts must be > 1")
    val salted = df.withColumn("_salt", pmod(hash(df.columns.map(col): _*), lit(salts)))
    val partial = salted
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(measures.map(m => sum(col(m)).as(m)).head,
        measures.map(m => sum(col(m)).as(m)).tail: _*)
    partial
      .groupBy(keys.map(col): _*)
      .agg(measures.map(m => sum(col(m)).as(m)).head,
        measures.map(m => sum(col(m)).as(m)).tail: _*)
  }
}
