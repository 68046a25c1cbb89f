package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Try

import graft.load.{Load, LoadReport}

/** Incremental refresh of a partitioned aggregate when late data
  * arrives — the backfill primitive of a day-partitioned metrics
  * store. A full rebuild re-aggregates every partition to absorb a
  * delta that touches three of 3 000 days; this refresh re-aggregates
  * ONLY the partitions present in the delta (from the full raw table,
  * so replays/duplicates in the delta cannot double-count) and
  * publishes them through [[Load.replacePartitions]]' per-partition
  * backup/rollback.
  *
  * Contract: `agg` must be partition-local — it preserves
  * `partitionCol` and every output row's partition derives only from
  * input rows of that partition (group-bys keyed on the partition
  * column satisfy this; global aggregates do not, by construction:
  * they need the full rebuild). The refresh is idempotent — re-running
  * with the same delta recomputes the same partitions to the same
  * bytes.
  */
object IncrementalAgg {

  /** Recompute `aggDir`'s partitions touched by `delta` from `raw`
    * (the full raw table, delta already landed in it), using the
    * caller's partition-local aggregation. Returns the partition
    * sink's report (rows = rows written across refreshed partitions);
    * zero-partition deltas return a 0-row report without writing.
    */
  def refresh(
      spark: SparkSession, raw: DataFrame, delta: DataFrame,
      aggDir: String, partitionCol: String)(
      agg: DataFrame => DataFrame): Try[LoadReport] = Try {
    require(delta.columns.contains(partitionCol),
      s"delta must carry the partition column $partitionCol")
    // collect BOTH the typed value (for the membership filter) and its
    // string cast — escapePathName(cast-to-string) is exactly how the
    // parquet writer renders partition directory names, so drop names
    // derived from it match the destination byte-for-byte (deriving
    // them from value.toString does not: '01' vs 1, timestamp '.0')
    val touchedRows = delta
      .select(col(partitionCol).as("v"), col(partitionCol).cast("string").as("s"))
      .distinct().collect()
    val touched = touchedRows.map(_.get(0))
    if (touched.isEmpty) LoadReport(0L, aggDir)
    else {
      val (nulls, nonNull) = touched.partition(_ == null)
      val member = {
        val base =
          if (nonNull.isEmpty) lit(false) else col(partitionCol).isin(nonNull: _*)
        if (nulls.isEmpty) base else base || col(partitionCol).isNull
      }
      val refreshed = agg(raw.where(member))
      require(refreshed.columns.contains(partitionCol),
        s"agg must preserve the partition column $partitionCol")
      // a partition-REMAPPING agg (day→week) would silently publish
      // partial aggregates over out-of-scope partitions; fail loudly
      // when the recomputed output leaves the touched set
      val touchedStrs = touchedRows.map(r => Option(r.getString(1))).toSet
      val outside = refreshed
        .select(col(partitionCol).cast("string")).distinct().collect()
        .map(r => Option(r.getString(0))).filterNot(touchedStrs)
      require(outside.isEmpty,
        s"agg emitted partitions outside the delta's touched set " +
          s"(${outside.flatten.mkString(", ")}) — it must be partition-local")
      // every touched partition rides the drop list: replacePartitions
      // keeps the ones with staged content, and a touched partition
      // whose recomputed aggregate is EMPTY has its stale files removed
      // instead of silently surviving
      val drops = touchedRows.map(r => dirName(partitionCol, Option(r.getString(1))))
      Load.replacePartitions(spark, refreshed, aggDir, partitionCol,
        dropPartitions = drops.toSeq).get
    }
  }

  private def dirName(partitionCol: String, castStr: Option[String]): String = {
    val v = castStr.fold("__HIVE_DEFAULT_PARTITION__")(
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName)
    s"$partitionCol=$v"
  }
}
