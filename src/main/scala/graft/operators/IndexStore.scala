package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.load.Load

/** Persistence for a built kNN graph (the graph-ANN index under
  * [[Similarity.graphSearch]]) — the third of the index lifecycle
  * (build / probe / SERVE ACROSS SESSIONS): the graph is built once on
  * the corpus and searched by many later jobs, so it must land on
  * storage, and it must land ATOMICALLY — a half-written edge table
  * returns silently wrong neighbors.
  *
  * The unit of atomicity is the WHOLE index directory: components write
  * into `<dir>__staging`, then `Load.stagedSwap` (the
  * `Load.replaceTable` swap — back up the old directory by rename,
  * rename staging in, restore on failure) makes the complete index
  * visible in one rename. Doubles round-trip parquet exactly, so a
  * loaded graph searches BIT-IDENTICALLY to the built one
  * (IndexStoreSpec pins this).
  */
object IndexStore {

  private def readPart(spark: SparkSession, dir: String, part: String,
      expectCols: Seq[String]): DataFrame = {
    val p = new Path(dir, part)
    require(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
      s"$dir has no '$part' component — not a saved index")
    val df = spark.read.parquet(p.toString)
    require(expectCols.forall(df.columns.contains),
      s"$dir/$part lacks ${expectCols.filterNot(df.columns.contains).mkString(",")} — " +
        "not written by IndexStore")
    df
  }

  /** Atomic persist of a [[Similarity.knnGraph]] edge set — one
    * component, whole-directory swap: a half-written edge table must
    * never serve.
    */
  def saveKnnGraph(spark: SparkSession, graph: DataFrame, dir: String): Unit =
    Load.stagedSwap(spark.sparkContext.hadoopConfiguration, dir) { staging =>
      graph.select("query_id", "neighbor_id", "sim").write.parquet(s"$staging/edges")
    }

  /** Loaded edges are persisted (probed many times); the caller
    * releases them with `unpersist()`.
    */
  def loadKnnGraph(spark: SparkSession, dir: String): DataFrame =
    readPart(spark, dir, "edges", Seq("query_id", "neighbor_id", "sim"))
      .persist(StorageLevel.MEMORY_AND_DISK)
}
