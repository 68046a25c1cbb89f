package graft.dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only probe: multi-probe capture of the exact cosine>=tau pair
  * set (q151 criterion: a pair is captured iff ANY probed cell is
  * shared) at probes 1/2/3, for both the portable seed cells and the
  * Lloyd cells — calibrates the q152 capture floor — plus the size of
  * the PORTABLE cross-cell recovered pair set (pairs multi-probe
  * recovers that primary cells split). Usage:
  * sbt "Test/runMain graft.dev.CrossCellProbe [sfDir]"
  */
object CrossCellProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = graft.core.Sessions.envCores
    val spark = graft.core.Sessions
      .configure(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val exact = graft.operators.Similarity.nearDupPairs(
        emb, "vec_id", "embedding", tau = 0.4)
      .select(col("id_a"), col("id_b")).cache()
    val total = exact.count()

    // capture under the ANY-shared-probed-cell criterion
    def capture(cells: org.apache.spark.sql.DataFrame): Double = {
      val c = cells.select(col("vec_id"), col("cell"))
      val captured = exact
        .join(c.select(col("vec_id").as("id_a"), col("cell")), Seq("id_a"))
        .join(c.select(col("vec_id").as("id_b"), col("cell")), Seq("id_b", "cell"))
        .select("id_a", "id_b").distinct().count()
      captured.toDouble / total
    }

    for (probes <- Seq(1, 2, 3)) {
      val seedCells = graft.operators.SemDedup.seedCells(
        emb, "vec_id", "embedding", nCells = 8, probes = probes)
      val lloydCells = graft.operators.SemDedup.lloydCells(
        emb, "vec_id", "embedding", nCells = 8, probes = probes)
      println(f"[crosscell] sf=$sfDir pairs=$total probes=$probes " +
        f"seed=${capture(seedCells)}%.3f lloyd=${capture(lloydCells)}%.3f")
    }
    spark.stop()
  }
}
