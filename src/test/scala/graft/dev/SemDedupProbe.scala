package graft.dev

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only probe: measure the q151 flag's raw value — what fraction of
  * the exact cosine>=tau pair set lands inside one cell, for both the
  * portable seed cells and the Lloyd-refined cells. Calibrates the
  * `lloyd_ok` floor. Usage: sbt "Test/runMain graft.dev.SemDedupProbe [sfDir]"
  */
object SemDedupProbe {
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

    def capture(cells: org.apache.spark.sql.DataFrame): Double = {
      val c = cells.select(col("vec_id"), col("cell"))
      val captured = exact
        .join(c.select(col("vec_id").as("id_a"), col("cell").as("ca")), Seq("id_a"))
        .join(c.select(col("vec_id").as("id_b"), col("cell").as("cb")), Seq("id_b"))
        .where(col("ca") === col("cb")).count()
      captured.toDouble / total
    }

    for (n <- Seq(8, 16)) {
      val portable = graft.operators.SemDedup.semanticDedup(
        emb, "vec_id", "embedding", nCells = n, tau = 0.4)
      for (steps <- Seq(2, 4)) {
        val lloyd = graft.operators.SemDedup.semanticDedupLloyd(
          emb, "vec_id", "embedding", nCells = n, tau = 0.4, lloydSteps = steps)
        println(f"[semdedup] sf=$sfDir pairs=$total cells=$n steps=$steps " +
          f"portable=${capture(portable)}%.3f lloyd=${capture(lloyd)}%.3f")
      }
    }
    spark.stop()
  }
}
