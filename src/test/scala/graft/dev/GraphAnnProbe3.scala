package graft.dev

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Similarity

/** NN-descent refinement A/B (round-14 verdict #1): q206 recall/wall
  * on the raw LSH-seeded deg-8 graph vs 1 and 2 NN-descent rounds,
  * plus the graph's own edge recall vs the exact kNN graph (the
  * binding constraint the refinement targets). Auto-sized search,
  * q206's config (deg=8, k=10, queries = vec_id < 5).
  * Usage: Test/runMain graft.dev.GraphAnnProbe3 <sfDir> [<sfDir>...]
  */
object GraphAnnProbe3 {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(graft.core.Sessions.envCores)
    spark.sparkContext.setLogLevel("WARN")
    for (d <- args) {
      val emb = Tables.embeddings(spark, d).localCheckpoint(true)
      val n = emb.count()
      val qs = emb.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
      for ((deg, rounds) <- Seq((8, 0), (0, 0), (0, 1), (0, 2))) {
        val b0 = System.nanoTime()
        val graph = Similarity.knnGraph(
            emb, "vec_id", "embedding", k = deg, refineRounds = rounds)
          .localCheckpoint(true)
        val build = (System.nanoTime() - b0) / 1e9
        val t0 = System.nanoTime()
        val ann = Similarity.graphSearch(graph, emb, qs, "vec_id", "embedding",
            k = 10, beam = 0, rounds = 0)
          .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
        val wall = (System.nanoTime() - t0) / 1e9
        val rec = exact.join(ann.withColumn("_h", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .agg(avg(coalesce(col("_h"), lit(0L)).cast("double")))
          .head().getDouble(0)
        println(f"[gann3] $d n=$n deg=$deg refine=$rounds recall=$rec%.3f " +
          f"probe=$wall%.1fs build=$build%.1fs")
        graft.operators.Lineage.release(ann)
        graft.operators.Lineage.release(graph)
        graph.unpersist()
      }
      graft.operators.Lineage.release(exact)
      graft.operators.Lineage.release(emb)
    }
    spark.stop()
  }
}
