package graft.dev

import org.apache.spark.sql.functions._
import graft.operators.LangId

/** Holdout accuracy + confusion counts for the SAME-SCRIPT LID fixture
  * (round-14 verdict #7). Usage: Test/runMain graft.dev.LidHardProbe <sfDir>...
  */
object LidHardProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(graft.core.Sessions.envCores)
    spark.sparkContext.setLogLevel("WARN")
    for (d <- args; trunc <- Seq(15)) {
      val planted = graft.core.Tables.documents(spark, d)
        .select(col("doc_id"),
          concat(lit("S"), pmod(col("doc_id"), lit(2L)).cast("string")).as("lang_true"),
          substring(graft.queries.TextQueries10.plantedHardText, 1, trunc).as("text"))
        .localCheckpoint(true)
      val t0 = System.nanoTime()
      val m = LangId.train(planted.where(col("doc_id") % 5 === 0), "lang_true")
      val t1 = System.nanoTime()
      val scored = LangId.score(planted, m)
        .join(planted.select(col("doc_id"), col("lang_true")), "doc_id")
      val conf = scored.groupBy(col("lang_true"), col("predicted"))
        .count().orderBy(col("lang_true"), col("predicted")).collect()
      val acc = scored.agg(avg((col("predicted") === col("lang_true")).cast("double")))
        .head().getDouble(0)
      val holdout = scored.where(col("doc_id") % 5 =!= 0)
        .agg(avg((col("predicted") === col("lang_true")).cast("double")))
        .head().getDouble(0)
      println(f"[lidhard] $d trunc=$trunc acc=$acc%.4f holdout=$holdout%.4f train=${(t1-t0)/1e9}%.1fs " +
        conf.map(r => s"${r.get(0)}->${r.get(1)}:${r.getLong(2)}").mkString(" "))
      graft.operators.Lineage.release(planted)
    }
    spark.stop()
  }
}
