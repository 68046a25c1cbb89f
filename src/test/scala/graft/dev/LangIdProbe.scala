package graft.dev

import org.apache.spark.sql.functions._

/** Measures q217's HOLDOUT accuracy (train on the 20% slice, score
  * all) and wall at any SF dir, so the 0.95 oracle gate is pinned from
  * measurements at every bench scale (the q215/advice-r13 discipline).
  * Usage: Test/runMain graft.dev.LangIdProbe <sfDir> [<sfDir>...]
  */
object LangIdProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(graft.core.Sessions.envCores)
    spark.sparkContext.setLogLevel("WARN")
    val latin = "abcdefghijklmnopqrstuvwxyz"
    for (d <- args) {
      val t0 = System.nanoTime()
      val cls = pmod(col("doc_id"), lit(4L))
      val planted = graft.core.Tables.documents(spark, d).select(
        col("doc_id"),
        concat(lit("L"), cls.cast("string")).as("lang_true"),
        when(cls === 1, translate(lower(col("text")), latin, graft.queries.TextQueries10.Greek))
          .when(cls === 2, translate(lower(col("text")), latin, graft.queries.TextQueries10.Cyrillic))
          .when(cls === 3, translate(lower(col("text")), latin, graft.queries.TextQueries10.Hiragana))
          .otherwise(lower(col("text"))).as("text"))
      val iters = sys.env.get("LID_ITERS").map(_.toInt)
        .getOrElse(graft.operators.LangId.DefaultIters)
      val model = graft.operators.LangId.train(
        planted.where(col("doc_id") % 5 === 0), "lang_true", iters = iters)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val acc = graft.operators.LangId.score(planted, model)
        .join(planted.select(col("doc_id"), col("lang_true")), "doc_id")
        .agg(avg((col("predicted") === col("lang_true")).cast("double")))
        .head().getDouble(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[lidacc] $d iters=$iters acc=$acc%.6f train=$tTrain%.1fs wall=$dt%.1fs")
    }
    spark.stop()
  }
}
