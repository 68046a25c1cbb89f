package graft.dev

import org.apache.spark.sql.functions._

/** Advice r13 (low): q215's oracle pins acc_ok=1 from an accuracy
  * floor measured at sf0.001-0.01, but the bench runs at sf0.1/sf1.
  * This probe measures the RAW training accuracy of the exact q215
  * pipeline (same planting, same 12 iterations) at any SF dir, so the
  * 0.95 gate's margin is recorded rather than hoped.
  * Usage: Test/runMain graft.dev.Q215AccProbe <sfDir> [<sfDir>...]
  */
object Q215AccProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(graft.core.Sessions.envCores)
    spark.sparkContext.setLogLevel("WARN")
    for (d <- args) {
      val t0 = System.nanoTime()
      val m = pmod(col("doc_id"), lit(4L)).cast("string")
      val label = pmod(col("doc_id"), lit(2L))
      val planted = graft.core.Tables.documents(spark, d).select(
        col("doc_id"), label.as("label"),
        concat(coalesce(col("text"), lit("")),
          when(label === 1,
            concat(lit(" qga"), m, lit(" qgb"), m, lit(" qgc"), m))
            .otherwise(concat(lit(" qba"), m, lit(" qbb"), m, lit(" qbc"), m)))
          .as("text"))
      val model = graft.operators.QualityClassifier.train(planted, "label", iters = 12)
      val acc = graft.operators.QualityClassifier.score(planted, model)
        .join(planted.select(col("doc_id"), col("label")), "doc_id")
        .agg(avg((col("accepted") === col("label")).cast("double")).as("acc"))
        .head().getDouble(0)
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[q215acc] $d acc=$acc%.6f wall=$dt%.1fs")
    }
    spark.stop()
  }
}
