package graft.dev
import org.apache.spark.sql.functions._
import graft.operators.Unigram
object UnigramProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(graft.core.Sessions.envCores)
    spark.sparkContext.setLogLevel("WARN")
    for (d <- args) {
      val docs = graft.core.Tables.documents(spark, d).localCheckpoint(true)
      val t0 = System.nanoTime()
      val m = Unigram.train(docs, vocabSize = 512)
      val t1 = System.nanoTime()
      val rep = Unigram.pieceReport(docs, m)
        .join(docs.select(col("doc_id"),
          length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("nc")), "doc_id")
        .agg(sum(col("n_pieces")).as("p"), sum(col("nc")).as("c"),
          sum(col("n_tokens")).as("t"), count(lit(1)))
        .head()
      val t2 = System.nanoTime()
      val ratio = rep.getLong(0).toDouble / rep.getLong(1)
      println(f"[up] $d pieces=${rep.getLong(0)} chars=${rep.getLong(1)} toks=${rep.getLong(2)} " +
        f"ratio=$ratio%.3f vocab=${m.pieces.length} train=${(t1-t0)/1e9}%.1fs apply=${(t2-t1)/1e9}%.1fs")
      graft.operators.Lineage.release(docs)
    }
    spark.stop()
  }
}
