package graft.dev

import org.apache.spark.sql.functions._

/** Dev-only soak for the segmented substring-ingest store (round-11
  * verdict #1 "Done" evidence): 50 micro-batches through the REAL
  * applyBatch, recording per-trigger segment bytes and wall — the
  * publish-growth curve that proves O(batch) publish (round 11's fold
  * republished the whole index: bytes grew linearly with batch count).
  *
  * Usage: sbt "Test/runMain graft.dev.SubstringSoak [sfDir] [nBatches] [maxSegments]"
  */
object SubstringSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val n = args.drop(1).headOption.map(_.toInt).getOrElse(50)
    val maxSegments = args.drop(2).headOption.map(_.toInt).getOrElse(1000)
    val spark = graft.core.Sessions.local(graft.core.Sessions.envCores)
    spark.sparkContext.setLogLevel("WARN")
    val root = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val (indexDir, reportDir) = (s"$root/index", s"$root/reports")
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint()
    println(s"[soak] docs=${docs.count()} batches=$n maxSegments=$maxSegments root=$root")

    def dirBytes(p: String, pred: String => Boolean = _ => true): Long = {
      val f = new java.io.File(p)
      if (!f.exists) 0L
      else {
        def walk(x: java.io.File): Long =
          if (x.isDirectory) Option(x.listFiles()).map(_.map(walk).sum).getOrElse(0L)
          else if (pred(x.getName)) x.length else 0L
        walk(f)
      }
    }
    var prevTotal = 0L
    for (b <- 0 until n) {
      val batch = docs.where(col("doc_id") % n === b)
      val t0 = System.nanoTime()
      graft.streaming.SubstringIngest.applyBatch(
        batch, b.toLong, indexDir, reportDir, k = 8, maxSegments = maxSegments)
      val wall = (System.nanoTime() - t0) / 1e9
      val total = dirBytes(indexDir)
      val segParquet = dirBytes(s"$indexDir/seg_$b", _.endsWith(".parquet"))
      val delta = total - prevTotal
      prevTotal = total
      if (b < 3 || b % 10 == 9 || b == n - 1) {
        // LIVE counts via the liveness view (dead folded parts linger
        // on disk inside the reader grace window — storeTotal shows
        // the footprint including them)
        val stats = graft.streaming.SubstringIngest.storeStats(spark, indexDir)
        println(f"[soak] batch=$b%3d wall=$wall%6.2f s segParquet=${segParquet / 1024}%7d KB " +
          f"publishedDelta=${delta / 1024}%8d KB storeTotal=${total / 1024 / 1024}%5d MB " +
          f"segs=${stats.liveSegments}%3d msegs=${stats.liveMsegRuns}%2d " +
          f"baseParquet=${stats.baseDataBytes / 1024}%6d KB")
      }
    }
    // final state must equal the batch definition
    val (idx, applied) = graft.streaming.SubstringIngest.readState(spark, indexDir)
    val full = graft.operators.SubstringDedup.gramIndex(docs, 8)
    val diff = idx.exceptAll(full).count() + full.exceptAll(idx).count()
    println(s"[soak] applied=$applied mergeDiffRows=$diff (must be 0)")
    spark.stop()
    assert(diff == 0L)
  }
}
