package graft.streaming

import graft.SparkTestBase
import graft.operators.SubstringDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** First-class streaming substring-dedup ingest
  * ([[SubstringIngest.substringIngestSink]]): the published index
  * converges to the full-corpus gram index, per-batch reports equal the
  * full recompute restricted to each batch, and both crash windows
  * (report-published-but-index-not; index-published-but-checkpoint-not)
  * replay to the identical store — byte-identical where the window
  * demands a skip.
  */
class SubstringIngestSinkSpec extends SparkTestBase {
  import spark.implicits._

  private val k = 4

  private val b1 = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
  private val b2 = Seq((3L, "a b c d e f g h x y"), (4L, "p q r s t u"))
  private val b3 = Seq((5L, "p q r s t u"))

  private def dirs(): (String, String, String, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft_ssink").toString
    (root, s"$root/index", s"$root/reports", s"$root/ckpt")
  }

  private def fileSig(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(f => f.getPath + ":" + f.length).toSet
  }

  test("sink: index converges to the full gram index; reports equal per-batch full recomputes") {
    implicit val sqlCtx = spark.sqlContext
    val (_, indexDir, reportDir, ckpt) = dirs()
    val mem = MemoryStream[(Long, String)]
    val q = SubstringIngest.substringIngestSink(
      mem.toDF().toDF("doc_id", "text"), indexDir, reportDir, ckpt, k)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    try {
      for (b <- Seq(b1, b2, b3)) {
        mem.addData(b: _*)
        q.processAllAvailable()
        seen ++= b
        // published index == fresh gramIndex over everything so far
        val (idx, _) = SubstringIngest.readState(spark, indexDir)
        assertSameRows(idx,
          SubstringDedup.gramIndex(seen.toSeq.toDF("doc_id", "text"), k))
        // this batch's report == full recompute restricted to the batch
        val ids = b.map(_._1)
        assertSameRows(
          SubstringIngest.readReports(spark, reportDir)
            .where($"doc_id".isin(ids: _*)),
          SubstringDedup.cleanKeepFirst(seen.toSeq.toDF("doc_id", "text"), k)
            .where($"doc_id".isin(ids: _*)))
      }
      // the cross-batch dup (doc 5 = batch-2's doc 4) was fully removed
      val d5 = SubstringIngest.readReports(spark, reportDir)
        .where($"doc_id" === 5L)
        .select($"n_tokens", $"removed_tokens", $"kept_md5")
        .as[(Long, Long, String)].head()
      assert(d5._1 == d5._2 && d5._3 == "d41d8cd98f00b204e9800998ecf8427e")
    } finally q.stop()
  }

  test("crash window b: replay of a fully-applied batch is a byte-level no-op") {
    val (_, indexDir, reportDir, _) = dirs()
    val batch1 = b1.toDF("doc_id", "text")
    SubstringIngest.applyBatch(batch1, 0L, indexDir, reportDir, k)
    val sigIdx = fileSig(indexDir)
    val sigRep = fileSig(reportDir)
    // crash after publish, before checkpoint commit → the same batch
    // replays: watermark says applied → full skip, nothing rewritten
    SubstringIngest.applyBatch(batch1, 0L, indexDir, reportDir, k)
    assert(fileSig(indexDir) == sigIdx, "replay rewrote the index")
    assert(fileSig(reportDir) == sigRep, "replay rewrote the report")
  }

  test("crash window a: report written but index not published → replay converges to the clean run") {
    val (_, indexDir, reportDir, _) = dirs()
    val batch1 = b1.toDF("doc_id", "text")
    val batch2 = b2.toDF("doc_id", "text")
    SubstringIngest.applyBatch(batch1, 0L, indexDir, reportDir, k)
    // simulate the crash: batch 1's report for batch-id 1 lands, the
    // publish never runs (the exact window between the two writes)
    val (idx1, applied1) = SubstringIngest.readState(spark, indexDir)
    assert(applied1 == 0L)
    SubstringDedup.cleanKeepFirstIncremental(idx1, batch2, k)
      .write.mode("overwrite")
      .parquet(s"$reportDir/${SubstringIngest.BatchCol}=1")
    // replay of batch 1 (watermark 0 < 1): recomputes the report from
    // the unchanged index and folds — the terminal state must equal a
    // clean uninterrupted run's
    SubstringIngest.applyBatch(batch2, 1L, indexDir, reportDir, k)
    val (cleanRoot, cleanIdx, cleanRep, _) = dirs()
    SubstringIngest.applyBatch(batch1, 0L, cleanIdx, cleanRep, k)
    SubstringIngest.applyBatch(batch2, 1L, cleanIdx, cleanRep, k)
    assert(cleanRoot.nonEmpty)
    val (gotIdx, gotApplied) = SubstringIngest.readState(spark, indexDir)
    val (expIdx, expApplied) = SubstringIngest.readState(spark, cleanIdx)
    assert(gotApplied == expApplied)
    assertSameRows(gotIdx, expIdx)
    assertSameRows(
      SubstringIngest.readReports(spark, reportDir),
      SubstringIngest.readReports(spark, cleanRep))
  }

  test("checkIds: a batch re-using an indexed doc_id is refused loudly") {
    val (_, indexDir, reportDir, _) = dirs()
    SubstringIngest.applyBatch(b1.toDF("doc_id", "text"), 0L, indexDir, reportDir, k)
    val dup = Seq((1L, "completely different text but a re-used id x")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      SubstringIngest.applyBatch(dup, 1L, indexDir, reportDir, k)
    }
    assert(e.getMessage.contains("doc_ids"), e.getMessage)
  }

  test("the re-use refusal reports the on-disk blooms' own fpp, not the default's") {
    val (_, indexDir, reportDir, _) = dirs()
    SubstringIngest.applyBatch(b1.toDF("doc_id", "text"), 0L, indexDir, reportDir, k)
    SubstringIngest.applyBatch(b2.toDF("doc_id", "text"), 1L, indexDir, reportDir, k)
    // the merged filter's fpp, measured from its set bits
    val merged = readBloom(s"$indexDir/seg_0")
    merged.mergeInPlace(readBloom(s"$indexDir/seg_1"))
    val measured = merged.expectedFpp()
    val e = intercept[IllegalArgumentException] {
      SubstringIngest.applyBatch(Seq((2L, "a re-used id")).toDF("doc_id", "text"),
        2L, indexDir, reportDir, k)
    }
    assert(e.getMessage.contains(s"fpp ~$measured)"), e.getMessage)
    assert(!e.getMessage.contains(SubstringIngest.IdsBloomFpp.toString), e.getMessage)
  }

  private def localFs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def bloomPath(partDir: String) =
    new org.apache.hadoop.fs.Path(partDir, SubstringIngest.IdsBloomFile)

  private def readBloom(partDir: String): BloomFilter =
    SubstringIngest.readBloom(localFs, bloomPath(partDir))

  /** Overwrite a part's `_ids_bloom` with `bloom`, as the store writes it. */
  private def overwriteBloom(partDir: String, bloom: BloomFilter): Unit =
    SubstringIngest.writeBloom(localFs, bloomPath(partDir), bloom)

  /** A filter of the store's fixed size holding ~10M ids: its measured
    * fpp is near 1, far past the design fpp.
    */
  private def saturatedBloom(): BloomFilter = {
    val bloom = BloomFilter.create(SubstringIngest.IdsBloomItems, SubstringIngest.IdsBloomFpp)
    var id = 0L
    while (id < 10L * 1000 * 1000) { bloom.putLong(id); id += 1 }
    bloom
  }

  test("a live part whose bloom has another size is refused, naming the part") {
    val (_, indexDir, reportDir, _) = dirs()
    SubstringIngest.applyBatch(b1.toDF("doc_id", "text"), 0L, indexDir, reportDir, k)
    SubstringIngest.applyBatch(b2.toDF("doc_id", "text"), 1L, indexDir, reportDir, k)
    val seg1 = s"$indexDir/seg_1"
    val small = BloomFilter.create(1000, 0.01)
    b2.foreach { case (id, _) => small.putLong(id) }
    overwriteBloom(seg1, small)
    val e = intercept[IllegalStateException] {
      SubstringIngest.applyBatch(b3.toDF("doc_id", "text"), 2L, indexDir, reportDir, k)
    }
    assert(e.getMessage.contains(seg1), e.getMessage)
    // refused before anything of the batch was published
    assert(SubstringIngest.readState(spark, indexDir)._2 == 1L)
  }

  test("a live part whose bloom does not inflate is refused, naming the part") {
    val (_, indexDir, reportDir, _) = dirs()
    SubstringIngest.applyBatch(b1.toDF("doc_id", "text"), 0L, indexDir, reportDir, k)
    val seg0 = s"$indexDir/seg_0"
    // the filter's raw serialization, as an undeflated bloom file holds it
    val raw = readBloom(seg0)
    val f = new java.io.File(seg0, SubstringIngest.IdsBloomFile)
    new java.io.File(seg0, s".${f.getName}.crc").delete()
    val out = new java.io.FileOutputStream(f)
    try raw.writeTo(out) finally out.close()
    val e = intercept[IllegalStateException] {
      SubstringIngest.applyBatch(b2.toDF("doc_id", "text"), 1L, indexDir, reportDir, k)
    }
    assert(e.getMessage.contains(seg0) && e.getMessage.contains("does not inflate"), e.getMessage)
    assert(SubstringIngest.readState(spark, indexDir)._2 == 0L)
  }

  test("a live part without its bloom is refused, naming the part") {
    val (_, indexDir, reportDir, _) = dirs()
    SubstringIngest.applyBatch(b1.toDF("doc_id", "text"), 0L, indexDir, reportDir, k)
    val seg0 = s"$indexDir/seg_0"
    val bloom = new java.io.File(seg0, SubstringIngest.IdsBloomFile)
    assert(bloom.delete())
    new java.io.File(seg0, s".${bloom.getName}.crc").delete()
    val e = intercept[IllegalStateException] {
      SubstringIngest.applyBatch(b2.toDF("doc_id", "text"), 1L, indexDir, reportDir, k)
    }
    assert(e.getMessage.contains(seg0), e.getMessage)
    assert(SubstringIngest.readState(spark, indexDir)._2 == 0L)
  }

  /** Distinct-text batches of equal shape: batch i contributes 3 docs
    * of 6 unique tokens each (every gram globally unique), so every
    * committed segment should hold the same ~9 gram rows regardless of
    * how large the accumulated index has grown.
    */
  private def uniformBatch(i: Int) =
    (0 until 3).map(j => ((i * 10 + j).toLong,
      s"u${i}x${j}a u${i}x${j}b u${i}x${j}c u${i}x${j}d u${i}x${j}e u${i}x${j}f"))

  private def segParquetBytes(indexDir: String, batchId: Long): Long = {
    val seg = new java.io.File(s"$indexDir/seg_$batchId")
    assert(seg.isDirectory, s"segment seg_$batchId not committed")
    seg.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
  }

  test("segmented store: per-trigger publish bytes stay O(batch) as the index grows") {
    val (_, indexDir, reportDir, _) = dirs()
    val n = 12
    for (i <- 0 until n)
      SubstringIngest.applyBatch(uniformBatch(i).toDF("doc_id", "text"), i.toLong,
        indexDir, reportDir, k, maxSegments = 100)
    // publish bytes per trigger: an early and a late segment of equal
    // batch shape must be the same size (the round-11 fold republished
    // the WHOLE index — seg 11 would be ~12x seg 1)
    val early = segParquetBytes(indexDir, 1L)
    val late = segParquetBytes(indexDir, (n - 1).toLong)
    assert(late <= early * 2 && early <= late * 2,
      s"publish bytes grew with index size: seg_1=$early bytes, seg_${n - 1}=$late bytes")
    // merge-on-read equals the batch definition over everything
    val all = (0 until n).flatMap(uniformBatch).toDF("doc_id", "text")
    assertSameRows(SubstringIngest.readState(spark, indexDir)._1,
      SubstringDedup.gramIndex(all, k))
  }

  test("compaction: folding segments into base preserves state, watermark and the id guard") {
    val (_, indexDir, reportDir, _) = dirs()
    val batches = Seq(b1, b2, b3, Seq((7L, "fresh words after the fold here")))
    for ((b, i) <- batches.zipWithIndex)
      SubstringIngest.applyBatch(b.toDF("doc_id", "text"), i.toLong,
        indexDir, reportDir, k, maxSegments = 2)
    // maxSegments=2 forced at least one fold: base exists, few live segs
    // (dead folded parts may LINGER on disk inside the reader grace
    // window — liveness is what counts, via storeStats)
    assert(new java.io.File(s"$indexDir/base").isDirectory, "no compaction happened")
    assert(SubstringIngest.storeStats(spark, indexDir).liveSegments <= 2,
      "compaction left too many live segments")
    // state: merged view equals the full recompute; watermark survived the fold
    val all = batches.flatten.toDF("doc_id", "text")
    val (idx, applied) = SubstringIngest.readState(spark, indexDir)
    assert(applied == 3L)
    assertSameRows(idx, SubstringDedup.gramIndex(all, k))
    // reports: every batch equals the full recompute restricted to it
    assertSameRows(SubstringIngest.readReports(spark, reportDir),
      SubstringDedup.cleanKeepFirst(all, k))
    // the id guard survived the fold (blooms merged into base): re-use
    // of a batch-0 id is still refused
    val dup = Seq((1L, "unrelated text entirely new tokens")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      SubstringIngest.applyBatch(dup, 9L, indexDir, reportDir, k, maxSegments = 2)
    }
    assert(e.getMessage.contains("doc_ids"), e.getMessage)
    // manual compact of the remaining segments is state-preserving
    SubstringIngest.compact(spark, indexDir)
    val (idx2, applied2) = SubstringIngest.readState(spark, indexDir)
    assert(applied2 == 3L)
    assertSameRows(idx2, SubstringDedup.gramIndex(all, k))
  }

  test("two-level compaction: minors fold segments into mseg runs without touching base; a major folds everything") {
    val (_, indexDir, reportDir, _) = dirs()
    // a bootstrapped base far larger than the six small batches → the
    // size-ratio major never trips, only MINOR compactions can run;
    // base must never be rewritten by them
    val baseDocs = (100 to 2099).map(i =>
      (i.toLong, (0 to 19).map(j => s"w${i}_$j").mkString(" ")))
    SubstringIngest.bootstrap(spark, baseDocs.toDF("doc_id", "text"), indexDir, k)
    val baseSig = fileSig(s"$indexDir/base")
    val batches = Seq(b1, b2, b3,
      Seq((7L, "alpha beta gamma delta epsilon zeta")),
      Seq((8L, "eta theta iota kappa lambda mu")),
      Seq((9L, "nu xi omicron pi rho sigma")))
    for ((b, i) <- batches.zipWithIndex)
      SubstringIngest.applyBatch(b.toDF("doc_id", "text"), i.toLong,
        indexDir, reportDir, k, maxSegments = 2)
    // batches 2 and 5 each pushed live segs to 3 > 2 → two mseg runs
    val msegs = new java.io.File(indexDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("mseg_")).map(_.getName).sorted
    assert(msegs.toSeq == Seq("mseg_2", "mseg_5"), s"unexpected runs: ${msegs.toSeq}")
    // minors never rewrote base — that is the O(1)-amortized claim
    assert(fileSig(s"$indexDir/base") == baseSig, "a minor compaction rewrote base")
    // merged state and watermark are exact across both levels
    val all = (baseDocs ++ batches.flatten).toDF("doc_id", "text")
    val (idx, applied) = SubstringIngest.readState(spark, indexDir)
    assert(applied == 5L)
    assertSameRows(idx, SubstringDedup.gramIndex(all, k))
    // the id guard's coverage rode the minor folds: a reused batch id
    // AND a reused bootstrap id are both still refused
    for (reused <- Seq(1L, 120L)) {
      val dup = Seq((reused, "totally fresh words for the reuse probe")).toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException] {
        SubstringIngest.applyBatch(dup, 9L, indexDir, reportDir, k, maxSegments = 2)
      }
      assert(e.getMessage.contains("doc_ids"), e.getMessage)
    }
    // the ops snapshot reflects the two-level layout and guard state
    val stats = SubstringIngest.storeStats(spark, indexDir)
    assert(stats.applied == 5L && stats.liveSegments == 0 && stats.liveMsegRuns == 2,
      stats.toString)
    assert(stats.guardComplete, stats.toString)
    assert(stats.baseDataBytes > 0 && stats.msegDataBytes > 0, stats.toString)
    // manual MAJOR folds the runs into base and preserves everything
    SubstringIngest.compact(spark, indexDir)
    assert(!new java.io.File(indexDir).listFiles().exists(_.getName.startsWith("mseg_")),
      "major left mseg runs")
    val (idx2, applied2) = SubstringIngest.readState(spark, indexDir)
    assert(applied2 == 5L)
    assertSameRows(idx2, SubstringDedup.gramIndex(all, k))
  }

  test("re-bootstrap onto a non-empty store supersedes every live part — no gram double-count, watermark kept, guard coverage restored") {
    val (_, indexDir, reportDir, _) = dirs()
    SubstringIngest.applyBatch(b1.toDF("doc_id", "text"), 0L, indexDir, reportDir, k)
    SubstringIngest.applyBatch(b2.toDF("doc_id", "text"), 1L, indexDir, reportDir, k)
    SubstringIngest.applyBatch(b3.toDF("doc_id", "text"), 2L, indexDir, reportDir, k)
    // saturate one part's bloom so the guard degrades
    overwriteBloom(s"$indexDir/seg_2", saturatedBloom())
    assert(!SubstringIngest.storeStats(spark, indexDir).guardComplete)
    // re-bootstrap with the FULL corpus and a fresh bloom — live
    // segments must become dead (their grams are already inside the
    // bootstrap corpus), not merge on top of it
    val all = (b1 ++ b2 ++ b3).toDF("doc_id", "text")
    SubstringIngest.bootstrap(spark, all, indexDir, k)
    val (idx, applied) = SubstringIngest.readState(spark, indexDir)
    assert(applied == 2L, s"watermark regressed/advanced wrongly: $applied")
    assertSameRows(idx, SubstringDedup.gramIndex(all, k))
    // guard coverage is complete again (fresh bloom), so an old id is
    // refused…
    assert(SubstringIngest.storeStats(spark, indexDir).guardComplete)
    val e = intercept[IllegalArgumentException] {
      SubstringIngest.applyBatch(
        Seq((1L, "reused id after the re-bootstrap")).toDF("doc_id", "text"),
        3L, indexDir, reportDir, k)
    }
    assert(e.getMessage.contains("doc_ids"), e.getMessage)
    // …and a fresh batch lands on top
    SubstringIngest.applyBatch(
      Seq((11L, "entirely new doc after rebootstrap")).toDF("doc_id", "text"),
      3L, indexDir, reportDir, k)
    assert(SubstringIngest.readState(spark, indexDir)._2 == 3L)
  }

  test("bloom saturation degrades the guard (no false refusals) and auditIngestedIds stays exact") {
    val (_, indexDir, reportDir, _) = dirs()
    SubstringIngest.applyBatch(b1.toDF("doc_id", "text"), 0L, indexDir, reportDir, k)
    SubstringIngest.applyBatch(b2.toDF("doc_id", "text"), 1L, indexDir, reportDir, k)
    assert(SubstringIngest.storeStats(spark, indexDir).guardComplete)
    // batch 1's bloom saturated (~10M ids, ids 0..5 among them): the
    // merged filter now measures an fpp near 1
    overwriteBloom(s"$indexDir/seg_1", saturatedBloom())
    // a saturated merged bloom would mostly FALSE-refuse; instead the
    // guard degrades — this clean batch must land…
    SubstringIngest.applyBatch(b3.toDF("doc_id", "text"), 2L, indexDir, reportDir, k)
    assert(SubstringIngest.readState(spark, indexDir)._2 == 2L)
    // …and the degradation is VISIBLE on the store
    assert(!SubstringIngest.storeStats(spark, indexDir).guardComplete,
      "saturated guard still reported complete")
    // past capacity even a true re-use slips the bloom guard — which is
    // exactly what the exact report-side audit is for
    SubstringIngest.applyBatch(
      Seq((1L, "reused id entirely new words here now")).toDF("doc_id", "text"),
      3L, indexDir, reportDir, k)
    val dups = SubstringIngest.auditIngestedIds(spark, reportDir)
      .orderBy($"doc_id").collect()
    assert(dups.length == 1 && dups(0).getLong(0) == 1L)
    assert(dups(0).getAs[scala.collection.Seq[Long]]("batches").toSeq == Seq(0L, 3L))
    // a store with no re-use audits clean
    val (_, cleanIdx, cleanRep, _) = dirs()
    SubstringIngest.applyBatch(b1.toDF("doc_id", "text"), 0L, cleanIdx, cleanRep, k)
    SubstringIngest.applyBatch(b2.toDF("doc_id", "text"), 1L, cleanIdx, cleanRep, k)
    assert(SubstringIngest.auditIngestedIds(spark, cleanRep).isEmpty)
  }

  test("an index directory with data files at its root is refused, naming it") {
    val (_, indexDir, reportDir, _) = dirs()
    // a gram index written straight at the root: not a segmented store
    assert(graft.load.Load.replaceTable(
      spark, SubstringDedup.gramIndex(b1.toDF("doc_id", "text"), k), indexDir).isSuccess)
    val e = intercept[IllegalArgumentException](SubstringIngest.readState(spark, indexDir))
    assert(e.getMessage.contains(indexDir), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      SubstringIngest.applyBatch(b2.toDF("doc_id", "text"), 1L, indexDir, reportDir, k)
    }
    assert(e2.getMessage.contains(indexDir), e2.getMessage)
  }

  test("retention: a fold death-stamps its inputs — the sweep's grace window runs from the fold commit, not the part's own mtime (advice r12)") {
    val (_, indexDir, reportDir, _) = dirs()
    // maxSegments=2: batch 2's append makes 3 live segments -> minor fold
    Seq(b1, b2, b3).map(_.toDF("doc_id", "text")).zipWithIndex.foreach { case (b, i) =>
      SubstringIngest.applyBatch(b, i.toLong, indexDir, reportDir, k, maxSegments = 2)
    }
    val dead = (0 to 2).map(i => new java.io.File(s"$indexDir/seg_$i"))
    assert(dead.forall(_.isDirectory), "folded segments should linger inside the grace window")
    val stamps = dead.map(d => new java.io.File(d, SubstringIngest.DeadAtFile))
    assert(stamps.forall(_.isFile), "fold did not death-stamp its inputs")
    // age the PARTS far past any grace window but keep the stamps
    // fresh: in steady state a segment is maxSegments triggers old at
    // death, so an mtime-based sweep would delete it on the very next
    // trigger — the death stamp is what must gate the deletion
    dead.foreach(_.setLastModified(System.currentTimeMillis() - 24L * 3600 * 1000))
    SubstringIngest.applyBatch(Seq((50L, "aa bb cc dd ee ff")).toDF("doc_id", "text"),
      3L, indexDir, reportDir, k, maxSegments = 2)
    assert(dead.forall(_.isDirectory),
      "sweep deleted a dead part inside the grace window measured from its death stamp")
    // age the STAMPS past the grace window: now the sweep collects
    // them (drop the .crc sidecar — the stamp was written through
    // Hadoop's checksummed LocalFileSystem and is rewritten here raw)
    stamps.foreach { s =>
      new java.io.File(s.getParentFile, s".${s.getName}.crc").delete()
      java.nio.file.Files.write(s.toPath,
        (System.currentTimeMillis() - 2 * SubstringIngest.SweepGraceMs)
          .toString.getBytes("UTF-8"))
    }
    SubstringIngest.applyBatch(Seq((51L, "gg hh ii jj kk ll")).toDF("doc_id", "text"),
      4L, indexDir, reportDir, k, maxSegments = 2)
    assert(dead.forall(!_.exists()), "sweep left dead parts whose death stamp aged out")
  }

  test("bootstrap default keeps superseded parts dead-by-rule with death stamps; offline=true deletes immediately (advice r12)") {
    val (_, indexDir, reportDir, _) = dirs()
    SubstringIngest.applyBatch(b1.toDF("doc_id", "text"), 0L, indexDir, reportDir, k)
    SubstringIngest.applyBatch(b2.toDF("doc_id", "text"), 1L, indexDir, reportDir, k)
    val all = (b1 ++ b2).toDF("doc_id", "text")
    SubstringIngest.bootstrap(spark, all, indexDir, k)
    // superseded segments linger (a lock-free concurrent probe may
    // still hold their file list), dead by rule, stamped at the swap
    for (i <- 0 to 1) {
      val seg = new java.io.File(s"$indexDir/seg_$i")
      assert(seg.isDirectory,
        "default bootstrap deleted a superseded part with no reader grace")
      assert(new java.io.File(seg, SubstringIngest.DeadAtFile).isFile,
        "superseded part not death-stamped at the bootstrap swap")
    }
    // …and are excluded from every new read
    assertSameRows(SubstringIngest.readState(spark, indexDir)._1,
      SubstringDedup.gramIndex(all, k))
    // offline=true is the explicit no-concurrent-readers escape hatch
    SubstringIngest.bootstrap(spark, all, indexDir, k, offline = true)
    for (i <- 0 to 1)
      assert(!new java.io.File(s"$indexDir/seg_$i").exists(),
        "offline bootstrap left superseded parts")
  }
}
