package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.{BloomFilter, IncompatibleMergeException}

import graft.load.Load
import graft.operators.SubstringDedup

/** Structured-Streaming ingest for exact substring dedup (the Lee et
  * al. 2021 keep-first shape, reference semantics on
  * [[graft.operators.SubstringDedup]]): each micro-batch of documents
  * is probed against the persisted gram index of everything ingested
  * before it, its retention report is published, and the batch's OWN
  * gram segment is appended — the corpus is never re-tokenized and the
  * index is never rewritten per trigger.
  *
  * == Segmented (LSM) store — per-trigger publish is O(batch) ==
  *
  * Round 11 published the index by folding the batch in and rewriting
  * the WHOLE table each trigger — O(index) publish bytes, which at
  * 100 TB makes steady-state ingest O(corpus distinct grams) per
  * trigger. The gram merge (min(fp), sum(cnt)) is associative, so the
  * store is now log-structured:
  *
  * {{{
  * <indexDir>/
  *   base/           major-compacted level: parquet rows (g, fp, cnt)
  *                   + _compacted_through (max batch id folded in)
  *                   + _ids_bloom (merged doc-id bloom, guard)
  *   mseg_<T>/       minor-compacted runs: the fold of segments with
  *                   ids in this run's range (see compaction below)
  *                   + _ids_bloom (their merged blooms)
  *   seg_<batchId>/  one APPEND-ONLY segment per applied micro-batch:
  *                   the batch's own gramIndex + _ids_bloom sidecar
  * }}}
  *
  *  - '''Publish''' = write the batch's gram segment under a staging
  *    name, then one atomic rename to `seg_<batchId>` — the rename IS
  *    the commit (no separate watermark file whose update could tear).
  *    Publish bytes are O(batch grams) + one deflated id bloom, whose
  *    size grows with the ids it holds.
  *  - '''Probe''' = merge-on-read: the batch is probed against the
  *    UNION of live parts; [[SubstringDedup.cleanKeepFirstIncremental]]
  *    folds per-gram min/sum AFTER its gram join, so multi-row grams
  *    cost no extra exchange.
  *  - '''Compaction''' is two-level, so amortized rewrite cost stays
  *    O(1) per ingested byte instead of O(index)/maxSegments per
  *    trigger (a single level folds the WHOLE base every maxSegments
  *    triggers — at 100 TB that is a full-index rewrite on a schedule):
  *     - '''minor''': when live segments exceed `maxSegments`, they —
  *       and only they, never base — fold into one `mseg_<T>` run
  *       (T = highest folded batch id), committed by a single atomic
  *       rename. Cost O(data since the last minor).
  *     - '''major''': when live mseg runs exceed `maxSegments` or
  *       their data bytes reach [[MajorRatio]] x base's (classic
  *       size-ratio trigger — each major at least doubles base, so
  *       majors are geometrically spaced and total rewrite work is
  *       linear in ingested bytes), everything live folds into
  *       `base/` through [[Load.replaceTable]]'s staged swap with
  *       `_compacted_through` recording the highest folded batch id.
  *    Parts below a newer fold are DEAD by rule the instant the
  *    commit rename/swap lands — deleting them afterwards is pure
  *    cleanup, retried opportunistically on later triggers, so a crash
  *    between commit and delete double-counts nothing.
  *
  * Liveness rule (what [[readState]] reads): `base/` if present; plus
  * every `mseg_<T>` with T > compacted-through; plus every `seg_<b>`
  * with b above BOTH compacted-through and the highest live mseg T.
  * Applied watermark = max over all of those ids. Read fan-out is
  * bounded by 1 + 2·maxSegments parts. A directory with data files at
  * its root is not such a store and is refused.
  *
  * == Exactly-once across crashes ==
  *
  * Per batch, the order is: report first (from the PRE-append live
  * set, `overwrite` into a batch-id-keyed directory), then the segment
  * rename. The two crash windows replay cleanly:
  *  (a) crash after the report, before the segment commit — the replay
  *      sees applied < batchId, recomputes the report from the
  *      UNCHANGED live set (same bytes, overwritten in place) and
  *      appends;
  *  (b) crash after the segment commit, before the stream checkpoint
  *      commit — the replay sees applied >= batchId and skips the
  *      batch entirely (the report was written before the commit, so
  *      it is already complete; re-probing a live set that now
  *      includes the batch's own segment would misreport every batch
  *      gram as duplicated — the skip is correctness, not economy).
  * A crash INSIDE the segment write leaves only a staging directory,
  * which is invisible to readers and deleted on the next trigger.
  *
  * The whole body runs under [[Load.withLock]] on the index directory:
  * concurrent writers (a second stream, a batch backfill, a manual
  * [[compact]]) are refused loudly rather than silently interleaving.
  * NOTE the lock has no expiry: a HARD crash inside the locked body
  * leaves `<indexDir>__lock` on disk and every replay fails with
  * [[graft.load.LockHeldException]] until an operator confirms no
  * writer is alive and deletes the lock file — recovery is fail-loud,
  * not automatic (advice r11).
  *
  * == doc_id re-use guard ==
  *
  * [[SubstringDedup.updateGramIndex]]'s precondition — ids globally
  * unique across the stream's lifetime — is enforced on every trigger
  * at bounded cost: every part carries ONE bloom filter of its doc ids
  * (`_ids_bloom`, one fixed size: [[IdsBloomItems]] ids at
  * [[IdsBloomFpp]], staged inside the part before its commit rename or
  * swap), and each trigger checks the batch's ids against the OR of
  * the live parts' filters before folding. A hit refuses the batch
  * loudly. False positives are ~1e-4 per id while the store holds
  * under 1M ids. Every part this code writes carries its bloom, so a
  * live part without one, or with a filter of another size, was not
  * written here and is refused with an `IllegalStateException` naming
  * it. Replays of the SAME batch are the watermark's job and are
  * skipped before the guard runs.
  *
  * '''Saturation''' (the guard's own scale bound): blooms merge by
  * OR-ing fixed bitsets, so once the store's ids pass [[IdsBloomItems]]
  * the merged filter's false-positive rate climbs toward 1 — past
  * capacity the guard would start refusing CLEAN batches, an
  * availability failure, and no driver-side bloom can be sized for a
  * 100-TB corpus' id count. The guard therefore measures the merged
  * filter's own `expectedFpp()` (from its set bits) and, above
  * [[IdsBloomFpp]], DEGRADES — logs a warning and skips the check —
  * instead of failing wrong. Compactions OR the bits, so saturation
  * carries through them; a [[bootstrap]] of a corpus under capacity
  * clears it with a fresh bloom. Past that point (or for end-to-end
  * certainty at any point) run [[auditIngestedIds]]: the retention
  * reports carry every ingested doc_id, so one distributed aggregate
  * over them is an EXACT id-reuse audit with no capacity bound.
  *
  * == Standing soak gate ==
  *
  * `sbt "Test/runMain graft.dev.SubstringSoak <sf0.01 dir> 50 4"` soaks
  * this store through 50 real micro-batches; diff its per-trigger
  * columns against the recorded table in BASELINE.md ("Standing
  * store-soak gate") after any store/compaction change.
  */
object SubstringIngest extends Logging {

  /** Sidecar inside `base/`: highest batch id folded into it. */
  val CompactedThroughFile = "_compacted_through"

  /** Per-part doc-id bloom sidecar: one filter of the fixed size. */
  val IdsBloomFile = "_ids_bloom"

  /** The one size of every id bloom: [[IdsBloomItems]] ids at
    * [[IdsBloomFpp]], ~2.3 MB per part in memory whatever the index
    * size ([[writeBloom]] deflates it on disk), merged away at
    * compaction. One size is what lets every live
    * part's filter OR into one.
    */
  val IdsBloomItems: Long = 1L * 1000 * 1000
  val IdsBloomFpp: Double = 1e-4

  /** Death-time tombstone. Liveness makes a part dead the instant a
    * newer fold's commit rename lands, but the part's own mtime is its
    * ORIGINAL commit — segments accumulate for maxSegments triggers
    * before folding, so in steady state they are already older than
    * any grace window at death, and sweeping against mtime deletes
    * them on the very next trigger (advice r12: a probe that resolved
    * its file list just before the fold could hit FileNotFound).
    * Death is therefore stamped explicitly: the fold commit writes
    * this file (millis) into each part it made dead; a dead part
    * missing one (crash between the fold rename and the stamps) is
    * stamped by the first sweep that sees it. A dead part is deleted
    * only once its stamp is [[SweepGraceMs]] old, so it always survives at
    * least the full grace window of wall time AFTER its death was
    * recorded.
    */
  val DeadAtFile = "_dead_at"

  /** Partition column of the retention reports: batch `b`'s report
    * lands in `<reportDir>/__batch=<b>`, so a replayed batch rewrites
    * its own landing instead of adding a second copy.
    */
  val BatchCol = "__batch"

  private val SegPrefix = "seg_"
  private val MsegPrefix = "mseg_"
  private val StagingSuffix = "__staging"

  /** Schema of [[SubstringDedup.gramIndex]] — needed to read segments
    * that may be empty (zero parquet rows defeat inference).
    */
  val IndexSchema: StructType = StructType(Seq(
    StructField("g", StringType), StructField("fp", LongType),
    StructField("cnt", LongType)))

  /** Parsed store state under the liveness rule. */
  private case class Store(
      fs: FileSystem,
      dir: Path,
      exists: Boolean,
      baseDir: Option[Path],
      compactedThrough: Long,
      liveMsegs: Seq[(Long, Path)], // ascending fold-through id
      liveSegs: Seq[(Long, Path)], // ascending batch id
      deadSegs: Seq[Path],
      staleStaging: Seq[Path]) {
    def applied: Long =
      (compactedThrough +: (liveMsegs.map(_._1) ++ liveSegs.map(_._1))).max
    def liveParts: Seq[Path] = (baseDir ++ (liveMsegs ++ liveSegs).map(_._2)).toSeq
    /** Parquet data bytes of base. */
    def baseDataBytes: Long = baseDir.fold(0L)(dataBytes(fs, _))
    /** Parquet data bytes across the live minor-compacted runs. */
    def msegDataBytes: Long = liveMsegs.map { case (_, p) => dataBytes(fs, p) }.sum
  }

  /** Data-file bytes of one part dir (sidecars/_SUCCESS excluded —
    * the id bloom, whose size follows the ids and not the grams, would
    * otherwise skew the size-ratio major trigger).
    */
  private def dataBytes(fs: FileSystem, dir: Path): Long =
    fs.listStatus(dir).collect {
      case s if s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".") => s.getLen
    }.sum

  private def readLongFile(fs: FileSystem, p: Path): Option[Long] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong) finally in.close()
    }

  private def readStore(spark: SparkSession, indexDir: String): Store = {
    val dir = new Path(indexDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir))
      return Store(fs, dir, exists = false, None, -1L, Nil, Nil, Nil, Nil)
    val children = fs.listStatus(dir).toSeq
    // every part lives in a directory; a data file at the root means
    // this is some other table, not a segmented store
    val rootFiles = children.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (rootFiles.nonEmpty)
      throw new IllegalArgumentException(
        s"substringIngest: $dir holds data files at its root " +
          s"(${rootFiles.map(_.getPath.getName).take(3).mkString(", ")}); " +
          "a gram store keeps its data in base/, mseg_<T>/ and seg_<b>/ only")
    val baseDir = children.find(s => s.isDirectory && s.getPath.getName == "base")
      .map(_.getPath)
    val compactedThrough = baseDir
      .flatMap(b => readLongFile(fs, new Path(b, CompactedThroughFile)))
      .getOrElse(-1L)
    def idDirs(prefix: String): Seq[(Long, Path)] = children.filter(s =>
      s.isDirectory && s.getPath.getName.startsWith(prefix) &&
        !s.getPath.getName.endsWith(StagingSuffix))
      .flatMap { s =>
        val idStr = s.getPath.getName.stripPrefix(prefix)
        idStr.toLongOption.map(_ -> s.getPath)
      }
    // "mseg_…" does not start with "seg_", so the two sets are disjoint
    val (liveM, deadM) = idDirs(MsegPrefix).partition(_._1 > compactedThrough)
    val segCover = (compactedThrough +: liveM.map(_._1)).max
    val (live, dead) = idDirs(SegPrefix).partition(_._1 > segCover)
    val staleStaging = children.filter(s =>
      s.isDirectory && s.getPath.getName.endsWith(StagingSuffix)).map(_.getPath)
    Store(fs, dir, exists = true, baseDir,
      compactedThrough = compactedThrough,
      liveMsegs = liveM.sortBy(_._1),
      liveSegs = live.sortBy(_._1),
      deadSegs = (dead ++ deadM).map(_._2),
      staleStaging = staleStaging)
  }

  /** Raw live rows — the merge-on-read UNION, possibly multiple rows
    * per gram (one per contributing segment). What the probe join and
    * [[compact]] consume.
    */
  private def readLive(spark: SparkSession, st: Store): DataFrame = {
    val paths = st.liveParts.map(_.toString)
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], IndexSchema)
    else spark.read.schema(IndexSchema).parquet(paths: _*)
  }

  private def mergeRows(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    raw.groupBy(col("g")).agg(min(col("fp")).as("fp"), sum(col("cnt")).as("cnt"))
  }

  /** Published index state: (merged one-row-per-gram view, applied
    * batch watermark). A missing directory (first start) reads as
    * watermark -1; a PRE-EXISTING index from [[bootstrap]] reads as
    * its recorded watermark, with every stream batch id (>= 0)
    * applying on top. A directory with data files at its root is
    * refused with an `IllegalArgumentException` naming it.
    */
  def readState(spark: SparkSession, indexDir: String): (DataFrame, Long) = {
    val st = readStore(spark, indexDir)
    (mergeRows(readLive(spark, st)), st.applied)
  }

  /** Operational snapshot of a store — what a monitor scrapes per
    * trigger or an operator checks before a manual [[compact]]:
    * applied watermark, live part counts, data bytes per level, and
    * whether the id guard is complete: the live parts' merged bloom
    * measures at most [[IdsBloomFpp]] (false once it saturated — pair
    * with [[auditIngestedIds]] then).
    */
  case class StoreStats(
      applied: Long,
      liveSegments: Int,
      liveMsegRuns: Int,
      baseDataBytes: Long,
      msegDataBytes: Long,
      segDataBytes: Long,
      guardComplete: Boolean)

  def storeStats(spark: SparkSession, indexDir: String): StoreStats = {
    val st = readStore(spark, indexDir)
    val segBytes = st.liveSegs.map { case (_, p) => dataBytes(st.fs, p) }.sum
    StoreStats(
      applied = st.applied,
      liveSegments = st.liveSegs.size,
      liveMsegRuns = st.liveMsegs.size,
      baseDataBytes = st.baseDataBytes,
      msegDataBytes = st.msegDataBytes,
      segDataBytes = segBytes,
      guardComplete = mergedBloom(st.fs, st.liveParts).expectedFpp() <= IdsBloomFpp)
  }

  /** Batch bootstrap of a segmented store: the full corpus-so-far gram
    * index lands in `base/` (staged swap) with a complete doc-id bloom
    * — the recommended seed for a store whose id guard should have
    * full coverage. `appliedBatch` seeds the watermark (-1 = nothing
    * streamed yet); on a NON-EMPTY store the written watermark is
    * max(appliedBatch, the store's current applied), so pre-existing
    * segments/runs are dead by rule the instant the swap lands —
    * `docs` must therefore be the FULL corpus including everything
    * those parts held, or the dropped grams are simply gone.
    * Re-bootstrapping also clears a saturated guard when `docs` holds
    * under [[IdsBloomItems]] ids: the fresh bloom replaces the
    * saturated ones.
    *
    * Superseded parts (old segments and runs) become
    * dead BY RULE the instant the swap lands — the liveness view
    * excludes them — and by default are left on disk, death-stamped at
    * the swap, for the grace-window sweep to collect: the bootstrap
    * takes the same index lock as the sink, but lock-free concurrent
    * PROBES that resolved their file list just before the swap must
    * not hit FileNotFound mid-read (advice r12). Pass `offline = true`
    * only when no concurrent reader can exist (stopped stream, no
    * probes) to delete them immediately instead.
    */
  def bootstrap(
      spark: SparkSession, docs: DataFrame, indexDir: String, k: Int = 8,
      appliedBatch: Long = -1L,
      offline: Boolean = false): Unit = {
    val bloom = docIdBloom(docs)
    // same lock as the sink: a concurrent trigger must not append a
    // segment between the watermark read and the swap
    Load.withLock(spark.sparkContext.hadoopConfiguration, indexDir, "substringIngest bootstrap") {
      val pre = readStore(spark, indexDir)
      val through = math.max(appliedBatch, if (pre.exists) pre.applied else -1L)
      Load.replaceTable(spark, SubstringDedup.gramIndex(docs, k), s"$indexDir/base",
        decorateStaging = { staging =>
          val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
          writeLongFile(fs, new Path(staging, CompactedThroughFile), through)
          writeBloom(fs, new Path(staging, IdsBloomFile), bloom)
        }).get
      val post = readStore(spark, indexDir)
      // every pre-existing part is dead by rule now (compactedThrough
      // covers all their ids)
      if (offline) post.deadSegs.foreach(post.fs.delete(_, true))
      else stampDead(post.fs, post.deadSegs, System.currentTimeMillis())
    }.get
    ()
  }

  private def writeLongFile(fs: FileSystem, p: Path, v: Long): Unit = {
    val out = fs.create(p, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  /** A bloom file is the filter's own serialization, deflated: a
    * part's filter of [[IdsBloomItems]] ids is ~2.3 MB of mostly unset
    * bits, which deflate to a few KB while the part holds few ids.
    */
  private[streaming] def writeBloom(fs: FileSystem, p: Path, bloom: BloomFilter): Unit = {
    val out = new java.util.zip.DeflaterOutputStream(fs.create(p, true))
    try bloom.writeTo(out) finally out.close()
  }

  private[streaming] def readBloom(fs: FileSystem, p: Path): BloomFilter = {
    val in = new java.util.zip.InflaterInputStream(fs.open(p))
    try BloomFilter.readFrom(in) finally in.close()
  }

  /** Bloom over doc_id AS LONG — `stat.bloomFilter` hashes a column by
    * its NATIVE type (string ids go in as UTF-8 bytes), while the guard
    * probes with `mightContainLong`; without the cast a long-castable
    * but non-long id column would build a bloom the probe can never
    * hit, silently disabling the guard instead of enforcing it.
    */
  private def docIdBloom(docs: DataFrame): BloomFilter = {
    import org.apache.spark.sql.functions.col
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .stat.bloomFilter("doc_id", IdsBloomItems, IdsBloomFpp)
  }

  /** The OR of the given parts' id blooms, folded into a fresh filter
    * of the fixed size. Every part this code commits carries one filter
    * of that size, so a part without an `_ids_bloom`, or with one that
    * will not merge, was not written here and is refused, naming it.
    */
  private def mergedBloom(fs: FileSystem, parts: Seq[Path]): BloomFilter = {
    val merged = BloomFilter.create(IdsBloomItems, IdsBloomFpp)
    parts.foreach { part =>
      val at = new Path(part, IdsBloomFile)
      def refuse(what: String, cause: Throwable = null): Nothing =
        throw new IllegalStateException(
          s"substringIngest: live part $part $what; every part this store commits " +
            s"carries one $IdsBloomFile filter of $IdsBloomItems ids at fpp $IdsBloomFpp",
          cause)
      if (!fs.exists(at)) refuse(s"has no $IdsBloomFile")
      val bloom =
        try readBloom(fs, at)
        catch {
          case e: java.util.zip.ZipException => refuse(s"holds an $IdsBloomFile that does not inflate", e)
        }
      try merged.mergeInPlace(bloom)
      catch {
        case e: IncompatibleMergeException => refuse(s"holds an $IdsBloomFile of another size", e)
      }
    }
    merged
  }

  val DefaultMaxSegments = 16

  /** How long a dead part (folded into a newer run/base) survives on
    * disk before the per-trigger sweep deletes it. Liveness excludes
    * dead parts from every NEW read, but a probe that resolved its
    * concrete file list just before a compaction commit would hit
    * FileNotFound if the files vanished mid-read — the grace period is
    * the retention window that closes it (the Delta/Iceberg vacuum
    * discipline).
    */
  val SweepGraceMs: Long = 10L * 60 * 1000

  /** Record death time on parts a fold just made dead (see
    * [[DeadAtFile]]). Idempotent; a replayed fold never re-stamps.
    */
  private def stampDead(fs: FileSystem, parts: Seq[Path], atMillis: Long): Unit =
    parts.foreach { p =>
      if (fs.exists(p)) {
        val t = new Path(p, DeadAtFile)
        if (!fs.exists(t)) writeLongFile(fs, t, atMillis)
      }
    }

  private def sweepDead(st: Store): Unit = {
    // staging debris is invisible to readers — always safe to drop;
    // dead DATA parts wait out the reader grace window measured from
    // their DEATH stamp (self-healing: an unstamped dead part from a
    // crash window is stamped now and deleted SweepGraceMs later)
    st.staleStaging.foreach(st.fs.delete(_, true))
    val now = System.currentTimeMillis()
    st.deadSegs.foreach { p =>
      val t = new Path(p, DeadAtFile)
      readLongFile(st.fs, t) match {
        case Some(at) if now - at >= SweepGraceMs =>
          st.fs.delete(p, true)
          ()
        case Some(_) => ()
        case None => writeLongFile(st.fs, t, now)
      }
    }
  }

  /** Major-compaction size-ratio trigger: fold everything into `base/`
    * when the live mseg runs' data bytes reach this fraction of base's.
    * At 1.0 each major at least doubles base, so majors are
    * geometrically spaced and total rewrite work stays linear in
    * ingested bytes; the mseg-count bound (`maxSegments`) caps read
    * fan-out regardless.
    */
  val MajorRatio = 1.0

  /** Start the ingest stream.
    *
    * @param docs       streaming DataFrame with (`doc_id` long-castable,
    *                   `text` string) columns
    * @param indexDir   persisted gram index (created if absent; a
    *                   [[bootstrap]] is honored)
    * @param reportDir  retention reports, one `__batch=<id>` child per
    *                   micro-batch (same columns as cleanKeepFirst:
    *                   doc_id, n_tokens, removed_tokens, removed_ppm,
    *                   kept_md5)
    * @param checkpoint stream checkpoint location
    * @param k          gram width in tokens
    * @param maxSegments minor-compact when live segments exceed this;
    *                   major-compact when live mseg runs exceed it
    *                   (read amplification bound, both levels)
    */
  def substringIngestSink(
      docs: DataFrame, indexDir: String, reportDir: String,
      checkpoint: String, k: Int = 8,
      maxSegments: Int = DefaultMaxSegments): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, indexDir, reportDir, k, maxSegments)
      }
      .start()

  /** One micro-batch application — the foreachBatch body, public so the
    * crash-window specs can replay it at chosen interruption points.
    * Idempotent per batchId.
    */
  def applyBatch(
      batch: DataFrame, batchId: Long, indexDir: String, reportDir: String,
      k: Int = 8, maxSegments: Int = DefaultMaxSegments): Unit = {
    // one evaluation of the micro-batch source: the empty check, the
    // id guard, the report probe, the segment write and the bloom all
    // read cached rows
    batch.persist()
    try {
      // the empty check is a count, not isEmpty: it fully materializes
      // the cache the remaining passes read
      if (batch.count() > 0) {
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        Load.withLock(conf, indexDir, s"substringIngestSink batch=$batchId") {
          val st = readStore(spark, indexDir)
          if (batchId > st.applied) {
            // cleanup debris first: crashed staging dirs (always) and
            // dead parts past the reader grace window
            sweepDead(st)
            bloomGuard(spark, st, batch, batchId)
            val live = readLive(spark, st)
            SubstringDedup.cleanKeepFirstIncremental(live, batch, k)
              .write.mode("overwrite")
              .parquet(s"$reportDir/$BatchCol=$batchId")
            // O(batch) publish: the batch's own gram segment, committed
            // by one atomic rename (bloom sidecar rides inside)
            val bloom = docIdBloom(batch)
            val segFinal = new Path(st.dir, f"$SegPrefix$batchId%d")
            val segStaging = new Path(st.dir, segFinal.getName + StagingSuffix)
            SubstringDedup.gramIndex(batch, k)
              .write.mode("overwrite").parquet(segStaging.toString)
            writeBloom(st.fs, new Path(segStaging, IdsBloomFile), bloom)
            if (!st.fs.rename(segStaging, segFinal))
              throw new java.io.IOException(
                s"segment commit rename $segStaging -> $segFinal failed")
            if (st.liveSegs.size + 1 > maxSegments) {
              // decide the level BEFORE folding: if the minor's output
              // would immediately trip the size-ratio major (or the
              // mseg-count bound), fold everything straight into base —
              // one rewrite, not a minor whose run is folded again in
              // the same trigger
              val cur = readStore(spark, indexDir)
              val segBytes = cur.liveSegs.map { case (_, p) => dataBytes(cur.fs, p) }.sum
              // deleteFolded = false: the fold makes its inputs dead by
              // rule; actual deletion waits out the reader grace window
              // in later triggers' sweeps
              if (cur.liveMsegs.size >= maxSegments ||
                cur.msegDataBytes + segBytes >= MajorRatio * math.max(1L, cur.baseDataBytes))
                compactLocked(spark, indexDir, deleteFolded = false)
              else minorCompactLocked(spark, indexDir, deleteFolded = false)
            }
          }
          // else: replayed fully-applied batch — the report was
          // written BEFORE the segment commit, so it already exists
          // with the right bytes; recomputing it against a live set
          // containing the batch's own segment would be wrong, not
          // just wasteful (window b)
        }.get
      }
    } finally batch.unpersist()
    ()
  }

  /** Refuse the batch if any of its ids hits the live set's merged
    * bloom (constant-size driver read per live part; one pass over the
    * batch). Every bloom is the same fixed size, so they merge into
    * one. Past capacity (the store's ids > [[IdsBloomItems]]) the
    * merged filter's measured fpp exceeds [[IdsBloomFpp]] — a refusal
    * would mostly hit CLEAN batches, so the guard degrades: warn, skip
    * the check (the exact path past capacity is [[auditIngestedIds]]).
    */
  private def bloomGuard(
      spark: SparkSession, st: Store, batch: DataFrame, batchId: Long): Unit =
    if (st.liveParts.nonEmpty) {
      val merged = mergedBloom(st.fs, st.liveParts)
      // the false-positive chance the on-disk filters give now, measured
      // from their set bits
      val fpp = merged.expectedFpp()
      if (fpp > IdsBloomFpp)
        logWarning(
          s"substringIngest ${st.dir}: the merged id bloom measures fpp ~$fpp, past " +
            s"its design $IdsBloomFpp ($IdsBloomItems ids) - the id guard is DEGRADED " +
            "(would mostly false-refuse) and skipped. Run auditIngestedIds over the " +
            "report directory for an exact check")
      else {
        import org.apache.spark.sql.functions.{col, udf}
        // broadcast, not closure-capture: the filter is MBs and the
        // closure would re-serialize it into every task of every trigger
        val bc = spark.sparkContext.broadcast(merged)
        try {
          val hit = udf((id: Long) => bc.value.mightContainLong(id))
          val hits = batch.select(col("doc_id").cast("long").as("doc_id"))
            .where(hit(col("doc_id"))).limit(5).collect().map(_.getLong(0))
          require(hits.isEmpty,
            s"substringIngestSink batch=$batchId re-uses already-ingested doc_ids " +
              s"${hits.mkString(", ")} (bloom hit, fpp ~$fpp) - ids must be " +
              "globally unique across the stream; replays of the same batch are " +
              "skipped by the watermark, so this is a source re-emitting ids")
          // async executor-side release; the driver ref is the
          // ContextCleaner's job (a blocking destroy() here was a
          // per-trigger executor sync barrier)
        } finally bc.unpersist(blocking = false)
      }
    }

  /** MAJOR compaction: fold base + live mseg runs + live segments into
    * a fresh `base/` (staged swap) and drop everything folded
    * immediately (manual/offline contract: call between triggers or on
    * a stopped stream, with no concurrent readers — the sink's own
    * compactions instead defer deletion behind the reader grace
    * window). Takes the same index lock as the sink.
    */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    Load.withLock(spark.sparkContext.hadoopConfiguration, indexDir, "substringIngest compact") {
      compactLocked(spark, indexDir, deleteFolded = true)
    }.get
    ()
  }

  /** MINOR compaction: fold the live segments — and only them, never
    * base or earlier mseg runs — into one `mseg_<T>` run, committed by
    * a single atomic rename. Cost O(data since the last minor); the
    * folded segments are dead by the liveness rule the instant the
    * rename lands (deleting them is cleanup). The folded segments'
    * blooms OR into the run's one bloom, so the id guard's coverage is
    * unchanged.
    */
  private def minorCompactLocked(
      spark: SparkSession, indexDir: String, deleteFolded: Boolean): Unit = {
    val st = readStore(spark, indexDir)
    if (st.liveSegs.isEmpty) return
    val through = st.liveSegs.map(_._1).max // > any mseg/base cover by liveness
    val segPaths = st.liveSegs.map(_._2)
    val bloom = mergedBloom(st.fs, segPaths)
    val staging = new Path(st.dir, s"$MsegPrefix$through$StagingSuffix")
    if (st.fs.exists(staging)) st.fs.delete(staging, true)
    mergeRows(spark.read.schema(IndexSchema).parquet(segPaths.map(_.toString): _*))
      .write.mode("overwrite").parquet(staging.toString)
    writeBloom(st.fs, new Path(staging, IdsBloomFile), bloom)
    val dest = new Path(st.dir, s"$MsegPrefix$through")
    if (st.fs.exists(dest)) st.fs.delete(dest, true)
    if (!st.fs.rename(staging, dest))
      throw new java.io.IOException(s"mseg commit rename $staging -> $dest failed")
    // dead by rule now; immediate deletion only in offline contexts —
    // the sink stamps death time at THIS commit and defers deletion to
    // the grace-window sweep (concurrent readers; see DeadAtFile)
    if (deleteFolded) segPaths.foreach(st.fs.delete(_, true))
    else stampDead(st.fs, segPaths, System.currentTimeMillis())
  }

  private def compactLocked(
      spark: SparkSession, indexDir: String, deleteFolded: Boolean): Unit = {
    val st = readStore(spark, indexDir)
    if (st.liveSegs.isEmpty && st.liveMsegs.isEmpty) return // nothing to fold
    val through = st.applied
    val bloom = mergedBloom(st.fs, st.liveParts)
    Load.replaceTable(spark, mergeRows(readLive(spark, st)), s"$indexDir/base",
      decorateStaging = { staging =>
        val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
        writeLongFile(fs, new Path(staging, CompactedThroughFile), through)
        writeBloom(fs, new Path(staging, IdsBloomFile), bloom)
      }).get
    // the swap made these dead by rule; immediate deletion only in
    // offline contexts — the sink stamps death time at THIS commit and
    // defers deletion to the grace-window sweep (see DeadAtFile)
    val folded = (st.liveMsegs ++ st.liveSegs).map(_._2)
    if (deleteFolded) folded.foreach(st.fs.delete(_, true))
    else stampDead(st.fs, folded, System.currentTimeMillis())
  }

  private val ReportSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("n_tokens", LongType),
    StructField("removed_tokens", LongType), StructField("removed_ppm", LongType),
    StructField("kept_md5", StringType),
    StructField(BatchCol, LongType)))

  /** All retention reports published so far, with the batch column
    * dropped (the read surface mirrors batch cleanKeepFirst's schema).
    */
  def readReports(spark: SparkSession, reportDir: String): DataFrame =
    spark.read.schema(ReportSchema).parquet(reportDir).drop(BatchCol)

  /** EXACT id-reuse audit, no capacity bound: every applied batch's
    * retention report carries one row per ingested doc_id, so one
    * distributed aggregate over the report directory finds every id
    * that appeared in more than one batch (or twice in one). Returns
    * (doc_id, n_occurrences, batches) rows — empty means clean. This is
    * the ground truth the per-trigger bloom guard approximates; run it
    * periodically once the guard saturates ([[StoreStats]]'
    * `guardComplete` false).
    */
  def auditIngestedIds(spark: SparkSession, reportDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.schema(ReportSchema).parquet(reportDir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        sort_array(collect_set(col(BatchCol))).as("batches"))
      .where(col("n_occurrences") > 1)
  }
}
