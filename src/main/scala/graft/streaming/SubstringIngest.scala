package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

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
  *                   + _ids_bloom / _ids_n (merged doc-id bloom, guard)
  *   mseg_<T>/       minor-compacted runs: the fold of segments with
  *                   ids in this run's range (see compaction below)
  *   seg_<batchId>/  one APPEND-ONLY segment per applied micro-batch:
  *                   the batch's own gramIndex + _ids_bloom sidecar
  * }}}
  *
  *  - '''Publish''' = write the batch's gram segment under a staging
  *    name, then one atomic rename to `seg_<batchId>` — the rename IS
  *    the commit (no separate watermark file whose update could tear).
  *    Publish bytes are O(batch grams) + one constant-size bloom.
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
  *       their data bytes reach `majorRatio` x base's (classic
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
  * == doc_id re-use guard (default ON) ==
  *
  * [[SubstringDedup.updateGramIndex]]'s precondition — ids globally
  * unique across the stream's lifetime — is now enforced by default at
  * bounded cost: every segment carries a bloom filter of its batch's
  * doc ids (`_ids_bloom`, constant size, published atomically inside
  * the segment rename), and each trigger checks the batch's ids
  * against the merged blooms of the live set before folding. A hit
  * refuses the batch loudly. False positives are ~`bloomFpp` per id
  * (default 1e-4; a refused CLEAN batch is possible but rare — widen
  * `bloomExpectedItems`/lower `bloomFpp` if ids are very dense).
  * Coverage is exact for stores built entirely through this sink or
  * [[bootstrap]]; a live part without a bloom leaves its ids
  * unguarded, and the store then carries an `_ids_bloom_incomplete`
  * marker through compaction so the gap is visible. Replays of the
  * SAME batch are the watermark's job and are skipped before the guard
  * runs.
  *
  * '''Saturation''' (the guard's own scale bound): blooms merge by
  * OR-ing fixed bitsets, so once the TOTAL ingested ids exceed
  * `bloomExpectedItems` the merged filter's false-positive rate climbs
  * toward 1 — past capacity the guard would start refusing CLEAN
  * batches, an availability failure, and no driver-side bloom can be
  * sized for a 100-TB corpus' id count. Each sidecar therefore carries
  * its item count (`_ids_n`, summed through compaction); when the
  * merged count crosses capacity the guard DEGRADES — logs, writes the
  * incomplete marker, stops refusing — instead of failing wrong. Past
  * that point (or for end-to-end certainty at any point) run
  * [[auditIngestedIds]]: the retention reports carry every ingested
  * doc_id, so one distributed aggregate over them is an EXACT id-reuse
  * audit with no capacity bound.
  *
  * == Standing soak gate ==
  *
  * `sbt "Test/runMain graft.dev.SubstringSoak <sf1 dir> 50 8"` soaks
  * this store through 50 real micro-batches; diff its per-trigger
  * wall/publish-bytes columns against the recorded table in
  * BASELINE.md ("Standing store-soak gate") after any store/compaction
  * change.
  */
object SubstringIngest extends Logging {

  /** Sidecar beside each `_ids_bloom`: how many ids went into it
    * (summed through compaction) — the saturation accounting that lets
    * the guard degrade loudly instead of false-refusing past capacity.
    * One line PER FILTER in the bloom file, same order (a bloom file
    * may hold several filters — see [[readBlooms]]); a single-line
    * file over one filter (every store before this) reads unchanged.
    * A bloom with no count (pre-upgrade store) counts as 0: such a
    * store undercounts toward the capacity check, so pair it with
    * [[auditIngestedIds]] if its true id count is near capacity.
    */
  val IdsNFile = "_ids_n"

  /** Sidecar beside each `_ids_bloom`: the `bloomExpectedItems` each
    * filter was BUILT with, one line per filter (same order as the
    * bloom file; -1 = unknown, falls back to the call's parameter).
    * Saturation must compare against the on-disk filters' capacity,
    * not the current call's parameter — a sink restarted with a
    * smaller default than the store was bootstrapped with would
    * otherwise declare a roomy guard "saturated" and silently skip it
    * forever. Saturation is judged PER merge-compatibility class
    * (advice r12): a store mixing a roomy bootstrap bloom with small
    * per-segment blooms is saturated only when some class's summed
    * count exceeds ITS OWN capacity, not when the total crosses the
    * minimum single-filter capacity.
    */
  val IdsCapFile = "_ids_capacity"

  /** Sidecar inside `base/`: highest batch id folded into it. */
  val CompactedThroughFile = "_compacted_through"

  /** Per-segment doc-id bloom sidecar. */
  val IdsBloomFile = "_ids_bloom"

  /** Marker: some live data carries no bloom, or the guard saturated
    * — id coverage is best-effort, not complete.
    */
  val BloomIncompleteFile = "_ids_bloom_incomplete"

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
    * only once its stamp is `graceMs` old, so it always survives at
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

  /** One live data part: its directory and its bloom, if it has one. */
  private case class Part(path: Path, bloomAt: Option[Path])

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
      staleStaging: Seq[Path],
      bloomIncomplete: Boolean) {
    def applied: Long =
      (compactedThrough +: (liveMsegs.map(_._1) ++ liveSegs.map(_._1))).max
    def liveParts: Seq[Part] = (baseDir ++ (liveMsegs ++ liveSegs).map(_._2)).toSeq
      .map(p => Part(p, someIfExists(fs, new Path(p, IdsBloomFile))))
    /** Parquet data bytes of base. */
    def baseDataBytes: Long = baseDir.fold(0L)(dataBytes(fs, _))
    /** Parquet data bytes across the live minor-compacted runs. */
    def msegDataBytes: Long = liveMsegs.map { case (_, p) => dataBytes(fs, p) }.sum
  }

  /** Data-file bytes of one part dir (sidecars/_SUCCESS excluded —
    * the constant-size id bloom would otherwise dominate small runs
    * and skew the size-ratio major trigger).
    */
  private def dataBytes(fs: FileSystem, dir: Path): Long =
    fs.listStatus(dir).collect {
      case s if s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".") => s.getLen
    }.sum

  private def someIfExists(fs: FileSystem, p: Path): Option[Path] =
    if (fs.exists(p)) Some(p) else None

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
      return Store(fs, dir, exists = false, None, -1L, Nil, Nil, Nil, Nil,
        bloomIncomplete = false)
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
      staleStaging = staleStaging,
      bloomIncomplete = fs.exists(new Path(dir, BloomIncompleteFile)))
  }

  /** Raw live rows — the merge-on-read UNION, possibly multiple rows
    * per gram (one per contributing segment). What the probe join and
    * [[compact]] consume.
    */
  private def readLive(spark: SparkSession, st: Store): DataFrame = {
    val paths = st.liveParts.map(_.path.toString)
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
    * applied watermark, live part counts, data bytes per level, id
    * count behind the guard blooms, and whether guard coverage is
    * complete (false once a bloom-less part or bloom saturation was
    * observed — pair with [[auditIngestedIds]] then).
    */
  case class StoreStats(
      applied: Long,
      liveSegments: Int,
      liveMsegRuns: Int,
      baseDataBytes: Long,
      msegDataBytes: Long,
      segDataBytes: Long,
      guardedIds: Long,
      guardComplete: Boolean)

  def storeStats(spark: SparkSession, indexDir: String): StoreStats = {
    val st = readStore(spark, indexDir)
    val segBytes = st.liveSegs.map { case (_, p) => dataBytes(st.fs, p) }.sum
    val guarded = st.liveParts.flatMap(_.bloomAt)
      .map(p => readLongsFile(st.fs, new Path(p.getParent, IdsNFile)).sum).sum
    StoreStats(
      applied = st.applied,
      liveSegments = st.liveSegs.size,
      liveMsegRuns = st.liveMsegs.size,
      baseDataBytes = st.baseDataBytes,
      msegDataBytes = st.msegDataBytes,
      segDataBytes = segBytes,
      guardedIds = guarded,
      guardComplete = !st.bloomIncomplete && st.liveParts.forall(_.bloomAt.nonEmpty))
  }

  /** Batch bootstrap of a segmented store: the full corpus-so-far gram
    * index lands in `base/` (staged swap) with a complete doc-id bloom
    * — the recommended seed for a store whose id guard should have
    * full coverage, AND the saturation warning's prescribed
    * re-bootstrap path (rebuild with a larger `bloomExpectedItems`).
    * `appliedBatch` seeds the watermark (-1 = nothing streamed yet);
    * on a NON-EMPTY store the written watermark is max(appliedBatch,
    * the store's current applied), so pre-existing segments/runs are
    * dead by rule the instant the swap lands — `docs` must therefore
    * be the FULL corpus including everything those parts held, or the
    * dropped grams are simply gone. Re-bootstrapping also clears the
    * incomplete-coverage marker: the fresh bloom covers every id in
    * `docs`.
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
      bloomExpectedItems: Long = DefaultBloomItems,
      bloomFpp: Double = DefaultBloomFpp,
      offline: Boolean = false): Unit = {
    val bloom = docIdBloom(docs, bloomExpectedItems, bloomFpp)
    val nIds = docs.count()
    // same lock as the sink: a concurrent trigger must not append a
    // segment between the watermark read and the swap
    Load.withLock(spark, indexDir, "substringIngest bootstrap") {
      val pre = readStore(spark, indexDir)
      val through = math.max(appliedBatch, if (pre.exists) pre.applied else -1L)
      Load.replaceTable(spark, SubstringDedup.gramIndex(docs, k), s"$indexDir/base",
        decorateStaging = { staging =>
          val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
          writeLongFile(fs, new Path(staging, CompactedThroughFile), through)
          writeBloom(fs, new Path(staging, IdsBloomFile), bloom)
          writeLongFile(fs, new Path(staging, IdsNFile), nIds)
          writeLongFile(fs, new Path(staging, IdsCapFile), bloomExpectedItems)
        }).get
      val post = readStore(spark, indexDir)
      // every pre-existing part is dead by rule now (compactedThrough
      // covers all their ids)
      if (offline) post.deadSegs.foreach(post.fs.delete(_, true))
      else stampDead(post.fs, post.deadSegs, System.currentTimeMillis())
      post.fs.delete(new Path(post.dir, BloomIncompleteFile), false)
    }.get
    ()
  }

  private def writeLongFile(fs: FileSystem, p: Path, v: Long): Unit = {
    val out = fs.create(p, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
  }

  private def writeBloom(fs: FileSystem, p: Path, bloom: BloomFilter): Unit = {
    val out = fs.create(p, true)
    try bloom.writeTo(out) finally out.close()
  }

  /** Bloom over doc_id AS LONG — `stat.bloomFilter` hashes a column by
    * its NATIVE type (string ids go in as UTF-8 bytes), while the guard
    * probes with `mightContainLong`; without the cast a long-castable
    * but non-long id column would build a bloom the probe can never
    * hit, silently disabling the guard instead of enforcing it.
    */
  private def docIdBloom(
      docs: DataFrame, expectedItems: Long, fpp: Double): BloomFilter = {
    import org.apache.spark.sql.functions.col
    docs.select(col("doc_id").cast("long").as("doc_id"))
      .stat.bloomFilter("doc_id", expectedItems, fpp)
  }

  /** A bloom sidecar may hold SEVERAL concatenated filters (writeTo /
    * readFrom are self-delimiting): compaction folds parts whose blooms
    * were sized differently (bootstrap vs sink params changed mid-
    * stream), and differently-sized filters cannot mergeInPlace — so
    * merging happens per size class and the residue rides as a list.
    * A single-bloom file (every store before this) reads as a
    * one-element list.
    */
  private def readBlooms(fs: FileSystem, p: Path): Seq[BloomFilter] = {
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val bin = new java.io.ByteArrayInputStream(bytes)
    val out = Seq.newBuilder[BloomFilter]
    while (bin.available() > 0) out += BloomFilter.readFrom(bin)
    out.result()
  }

  private def writeBlooms(fs: FileSystem, p: Path, blooms: Seq[BloomFilter]): Unit = {
    val out = fs.create(p, true)
    try blooms.foreach(_.writeTo(out)) finally out.close()
  }

  /** One guard filter with its saturation accounting: ids folded into
    * it and the capacity it was built for (-1 = unknown → the call's
    * `bloomExpectedItems` at check time).
    */
  private case class GuardEntry(bloom: BloomFilter, n: Long, cap: Long)

  private def readLongsFile(fs: FileSystem, p: Path): Seq[Long] =
    if (!fs.exists(p)) Nil
    else {
      val in = fs.open(p)
      val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      s.split("\\s+").toSeq.filter(_.nonEmpty).map(_.toLong)
    }

  /** Read a part's guard state: its filters with aligned per-filter
    * (n, cap) lines. A legacy part whose count/cap files don't align
    * with its filter list (single-line files over a mixed-size bloom
    * list) assigns the TOTAL n and the single cap to EVERY filter —
    * overcounting, so saturation degrades EARLY on such parts (the
    * pre-advice behavior) rather than admitting unguarded ids late.
    */
  private def readGuard(fs: FileSystem, partDir: Path): Seq[GuardEntry] = {
    val bloomAt = new Path(partDir, IdsBloomFile)
    if (!fs.exists(bloomAt)) Nil
    else {
      val blooms = readBlooms(fs, bloomAt)
      val ns = readLongsFile(fs, new Path(partDir, IdsNFile))
      val caps = readLongsFile(fs, new Path(partDir, IdsCapFile))
      val nOf: Int => Long =
        if (ns.size == blooms.size) ns.apply
        else _ => ns.sum // legacy/misaligned: conservative overcount
      val capOf: Int => Long =
        if (caps.size == blooms.size) caps.apply
        else _ => caps.headOption.getOrElse(-1L)
      blooms.indices.map(i => GuardEntry(blooms(i), nOf(i), capOf(i)))
    }
  }

  private def writeGuard(fs: FileSystem, dir: Path, entries: Seq[GuardEntry]): Unit = {
    writeBlooms(fs, new Path(dir, IdsBloomFile), entries.map(_.bloom))
    writeLinesFile(fs, new Path(dir, IdsNFile), entries.map(_.n))
    writeLinesFile(fs, new Path(dir, IdsCapFile), entries.map(_.cap))
  }

  private def writeLinesFile(fs: FileSystem, p: Path, vs: Seq[Long]): Unit = {
    val out = fs.create(p, true)
    try out.write(vs.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  /** Merge guard entries into as few classes as merge-compatibility
    * allows: try each filter into an existing accumulator, append on
    * [[org.apache.spark.util.sketch.IncompatibleMergeException]].
    * Grouping by bitSize alone is NOT enough — the sketch also
    * requires equal hash counts, and two (expectedItems, fpp) configs
    * can share a word-rounded bitSize with different hash counts. One
    * class in a consistently-configured store; mixed sizing degrades
    * to a few probes per id instead of crashing. Counts SUM within a
    * class; capacity keeps the class MIN (compatible configs can
    * still differ in nominal capacity — degrade early).
    */
  private def mergeGuard(entries: Seq[GuardEntry]): Seq[GuardEntry] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[GuardEntry]
    for (e <- entries) {
      val idx = out.indexWhere { acc =>
        try { acc.bloom.mergeInPlace(e.bloom); true }
        catch { case _: org.apache.spark.util.sketch.IncompatibleMergeException => false }
      }
      if (idx < 0) out += e
      else {
        val acc = out(idx)
        val cap =
          if (acc.cap < 0) e.cap
          else if (e.cap < 0) acc.cap
          else math.min(acc.cap, e.cap)
        out(idx) = GuardEntry(acc.bloom, acc.n + e.n, cap)
      }
    }
    out.toSeq
  }

  /** Defaults size the per-segment bloom at ~2.3 MB — constant per
    * segment regardless of index size, merged away at compaction.
    */
  val DefaultBloomItems: Long = 1L * 1000 * 1000
  val DefaultBloomFpp: Double = 1e-4

  val DefaultMaxSegments = 16

  /** How long a dead part (folded into a newer run/base) survives on
    * disk before the per-trigger sweep deletes it. Liveness excludes
    * dead parts from every NEW read, but a probe that resolved its
    * concrete file list just before a compaction commit would hit
    * FileNotFound if the files vanished mid-read — the grace period is
    * the retention window that closes it (the Delta/Iceberg vacuum
    * discipline). Zero = immediate (safe only with no concurrent
    * readers).
    */
  val DefaultSweepGraceMs: Long = 10L * 60 * 1000

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

  private def sweepDead(st: Store, graceMs: Long): Unit = {
    // staging debris is invisible to readers — always safe to drop;
    // dead DATA parts wait out the reader grace window measured from
    // their DEATH stamp (self-healing: an unstamped dead part from a
    // crash window is stamped now and deleted graceMs later)
    st.staleStaging.foreach(st.fs.delete(_, true))
    val now = System.currentTimeMillis()
    st.deadSegs.foreach { p =>
      if (graceMs <= 0L) { st.fs.delete(p, true); () } // documented: no readers
      else {
        val t = new Path(p, DeadAtFile)
        readLongFile(st.fs, t) match {
          case Some(at) if now - at >= graceMs =>
            st.fs.delete(p, true)
            ()
          case Some(_) => ()
          case None => writeLongFile(st.fs, t, now)
        }
      }
    }
  }

  /** Major-compaction size-ratio trigger: fold everything into `base/`
    * when the live mseg runs' data bytes reach this fraction of base's.
    * At 1.0 each major at least doubles base, so majors are
    * geometrically spaced and total rewrite work stays linear in
    * ingested bytes. Raise it to trade read fan-out for fewer
    * full-index rewrites; the mseg-count bound (`maxSegments`) caps
    * fan-out regardless.
    */
  val DefaultMajorRatio = 1.0

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
    * @param checkIds   refuse a batch whose ids hit the live blooms
    *                   (default ON — see the guard section above)
    * @param maxSegments minor-compact when live segments exceed this;
    *                   major-compact when live mseg runs exceed it
    *                   (read amplification bound, both levels)
    * @param majorRatio  size-ratio major trigger (see
    *                   [[DefaultMajorRatio]])
    */
  def substringIngestSink(
      docs: DataFrame, indexDir: String, reportDir: String,
      checkpoint: String, k: Int = 8,
      checkIds: Boolean = true,
      maxSegments: Int = DefaultMaxSegments,
      bloomExpectedItems: Long = DefaultBloomItems,
      bloomFpp: Double = DefaultBloomFpp,
      majorRatio: Double = DefaultMajorRatio,
      sweepGraceMs: Long = DefaultSweepGraceMs): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, indexDir, reportDir, k, checkIds,
          maxSegments, bloomExpectedItems, bloomFpp, majorRatio, sweepGraceMs)
      }
      .start()

  /** One micro-batch application — the foreachBatch body, public so the
    * crash-window specs can replay it at chosen interruption points.
    * Idempotent per batchId.
    */
  def applyBatch(
      batch: DataFrame, batchId: Long, indexDir: String, reportDir: String,
      k: Int = 8, checkIds: Boolean = true,
      maxSegments: Int = DefaultMaxSegments,
      bloomExpectedItems: Long = DefaultBloomItems,
      bloomFpp: Double = DefaultBloomFpp,
      majorRatio: Double = DefaultMajorRatio,
      sweepGraceMs: Long = DefaultSweepGraceMs): Unit = {
    // one evaluation of the micro-batch source: the empty check, the
    // id guard, the report probe, the segment write and the bloom all
    // read cached rows
    batch.persist()
    try {
      // ONE count replaces isEmpty + a later per-trigger count() (r16):
      // the row count is needed anyway for the _ids_n sidecar, so the
      // empty check rides it — one fewer job per trigger, and the count
      // fully materializes the cache the remaining passes read
      val nRows = batch.count()
      if (nRows > 0) {
        val spark = batch.sparkSession
        Load.withLock(spark, indexDir, s"substringIngestSink batch=$batchId") {
          val st = readStore(spark, indexDir)
          if (batchId > st.applied) {
            // cleanup debris first: crashed staging dirs (always) and
            // dead parts past the reader grace window
            sweepDead(st, sweepGraceMs)
            if (checkIds) bloomGuard(spark, st, batch, batchId, bloomExpectedItems)
            val live = readLive(spark, st)
            SubstringDedup.cleanKeepFirstIncremental(live, batch, k)
              .write.mode("overwrite")
              .parquet(s"$reportDir/$BatchCol=$batchId")
            // O(batch) publish: the batch's own gram segment, committed
            // by one atomic rename (bloom sidecar rides inside)
            val bloom = docIdBloom(batch, bloomExpectedItems, bloomFpp)
            val segFinal = new Path(st.dir, f"$SegPrefix$batchId%d")
            val segStaging = new Path(st.dir, segFinal.getName + StagingSuffix)
            SubstringDedup.gramIndex(batch, k)
              .write.mode("overwrite").parquet(segStaging.toString)
            writeBloom(st.fs, new Path(segStaging, IdsBloomFile), bloom)
            writeLongFile(st.fs, new Path(segStaging, IdsNFile), nRows)
            writeLongFile(st.fs, new Path(segStaging, IdsCapFile), bloomExpectedItems)
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
                cur.msegDataBytes + segBytes >= majorRatio * math.max(1L, cur.baseDataBytes))
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
    * blooms (constant-size driver read per live part; one pass over
    * the batch). Blooms are sized identically per store, so
    * mergeInPlace is always compatible. Past capacity (total ingested
    * ids > `bloomExpectedItems`) the merged filter's fpp is no longer
    * the configured one — a refusal would mostly hit CLEAN batches, so
    * the guard degrades: mark incomplete, warn, skip the check (the
    * exact path past capacity is [[auditIngestedIds]]).
    */
  private def bloomGuard(
      spark: SparkSession, st: Store, batch: DataFrame, batchId: Long,
      bloomExpectedItems: Long): Unit = {
    val bloomPaths = st.liveParts.flatMap(_.bloomAt)
    // capacities come from the ON-DISK sidecars, not this call's
    // parameter: a sink restarted with a smaller default than the
    // store was built with must not declare a roomy guard saturated
    // and skip it forever. Saturation is PER merge-compatibility
    // class (advice r12): a roomy bootstrap bloom beside small
    // per-segment blooms saturates only when some class's own summed
    // count exceeds its own capacity.
    val classes = mergeGuard(bloomPaths.flatMap(p => readGuard(st.fs, p.getParent)))
    val overCap = classes.find(c =>
      c.n > (if (c.cap >= 0) c.cap else bloomExpectedItems))
    val saturated = overCap.isDefined
    overCap.foreach { c =>
      logWarning(
        s"substringIngest ${st.dir}: a merged id-bloom class holds ~${c.n} ids, past " +
          s"its ${if (c.cap >= 0) c.cap else bloomExpectedItems} capacity - the id " +
          "guard is DEGRADED (would mostly false-refuse); marking the store " +
          "_ids_bloom_incomplete. Run auditIngestedIds over the report directory " +
          "for an exact check, or re-bootstrap with a larger bloomExpectedItems")
    }
    val unguarded =
      st.liveParts.exists(_.bloomAt.isEmpty) || st.bloomIncomplete || saturated
    if (unguarded && !st.fs.exists(new Path(st.dir, BloomIncompleteFile)) && st.exists)
      writeLongFile(st.fs, new Path(st.dir, BloomIncompleteFile), 1L)
    if (bloomPaths.nonEmpty && !saturated) {
      val merged = classes.map(_.bloom)
      import org.apache.spark.sql.functions.{col, udf}
      // broadcast, not closure-capture: the filters are MBs and the
      // closure would re-serialize them into every task of every trigger
      val bc = spark.sparkContext.broadcast(merged)
      try {
        val hit = udf((id: Long) => bc.value.exists(_.mightContainLong(id)))
        val hits = batch.select(col("doc_id").cast("long").as("doc_id"))
          .where(hit(col("doc_id"))).limit(5).collect().map(_.getLong(0))
        // the false-positive chance the on-disk filters give now, whatever
        // fpp this call or the one that built them was given
        val fpp = merged.map(_.expectedFpp).sum
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
    Load.withLock(spark, indexDir, "substringIngest compact") {
      compactLocked(spark, indexDir, deleteFolded = true)
    }.get
    ()
  }

  /** MINOR compaction: fold the live segments — and only them, never
    * base or earlier mseg runs — into one `mseg_<T>` run, committed by
    * a single atomic rename. Cost O(data since the last minor); the
    * folded segments are dead by the liveness rule the instant the
    * rename lands (deleting them is cleanup). Blooms and id counts of
    * the folded segments merge into the run's sidecars, so the id
    * guard's coverage is unchanged.
    */
  private def minorCompactLocked(
      spark: SparkSession, indexDir: String, deleteFolded: Boolean): Unit = {
    val st = readStore(spark, indexDir)
    if (st.liveSegs.isEmpty) return
    val through = st.liveSegs.map(_._1).max // > any mseg/base cover by liveness
    val segPaths = st.liveSegs.map(_._2)
    val nWithBloom = segPaths.count(p => st.fs.exists(new Path(p, IdsBloomFile)))
    val guard = mergeGuard(segPaths.flatMap(p => readGuard(st.fs, p)))
    val staging = new Path(st.dir, s"$MsegPrefix$through$StagingSuffix")
    if (st.fs.exists(staging)) st.fs.delete(staging, true)
    mergeRows(spark.read.schema(IndexSchema).parquet(segPaths.map(_.toString): _*))
      .write.mode("overwrite").parquet(staging.toString)
    if (guard.nonEmpty) writeGuard(st.fs, staging, guard)
    if (nWithBloom < segPaths.size) // should not happen for sink-written segs
      writeLongFile(st.fs, new Path(st.dir, BloomIncompleteFile), 1L)
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
    val parts = st.liveParts
    val bloomPaths = parts.flatMap(_.bloomAt)
    val guard = mergeGuard(bloomPaths.flatMap(p => readGuard(st.fs, p.getParent)))
    val incomplete = st.bloomIncomplete || parts.exists(_.bloomAt.isEmpty)
    Load.replaceTable(spark, mergeRows(readLive(spark, st)), s"$indexDir/base",
      decorateStaging = { staging =>
        val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
        writeLongFile(fs, new Path(staging, CompactedThroughFile), through)
        if (guard.nonEmpty) writeGuard(fs, staging, guard)
      }).get
    if (incomplete)
      writeLongFile(st.fs, new Path(st.dir, BloomIncompleteFile), 1L)
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
    * periodically once a store is marked `_ids_bloom_incomplete`
    * (a bloom-less part or bloom saturation).
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
