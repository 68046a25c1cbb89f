package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{tokens, textShinglesAll}

/** Exact substring-span deduplication — the suffix-array-style "this
  * exact run of tokens appears more than once in the corpus" hygiene op
  * (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
  * Better"), re-expressed for a shared-nothing engine. A single-node
  * suffix array over 100 TB is impossible; the distributed equivalent
  * is positional k-gram matching. If a run of tokens occurs twice, every
  * k-window inside it occurs twice — so every true duplicated run of
  * length ≥ k lies inside a contiguous COVERAGE island of duplicated
  * k-windows, and the islands are what this operator reports: a sound
  * over-approximation (an island may also stitch together distinct
  * duplicated runs that touch, and its first/last k-1 tokens extend to
  * window boundaries), the standard trade of gram-based matching vs an
  * exact suffix array, controlled by `k`.
  *
  * Scale shape (all linear in corpus token count, no candidate pairs):
  *   1. one shuffle keyed by the gram text for the occurrence-count /
  *      first-occurrence aggregate (count+min are partial-aggregated
  *      map-side, so the reduce side sees one row per distinct gram per
  *      map partition, not one per occurrence);
  *   2. one shuffle joining the surviving duplicated-gram set back to
  *      occurrences (gram-keyed hash join; the duplicated set is the
  *      join's small side only on clean corpora, so no broadcast is
  *      hard-wired — AQE upgrades it at runtime when it fits);
  *   3. per-document windows (islands merge / coverage expansion) —
  *      partitioned by doc_id, bounded by document length.
  * At 100 TB the gram shuffle dominates at ~k× the corpus bytes. The
  * standard width reduction (hash each gram to md5-derived keys before
  * the shuffle) was MEASURED a 2× loss at sf10, k=8 (26 M grams, text
  * keys 3.8 s vs md5 keys 7.7 s min-of-4; BASELINE.md "Records of the
  * deleted dev harnesses"): the ~45-byte text key is cheaper to hash
  * and shuffle than an md5 per gram costs to compute. A k=20 A/B
  * favoured md5 keys (BASELINE.md "Wide-gram hashed keys A/B at
  * k=20"), but no query runs grams that wide, so there is no md5 lane.
  * Exact text also keeps the oracle comparison collision-free.
  *
  * Reference anchor: the reference pipeline has no corpus ops at all
  * (/root/reference/src/main.py is xlsx→rollup→load); this lives in the
  * LLM-pipeline extension surface alongside [[Decontaminate]] (shared
  * n-gram flagging vs an EXTERNAL eval set — here the corpus is matched
  * against itself, which is why its broadcast strategy doesn't apply).
  */
object SubstringDedup extends org.apache.spark.internal.Logging {

  /** Positional k-gram occurrences: (doc_id, pos, g) with pos the
    * 0-based token index of the gram start. Docs shorter than k tokens
    * emit nothing (TokenShinglesAll returns the empty array — no size
    * guard needed). One fused byte-scan kernel per doc
    * (lowercase→tokenize→gram) + posexplode, all inside codegen.
    */
  private def gramOccurrences(
      docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 2, s"gram width k must be >= 2, got $k")
    // doc_id cast to long like pos: packedOrder shifts it 21 bits, and
    // an IntegerType id would wrap at 32 bits BELOW the bounds check.
    graft.core.Partitioning.fanOut(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(textShinglesAll(col(textCol), k)).as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("g"))
  }

  /** Gram starts whose k-gram occurs at ≥ 2 (doc, pos) locations
    * corpus-wide (within-doc repeats count, exactly as a suffix array
    * would see them). Count-only aggregate: stays in whole-stage
    * HashAggregate with map-side partials (a min(struct(...)) here
    * would force the sort-based object-aggregate path — measured 3×
    * slower on the fixture; keep-one callers use the packed-bigint
    * variant below instead). Columns: (doc_id, pos).
    */
  private def duplicatedStarts(occ: DataFrame): DataFrame = {
    val gs = occ.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select(col("g"))
    // shuffle_hash, measured at sf10 (26 M grams): 6.8 s vs AQE's
    // default sort-merge pick at 38.9 s (sorting every gram string) and
    // broadcast at 8.0 s (1 M-entry driver build). It is also the only
    // hint that scales: the dup-gram set can outgrow any broadcast, but
    // the per-partition hash build stays |gs|/P, and AQE skew-splitting
    // still acts on the streamed side's exchange.
    occ.join(gs.hint("shuffle_hash"), Seq("g"))
      .select(col("doc_id"), col("pos"))
  }

  /** Occurrence-order packing: (doc_id, pos) → one bigint whose numeric
    * order IS the lexicographic (doc_id, pos) order, so the corpus-wide
    * first occurrence is a plain min(bigint) — hash-aggregatable,
    * unlike min(struct). Bounds (fail-loud, checked per gram row — two
    * long compares inside codegen): pos < 2^21 (docs under ~2 M tokens;
    * an 8 MB text) and doc_id in [0, 2^42) (~4.4 × 10^12 documents).
    * The oracle replicates the formula verbatim
    * (doc_id * 2097152 + pos).
    */
  private def packedOrder: org.apache.spark.sql.Column = {
    val ok = col("doc_id") >= 0 && col("doc_id") < (1L << 42) &&
      col("pos") < (1L << 21)
    when(ok, shiftleft(col("doc_id"), 21) + col("pos"))
      .otherwise(raise_error(concat(
        lit("SubstringDedup packing bounds exceeded: doc_id="),
        col("doc_id"), lit(" pos="), col("pos"))))
  }

  /** Gram starts that are NON-FIRST occurrences of a duplicated k-gram
    * (first = min packed (doc_id, pos) corpus-wide). Columns:
    * (doc_id, pos).
    */
  private def nonFirstStarts(occ: DataFrame): DataFrame = {
    val gs = occ.groupBy(col("g"))
      .agg(count(lit(1)).as("cnt"), min(packedOrder).as("fp"))
      .where(col("cnt") >= 2)
      .select(col("g"), col("fp"))
    // same shuffle_hash rationale as duplicatedStarts (measured there)
    occ.join(gs.hint("shuffle_hash"), Seq("g"))
      .where(packedOrder =!= col("fp"))
      .select(col("doc_id"), col("pos"))
  }

  /** Maximal coverage islands of duplicated k-windows per document:
    * (doc_id, span_start, span_end, span_len), positions 0-based
    * inclusive. Two duplicated windows [p1, p1+k-1] and [p2, p2+k-1]
    * (p1 < p2) merge iff p2 - p1 <= k (overlapping or exactly
    * adjacent), so each output row is a maximal run of tokens each of
    * which is covered by SOME duplicated k-window — a superset of the
    * true maximal duplicated runs (see the object doc for the
    * soundness/over-approximation argument).
    */
  def duplicatedSpans(
      docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // NO staging checkpoint, measured: the fused gram kernel recomputes
    // in 1.4 s at sf10 where reading a 26.5 M-row staged gram table
    // cost ~50 s PER CONSUMER (deserialized block-manager rows lose to
    // re-running codegen over the 180 MB parquet scan). Recompute-both-
    // sides is also the only shape that scales: at 100 TB the gram
    // table is k× the corpus and could never be pinned in storage.
    val d = duplicatedStarts(gramOccurrences(docs, k, idCol, textCol))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    d.withColumn("ni",
        when(lag(col("pos"), 1).over(w).isNull
          || col("pos") - lag(col("pos"), 1).over(w) > k, 1L).otherwise(0L))
      .withColumn("isl",
        sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (k - 1)).as("span_end"),
        (max(col("pos")) - min(col("pos")) + k).as("span_len"))
      .drop("isl")
  }

  /** Keep-first cleaning: tokens covered by any NON-FIRST occurrence of
    * a duplicated k-gram are removed (first = lowest (doc_id, pos)
    * corpus-wide, the deterministic survivor rule the dedup-cluster
    * family also uses). A duplicated run's first copy is never removed
    * by its OWN grams; it can still lose tokens where it overlaps a
    * non-first window of a DIFFERENT gram whose first lives elsewhere —
    * so "exactly one surviving copy" holds for runs whose coverage
    * doesn't interleave with other duplicated text, and removal is
    * conservative (never under-removes) in the interleaved case.
    * Returns one row per document with ≥ 1 token (zero-token docs
    * tokenize to nothing and are absent — the oracle drops them
    * identically); short and gram-free docs report removed_tokens = 0:
    * (doc_id, n_tokens, removed_tokens, removed_ppm, kept_md5) where
    * kept_md5 is md5 of the space-joined surviving tokens ('' when the
    * whole doc is removed) — the cross-engine content witness.
    *
    * Coverage expansion is a per-doc ROWS window (max of the dup-start
    * flag over the k-1 preceding token rows), valid because posexplode
    * emits every position densely — no range join needed.
    */
  def cleanKeepFirst(
      docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // Same no-staging rationale as duplicatedSpans (kernel recompute
    // beats reading back a materialized gram table, measured at sf10).
    val nonFirst = nonFirstStarts(gramOccurrences(docs, k, idCol, textCol))
    retentionReport(docs, nonFirst, k, idCol, textCol)
  }

  /** The shared cleaning tail: expand dup-start flags to token coverage
    * (dense ROWS window over the k-1 preceding positions) and fold the
    * per-doc retention report with its md5 witness. `nonFirst` carries
    * (doc_id, pos) of the window starts to remove.
    */
  private def retentionReport(
      docs: DataFrame, nonFirst: DataFrame, k: Int, idCol: String,
      textCol: String): DataFrame = {
    val tok = graft.core.Partitioning.fanOut(docs)
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(k - 1), Window.currentRow)
    tok.join(nonFirst.select(col("doc_id"), col("pos"), lit(1).as("flag")),
        Seq("doc_id", "pos"), "left")
      .withColumn("cov", max(coalesce(col("flag"), lit(0))).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cov")).cast("long").as("removed_tokens"),
        expr("cast(sum(cov) * 1000000 div count(1) as bigint)").as("removed_ppm"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("cov") === 0, struct(col("pos"), col("tok"))))),
          s => s.getField("tok")), " ")).as("kept_md5"))
  }

  /** Persistable gram index for INCREMENTAL keep-first dedup: one row
    * per distinct k-gram of the corpus-so-far, (g, fp, cnt) with fp the
    * packed first occurrence and cnt the occurrence count — everything
    * the batch probe needs, so steady-state ingest grams each document
    * ONCE, stores the index (e.g. `Load.replaceTable` / append like
    * [[Dedup.signatureIndex]]), and never re-tokenizes the corpus.
    */
  def gramIndex(
      docs: DataFrame, k: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    gramOccurrences(docs, k, idCol, textCol)
      .groupBy(col("g"))
      .agg(min(packedOrder).as("fp"), count(lit(1)).as("cnt"))

  /** Fold a new batch into a [[gramIndex]] (associative: two batches
    * folded in sequence equal the combined batch, equal a fresh
    * gramIndex over the union — the invariant the spec pins).
    *
    * PRECONDITION (here and in [[cleanKeepFirstIncremental]]): batch
    * doc_ids must be DISJOINT from every previously-indexed doc_id.
    * Re-ingesting an existing id conflates its packed (doc_id, pos)
    * orders with the indexed ones and double-counts `cnt`, silently
    * breaking the incremental-equals-full invariant. "For ANY id
    * ordering" below means ids need not be monotone across batches —
    * NOT that an id may repeat. Ingest sinks that can replay (e.g.
    * foreachBatch retries) must dedup ids before folding; see
    * [[assertDisjointIds]] for a fail-loud guard on debug paths.
    */
  def updateGramIndex(
      index: DataFrame, batch: DataFrame, k: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    index.unionByName(gramIndex(batch, k, idCol, textCol))
      .groupBy(col("g"))
      .agg(min(col("fp")).as("fp"), sum(col("cnt")).as("cnt"))

  /** Keep-first cleaning of ONE INGEST BATCH against a prebuilt
    * [[gramIndex]] of the corpus-so-far — the steady-state production
    * path (probe, emit the batch's retention report, then
    * [[updateGramIndex]] for the next ingest). Exactly equal to
    * `cleanKeepFirst(corpus ∪ batch)` restricted to the batch's
    * doc_ids, for ANY id ordering (the merged first occurrence is the
    * min over both sides — ids need not be monotone), without ever
    * re-processing the corpus. Requires batch ids disjoint from
    * indexed ids — see the precondition on [[updateGramIndex]].
    * Scale shape: one gram-keyed aggregate over the BATCH, one
    * shuffle_hash join against the index, then the per-doc cleaning
    * windows over batch tokens only.
    */
  /** Debug-path guard for the id-disjointness precondition: fails loud
    * (returning the offending ids) when a batch re-ingests a doc_id
    * already represented in the index. The index stores no id column,
    * but every indexed FIRST occurrence carries its id in the packed
    * order (`fp >> 21`) — a sufficient witness set, because a doc whose
    * every gram lost the min() to another doc contributed no state that
    * a re-ingest could conflate with... except its `cnt`s; so this is a
    * strong heuristic, not a complete proof, and is deliberately kept
    * off the hot path (one distinct over the index per call). Empty
    * result = safe to fold.
    */
  def overlappingIds(index: DataFrame, batch: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    batch.select(col(idCol).cast("long").as("doc_id")).distinct()
      .join(index.select(shiftright(col("fp"), 21).as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")

  /** [[overlappingIds]] as an assertion (spec/debug harness form). */
  def assertDisjointIds(index: DataFrame, batch: DataFrame,
      idCol: String = "doc_id"): Unit = {
    val bad = overlappingIds(index, batch, idCol).limit(5).collect().map(_.getLong(0))
    require(bad.isEmpty,
      s"SubstringDedup incremental ingest: batch re-uses already-indexed doc_ids ${bad.mkString(", ")} — " +
        "the incremental-equals-full invariant requires disjoint ids per batch")
  }

  /** False-positive rate of the batch-gram bloom that prunes the
    * index side of the incremental probe. FPs only cost shuffle bytes
    * (the pruned-in rows die in the join); false negatives are
    * impossible by the bloom contract, so correctness never depends on
    * this number.
    */
  val IndexPrefilterFpp: Double = 0.01

  /** Cap on the prefilter bloom's expectedItems: the filter is a
    * DRIVER-side object (built by one aggregate, then broadcast), so
    * its size must stay broadcast-friendly whatever the batch size —
    * 64 M items at fpp 0.01 is ~77 MB. A batch with more grams than
    * this overfills the filter, which only RAISES its fp rate: the
    * prefilter gradually stops pruning (more index rows pass) but is
    * never wrong. Correctness never depends on the estimate.
    */
  val MaxPrefilterItems: Long = 64L * 1000 * 1000

  /** `index` may hold MULTIPLE rows per gram — the segmented (LSM)
    * store's merge-on-read contract: a union of per-batch segments is
    * probed directly, with the per-gram min(fp)/sum(cnt) folded AFTER
    * the gram join instead of in a pre-aggregate over the whole index
    * (the join filters to batch grams first, so the fold touches only
    * matched rows; the post-join groupBy keys start with `g`, which the
    * join's hash(g) partitioning already satisfies — no extra
    * exchange). Single-row indexes behave exactly as before.
    *
    * `indexGramPrefilter` (default ON): the index side is filtered by
    * a bloom of the BATCH's grams BEFORE its exchange. At steady state
    * a daily batch is a tiny fraction of the corpus, but the gram join
    * must still see every index row — without the prefilter that is an
    * O(index) shuffle per trigger. The bloom turns it into an
    * O(index) SCAN (which the probe pays regardless) plus an
    * O(batch ∩ index + fpp·index) shuffle. Cost: one batch-sized
    * count + one bloom aggregate; at fixture scale the overhead and
    * the win both round to zero, at 100 TB the shuffle reduction is
    * the difference between a probe that scales with the batch and
    * one that scales with the corpus (A/B in BASELINE.md round-12).
    */
  def cleanKeepFirstIncremental(
      index: DataFrame, batch: DataFrame, k: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      indexGramPrefilter: Boolean = true): DataFrame = {
    val occB = gramOccurrences(batch, k, idCol, textCol)
    val bStats = occB.groupBy(col("g"))
      .agg(min(packedOrder).as("bfp"), count(lit(1)).as("bcnt"))
    val indexSide = {
      val plain = index.select(col("g"), col("fp"), col("cnt"))
      if (!indexGramPrefilter) plain
      else if (occB.isEmpty)
        // a batch whose docs are all shorter than k tokens has NO
        // grams: nothing can match any index row (and stat.bloomFilter
        // NPEs on an empty frame — null aggregation buffer)
        plain.where(lit(false))
      else {
        val spark = batch.sparkSession
        // size the filter from a CHEAP scan of the batch rows, not a
        // full gram explosion (an occB.count() here would add a second
        // explosion per trigger). chars/6 ≈ the word count of natural
        // text (~5-char words + separator) ≈ an upper-ish bound on
        // grams; a corpus of pathologically short tokens overfills by
        // ~3x, which only raises the filter's fp rate (less pruning,
        // never wrong). The hard chars/2 bound would oversize the
        // filter several-fold — width is wall time in the build's
        // partial-filter merge (each partition allocates and ORs a
        // filter of the full width), which matters at real batch sizes
        // even though it rounds to nothing on the fixtures
        val chars = batch.agg(sum(length(col(textCol)).cast("long"))).head()
        val estGrams = math.max(4096L, math.min(
          if (chars.isNullAt(0)) 1L else chars.getLong(0) / 6, MaxPrefilterItems))
        val bloom = occB.stat.bloomFilter("g", estGrams, IndexPrefilterFpp)
        // the chars/6 gram estimate underestimates badly for corpora
        // of long or unsegmented tokens (URLs, CJK without whitespace
        // tokenization) — the overfilled filter stays CORRECT (fp rate
        // rises, pruning fades) but would silently degrade to a no-op.
        // expectedFpp() is computed from the built filter's actual bit
        // saturation, so the degradation is observable for free
        // (advice r12); 10x the configured rate ≈ half the index rows
        // sail through the prefilter
        val actualFpp = bloom.expectedFpp()
        if (actualFpp > 10 * IndexPrefilterFpp)
          logWarning(
            f"substring-dedup index prefilter overfilled: built for ~$estGrams%d grams " +
              f"(chars/6 estimate) but its post-build fp rate is $actualFpp%.4f vs the " +
              f"$IndexPrefilterFpp%.4f configured — the estimate undercounted this " +
              "batch's grams (long/unsegmented tokens?); the probe stays correct but " +
              "prunes less of the index side. Consider a corpus-specific gram estimate")
        val bc = spark.sparkContext.broadcast(bloom)
        val mightHave = udf((g: String) => bc.value.mightContainString(g))
        plain.where(mightHave(col("g")))
      }
    }
    // merged per-gram view of corpus ∪ batch, batch grams only (grams
    // absent from the batch cannot mark any batch position)
    val merged = bStats
      // NO join hint here, measured at sf10 (in-JVM A/B, both orders):
      // unlike duplicatedStarts — whose build side is the FILTERED dup
      // set — this join's non-stream side is the WHOLE index, and
      // hash-building 23.6 M string-keyed entries loses to AQE's
      // sort-merge pick (7-11 s vs 14-16 s). Hints follow the measured
      // build-side size, not a blanket idiom.
      .join(indexSide, Seq("g"), "left")
      // bfp/bcnt are functionally dependent on g — grouping by all
      // three keeps them in scope while hash(g) satisfies the
      // clustering (no exchange between the join and this fold)
      .groupBy(col("g"), col("bfp"), col("bcnt"))
      .agg(min(col("fp")).as("ifp"), sum(col("cnt")).as("icnt"))
      .select(col("g"),
        least(col("bfp"), coalesce(col("ifp"), lit(Long.MaxValue))).as("gfp"),
        (col("bcnt") + coalesce(col("icnt"), lit(0L))).as("gcnt"))
      .where(col("gcnt") >= 2)
    val nonFirst = occB.join(merged.hint("shuffle_hash"), Seq("g"))
      .where(packedOrder =!= col("gfp"))
      .select(col("doc_id"), col("pos"))
    retentionReport(batch, nonFirst, k, idCol, textCol)
  }
}
