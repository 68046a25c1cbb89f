package graft.operators

import graft.core.Gates
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenization — both halves: greedy merge-table
  * TRAINING (the q120 merge step iterated to a vocabulary) and merge
  * APPLICATION (tokenize a corpus with a trained table). Together with
  * sequence packing (Resample) this closes the "pack context windows in
  * real tokens" loop of an LLM data pipeline.
  *
  * Representation: a word's symbolization is a single SEP-delimited
  * string ` sym  sym ` (leading + trailing SEP).
  * Applying one merge (l, r) is then a LEFT FOLD over the symbols with
  * the string as accumulator — `ends_with(acc, SEP·l·SEP) && x == r`
  * rewrites the tail — which is exactly the repeated-leftmost-merge
  * semantics of classic BPE (after a merge the new symbol becomes the
  * fold's tail and cannot re-match `l` unless `l == l+r`, the same
  * rescan position the iterative definition uses). The fold is a
  * codegen-free but native `aggregate` higher-order function — no UDF.
  *
  * Scale shape (100 TB): training never touches the corpus after ONE
  * word-frequency aggregate — every merge round runs over the
  * VOCABULARY table (≈100 k rows for web text, size-independent of the
  * corpus), localCheckpoint-ed per round with superseded-block release
  * (the LabelProp discipline). Application folds each DISTINCT word
  * once and joins the result back to token occurrences — O(vocab ·
  * merges) fold work plus one join that AQE broadcasts while the vocab
  * side is small.
  *
  * Determinism (what makes it oracle-checkable): the merge pick is
  * total-ordered — pair count desc, then (l, r) lexicographic on the
  * two symbols SEPARATELY (a joined `l·r` string key would order
  * prefix-sharing symbols differently).
  */
object Bpe extends org.apache.spark.internal.Logging {

  /** Symbol separator. Out-of-band by construction for any corpus that
    * has no U+0001 in its tokens (tokens are `\S+`, so the only way in
    * is a document containing the control char itself — scrub upstream
    * if so).
    */
  val Sep = "\u0001"

  /** Symbols of a delimited symbolization (drops the boundary blanks
    * that split() produces for the leading/trailing SEP).
    */
  def symsOf(symstr: Column): Column =
    filter(split(symstr, Sep), s => s =!= "")

  /** A word as its initial character symbolization. */
  def initialSymstr(w: Column): Column =
    concat(lit(Sep),
      array_join(transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))), Sep),
      lit(Sep))

  /** Apply ONE merge (l, r) to a symbolization — the string-accumulator
    * fold derived in the object doc. `l`/`r` are plan-time literals
    * (merge tables are driver-small by nature).
    *
    * The tail-trim length is in CODE POINTS (`codePointCount`), because
    * Spark's `length`/`substr` count code points while Java's
    * `String.length` counts UTF-16 units — a supplementary-plane char
    * in `l` (emoji in web text) would otherwise over-trim by one per
    * astral char and silently corrupt the symbolization (advice r11).
    */
  def applyOneMerge(symstr: Column, l: String, r: String): Column =
    aggregate(symsOf(symstr), lit(Sep), (acc, x) =>
      when(acc.endsWith(lit(Sep + l + Sep)) && x === lit(r),
        concat(acc.substr(lit(1),
          length(acc) - lit(l.codePointCount(0, l.length) + 1)), lit(l + r + Sep)))
        .otherwise(concat(acc, x, lit(Sep))))

  /** Full merge-table application: fold a word through the trained
    * merges in rank order.
    */
  def applyMerges(w: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(initialSymstr(w)) { case (s, (l, r)) => applyOneMerge(s, l, r) }

  /** Adjacent symbol pairs of the current symbolization, exploded —
    * guarded for single-symbol words (Spark's sequence(1, 0) counts
    * DOWN; the guard is the q120 precedent).
    */
  private def pairCol(symstr: Column): Column = {
    val syms = symsOf(symstr)
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("l"), element_at(syms, i + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))
  }

  /** Vocabulary-size gate for the in-memory trainer: ~2 M distinct
    * words ≈ a few hundred MB of driver heap with the pair maps — the
    * [[Components]] driverUnionFind sizing discipline. Web-text
    * vocabularies are ~100 k words INDEPENDENT of corpus size (the one
    * corpus pass already collapsed occurrences), so at 100 TB this
    * gate still admits the driver path; the distributed fallback
    * exists for pathological vocabularies (random strings, binary
    * spill), not for big corpora.
    */
  private val MaxDriverVocab: Long = 2L * 1000 * 1000

  /** How many top pairs each distributed round collects as batch
    * candidates — also the max merges one round can apply. 16 keeps
    * the per-round applyOneMerge fold chain (16 nested `aggregate`
    * expressions) well inside analyzer/codegen comfort (the q211
    * oracle unrolls 8 the same way).
    */
  val DefaultBatchTopK: Int = 16

  /** Train `nMerges` BPE merges over the corpus (greedy, classic):
    * per round, the most frequent adjacent symbol pair — occurrence
    * counts weighted by word frequency — is merged everywhere. Returns
    * the merges in rank order. Fails loudly if the corpus runs out of
    * pairs before `nMerges` (a caller asking for a 32k vocab over a
    * 10-word corpus should hear about it, not get 7 merges silently).
    *
    * Scale shape: ONE corpus pass builds the word-frequency table;
    * when it fits under [[MaxDriverVocab]] (the normal case — see the
    * gate's doc) training runs IN MEMORY on the driver with an
    * incremental pair-count lazy-heap: O(total pair updates · log)
    * instead of one Spark job per merge round, which at a production
    * 32 k-merge vocabulary is the difference between seconds and hours
    * of job-launch overhead (round-11 verdict #3). Above the gate, the
    * BATCHED distributed fold runs (round-12 verdict #2: up to
    * `batchTopK` provably-independent merges per round — see
    * [[trainDistributed]]), localCheckpoint-ed per round with
    * superseded-block release. All paths are exactly equivalent —
    * same greedy pick order (count desc, then l, r in UTF-8 byte
    * order, matching Spark/DuckDB binary string collation), same
    * leftmost-rescan merge semantics (BpeSpec pins it).
    *
    * `freqFloor` (round-12 verdict #2, the other above-gate lever):
    * drop words with corpus frequency below it BEFORE the gate check.
    * Web-scale vocabularies are dominated by a once-seen tail (typos,
    * random strings, binary spill) whose total pair mass is a sliver
    * of the corpus; floor=2 routinely shrinks tens-of-millions-of-word
    * vocabularies back under the driver gate. NOT semantics-free: the
    * dropped tail's pair counts no longer vote, so merges CAN diverge
    * from floor=1 wherever tail mass was decisive (BpeSpec pins both a
    * divergent and a stable fixture) — it is a documented corpus-prep
    * choice (the GPT-2/SentencePiece lineage does the same), default
    * OFF.
    */
  def trainMerges(docs: DataFrame, nMerges: Int, textCol: String = "text",
      freqFloor: Long = 1L, batchTopK: Int = DefaultBatchTopK): Seq[(String, String)] =
    trainMergesGated(docs, nMerges, textCol, freqFloor, batchTopK)(
      Gates.collectAtMost(_, MaxDriverVocab))

  /** [[trainMerges]] on the lane `gate` picks from the (word, freq) rows. */
  private[graft] def trainMergesGated(docs: DataFrame, nMerges: Int, textCol: String = "text",
      freqFloor: Long = 1L, batchTopK: Int = DefaultBatchTopK)(
      gate: Dataset[(String, Long)] => Option[Array[(String, Long)]]): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(freqFloor >= 1L, s"freqFloor must be >= 1, got $freqFloor")
    val wordFreq = wordFrequencies(docs, textCol, freqFloor)
    try {
      import wordFreq.sparkSession.implicits._
      gate(wordFreq.as[(String, Long)]) match {
        case Some(words) => trainInMemory(words, nMerges)
        case None => trainDistributed(wordFreq, nMerges, batchTopK)
      }
    } finally Lineage.release(wordFreq)
  }

  /** The (w, freq) table of the corpus's words, those below `freqFloor`
    * dropped, checkpointed for the caller to release: the ONE corpus pass
    * of [[trainMerges]] and `Unigram.train`; all after it is vocabulary-sized. */
  private[operators] def wordFrequencies(
      docs: DataFrame, textCol: String, freqFloor: Long): DataFrame = {
    val allWords = docs
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    (if (freqFloor > 1L) allWords.where(col("freq") >= freqFloor) else allWords).localCheckpoint()
  }

  /** Batched distributed trainer (round-12 verdict #2): instead of one
    * Spark round per merge, each round applies a BATCH of merges that
    * is provably order-equivalent to applying them one greedy round at
    * a time. The batch is the maximal PREFIX of the rank-sorted pair
    * list satisfying, for each extension i (candidates 1-based,
    * c_1 >= c_2 >= …):
    *
    *  1. '''support disjointness''': pair_i's symbols are disjoint
    *     from every earlier batch pair's — two such merges cannot
    *     share an occurrence position, so neither changes the other's
    *     count, and no old pair off the batch gains count (merges only
    *     destroy occurrences of pairs that share a symbol);
    *  2. '''created-pair dominance''': max_{j<i} U_j < c_i, where
    *     U_j = max pre-batch count over pairs adjacent to merge j's
    *     symbols — (x, l_j) and (r_j, x). Every pair a merge CREATES
    *     is (x, l_j·r_j) or (l_j·r_j, x), and its occurrences each
    *     consume one (x, l_j) / (r_j, x) occurrence, so its count at
    *     creation is <= U_j; the strict bound means no created pair
    *     can outrank pair_i when sequential greedy reaches step i.
    *
    * With both, sequential greedy at step i sees: batch pairs i..k
    * with UNCHANGED counts (1), every non-batch old pair ranked below
    * them (prefix of the sort; counts only decrease), and every
    * created pair strictly below c_i (2) — so it picks exactly
    * pair_i. Ties on c_i block extension (a created pair could tie
    * and win the lexicographic tiebreak unseen), trading batch size
    * for exactness.
    *
    *  3. '''homograph cut-off''' (advice r13): condition 2's bound
    *     assumes every pair merge j creates is NEW. When the
    *     concatenated symbol l_j·r_j already exists in the pair table
    *     (a homograph — the same surface string formed by a different
    *     earlier split, e.g. `abc` from (a, bc) while (ab, c) is in
    *     the batch), the created occurrences ADD to the pre-existing
    *     pair (x, l_j·r_j), whose post-merge count = pre + gained can
    *     exceed c_i even with maxU < c_i. Same failure when two batch
    *     members concatenate to the SAME new symbol (their gains
    *     stack). So: a member whose concat is already a live symbol,
    *     or duplicates a prior member's concat, is accepted but ENDS
    *     the batch — its additions land after the last pick, where the
    *     next round's recount sees them. This also forecloses a
    *     candidate's l/r equalling a prior member's concat (candidate
    *     symbols come from the table, so that prior concat was a
    *     homograph and extension already stopped).
    *
    * Per round: one pair aggregate (+checkpoint), one top-K collect,
    * one adjacency-max collect over the K candidate symbols, one
    * batched apply (+checkpoint) — ~4 jobs for up to `batchTopK`
    * merges vs 2 jobs PER merge before, with the win concentrated
    * exactly where counts are well-separated. The worst case (heavy
    * count ties, batches of 1) degrades to the round-per-merge shape,
    * never below it.
    */
  private def trainDistributed(
      wordFreq: DataFrame, nMerges: Int, batchTopK: Int): Seq[(String, String)] = {
    require(batchTopK >= 1, s"batchTopK must be >= 1, got $batchTopK")
    var vocab = wordFreq
      .select(col("w"), col("freq"), initialSymstr(col("w")).as("symstr"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(String, String)]
    var done = 0
    var rounds = 0
    try {
      while (done < nMerges) {
        rounds += 1
        val pairs = vocab
          .select(col("freq"), explode(pairCol(col("symstr"))).as("pr"))
          .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
          .agg(sum(col("freq")).as("n"))
          .localCheckpoint()
        try {
          val top = pairs
            .orderBy(col("n").desc, col("l"), col("r"))
            .limit(math.min(batchTopK, nMerges - done)).collect()
            .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          require(top.nonEmpty,
            s"BPE training exhausted adjacent pairs after $done merges (requested $nMerges)")
          // U_j inputs: per candidate symbol s, the max count of pairs
          // (x, s) and (s, x) — one filtered aggregate over the pair
          // table, collected small (<= 2*topK rows)
          val candLs = top.map(_._1).distinct.toSeq
          val candRs = top.map(_._2).distinct.toSeq
          // keyed SEPARATELY by direction: U_j needs pairs (x, l_j) —
          // the r-keyed max of symbol l_j — and (r_j, x) — the l-keyed
          // max of r_j. Folding both directions per symbol would pull
          // in pair_j itself (its own l == l_j), inflating U_j to
          // >= c_j and blocking every extension
          val maxIncoming = pairs.where(col("r").isin(candLs: _*))
            .groupBy(col("r").as("s")).agg(max(col("n")).as("m"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val maxOutgoing = pairs.where(col("l").isin(candRs: _*))
            .groupBy(col("l").as("s")).agg(max(col("n")).as("m"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          // homograph probe (condition 3): which candidate concats are
          // already live symbols? One isin-filtered distinct over the
          // pair table, collected small (<= topK rows)
          val candConcats = top.map(t => t._1 + t._2).distinct.toSeq
          val liveConcats = pairs.select(col("l").as("s"))
            .union(pairs.select(col("r").as("s")))
            .where(col("s").isin(candConcats: _*))
            .distinct().collect().map(_.getString(0)).toSet
          val picked = planBatch(top, maxIncoming, maxOutgoing, liveConcats)
          merges ++= picked
          done += picked.size
          if (done < nMerges) {
            val next = vocab
              .select(col("w"), col("freq"),
                picked.foldLeft(col("symstr")) { case (s, (l, r)) =>
                  applyOneMerge(s, l, r)
                }.as("symstr"))
              .localCheckpoint()
            Lineage.release(vocab) // superseded the moment `next` materialized
            vocab = next
          }
        } finally Lineage.release(pairs)
      }
      // batch-width visibility: count ties and adjacency mass bound the
      // achievable batching per corpus — make the realized ratio
      // observable instead of guessed (round-13 A/B: hex-alphabet
      // vocabularies batch ~2x, diverse alphabets wider)
      logInfo(s"BPE distributed training: $done merges in $rounds rounds " +
        f"(avg batch ${done.toDouble / rounds}%.1f, batchTopK=$batchTopK)")
      merges.result()
    } finally Lineage.release(vocab)
  }

  /** Batch selection (see [[trainDistributed]]'s conditions): the
    * maximal prefix of the rank-sorted candidates with pairwise-
    * disjoint supports and `max U_j < c_i` at every extension, where
    * U_j = max(maxIncoming(l_j), maxOutgoing(r_j)) bounds the count of
    * any pair merge j creates, and a member whose concat is a live
    * symbol (`liveSyms`) or repeats a prior member's concat ends the
    * batch (condition 3). `private[operators]` so the spec can drive
    * the decision table directly.
    */
  private[operators] def planBatch(
      top: Array[(String, String, Long)],
      maxIncoming: Map[String, Long],
      maxOutgoing: Map[String, Long],
      liveSyms: String => Boolean = _ => false): Seq[(String, String)] = {
    val batch = Seq.newBuilder[(String, String)]
    val used = scala.collection.mutable.HashSet.empty[String]
    val concats = scala.collection.mutable.HashSet.empty[String]
    var maxU = Long.MinValue
    var concatUnsafe = false // last-added member's concat collides with a live or batch symbol
    var i = 0
    var stop = false
    while (i < top.length && !stop) {
      val (l, r, c) = top(i)
      if (i > 0 && (concatUnsafe || used(l) || used(r) || maxU >= c)) stop = true
      else {
        batch += ((l, r))
        used += l; used += r
        val cat = l + r
        if (liveSyms(cat) || concats(cat)) concatUnsafe = true
        concats += cat
        maxU = math.max(maxU,
          math.max(maxIncoming.getOrElse(l, 0L), maxOutgoing.getOrElse(r, 0L)))
        i += 1
      }
    }
    batch.result()
  }

  /** UTF-8 byte order — Spark's (and DuckDB's) binary string
    * collation, which the distributed trainer's `orderBy(l, r)` uses.
    * Java's String.compareTo orders by UTF-16 units and DISAGREES for
    * supplementary-plane vs some BMP characters, so the in-memory
    * tie-break must not use it.
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(x.length, y.length)
  }

  /** A word as its initial code-point symbols (the in-memory mirror of
    * [[initialSymstr]], whose substr() walks code points).
    */
  private def codePointSyms(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** One leftmost-rescan merge pass — the in-memory mirror of
    * [[applyOneMerge]]'s string-accumulator fold: after a merge the new
    * symbol becomes the scan's tail and cannot re-match `l` (it equals
    * l+r, never l), which is exactly the skip-two advance here.
    * Returns the input array unchanged (same reference) when nothing
    * merged, so callers can cheaply detect no-ops.
    */
  private[operators] def mergeLeftScan(
      syms: Array[String], l: String, r: String): Array[String] = {
    var i = 0
    var hits = 0
    while (i < syms.length - 1) {
      if (syms(i) == l && syms(i + 1) == r) { hits += 1; i += 2 } else i += 1
    }
    if (hits == 0) return syms
    val out = new Array[String](syms.length - hits)
    var j = 0
    i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        out(j) = l + r; j += 1; i += 2
      } else { out(j) = syms(i); j += 1; i += 1 }
    }
    out
  }

  /** Greedy in-memory trainer: incremental pair counts + a lazy-
    * deletion max-heap (stale entries are discarded when their stored
    * count no longer matches the live map) + a pair→words index so
    * each round touches only the words containing the merged pair.
    * Exactly the distributed trainer's semantics (BpeSpec pins the two
    * lanes equal through [[trainMerges]]'s gate).
    */
  private def trainInMemory(
      vocab: Array[(String, Long)], nMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val syms: Array[Array[String]] = vocab.map { case (w, _) => codePointSyms(w) }
    val freqs: Array[Long] = vocab.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val members = mutable.HashMap.empty[(String, String), mutable.ArrayBuffer[Int]]
    // max-heap: count desc, then l, r ASC in utf8 order (reversed here
    // because PriorityQueue dequeues the ordering's maximum)
    val ord: Ordering[(Long, String, String)] = (x, y) => {
      val c = java.lang.Long.compare(x._1, y._1)
      if (c != 0) c
      else {
        val lc = utf8Compare(y._2, x._2)
        if (lc != 0) lc else utf8Compare(y._3, x._3)
      }
    }
    val pq = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    def bump(p: (String, String), delta: Long, wid: Int): Unit = {
      val next = counts.getOrElse(p, 0L) + delta
      if (next <= 0L) counts.remove(p)
      else {
        counts(p) = next
        pq.enqueue((next, p._1, p._2))
      }
      if (delta > 0L && wid >= 0)
        members.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += wid
    }
    def pairsOf(s: Array[String], delta: Long, wid: Int, freq: Long): Unit = {
      var i = 0
      while (i < s.length - 1) {
        bump((s(i), s(i + 1)), delta * freq, if (delta > 0) wid else -1)
        i += 1
      }
    }
    var wid = 0
    while (wid < syms.length) { pairsOf(syms(wid), 1L, wid, freqs(wid)); wid += 1 }
    val merges = Seq.newBuilder[(String, String)]
    for (i <- 1 to nMerges) {
      var best: (String, String) = null
      while (best == null) {
        require(pq.nonEmpty,
          s"BPE training exhausted adjacent pairs after ${i - 1} merges (requested $nMerges)")
        val (c, l, r) = pq.dequeue()
        if (counts.getOrElse((l, r), 0L) == c) best = (l, r)
      }
      merges += best
      val (l, r) = best
      // the members list may hold stale ids (word since rewritten) and
      // duplicates (pair added twice to one word) — mergeLeftScan's
      // same-reference no-op return makes both harmless
      for (w <- members.remove(best).getOrElse(mutable.ArrayBuffer.empty)) {
        val old = syms(w)
        val merged = mergeLeftScan(old, l, r)
        if (merged ne old) {
          pairsOf(old, -1L, w, freqs(w))
          pairsOf(merged, 1L, w, freqs(w))
          syms(w) = merged
        }
      }
    }
    merges.result()
  }

  /** Tokenize a corpus with a trained merge table: per document, the
    * BPE token count and an md5 witness of the full symbolization in
    * token order. Folds each DISTINCT word once, then joins back to
    * occurrences (AQE broadcasts the vocab side while it is small) —
    * the fold cost is O(vocab), not O(corpus tokens).
    */
  def subwordReport(
      docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val occ = docs.select(col(idCol).cast("long").as("doc_id"),
      posexplode(graft.functions.TextFunctions.tokens(col(textCol))).as(Seq("pos", "w")))
    val vocab = occ.select(col("w")).distinct()
      .select(col("w"), applyMerges(col("w"), merges).as("symstr"))
      .select(col("w"), col("symstr"), size(symsOf(col("symstr"))).cast("long").as("nsym"))
    occ.join(vocab, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nsym")).as("n_bpe_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("symstr")))),
          s => s.getField("symstr")), "")).as("bpe_md5"))
  }
}
