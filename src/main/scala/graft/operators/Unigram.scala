package graft.operators

import graft.core.Gates
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) subword tokenizer — the OTHER
  * standard LLM tokenizer lane beside [[Bpe]] (round-14 verdict #3;
  * Kudo 2018, arXiv:1804.10959): a probabilistic model p(piece) over a
  * substring vocabulary, trained by EM over the corpus word-frequency
  * table, applied by Viterbi (most-probable segmentation). Where BPE
  * greedily COMPOSES pieces bottom-up, unigram PRUNES a rich candidate
  * set top-down — the two disagree exactly where corpus statistics are
  * ambiguous, which is why production stacks keep both.
  *
  * == Algorithm ==
  *
  *  1. '''Seed''': every single code point of the training words (kept
  *     unconditionally — they guarantee coverage/losslessness) plus
  *     every substring up to `maxPieceLen` with occurrence mass ≥ 2,
  *     ranked by (mass desc, piece asc), capped at `seedMax`. Initial
  *     p ∝ occurrence mass.
  *  2. '''EM''' (`emRounds` full-batch rounds): E-step — per word, a
  *     forward-backward pass over the segmentation lattice yields each
  *     piece's expected count under the current model; M-step —
  *     p(piece) = expected count / total. After `pruneAfter` rounds the
  *     vocabulary is PRUNED to `vocabSize` by expected count (single
  *     code points exempt), then EM continues on the survivors — the
  *     SentencePiece shrink-and-refit loop with one shrink step.
  *  3. '''Apply''': Viterbi over the same lattice; ties break to the
  *     longest piece (then implicitly to the unique DP order), so
  *     segmentation is deterministic. Code points a model never saw
  *     fall back to single-char pieces at `unkLogp` (min trained logp
  *     − 10) — segmentation is total and lossless (round-trip concat
  *     is spec-pinned) without an UNK sentinel.
  *
  * == Determinism (what makes it gate-checkable) ==
  *
  * The [[LangId]] discipline: every per-word E-step contribution is a
  * pure double function evaluated in a fixed operation order (positions
  * ascending, split points ascending, StrictMath.exp/log), rounded to
  * decimal(38,18) per (word, piece) — `BigDecimal.valueOf` + HALF_UP,
  * exactly Spark's double→decimal cast — and summed in EXACT decimal
  * arithmetic, which is order-free. Both trainer lanes (driver loop
  * under the gate, mapPartitions + decimal-sum aggregate above it)
  * therefore produce BIT-IDENTICAL models (UnigramSpec pins it), and
  * the prune step compares exact decimals, never float noise.
  *
  * == Scale shape ==
  *
  * ONE corpus pass builds the word-frequency table (the [[Bpe]]
  * argument: web-scale vocabularies are ~100k words independent of
  * corpus size, so at 100 TB the driver lane still holds; `freqFloor`
  * is the same tail-drop lever). Seeding is one distributed
  * explode+groupBy over the vocabulary — substring mass in exact longs.
  * Above [[MaxDriverVocab]] the E-step runs distributed: words
  * mapPartitions against the BROADCAST piece table (a few hundred KB),
  * one decimal-sum aggregate per round — no shuffle grows with corpus
  * size, only with |vocab|. Apply segments only DISTINCT words
  * (`segmented`), then rejoins the corpus — O(vocab) Viterbi work plus
  * one broadcast-sized join, never per-occurrence DP.
  */
object Unigram extends org.apache.spark.internal.Logging {

  /** Vocabulary-size gate for the in-memory EM lane — the
    * `Bpe.MaxDriverVocab` budget and rationale, verbatim.
    */
  private val MaxDriverVocab: Long = 2L * 1000 * 1000

  val DefaultMaxPieceLen = 6
  val DefaultEmRounds = 4
  val DefaultPruneAfter = 2

  /** Trained model: `pieces` in a canonical order (single code points
    * first, then by piece string — the prune/report order), `logp`
    * aligned, both deterministic.
    */
  final case class Model(
      pieces: Array[String], logp: Array[Double], maxPieceLen: Int) {
    require(pieces.length == logp.length, "pieces/logp must align")
    lazy val index: Map[String, Int] = pieces.zipWithIndex.toMap
    /** Unseen-char fallback score: strictly below every trained piece,
      * a deterministic function of the model.
      */
    lazy val unkLogp: Double = (if (logp.isEmpty) 0.0 else logp.min) - 10.0
  }

  /** Code-point pieces of a word (multibyte-safe — the [[Bpe]]
    * codePointSyms contract).
    */
  private def codePoints(w: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      out += w.substring(i, i + n)
      i += n
    }
    out.result()
  }

  // ---------------------------------------------------------------
  // lattice kernels (shared verbatim by both trainer lanes and apply)
  // ---------------------------------------------------------------

  private val NegInf = Double.NegativeInfinity

  /** Fixed-order log-sum-exp accumulator state: (max, Σ exp(x−max))
    * would need two passes; instead fold pairwise with the standard
    * rescaling identity, positions ascending — one fixed operation
    * order shared by every caller.
    */
  private def logAdd(a: Double, b: Double): Double =
    if (a == NegInf) b
    else if (b == NegInf) a
    else if (a >= b) a + StrictMath.log1p(StrictMath.exp(b - a))
    else b + StrictMath.log1p(StrictMath.exp(a - b))

  /** Per-word expected piece counts under the current model — the
    * E-step kernel: forward-backward over the segmentation lattice,
    * contributions in a fixed order, each already multiplied by the
    * word's corpus frequency. Returns an iterator of (pieceIdx,
    * contribution); empty when the word is unsegmentable under the
    * vocabulary (cannot happen for training words — seeding keeps
    * every training code point).
    */
  private[operators] def expectedCounts(
      word: String, freq: Long, m: Model): Iterator[(Int, Double)] = {
    val cps = codePoints(word)
    val n = cps.length
    if (n == 0) return Iterator.empty
    // piece id at (i, len), -1 when absent — resolved once
    val ids = Array.ofDim[Int](n, m.maxPieceLen)
    val lps = Array.ofDim[Double](n, m.maxPieceLen)
    var i = 0
    while (i < n) {
      var L = 1
      val sb = new java.lang.StringBuilder
      while (L <= m.maxPieceLen && i + L <= n) {
        sb.append(cps(i + L - 1))
        val id = m.index.getOrElse(sb.toString, -1)
        ids(i)(L - 1) = id
        lps(i)(L - 1) = if (id >= 0) m.logp(id) else NegInf
        L += 1
      }
      while (L <= m.maxPieceLen) { ids(i)(L - 1) = -1; L += 1 }
      i += 1
    }
    val alpha = Array.fill(n + 1)(NegInf)
    alpha(0) = 0.0
    var j = 1
    while (j <= n) {
      var s = math.max(0, j - m.maxPieceLen)
      while (s < j) {
        if (ids(s)(j - s - 1) >= 0 && alpha(s) != NegInf)
          alpha(j) = logAdd(alpha(j), alpha(s) + lps(s)(j - s - 1))
        s += 1
      }
      j += 1
    }
    val z = alpha(n)
    if (z == NegInf) return Iterator.empty
    val beta = Array.fill(n + 1)(NegInf)
    beta(n) = 0.0
    i = n - 1
    while (i >= 0) {
      var L = 1
      while (L <= m.maxPieceLen && i + L <= n) {
        if (ids(i)(L - 1) >= 0 && beta(i + L) != NegInf)
          beta(i) = logAdd(beta(i), lps(i)(L - 1) + beta(i + L))
        L += 1
      }
      i -= 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    i = 0
    while (i < n) {
      var L = 1
      while (L <= m.maxPieceLen && i + L <= n) {
        val id = ids(i)(L - 1)
        if (id >= 0 && alpha(i) != NegInf && beta(i + L) != NegInf) {
          val gamma = StrictMath.exp(alpha(i) + lps(i)(L - 1) + beta(i + L) - z)
          if (gamma > 0.0) out += ((id, freq.toDouble * gamma))
        }
        L += 1
      }
      i += 1
    }
    out.iterator
  }

  /** Viterbi segmentation — the apply kernel. Total and lossless: a
    * code point outside the vocabulary becomes its own piece at
    * [[Model.unkLogp]]. Ties break to the LONGEST piece (split points
    * ascending, strict improvement to replace).
    */
  def segment(word: String, m: Model): Seq[String] = {
    val cps = codePoints(word)
    val n = cps.length
    if (n == 0) return Seq.empty
    val best = Array.fill(n + 1)(NegInf)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var j = 1
    while (j <= n) {
      var s = math.max(0, j - m.maxPieceLen)
      while (s < j) {
        if (best(s) != NegInf) {
          val piece = cps.slice(s, j).mkString
          val lp =
            if (j - s == 1) m.index.get(piece).map(m.logp).getOrElse(m.unkLogp)
            else m.index.get(piece).map(m.logp).getOrElse(NegInf)
          if (lp != NegInf && best(s) + lp > best(j)) {
            best(j) = best(s) + lp
            back(j) = s
          }
        }
        s += 1
      }
      j += 1
    }
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var p = n
    while (p > 0) {
      val s = back(p)
      out.prepend(cps.slice(s, p).mkString)
      p = s
    }
    out.toSeq
  }

  // ---------------------------------------------------------------
  // training
  // ---------------------------------------------------------------

  /** The distributed double→decimal(38,18) row rounding ([[LangId]]). */
  private def dec18(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(18, java.math.RoundingMode.HALF_UP)

  /** M-step + canonical order: probabilities from exact decimal counts
    * (pieces with zero expected count keep a floor of one occurrence
    * mass unit so log stays finite — they are prune fodder, not NaNs).
    */
  private def mStep(
      pieces: Array[String], counts: Array[java.math.BigDecimal],
      maxPieceLen: Int): Model = {
    var total = java.math.BigDecimal.ZERO
    var i = 0
    while (i < counts.length) { total = total.add(counts(i)); i += 1 }
    val t = total.doubleValue
    val lp = new Array[Double](pieces.length)
    i = 0
    while (i < pieces.length) {
      val c = counts(i).doubleValue
      lp(i) = if (c > 0.0 && t > 0.0) StrictMath.log(c / t) else -1e9
      i += 1
    }
    Model(pieces, lp, maxPieceLen)
  }

  /** Train a unigram-LM piece vocabulary of (at most) `vocabSize`
    * pieces over the corpus. Fails loudly on an empty corpus or a
    * vocabulary target smaller than the corpus alphabet (single code
    * points are never pruned — below that there is no lossless model).
    */
  def train(docs: DataFrame, vocabSize: Int, textCol: String = "text",
      maxPieceLen: Int = DefaultMaxPieceLen, emRounds: Int = DefaultEmRounds,
      pruneAfter: Int = DefaultPruneAfter, seedMax: Int = 0, freqFloor: Long = 1L): Model =
    trainGated(docs, vocabSize, textCol, maxPieceLen, emRounds, pruneAfter, seedMax, freqFloor)(
      Gates.collectAtMost(_, MaxDriverVocab))

  /** [[train]] with the E-step lane `gate` picks from the (word, freq) rows. */
  private[graft] def trainGated(docs: DataFrame, vocabSize: Int, textCol: String = "text",
      maxPieceLen: Int = DefaultMaxPieceLen, emRounds: Int = DefaultEmRounds,
      pruneAfter: Int = DefaultPruneAfter, seedMax: Int = 0, freqFloor: Long = 1L)(
      gate: Dataset[(String, Long)] => Option[Array[(String, Long)]]): Model = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(emRounds >= 1 && pruneAfter >= 1 && pruneAfter <= emRounds,
      s"need 1 <= pruneAfter <= emRounds, got $pruneAfter/$emRounds")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    val seedCap = if (seedMax > 0) seedMax else math.max(vocabSize * 4, 1024)

    val wordFreq = Bpe.wordFrequencies(docs, textCol, freqFloor)
    try {
      import wordFreq.sparkSession.implicits._
      // the probe doubles as the empty check: a vocabulary over the gate is non-empty
      val driverWords = gate(wordFreq.as[(String, Long)])
      require(driverWords.forall(_.nonEmpty), "cannot train on an empty corpus")

      // ---- seed: distributed substring mass in exact longs — one
      // explode+groupBy over the VOCABULARY (not the corpus). substr is
      // code-point based on both sides of the oracle fence. ----
      val pieceMass = wordFreq
        .select(explode(substringsCol(col("w"), maxPieceLen)).as("p"), col("freq"))
        .groupBy(col("p")).agg(sum(col("freq")).as("mass"))
        .localCheckpoint()
      val chars = pieceMass
        .where(length(col("p")) === 1 ||
          // one astral code point is two UTF-16 units but length()
          // counts code points in Spark — length===1 is correct
          lit(false))
        .select(col("p"), col("mass"))
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(_._1)
      require(chars.length <= vocabSize,
        s"vocabSize=$vocabSize smaller than the corpus alphabet (${chars.length} " +
          "code points) — no lossless unigram model exists below the alphabet")
      val multi = pieceMass
        .where(length(col("p")) > 1 && col("mass") >= 2)
        .orderBy(col("mass").desc, col("p"))
        .limit(math.max(0, seedCap - chars.length))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      Lineage.release(pieceMass)
      // canonical piece order: single code points (sorted), then multi
      // (sorted) — stable across lanes and runs
      val seed = (chars ++ multi.sortBy(_._1)).distinct
      val pieces0 = seed.map(_._1)
      val counts0 = seed.map(x => java.math.BigDecimal.valueOf(x._2))
      var model = mStep(pieces0, counts0, maxPieceLen)

      var round = 1
      while (round <= emRounds) {
        val counts = driverWords match {
          case Some(words) => eStepInMemory(words, model)
          case None => eStepDistributed(wordFreq, model)
        }
        var next = mStep(model.pieces, counts, maxPieceLen)
        if (round == pruneAfter && next.pieces.length > vocabSize) {
          // prune by EXACT expected-count decimals (count desc, piece
          // asc), single code points exempt — the shrink step
          val keepIdx = next.pieces.indices
            .filter(i => next.pieces(i).codePointCount(0, next.pieces(i).length) > 1)
            .sortBy(i => (counts(i).negate, next.pieces(i)))(
              Ordering.Tuple2(Ordering.ordered[java.math.BigDecimal], Ordering.String))
          val charIdx = next.pieces.indices
            .filter(i => next.pieces(i).codePointCount(0, next.pieces(i).length) == 1)
          val budget = vocabSize - charIdx.length
          val kept = (charIdx ++ keepIdx.take(budget)).sorted
          val prunedPieces = kept.map(next.pieces).toArray
          val prunedCounts = kept.map(counts).toArray
          next = mStep(prunedPieces, prunedCounts, maxPieceLen)
        }
        model = next
        round += 1
      }
      model
    } finally Lineage.release(wordFreq)
  }

  /** All substrings of `w` up to `maxLen` code points, as a Column
    * (code-point indexed on both substr and length — Spark counts code
    * points, matching the Scala kernels' codePoints walk).
    */
  private def substringsCol(w: Column, maxLen: Int): Column = {
    val n = length(w)
    flatten(transform(sequence(lit(1), n), i =>
      transform(sequence(lit(1), least(lit(maxLen), n - i + 1)), l =>
        w.substr(i, l))))
  }

  /** Driver E-step: the same per-word kernel, contributions rounded to
    * decimal(38,18) per (word, piece) and accumulated in exact decimal
    * — order-free, hence bit-identical to the distributed lane.
    */
  private def eStepInMemory(
      words: Array[(String, Long)], m: Model): Array[java.math.BigDecimal] = {
    val acc = Array.fill(m.pieces.length)(java.math.BigDecimal.ZERO)
    var i = 0
    while (i < words.length) {
      val it = expectedCounts(words(i)._1, words(i)._2, m)
      while (it.hasNext) {
        val (id, v) = it.next()
        acc(id) = acc(id).add(dec18(v))
      }
      i += 1
    }
    acc
  }

  /** Distributed E-step: words stream through mapPartitions against
    * the broadcast model; per-(word, piece) contributions are rounded
    * to decimal(38,18) AT THE SOURCE and summed by Spark's exact
    * decimal aggregate — no double accumulation ever crosses rows.
    */
  private def eStepDistributed(
      wordFreq: DataFrame, m: Model): Array[java.math.BigDecimal] = {
    val spark = wordFreq.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(m)
    val contrib = wordFreq.as[(String, Long)]
      .mapPartitions { it =>
        val model = bc.value
        it.flatMap { case (w, f) =>
          expectedCounts(w, f, model).map { case (id, v) =>
            (id, new java.math.BigDecimal(dec18(v).toPlainString))
          }
        }
      }
      .toDF("id", "c")
      .select(col("id"), col("c").cast(org.apache.spark.sql.types.DecimalType(38, 18)).as("c"))
      .groupBy(col("id")).agg(sum(col("c")).as("s"))
      .collect()
    val acc = Array.fill(m.pieces.length)(java.math.BigDecimal.ZERO)
    contrib.foreach { r =>
      acc(r.getInt(0)) = r.getDecimal(1).setScale(18)
    }
    acc
  }

  // ---------------------------------------------------------------
  // corpus-sized apply
  // ---------------------------------------------------------------

  /** Per-distinct-word segmentations as a DataFrame (w, pieces,
    * n_pieces): Viterbi runs once per VOCABULARY entry of the apply
    * corpus (mapPartitions against the broadcast model), never per
    * occurrence.
    */
  def segmented(docs: DataFrame, m: Model, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(m)
    docs.select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
      .distinct()
      .as[String]
      .mapPartitions { it =>
        val model = bc.value
        it.map(w => (w, segment(w, model)))
      }
      .toDF("w", "pieces")
  }

  /** Per-document subword report — the [[Bpe.subwordReport]] contract
    * in unigram pieces: (doc_id, n_tokens, n_pieces, pieces_md5), via
    * one distinct-word segmentation join (word piece counts/witness
    * strings attach by broadcast-or-shuffle equi-join; the corpus
    * never carries DP state).
    */
  def pieceReport(docs: DataFrame, m: Model, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val segs = segmented(docs, m, textCol)
      .select(col("w"), size(col("pieces")).cast("long").as("np"),
        array_join(col("pieces"), "").as("ps"))
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(graft.functions.TextFunctions.tokens(col(textCol)))
          .as(Seq("pos", "w")))
      .join(segs, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("np")).as("n_pieces"),
        // order-free witness (the Bpe.subwordReport shape): sort by
        // token position, then concat the piece strings
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("ps")))),
          s => s.getField("ps")), "")).as("pieces_md5"))
  }
}
