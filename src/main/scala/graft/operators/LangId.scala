package graft.operators

import graft.core.Gates
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** TRAINED language identification — the production LID lane
  * (round-13 verdict #6). The q32 marker heuristic stays as a
  * diagnostic (interpretable confusion counts over a fixed marker
  * list), but a corpus-prep chain needs a CLASSIFIER: fastText-shaped
  * multi-class logistic regression over hashed character-n-gram
  * presence features — character n-grams, not word tokens, because
  * orthography (alphabet, diacritics, frequent digraphs) is the
  * language signal that survives domain shift, and feature hashing
  * keeps the featurization vocabulary-free (nothing global is built —
  * the 100 TB-safety property shared with [[QualityClassifier]]).
  *
  * == Model ==
  *
  * Softmax regression: weight matrix W[(nBuckets+1) × K] (last row the
  * intercept), margins m_c = Σ_b W[b][c]·x_b, p = softmax(m),
  * full-batch gradient descent with fixed iterations and learning
  * rate. K is the number of distinct labels seen at training time
  * (sorted — class order is part of the model, not of the data order).
  *
  * == Determinism (what makes it oracle-checkable) ==
  *
  * The [[QualityClassifier]] discipline, lifted to K classes: each
  * ROW's double contribution — to a per-doc per-class margin, or to a
  * per-bucket per-class gradient — is rounded to decimal(38,18) and
  * summed in DECIMAL (Spark's decimal sum is exact and
  * order-independent), so the trained weight matrix is BIT-IDENTICAL
  * across runs, partitionings and cluster sizes (LangIdSpec pins it).
  * The softmax runs in double on the exact decimal margins — a pure
  * function of deterministic inputs. Prediction ties (two classes
  * with the exact same margin) break to the LOWEST class index —
  * `array_position` returns the first maximum.
  *
  * == Scale shape ==
  *
  * The feature table is built once (one explode + one groupBy over
  * the corpus) and checkpointed HASH-PARTITIONED BY doc_id, so each
  * of the `iters` rounds runs its per-doc margin aggregate and its
  * err-join exchange-free; the only per-iteration shuffle is the
  * per-(bucket, class) gradient aggregate, map-side combined to
  * ≤ (nBuckets+1) rows per partition. Weights (a few KB for K ≤ 32)
  * ride the plan as a nested-array literal — no UDF, no driver loop
  * over rows. As with the quality classifier, the 100 TB lever is the
  * TRAINING SET (labeled LID data is curated and corpus-size-
  * independent); [[score]] is the corpus-sized pass: one projection +
  * one per-doc aggregate.
  */
object LangId {

  val DefaultBuckets = 2048
  val DefaultIters = 8 // acc exactly 1.00 at sf0.01-sf1 from round 6 up (LangIdProbe) — 1.33x the needed depth
  val DefaultLearningRate = 2.0
  val DefaultGram = 2

  private val Dec = DecimalType(38, 18)

  /** Distinct code-point n-grams of the lowercased text — the fused
    * [[graft.expressions.CharGrams]] kernel (one pass; the substr
    * lambda formulation it replaces was O(len²) per doc — see the
    * kernel doc; CharGramsSpec pins the exact equivalence). Multibyte
    * alphabets — the whole point of LID — produce whole-character
    * grams, never split UTF-8 bytes.
    */
  private def charGrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.CharGrams(
        org.apache.spark.sql.graft.ColumnBridge.expression(text), n))

  /** Hashed presence features: (doc_id, b, x=1) distinct per bucket,
    * plus an intercept row (b = nBuckets). Built once per train/score
    * call; O(corpus chars) map + one groupBy.
    */
  def features(
      docs: DataFrame, nBuckets: Int = DefaultBuckets,
      gram: Int = DefaultGram,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(charGrams(coalesce(col(textCol), lit("")), gram)).as("g"))
      .select(col("doc_id"),
        pmod(graft.functions.TextFunctions.hash60(col("g")), lit(nBuckets.toLong)).as("b"))
      .distinct()
      .select(col("doc_id"), col("b"), lit(1.0).as("x"))
      .unionAll(docs.select(col(idCol).cast("long").as("doc_id"),
        lit(nBuckets.toLong).as("b"), lit(1.0).as("x")))

  /** Trained model: `labels` in class-index order (sorted);
    * `weights(b)(c)` for b in [0, nBuckets] (last = intercept),
    * c in [0, labels.size).
    */
  final case class Model(
      nBuckets: Int, gram: Int, labels: Seq[String],
      weights: Array[Array[Double]]) {
    require(weights.length == nBuckets + 1,
      s"weight matrix must have nBuckets+1=${nBuckets + 1} rows, got ${weights.length}")
    require(weights.forall(_.length == labels.size),
      s"every weight row must have K=${labels.size} classes")
  }

  /** W[b][c] as a plan literal (element_at is 1-based). */
  private def weightCol(w: Array[Array[Double]], c: Int): Column =
    element_at(element_at(typedlit(w.map(_.toSeq).toSeq),
      (col("b") + 1).cast("int")), c + 1)

  /** Per-doc decimal-exact margins, one column m0..m{K-1}. */
  private def margins(feat: DataFrame, w: Array[Array[Double]], k: Int): DataFrame =
    feat.groupBy(col("doc_id"))
      .agg(
        sum((col("x") * weightCol(w, 0)).cast(Dec)).cast("double").as("m0"),
        (1 until k).map(c =>
          sum((col("x") * weightCol(w, c)).cast(Dec)).cast("double").as(s"m$c")): _*)

  /** Softmax probabilities p0..p{K-1} from margin columns, max-shifted
    * for overflow safety (a pure double function of exact margins).
    */
  private def softmaxCols(k: Int): Seq[Column] = {
    val mx = greatest((0 until k).map(c => col(s"m$c")): _*)
    val exps = (0 until k).map(c => exp(col(s"m$c") - mx))
    val z = exps.reduce(_ + _)
    exps.zipWithIndex.map { case (e, c) => (e / z).as(s"p$c") }
  }

  /** Feature-row gate for the in-memory trainer: 8M (doc, bucket)
    * rows ≈ a few hundred MB of driver heap with the per-doc index —
    * the `Bpe.MaxDriverVocab` sizing discipline. Labeled LID
    * training data is curated and corpus-size-independent (the 100 TB
    * lever is scoring), so production training slices sit far under
    * this; the distributed loop exists for oversized label dumps, not
    * big corpora.
    */
  private val MaxDriverFeatureRows: Long = 8L * 1000 * 1000

  /** Train softmax-regression weights on labeled documents. Fails
    * loudly on an empty corpus, a null label, or K < 2.
    *
    * Under [[MaxDriverFeatureRows]] (the normal case) the gradient loop runs
    * IN MEMORY on the driver — one collect of the feature table, then
    * `iters` rounds with NO job launches, bit-identical to the
    * distributed loop by construction: every row contribution is
    * rounded to decimal(38,18) exactly as the distributed
    * `cast(Dec)` does (java `BigDecimal.valueOf(double)` — the
    * canonical-string conversion Spark's double→decimal cast uses —
    * then `setScale(18, HALF_UP)`), sums are exact decimal adds, and
    * the softmax / weight-update double arithmetic replays the same
    * operation order (LangIdSpec pins the lane equivalence).
    */
  def train(docs: DataFrame, labelCol: String, nBuckets: Int = DefaultBuckets,
      gram: Int = DefaultGram, iters: Int = DefaultIters, lr: Double = DefaultLearningRate,
      idCol: String = "doc_id", textCol: String = "text"): Model =
    trainGated(docs, labelCol, nBuckets, gram, iters, lr, idCol, textCol)(
      Gates.collectAtMost(_, MaxDriverFeatureRows))

  /** [[train]] on the lane `gate` picks from the (doc_id, b, x, y) feature rows. */
  private[graft] def trainGated(docs: DataFrame, labelCol: String, nBuckets: Int = DefaultBuckets,
      gram: Int = DefaultGram, iters: Int = DefaultIters, lr: Double = DefaultLearningRate,
      idCol: String = "doc_id", textCol: String = "text")(
      gate: Dataset[(Long, Long, Double, Int)] => Option[Array[(Long, Long, Double, Int)]])
      : Model = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val labels = docs.select(col(labelCol).cast("string").as("y"))
    require(labels.where(col("y").isNull).limit(1).collect().isEmpty,
      "labels must be non-null")
    val classes = labels.distinct().collect().map(_.getString(0)).sorted.toSeq
    val k = classes.size
    require(k >= 2, s"need >= 2 distinct labels, got $classes")
    val classIdx = map(classes.zipWithIndex.flatMap {
      case (l, i) => Seq(lit(l), lit(i)) }: _*)
    val labeled = docs.select(col(idCol).cast("long").as("doc_id"),
      element_at(classIdx, col(labelCol).cast("string")).as("y"))
    // doc_id-hash layout before the checkpoint: the per-iteration
    // margin aggregate and err-join reuse it exchange-free (the
    // QualityClassifier r14 shape)
    val feat = features(docs, nBuckets, gram, idCol, textCol)
      .join(labeled, "doc_id")
      .repartition(col("doc_id"))
      .localCheckpoint()
    try {
      val nDocs = labeled.count()
      require(nDocs > 0, "cannot train on an empty corpus")
      // a TYPED collect: no transient Array[Row] copy (advice r14)
      import feat.sparkSession.implicits._
      val weights = gate(feat.select(col("doc_id"), col("b"), col("x"), col("y"))
          .as[(Long, Long, Double, Int)]) match {
        case Some(inMemory) => trainRowsInMemory(inMemory, nBuckets, k, iters, lr, nDocs)
        case None => trainDistributed(feat, nBuckets, k, iters, lr, nDocs)
      }
      Model(nBuckets, gram, classes, weights)
    } finally Lineage.release(feat)
  }

  private def trainDistributed(
      feat: DataFrame, nBuckets: Int, k: Int, iters: Int, lr: Double,
      nDocs: Long): Array[Array[Double]] = {
    val w = Array.fill(nBuckets + 1)(new Array[Double](k))
    for (_ <- 1 to iters) {
      // one per-doc aggregate carries the K margins; err_c =
      // p_c - 1[y = c] uses the feature table's own y after the
      // join back (errs must NOT carry y — the join would make the
      // reference ambiguous)
      val errs = margins(feat, w, k)
        .select(col("doc_id") +: softmaxCols(k): _*)
      val grad = feat
        .join(errs, "doc_id")
        .groupBy(col("b"))
        .agg(
          sum(((col("p0") - when(col("y") === 0, 1.0).otherwise(0.0)) *
            col("x")).cast(Dec)).cast("double").as("g0"),
          (1 until k).map(c =>
            sum(((col(s"p$c") - when(col("y") === c, 1.0).otherwise(0.0)) *
              col("x")).cast(Dec)).cast("double").as(s"g$c")): _*)
        .collect()
      grad.foreach { r =>
        val b = r.getLong(0).toInt
        var c = 0
        while (c < k) { w(b)(c) -= lr * r.getDouble(1 + c) / nDocs; c += 1 }
      }
    }
    w
  }

  /** The distributed double→decimal(38,18) row rounding, exactly:
    * Spark's cast converts through the double's canonical string
    * (`BigDecimal.valueOf`) then HALF_UP to scale 18.
    */
  private def dec18(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(18, java.math.RoundingMode.HALF_UP)

  /** In-memory mirror of [[trainDistributed]] — same per-row decimal
    * rounding, exact decimal sums, same double operation order in the
    * softmax and the weight update; `private[operators]` so the spec
    * can drive the lane equivalence directly.
    */
  private[operators] def trainRowsInMemory(
      rows: Array[(Long, Long, Double, Int)],
      nBuckets: Int, k: Int, iters: Int, lr: Double,
      nDocs: Long): Array[Array[Double]] = {
    // group rows per doc (insertion order is irrelevant: decimal adds
    // are exact, softmax consumes the exact sums)
    val byDoc = rows.groupBy(_._1).values.toArray
    val w = Array.fill(nBuckets + 1)(new Array[Double](k))
    val zero = java.math.BigDecimal.ZERO.setScale(18)
    for (_ <- 1 to iters) {
      // dec18(x * w) with x = 1.0 (presence features + intercept, the
      // only x this featurizer emits) is dec18(w): precompute ONCE per
      // iteration instead of per row — BigDecimal.valueOf goes through
      // Double.toString and dominated the loop before this cache
      val decW = Array.tabulate(nBuckets + 1)(b =>
        Array.tabulate(k)(c => dec18(w(b)(c))))
      val grad = Array.fill(nBuckets + 1)(Array.fill(k)(zero))
      val errDec = new Array[java.math.BigDecimal](k)
      for (docRows <- byDoc) {
        val y = docRows(0)._4
        // exact decimal margins, cast to double — the margins() mirror
        val m = new Array[Double](k)
        var c = 0
        while (c < k) {
          var acc = zero
          var i = 0
          while (i < docRows.length) {
            val r = docRows(i)
            val b = r._2.toInt
            acc = acc.add(
              if (r._3 == 1.0) decW(b)(c) else dec18(r._3 * w(b)(c)))
            i += 1
          }
          m(c) = acc.doubleValue
          c += 1
        }
        // softmaxCols mirror: max-shift, exp, LEFT-fold sum, divide
        var mx = m(0)
        c = 1
        while (c < k) { if (m(c) > mx) mx = m(c); c += 1 }
        val e = new Array[Double](k)
        c = 0
        // StrictMath.exp = Spark's exp() codegen (one-ulp Math.exp
        // divergences measured; BASELINE.md "Records of the deleted dev
        // harnesses")
        while (c < k) { e(c) = java.lang.StrictMath.exp(m(c) - mx); c += 1 }
        var z = e(0)
        c = 1
        while (c < k) { z = z + e(c); c += 1 }
        // gradient contributions, row-rounded exactly as cast(Dec);
        // err is per (doc, class) — round it once, reuse per row
        c = 0
        while (c < k) {
          errDec(c) = dec18(e(c) / z - (if (y == c) 1.0 else 0.0))
          c += 1
        }
        var i = 0
        while (i < docRows.length) {
          val (_, bL, x, _) = docRows(i)
          val b = bL.toInt
          c = 0
          while (c < k) {
            grad(b)(c) = grad(b)(c).add(
              if (x == 1.0) errDec(c)
              else dec18((e(c) / z - (if (y == c) 1.0 else 0.0)) * x))
            c += 1
          }
          i += 1
        }
      }
      var b = 0
      while (b <= nBuckets) {
        var c = 0
        while (c < k) {
          w(b)(c) -= lr * grad(b)(c).doubleValue / nDocs
          c += 1
        }
        b += 1
      }
    }
    w
  }

  /** Score documents: per-class margins, softmax probabilities, the
    * predicted label (argmax, first-max tie-break) and its
    * probability. `keep` names extra input columns to carry through —
    * scoring is a pure per-row map, so consumers that need both the
    * prediction and source columns (label, length, text) must NOT pay
    * a join back on doc_id (two exchanges of two derivations of the
    * same scan — guide §2.4); they list the columns here instead.
    *
    * SHUFFLE-FREE (r15): scoring is per-row arithmetic — one map over
    * the corpus, embarrassingly parallel, nothing to shuffle at any
    * scale (the pre-r15 [[features]]-path cost TWO corpus-sized
    * shuffles; see [[scoreViaFeatures]]). FUSED (r15 optimization
    * pass): the K margins come from the
    * [[graft.expressions.HashedPresenceMargins]] codegen kernel over
    * the [[graft.expressions.CharGrams]] featurizer — one pass per
    * row — replacing K interpreted `aggregate()` decimal folds that
    * re-evaluated the gram/hash subtree per class (measured 3.0 s →
    * ~0.4 s per corpus pass at sf0.1; BASELINE.md "Records of the
    * deleted dev harnesses"). The kernel replays the fold's decimal
    * arithmetic exactly (order-free exact adds of the same
    * dec18-rounded terms), so margins are
    * BIT-IDENTICAL — [[scoreViaMarginFold]] keeps the fold
    * formulation and LangIdSpec pins kernel ≡ fold ≡ features-path on
    * adversarial fixtures.
    */
  def score(
      docs: DataFrame, model: Model,
      idCol: String = "doc_id", textCol: String = "text",
      keep: Seq[String] = Nil): DataFrame = {
    val k = model.labels.size
    val mArr = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.HashedPresenceMargins(
        graft.expressions.CharGrams(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            coalesce(col(textCol), lit(""))),
          model.gram),
        model.nBuckets, model.weights))
    val m = docs.select(
      col(idCol).cast("long").as("doc_id") +:
        (keep.map(col) :+ mArr.as("_m")): _*)
      .select(col("doc_id") +: keep.map(col) ++:
        (0 until k).map(c => element_at(col("_m"), c + 1).as(s"m$c")): _*)
    finishScore(m, model, k, keep)
  }

  /** Shared argmax/softmax tail over margin columns m0..m{K-1}. */
  private def finishScore(
      m: DataFrame, model: Model, k: Int, keep: Seq[String]): DataFrame = {
    val marr = array((0 until k).map(c => col(s"m$c")): _*)
    val best = array_position(marr, array_max(marr)).cast("int")
    m.select(col("doc_id") +: keep.map(col) ++: softmaxCols(k) :+ best.as("_i"): _*)
      .select(col("doc_id") +: keep.map(col) ++: Seq(
        element_at(typedlit(model.labels), col("_i")).as("predicted"),
        element_at(array((0 until k).map(c => col(s"p$c")): _*), col("_i"))
          .as("p_predicted")): _*)
  }

  /** The r15 in-row DECIMAL-FOLD scoring formulation — kept
    * `private[operators]` solely so LangIdSpec can pin the fused
    * [[graft.expressions.LangIdMargins]] kernel's bit-equivalence
    * against it (as [[scoreViaFeatures]] pins the fold against the
    * original groupBy path).
    */
  private[operators] def scoreViaMarginFold(
      docs: DataFrame, model: Model,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val k = model.labels.size
    val wLit = typedlit(model.weights.map(_.toSeq).toSeq)
    val buckets = concat(
      array_distinct(transform(
        charGrams(coalesce(col(textCol), lit("")), model.gram),
        g => pmod(graft.functions.TextFunctions.hash60(g),
          lit(model.nBuckets.toLong)))),
      array(lit(model.nBuckets.toLong))) // the intercept row's bucket
    // Decimal plumbing for an EXACT fold: a (38,18)+(38,18) add would
    // promote past 38 and Spark would shave the scale to 17 — a real
    // rounding. Instead the accumulator runs at (30,18) and each term
    // at (20,18): their add is (31,18) — no precision cap, scale
    // intact — and the cast back to (30,18) only shrinks headroom
    // (lossless for |margin| < 10^12; margins are bounded by
    // nBuckets·max|W| ≈ 10^5). Every TERM is still dec18(W[b][c]),
    // identical to the groupBy sum's rounded rows.
    val accDec = DecimalType(30, 18)
    val termDec = DecimalType(20, 18)
    def marginCol(c: Int): Column =
      aggregate(buckets, lit(java.math.BigDecimal.ZERO).cast(accDec),
        (acc, b) => (acc + element_at(
          element_at(wLit, (b + 1).cast("int")), c + 1).cast(Dec).cast(termDec))
          .cast(accDec))
        .cast("double").as(s"m$c")
    val m = docs.select(
      col(idCol).cast("long").as("doc_id") +: (0 until k).map(marginCol): _*)
    finishScore(m, model, k, Nil)
  }

  /** The pre-r15 join/aggregate scoring formulation — kept
    * `private[operators]` solely so LangIdSpec can pin the in-row
    * fold's bit-equivalence against it.
    */
  private[operators] def scoreViaFeatures(
      docs: DataFrame, model: Model,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val k = model.labels.size
    val m = margins(
      features(docs, model.nBuckets, model.gram, idCol, textCol),
      model.weights, k)
    finishScore(m, model, k, Nil)
  }
}
