package graft.operators

import graft.core.Gates
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** TRAINED quality classifier — the companion q158 was missing
  * (round-12 verdict #5): q158 scores documents with synthetic
  * md5-derived weights (the plan shape of fastText-style quality
  * gating); this trains the weight vector too, so the full
  * label → train → score → gate loop runs inside the engine.
  *
  * Model: logistic regression over the SAME hashing-trick features as
  * q158 — tokens feature-hashed into `nBuckets` buckets (no
  * vocabulary, nothing global built: the property that makes the
  * featurization 100 TB-safe), bag counts per bucket, plus one
  * intercept bucket. Training is full-batch gradient descent with a
  * FIXED iteration count and learning rate.
  *
  * == Determinism (what makes it oracle-checkable) ==
  *
  * Distributed float sums are order-dependent, so a naive double
  * accumulation would train different weights per run/partitioning.
  * Both per-doc margins and per-bucket gradients therefore round each
  * ROW's double contribution to `decimal(38,18)` and sum in DECIMAL —
  * Spark's decimal sum is exact and order-independent, and the
  * row-level rounding is a pure function of the row — so the trained
  * weight vector is BIT-IDENTICAL across runs, partitionings and
  * cluster sizes (QualityClassifierSpec pins it). The sigmoid runs in
  * double on the exact decimal margin: deterministic given a
  * deterministic margin.
  *
  * == Scale shape ==
  *
  * The feature table is built ONCE (one explode + one groupBy over the
  * corpus, localCheckpoint-ed); each of the `iters` rounds is ONE job
  * over it — a per-doc margin fold and a per-bucket gradient fold,
  * both partial-aggregated map-side — with the 1 KB weight vector
  * riding the plan as a literal array (`element_at`, codegen'd, no
  * UDF). Cost: O(iters · corpus bucket entries), weights never leave
  * the driver, nothing quadratic anywhere. Scoring is one pass.
  *
  * At 100 TB the lever is the TRAINING SET, not the trainer: labeled
  * quality data is sampled/curated by nature (thousands to millions of
  * docs), so train on `docs.sample(...)`/a labeled subset — the model
  * is 1 KB and corpus-size-independent — and spend the corpus-sized
  * pass only on [[score]] (one job). Training directly on a full
  * planted corpus (q215's shape) is linear but pays `iters` corpus
  * scans: measured 25 s at sf1 / ~50-92 s weather-band at sf10 for 12
  * rounds.
  */
object QualityClassifier {

  val DefaultBuckets = 1024
  val DefaultIters = 20
  val DefaultLearningRate = 0.5

  /** Row-contribution rounding type: 20 integer digits of headroom —
    * |err·x| <= nBuckets·maxCount per row, summed over any corpus that
    * fits in long-count territory.
    */
  private val Dec = DecimalType(38, 18)

  private def bucketOf(tok: Column, nBuckets: Int): Column =
    pmod(graft.functions.TextFunctions.hash60(tok), lit(nBuckets.toLong))

  /** Hashed bag-of-tokens features: (doc_id, b, x) plus an intercept
    * row (b = nBuckets, x = 1) per document. `presence = true` (the
    * default) binarizes x to {0, 1} — the fastText-style text-LR
    * choice: raw counts let long documents' shared-vocabulary buckets
    * dominate every margin and slow batch GD to a crawl, while
    * presence bounds each feature's contribution and converges in a
    * handful of rounds (A/B'd on the planted fixture, spec). Built
    * once per train/score call; O(corpus tokens) map + one groupBy.
    */
  def features(
      docs: DataFrame, nBuckets: Int = DefaultBuckets,
      idCol: String = "doc_id", textCol: String = "text",
      presence: Boolean = true): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
    toks
      .select(col("doc_id"), bucketOf(col("tok"), nBuckets).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).cast("double").as("cnt"))
      .select(col("doc_id"), col("b"),
        (if (presence) lit(1.0) else col("cnt")).as("x"))
      .unionAll(docs.select(col(idCol).cast("long").as("doc_id"),
        lit(nBuckets.toLong).as("b"), lit(1.0).as("x")))
  }

  /** Trained model: `weights(b)` for b in [0, nBuckets]; the last slot
    * is the intercept.
    */
  final case class Model(nBuckets: Int, weights: Array[Double]) {
    require(weights.length == nBuckets + 1,
      s"weight vector must have nBuckets+1=${nBuckets + 1} slots, got ${weights.length}")
  }

  /** The weight vector as a plan literal — `element_at` is 1-based. */
  private def weightCol(w: Array[Double]): Column =
    element_at(typedlit(w.toSeq), (col("b") + 1).cast("int"))

  /** Per-doc decimal-exact margin Σ w_b·x_b of a feature table. */
  private def margins(feat: DataFrame, w: Array[Double]): DataFrame =
    feat.select(col("doc_id"),
        (col("x") * weightCol(w)).cast(Dec).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("double").as("m"))

  /** Feature-row gate for the in-memory trainer — the
    * `LangId.MaxDriverFeatureRows` / `Bpe.MaxDriverVocab` sizing
    * discipline: labeled quality data is curated and corpus-size-
    * independent, so production training slices collect; the
    * distributed loop remains for oversized label dumps.
    */
  private val MaxDriverFeatureRows: Long = 8L * 1000 * 1000

  /** Train logistic-regression weights on labeled documents
    * (`labelCol` ∈ {0, 1}). Fixed `iters` full-batch rounds at
    * `lr / nDocs` effective step — deterministic by construction (see
    * object doc). Fails loudly on an empty corpus or a label outside
    * {0, 1} (a silently coerced label poisons every weight).
    *
    * Under [[MaxDriverFeatureRows]] (the normal case) the gradient loop runs
    * IN MEMORY on the driver — one collect of the feature table, zero
    * per-iteration job launches — bit-identical to the distributed
    * loop: row contributions are rounded to decimal(38,18) exactly as
    * `cast(Dec)` does (`BigDecimal.valueOf` + HALF_UP), sums are exact
    * decimal adds, sigmoid/update double arithmetic replays the same
    * operation order (QualityClassifierSpec pins the lane
    * equivalence).
    */
  def train(docs: DataFrame, labelCol: String, nBuckets: Int = DefaultBuckets,
      iters: Int = DefaultIters, lr: Double = DefaultLearningRate,
      idCol: String = "doc_id", textCol: String = "text"): Model =
    trainGated(docs, labelCol, nBuckets, iters, lr, idCol, textCol)(
      Gates.collectAtMost(_, MaxDriverFeatureRows))

  /** [[train]] on the lane `gate` picks from the (doc_id, b, x, y) feature rows. */
  private[graft] def trainGated(docs: DataFrame, labelCol: String, nBuckets: Int = DefaultBuckets,
      iters: Int = DefaultIters, lr: Double = DefaultLearningRate,
      idCol: String = "doc_id", textCol: String = "text")(
      gate: Dataset[(Long, Long, Double, Double)] => Option[Array[(Long, Long, Double, Double)]])
      : Model = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val labels = docs.select(col(idCol).cast("long").as("doc_id"),
      col(labelCol).cast("double").as("y"))
    val badLabel = labels.where(col("y") =!= 0.0 && col("y") =!= 1.0 ||
      col("y").isNull).limit(1).collect()
    require(badLabel.isEmpty,
      s"labels must be 0 or 1; doc ${badLabel.headOption.map(_.get(0))} is not")
    // hash-partitioned by doc_id BEFORE the checkpoint (one build-time
    // shuffle): every iteration's per-doc margin aggregate and its
    // err-join back to the features then reuse this partitioning with
    // NO exchange — the only per-iteration shuffle left is the bucket
    // gradient aggregate, map-side combined down to <= 1025 rows per
    // partition (round-13 verdict #5: was 3 shuffles/iter, now 1).
    val feat = features(docs, nBuckets, idCol, textCol)
      .join(labels, "doc_id")
      .repartition(col("doc_id"))
      .localCheckpoint()
    try {
      val nDocs = labels.count()
      require(nDocs > 0, "cannot train on an empty corpus")
      // a TYPED collect: no transient Array[Row] copy (advice r14)
      import feat.sparkSession.implicits._
      val w = gate(feat.select(col("doc_id"), col("b"), col("x"), col("y"))
          .as[(Long, Long, Double, Double)]) match {
        case Some(inMemory) => trainRowsInMemory(inMemory, nBuckets, iters, lr, nDocs)
        case None => trainDistributed(feat, nBuckets, iters, lr, nDocs)
      }
      Model(nBuckets, w)
    } finally Lineage.release(feat)
  }

  private def trainDistributed(
      feat: DataFrame, nBuckets: Int, iters: Int, lr: Double,
      nDocs: Long): Array[Double] = {
    val w = new Array[Double](nBuckets + 1)
    for (_ <- 1 to iters) {
      // one job: margin fold (per doc) feeding the gradient fold
      // (per bucket), both decimal-exact
      val errs = margins(feat, w)
        .select(col("doc_id"),
          (lit(1.0) / (lit(1.0) + exp(-col("m"))) - lit(1.0)).as("errNeg"),
          (lit(1.0) / (lit(1.0) + exp(-col("m")))).as("errPos"))
      // err = sigmoid(m) - y, written without a second label join:
      // y rides the feature table
      val grad = feat
        .join(errs, "doc_id")
        .select(col("b"),
          ((when(col("y") === 1.0, col("errNeg")).otherwise(col("errPos"))) *
            col("x")).cast(Dec).as("g"))
        .groupBy(col("b"))
        .agg(sum(col("g")).cast("double").as("g"))
        .collect()
      grad.foreach { r =>
        val b = r.getLong(0).toInt
        w(b) -= lr * r.getDouble(1) / nDocs
      }
    }
    w
  }

  /** The distributed double→decimal(38,18) row rounding, exactly. */
  private def dec18(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(18, java.math.RoundingMode.HALF_UP)

  /** In-memory mirror of [[trainDistributed]] — same row rounding,
    * exact decimal sums, same double operation order.
    */
  private[operators] def trainRowsInMemory(
      rows: Array[(Long, Long, Double, Double)],
      nBuckets: Int, iters: Int, lr: Double, nDocs: Long): Array[Double] = {
    val byDoc = rows.groupBy(_._1).values.toArray
    val w = new Array[Double](nBuckets + 1)
    val zero = java.math.BigDecimal.ZERO.setScale(18)
    for (_ <- 1 to iters) {
      // dec18(x * w) with x = 1.0 (presence features + intercept) is
      // dec18(w): precompute once per iteration — BigDecimal.valueOf
      // goes through Double.toString and dominated the loop otherwise
      val decW = Array.tabulate(nBuckets + 1)(b => dec18(w(b)))
      val grad = Array.fill(nBuckets + 1)(zero)
      for (docRows <- byDoc) {
        val y = docRows(0)._4
        var acc = zero
        var i = 0
        while (i < docRows.length) {
          val r = docRows(i)
          val b = r._2.toInt
          acc = acc.add(if (r._3 == 1.0) decW(b) else dec18(r._3 * w(b)))
          i += 1
        }
        val m = acc.doubleValue
        // errNeg/errPos exactly as the distributed columns compute
        // them. StrictMath.exp, NOT Math.exp: Spark's exp() codegen
        // calls StrictMath (measured: 10% of values differ from
        // Math.exp by one ulp — enough to diverge the lanes at
        // iteration 2; BASELINE.md "Records of the deleted dev
        // harnesses")
        val sig = 1.0 / (1.0 + java.lang.StrictMath.exp(-m))
        val err = if (y == 1.0) sig - 1.0 else sig
        val errD = dec18(err) // err * 1.0 == err, rounded once per doc
        i = 0
        while (i < docRows.length) {
          val b = docRows(i)._2.toInt
          val x = docRows(i)._3
          grad(b) = grad(b).add(if (x == 1.0) errD else dec18(err * x))
          i += 1
        }
      }
      var b = 0
      while (b <= nBuckets) {
        w(b) -= lr * grad(b).doubleValue / nDocs
        b += 1
      }
    }
    w
  }

  /** Score documents with a trained model: decimal-exact margin,
    * probability, and the accept verdict (margin > 0).
    *
    * SHUFFLE-FREE (r15, the [[LangId.score]] move): the presence
    * margin is an in-row decimal fold over `array_distinct` of the
    * hashed tokens plus the intercept bucket — decimal adds are exact
    * and order-free, so the fold equals the old explode + groupBy +
    * sum formulation BIT-FOR-BIT (QualityClassifierSpec pins it) while
    * the corpus-sized pass becomes one map with nothing to shuffle.
    * Same (30,18)/(20,18) plumbing as LangId: a (38,18)+(38,18) add
    * would shave scale to 17; these widths add losslessly at (31,18).
    */
  def score(
      docs: DataFrame, model: Model,
      idCol: String = "doc_id", textCol: String = "text",
      keep: Seq[String] = Nil): DataFrame = {
    // FUSED (r15 optimization pass): one codegen pass — tokenize, hash,
    // bucket-dedup, exact decimal fold — via the shared
    // HashedPresenceMargins kernel (LangId's scorer at K=1), replacing
    // the interpreted aggregate() fold kept below as
    // [[scoreViaMarginFold]] for the spec's bit-equivalence pin.
    // `keep` passes source columns through the per-row map so callers
    // don't join predictions back on doc_id (the LangId.score rule).
    val mArr = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.HashedPresenceMargins(
        org.apache.spark.sql.graft.ColumnBridge.expression(
          graft.functions.TextFunctions.tokens(coalesce(col(textCol), lit("")))),
        model.nBuckets, model.weights.map(Array(_))))
    docs.select(col(idCol).cast("long").as("doc_id") +: keep.map(col) :+
        element_at(mArr, 1).as("margin"): _*)
      .select(col("doc_id") +: keep.map(col) ++: Seq(col("margin"),
        (lit(1.0) / (lit(1.0) + exp(-col("margin")))).as("p_good"),
        (col("margin") > 0).cast("long").as("accepted")): _*)
  }

  /** The r15 in-row DECIMAL-FOLD scoring formulation — kept
    * `private[operators]` solely so the spec can pin the fused kernel's
    * bit-equivalence against it.
    */
  private[operators] def scoreViaMarginFold(
      docs: DataFrame, model: Model,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val wLit = typedlit(model.weights.toSeq)
    val buckets = concat(
      array_distinct(transform(
        graft.functions.TextFunctions.tokens(coalesce(col(textCol), lit(""))),
        t => bucketOf(t, model.nBuckets))),
      array(lit(model.nBuckets.toLong)))
    val accDec = DecimalType(30, 18)
    val termDec = DecimalType(20, 18)
    val margin =
      aggregate(buckets, lit(java.math.BigDecimal.ZERO).cast(accDec),
        (acc, b) => (acc + element_at(wLit, (b + 1).cast("int"))
          .cast(Dec).cast(termDec)).cast(accDec))
        .cast("double")
    docs.select(col(idCol).cast("long").as("doc_id"), margin.as("margin"))
      .select(col("doc_id"), col("margin"),
        (lit(1.0) / (lit(1.0) + exp(-col("margin")))).as("p_good"),
        (col("margin") > 0).cast("long").as("accepted"))
  }

  /** The pre-r15 join/aggregate scoring formulation — kept
    * `private[operators]` solely for the spec's bit-equivalence pin.
    */
  private[operators] def scoreViaFeatures(
      docs: DataFrame, model: Model,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    margins(features(docs, model.nBuckets, idCol, textCol), model.weights)
      .select(col("doc_id"), col("m").as("margin"),
        (lit(1.0) / (lit(1.0) + exp(-col("m")))).as("p_good"),
        (col("m") > 0).cast("long").as("accepted"))
}
