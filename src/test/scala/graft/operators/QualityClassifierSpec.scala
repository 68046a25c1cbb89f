package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[QualityClassifier]]: the trained companion to q158's fixed-weight
  * scorer. Pins (a) separability on a planted-label fixture, (b) the
  * determinism contract — bit-identical weights across runs AND
  * partitionings (the decimal-exact accumulation's whole point),
  * (c) fail-loud label validation.
  */
class QualityClassifierSpec extends SparkTestBase {
  import spark.implicits._

  /** Fixture: real corpus text + 3 planted marker tokens per doc,
    * marker family decided by the planted label (doc_id % 2).
    */
  private def planted(n: Int) = {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .limit(n)
    val m = pmod($"doc_id", lit(4L)).cast("string")
    docs.select($"doc_id", pmod($"doc_id", lit(2L)).as("label"),
      concat(coalesce($"text", lit("")),
        when(pmod($"doc_id", lit(2L)) === 1,
          concat(lit(" qga"), m, lit(" qgb"), m, lit(" qgc"), m))
          .otherwise(concat(lit(" qba"), m, lit(" qbb"), m, lit(" qbc"), m)))
        .as("text"))
      .localCheckpoint(true)
  }

  test("separates planted quality labels: accuracy >= 0.95 on the training corpus") {
    val docs = planted(200)
    val model = QualityClassifier.train(docs, "label")
    val acc = QualityClassifier.score(docs, model)
      .join(docs.select($"doc_id", $"label"), "doc_id")
      .agg(avg(($"accepted" === $"label").cast("double")))
      .head().getDouble(0)
    assert(acc >= 0.95, s"planted-label accuracy $acc < 0.95")
  }

  test("deterministic training: bit-identical weights across runs and partitionings") {
    val docs = planted(120)
    val w1 = QualityClassifier.train(docs, "label", iters = 6).weights
    val w2 = QualityClassifier.train(docs, "label", iters = 6).weights
    // a different physical layout changes every float-sum order — the
    // decimal-exact accumulation must make it invisible
    val w3 = QualityClassifier.train(docs.repartition(7), "label", iters = 6).weights
    assert(w1.toSeq == w2.toSeq, "re-run diverged")
    assert(w1.toSeq == w3.toSeq, "repartitioned training diverged — accumulation is order-dependent")
    assert(w1.exists(_ != 0.0), "training produced all-zero weights")
  }

  test("fused margin kernel ≡ decimal fold ≡ join/aggregate formulation, bit-for-bit") {
    val corpus = planted(80).localCheckpoint(true)
    val model = QualityClassifier.train(corpus, "label", iters = 6)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double, Double, Long)].collect().sortBy(_._1).toSeq
    val kernel = rows(QualityClassifier.score(corpus, model))
    assert(kernel == rows(QualityClassifier.scoreViaMarginFold(corpus, model)),
      "fused codegen kernel must equal the in-row decimal fold exactly")
    assert(kernel == rows(QualityClassifier.scoreViaFeatures(corpus, model)),
      "in-row margins must equal the groupBy sum exactly")
    // null/empty text scores as intercept-only on all paths
    val edge = Seq((900L, ""), (901L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val ek = rows(QualityClassifier.score(edge, model))
    assert(ek == rows(QualityClassifier.scoreViaFeatures(edge, model)))
    assert(ek == rows(QualityClassifier.scoreViaMarginFold(edge, model)))
  }

  test("driver-gated in-memory trainer ≡ distributed trainer, bit-identical weights") {
    val docs = planted(120)
    val mem = QualityClassifier.train(docs, "label", iters = 6) // under the gate → driver
    val dist = QualityClassifier.trainGated(docs, "label", iters = 6)(_ => None) // forced distributed
    assert(mem.weights.toSeq == dist.weights.toSeq,
      "in-memory and distributed lanes must train bit-identical weights")
  }

  test("labels outside {0,1} and empty corpora fail loudly") {
    val bad = Seq((1L, 2L, "some text here")).toDF("doc_id", "label", "text")
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.train(bad, "label")
    }
    assert(e.getMessage.contains("labels must be 0 or 1"), e.getMessage)
    val empty = Seq.empty[(Long, Long, String)].toDF("doc_id", "label", "text")
    val e2 = intercept[IllegalArgumentException] {
      QualityClassifier.train(empty, "label")
    }
    assert(e2.getMessage.contains("empty corpus"), e2.getMessage)
  }

  test("score: accepted is the margin sign; p_good is a probability") {
    val docs = planted(80)
    val model = QualityClassifier.train(docs, "label", iters = 6)
    val rows = QualityClassifier.score(docs, model)
      .select($"margin", $"p_good", $"accepted")
      .as[(Double, Double, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (m, p, a) =>
      assert(a == (if (m > 0) 1L else 0L))
      assert(p > 0.0 && p < 1.0)
    }
  }
}
