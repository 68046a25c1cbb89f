package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Unigram-LM tokenizer: apply∘train pinned end-to-end — analytic
  * fixture, losslessness, determinism across partitionings, driver ≡
  * distributed lane bit-identity, prune contract, report sandwich.
  */
class UnigramSpec extends SparkTestBase {
  import spark.implicits._

  private def corpus(rows: (Long, String)*) =
    rows.toSeq.toDF("doc_id", "text")

  test("apply∘train on an analytic fixture: the dominant bigram becomes a piece") {
    // 'ab' dominates the corpus mass; EM must give it enough probability
    // that Viterbi prefers [ab, ab, ab] over six single chars
    val docs = corpus(
      (1L, "ababab ab abab"),
      (2L, "ab abab ababab"),
      (3L, "ab ab ab xyz"))
    val m = Unigram.train(docs, vocabSize = 8, maxPieceLen = 4)
    assert(m.pieces.contains("ab"), s"'ab' missing from ${m.pieces.toSeq}")
    assert(Unigram.segment("ababab", m) == Seq("ab", "ab", "ab"),
      s"got ${Unigram.segment("ababab", m)}")
    assert(Unigram.segment("ab", m) == Seq("ab"))
  }

  test("segmentation is total and lossless, including unseen code points") {
    val docs = corpus((1L, "hello world hold the door"))
    val m = Unigram.train(docs, vocabSize = 32)
    for (w <- Seq("hello", "world", "heldworld", "qqq", "héllo", "a😀b")) {
      val segs = Unigram.segment(w, m)
      assert(segs.mkString == w, s"round-trip broke for <<$w>>: $segs")
      assert(segs.forall(_.nonEmpty))
    }
  }

  test("deterministic training: bit-identical across runs and partitionings") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val m1 = Unigram.train(docs, vocabSize = 64)
    val m2 = Unigram.train(docs.repartition(17), vocabSize = 64)
    assert(m1.pieces.toSeq == m2.pieces.toSeq, "piece sets diverged")
    assert(m1.logp.toSeq == m2.logp.toSeq, "probabilities diverged")
  }

  test("driver-gated EM lane ≡ distributed lane, bit-identical model") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001").limit(20)
    val mem = Unigram.train(docs, vocabSize = 64)
    val dist = Unigram.trainGated(docs, vocabSize = 64)(_ => None)
    assert(mem.pieces.toSeq == dist.pieces.toSeq, "lanes picked different pieces")
    assert(mem.logp.toSeq == dist.logp.toSeq, "lanes trained different probabilities")
  }

  test("prune respects vocabSize and never drops single code points") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val big = Unigram.train(docs, vocabSize = 4096)
    val small = Unigram.train(docs, vocabSize = big.pieces.count(
      p => p.codePointCount(0, p.length) == 1) + 16)
    val chars = big.pieces.filter(p => p.codePointCount(0, p.length) == 1).toSet
    assert(small.pieces.length <= chars.size + 16)
    assert(chars.subsetOf(small.pieces.toSet), "prune dropped a single code point")
    // a too-small target fails loudly
    val e = intercept[IllegalArgumentException] {
      Unigram.train(docs, vocabSize = 2)
    }
    assert(e.getMessage.contains("alphabet"))
  }

  test("pieceReport: per-doc sandwich n_tokens <= n_pieces <= n_chars; deterministic witness") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val m = Unigram.train(docs, vocabSize = 256)
    val rep = Unigram.pieceReport(docs, m)
      .join(docs.select($"doc_id",
        size(graft.functions.TextFunctions.tokens($"text")).cast("long").as("nt"),
        length(regexp_replace($"text", "\\s+", "")).cast("long").as("nc")), Seq("doc_id"))
      .as[(Long, Long, Long, String, Long, Long)].collect()
    assert(rep.nonEmpty)
    rep.foreach { case (id, ntok, npieces, _, nt, nc) =>
      assert(ntok == nt, s"doc $id token count mismatch")
      assert(npieces >= ntok, s"doc $id has fewer pieces than tokens")
      assert(npieces <= nc, s"doc $id has more pieces than non-space chars")
    }
    // the tokenizer must actually COMPRESS vs character segmentation
    val (p, c) = (rep.map(_._3).sum.toDouble, rep.map(_._6).sum.toDouble)
    info(f"pieces/chars = ${p / c}%.3f")
    assert(p / c < 0.8, s"no compression learned: $p pieces over $c chars")
    // witness is deterministic run to run
    val again = Unigram.pieceReport(docs, m)
      .select($"doc_id", $"pieces_md5").as[(Long, String)].collect().toMap
    rep.foreach { case (id, _, _, w, _, _) => assert(again(id) == w) }
  }
}
