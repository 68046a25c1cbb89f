package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** SubstringDedup semantics pinned on a hand-built fixture where every
  * duplicated span, survivor, and coverage window is computable by
  * hand: a cross-doc shared prefix, a within-doc repeat, a doc shorter
  * than k, and a gram-free unique doc. k = 4 keeps the arithmetic
  * checkable (the operator is parameter-generic; the q207/q208 oracles
  * gate k = 8 on the fixture corpus).
  */
class SubstringDedupSpec extends SparkTestBase {
  import spark.implicits._

  private val k = 4

  // doc 1: a b c d e X Y Z        — shares the 5-token run "a b c d e"
  // doc 2: P Q a b c d e          — ... with doc 2 (at pos 2)
  // doc 3: r s t u r s t u        — within-doc repeat of "r s t u"
  // doc 4: one two three          — shorter than k: no grams at all
  // doc 5: v w x y z              — ≥ k tokens but all grams unique
  private def docs = Seq(
    (1L, "a b c d e X Y Z"),
    (2L, "P Q a b c d e"),
    (3L, "r s t u r s t u"),
    (4L, "one two three"),
    (5L, "v w x y z")
  ).toDF("doc_id", "text")

  test("duplicatedSpans merges duplicated k-windows into maximal spans") {
    // dup 4-grams: "a b c d" (d1@0, d2@2), "b c d e" (d1@1, d2@3),
    // "r s t u" (d3@0, d3@4). Islands: d1 starts {0,1} → [0, 4];
    // d2 starts {2,3} → [2, 6]; d3 starts {0,4}, gap 4 ≤ k → one span
    // [0, 7] (both occurrences of a within-doc repeat are duplicated).
    val got = SubstringDedup.duplicatedSpans(docs, k)
      .orderBy("doc_id", "span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 0L, 4L, 5L), (2L, 2L, 6L, 5L), (3L, 0L, 7L, 8L)))
  }

  test("cleanKeepFirst keeps exactly the corpus-wide first occurrence") {
    // First occurrences (min (doc_id, pos)): "a b c d"→(1,0),
    // "b c d e"→(1,1), "r s t u"→(3,0). Non-first starts: d2@{2,3},
    // d3@4. Coverage (k-window from each non-first start): d2 tokens
    // 2..6 removed (5 of 7); d3 tokens 4..7 removed (4 of 8); d1, d4,
    // d5 keep everything.
    val got = SubstringDedup.cleanKeepFirst(docs, k)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "removed_tokens", "removed_ppm", "kept_md5")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    def md5s(t: String) =
      java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(got == Seq(
      (1L, 8L, 0L, 0L, md5s("a b c d e x y z")),
      (2L, 7L, 5L, 714285L, md5s("p q")),
      (3L, 8L, 4L, 500000L, md5s("r s t u")),
      (4L, 3L, 0L, 0L, md5s("one two three")),
      (5L, 5L, 0L, 0L, md5s("v w x y z"))))
  }

  test("whole-doc exact duplicates: later copy fully removed, md5('')") {
    val dup = Seq((10L, "m n o p q r"), (11L, "m n o p q r")).toDF("doc_id", "text")
    val got = SubstringDedup.cleanKeepFirst(dup, k).orderBy("doc_id")
      .select("doc_id", "removed_tokens", "kept_md5")
      .as[(Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (10L, 0L, "396b153978854e3e01155923850183f1"),
      (11L, 6L, "d41d8cd98f00b204e9800998ecf8427e")))
  }

  test("TokenShinglesAll == transform/sequence/slice lambda formulation") {
    import graft.functions.TextFunctions.{tokens, textShinglesAll}
    // adversarial: every \s class byte, unicode (incl. non-ASCII
    // whitespace, which is \S on both engines), empty/short, runs
    val adversarial = Seq(
      "", " ", "\t\n\f\r", "one", "a b", "A  B\tC\nD",
      "  lead and trail  ", "café naïve 中文 token",
      "x y z w q r s t u", "a a a a a a a a a a",
      "MiXeD CaSe ToKeNs REPEAT mixed case tokens repeat end"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = spark.createDataFrame(adversarial).toDF("doc_id", "text")
      .union(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text")))
    for (n <- Seq(1, 2, 8)) {
      val lambda = when(size(tokens(col("text"))) >= n,
        transform(sequence(lit(0), size(tokens(col("text"))) - n),
          i => array_join(slice(tokens(col("text")), i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
      val bad = df.where(!(textShinglesAll(col("text"), n) <=> lambda)).count()
      assert(bad == 0, s"n=$n: $bad rows diverge from the lambda formulation")
    }
  }

  test("incremental clean == full clean restricted to the batch, any id order") {
    // batch ids BELOW the corpus ids on purpose: the merged first
    // occurrence must be the min over both sides, not "index wins"
    val corpus = Seq(
      (10L, "a b c d e f g h i j"),
      (11L, "a b c d e f g h i j"),
      (12L, "z y x w v u t s")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "a b c d e f g h i j"), // earlier id than both corpus copies
      (2L, "z y x w v u t s"),     // dup of corpus doc 12
      (3L, "fresh tokens only here nothing shared at all")
    ).toDF("doc_id", "text")
    val full = SubstringDedup.cleanKeepFirst(corpus.unionByName(batch), k)
      .where($"doc_id" < 10L)
    val inc = SubstringDedup.cleanKeepFirstIncremental(
      SubstringDedup.gramIndex(corpus, k), batch, k)
    assertSameRows(full, inc)
    // batch doc 1 has the LOWEST id → it is the first occurrence and
    // keeps everything even though the index saw the text first
    val kept = inc.where($"doc_id" === 1L)
      .select("removed_tokens").as[Long].head()
    assert(kept == 0L)
  }

  test("gram index folds associatively") {
    val a = Seq((1L, "p q r s t u v w x"), (2L, "p q r s t u v w x")).toDF("doc_id", "text")
    val b = Seq((3L, "p q r s t u v w x y z")).toDF("doc_id", "text")
    val folded = SubstringDedup.updateGramIndex(SubstringDedup.gramIndex(a, k), b, k)
    val fresh = SubstringDedup.gramIndex(a.unionByName(b), k)
    assertSameRows(folded, fresh)
  }

  test("randomized corpora match a driver-side brute-force reference") {
    // Small vocab forces heavy gram collisions (within-doc repeats,
    // cross-doc runs, whole-doc dups all arise by chance). Seeded, so
    // failures reproduce.
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (trial <- 1 to 3; kk <- Seq(3, 5)) {
      val corpus = (0L until 40L).map { id =>
        val n = rnd.nextInt(25) // 0..24 tokens (incl. empty + below-k)
        (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      // --- brute reference ---
      val toks = corpus.map { case (id, t) =>
        id -> t.split("\\s+").filter(_.nonEmpty).toVector
      }.toMap
      val occ = for {
        (id, tk) <- toks.toSeq; p <- 0 to tk.size - kk
      } yield (id, p.toLong, tk.slice(p, p + kk).mkString(" "))
      val byGram = occ.groupBy(_._3)
      val dupStarts = byGram.values.filter(_.size >= 2).flatten
        .map(o => (o._1, o._2)).toSet
      val expSpans = dupStarts.groupBy(_._1).toSeq.flatMap { case (id, ss) =>
        val sorted = ss.map(_._2).toSeq.sorted
        val islands = sorted.foldLeft(Vector.empty[Vector[Long]]) { (acc, p) =>
          if (acc.nonEmpty && p - acc.last.last <= kk) acc.init :+ (acc.last :+ p)
          else acc :+ Vector(p)
        }
        islands.map(i => (id, i.head, i.last + kk - 1, i.last - i.head + kk))
      }.toSet
      val firstOf = byGram.map { case (g, os) =>
        g -> os.map(o => (o._1, o._2)).min
      }
      val nonFirst = occ.filter { case (id, p, g) =>
        byGram(g).size >= 2 && (id, p) != firstOf(g)
      }.map(o => (o._1, o._2)).toSet
      val expClean = toks.collect { case (id, tk) if tk.nonEmpty =>
        val cov = tk.indices.map(p =>
          (math.max(0, p - kk + 1) to p).exists(s => nonFirst((id, s.toLong))))
        val kept = tk.indices.filter(!cov(_)).map(tk).mkString(" ")
        val removed = cov.count(identity).toLong
        (id, tk.size.toLong, removed, removed * 1000000L / tk.size,
          java.security.MessageDigest.getInstance("MD5")
            .digest(kept.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      }.toSet
      // --- engine ---
      val df = spark.createDataFrame(corpus).toDF("doc_id", "text")
      val gotSpans = SubstringDedup.duplicatedSpans(df, kk)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(gotSpans == expSpans, s"trial=$trial k=$kk spans diverge")
      val gotClean = SubstringDedup.cleanKeepFirst(df, kk)
        .select("doc_id", "n_tokens", "removed_tokens", "removed_ppm", "kept_md5")
        .as[(Long, Long, Long, Long, String)].collect().toSet
      assert(gotClean == expClean, s"trial=$trial k=$kk clean diverges")
    }
  }

  test("spans and clean agree: removed positions lie inside reported spans") {
    val spans = SubstringDedup.duplicatedSpans(docs, k)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).toSeq).toMap
    // every removed token count is ≤ the doc's total span token count
    val removed = SubstringDedup.cleanKeepFirst(docs, k)
      .select("doc_id", "removed_tokens").as[(Long, Long)].collect()
    removed.foreach { case (id, r) =>
      val cover = spans.getOrElse(id, Seq.empty).map { case (a, b) => b - a + 1 }.sum
      assert(r <= cover, s"doc $id removed $r > span coverage $cover")
    }
  }
}
