package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** BPE train/apply: hand-checkable merges on a tiny corpus, the
  * greedy-consistency property (each trained merge is reproducible as
  * the top pair of the corpus folded through the PREVIOUS merges via
  * the apply path — apply∘train coherence), exhaustion fail-loud, and
  * subwordReport invariants.
  */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  test("hand example: merges and subword report") {
    // freq: aa×2, ab×1 → pairs (a,a):2 (a,b):1 → merge1 (a,a);
    // then aa=[aa], ab=[a,b] → merge2 (a,b)
    val docs = Seq((1L, "aa ab"), (2L, "aa")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, 2)
    assert(merges == Seq(("a", "a"), ("a", "b")))
    val rep = Bpe.subwordReport(docs, merges)
      .select($"doc_id", $"n_bpe_tokens").as[(Long, Long)].collect().toMap
    assert(rep == Map(1L -> 2L, 2L -> 1L)) // [aa],[ab] and [aa]
  }

  test("repeated-run merge semantics: aaaa under (a,a) then (aa,aa)") {
    val docs = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, 2)
    // pairs of a·a·a·a: (a,a)×3 → merge → [aa,aa] → merge (aa,aa)
    assert(merges == Seq(("a", "a"), ("aa", "aa")))
    val rep = Bpe.subwordReport(docs, merges)
      .select($"n_bpe_tokens").as[Long].head()
    assert(rep == 1L) // single symbol aaaa
  }

  test("greedy consistency: merge i+1 is the top pair after applying merges 0..i via the apply path") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = 6
    val merges = Bpe.trainMerges(docs, n)
    assert(merges.distinct.size == n, "merges must be distinct")
    val vocab = docs
      .select(explode(graft.functions.TextFunctions.tokens($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .localCheckpoint(true)
    for (i <- 0 until n) {
      val folded = vocab.select($"freq",
        Bpe.applyMerges($"w", merges.take(i)).as("symstr"))
      val syms = Bpe.symsOf($"symstr")
      val top = folded
        .select($"freq", explode(when(size(syms) >= 2,
          transform(sequence(lit(1), size(syms) - 1),
            j => struct(element_at(syms, j).as("l"), element_at(syms, j + 1).as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("pr"))
        .groupBy($"pr.l".as("l"), $"pr.r".as("r"))
        .agg(sum($"freq").as("cnt"))
        .orderBy($"cnt".desc, $"l", $"r")
        .limit(1).select($"l", $"r").as[(String, String)].head()
      assert(top == merges(i),
        s"round ${i + 1}: top pair $top != trained merge ${merges(i)}")
    }
  }

  test("driver-gated trainer ≡ distributed trainer (ties, multibyte, astral-plane symbols)") {
    // engineered: repeated count ties (zz/qq, aa/ba), supplementary-
    // plane 𝕏 (U+1D54F — where Java UTF-16 ordering disagrees with
    // UTF-8 byte order) and BMP multibyte é, so the in-memory pick
    // order and code-point splitting are both exercised
    val docs = Seq(
      (1L, "aa ab ba 𝕏a 𝕏a a𝕏b 𝕏𝕏 z"),
      (2L, "aa ba ba 𝕏a zz zz qq qq"),
      (3L, "aa ab 𝕏𝕏𝕏 eée eée")
    ).toDF("doc_id", "text")
    val n = 8
    val fast = Bpe.trainMerges(docs, n) // vocab << gate → driver path
    val slow = Bpe.trainMergesGated(docs, n)(_ => None) // forced distributed
    assert(fast == slow, s"driver $fast != distributed $slow")
    assertSameRows(Bpe.subwordReport(docs, fast), Bpe.subwordReport(docs, slow))
  }

  test("exhaustion fails loudly") {
    val docs = Seq((1L, "aa ab")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] { Bpe.trainMerges(docs, 5) }
    assert(e.getMessage.contains("exhausted"), e.getMessage)
  }

  test("subwordReport: token counts shrink monotonically with more merges and never below 1 per word") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.001").limit(50)
      .localCheckpoint(true)
    val merges = Bpe.trainMerges(docs, 4)
    val chars = Bpe.subwordReport(docs, Nil)
      .select($"doc_id", $"n_bpe_tokens".as("n0"))
    val merged = Bpe.subwordReport(docs, merges)
      .select($"doc_id", $"n_bpe_tokens".as("n4"))
    val words = docs.select($"doc_id",
      graft.functions.TextFunctions.tokenCount($"text").as("nw"))
    val joined = chars.join(merged, "doc_id").join(words, "doc_id")
      .select($"n0", $"n4", $"nw").as[(Long, Long, Long)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (n0, n4, nw) =>
      assert(n4 <= n0, "merges can only shrink the symbol count")
      assert(n4 >= nw, "a word never drops below one symbol")
    }
  }

  test("planBatch: disjoint well-separated candidates batch whole; overlap and created-pair ties stop the prefix") {
    def t(l: String, r: String, c: Long) = (l, r, c)
    // well-separated disjoint supports, no adjacent mass: full batch
    assert(Bpe.planBatch(
      Array(t("a", "b", 100), t("c", "d", 90), t("e", "f", 80)),
      Map.empty, Map.empty) == Seq(("a", "b"), ("c", "d"), ("e", "f")))
    // support overlap at position 2 stops the PREFIX (later disjoint
    // candidates must not leapfrog the blocked one)
    assert(Bpe.planBatch(
      Array(t("a", "b", 100), t("b", "c", 90), t("e", "f", 80)),
      Map.empty, Map.empty) == Seq(("a", "b")))
    // created-pair dominance: merge 1 can create a pair of count up to
    // U_1 = max(incoming(a)=95, outgoing(b)=0) — 95 >= 90 means the
    // created pair could outrank candidate 2; stop
    assert(Bpe.planBatch(
      Array(t("a", "b", 100), t("c", "d", 90)),
      Map("a" -> 95L), Map.empty) == Seq(("a", "b")))
    // …a TIE also blocks (the created pair could win the lexicographic
    // tiebreak unseen)
    assert(Bpe.planBatch(
      Array(t("a", "b", 100), t("c", "d", 90)),
      Map.empty, Map("b" -> 90L)) == Seq(("a", "b")))
    // strictly-below adjacent mass extends
    assert(Bpe.planBatch(
      Array(t("a", "b", 100), t("c", "d", 90)),
      Map("a" -> 89L), Map("b" -> 89L)) == Seq(("a", "b"), ("c", "d")))
    // the first candidate is always taken, whatever its adjacency
    assert(Bpe.planBatch(Array(t("a", "b", 5)),
      Map("a" -> 1000L), Map("b" -> 1000L)) == Seq(("a", "b")))
  }

  test("planBatch homograph cut-off: a member whose concat is a live symbol (or repeats a batch concat) ends the batch") {
    def t(l: String, r: String, c: Long) = (l, r, c)
    // member 1's concat "ab"+"c" == live symbol "abc" (formed earlier
    // via (a, bc)): created pairs ADD to pre-existing (x, abc), so the
    // U-bound no longer covers them — member 1 is kept (its additions
    // land after the last pick) but extension stops
    assert(Bpe.planBatch(
      Array(t("ab", "c", 100), t("e", "f", 90), t("g", "h", 80)),
      Map.empty, Map.empty, Set("abc")) == Seq(("ab", "c")))
    // homograph MID-batch: members before it batch normally
    assert(Bpe.planBatch(
      Array(t("e", "f", 100), t("ab", "c", 90), t("g", "h", 80)),
      Map.empty, Map.empty, Set("abc")) == Seq(("e", "f"), ("ab", "c")))
    // two members concatenating to the SAME new symbol ("a"+"bc" and
    // "ab"+"c" → "abc", not yet live): their gains stack on the shared
    // created pairs, so the second ends the batch
    assert(Bpe.planBatch(
      Array(t("a", "bc", 100), t("ab", "c", 90), t("g", "h", 80)),
      Map.empty, Map.empty, Set.empty) == Seq(("a", "bc"), ("ab", "c")))
    // a live symbol that is NOT any member's concat does not interfere
    assert(Bpe.planBatch(
      Array(t("a", "b", 100), t("c", "d", 90)),
      Map.empty, Map.empty, Set("zz")) == Seq(("a", "b"), ("c", "d")))
  }

  test("batched distributed trainer ≡ in-memory greedy on well-separated counts (multi-merge batches)") {
    // disjoint letter alphabets with well-separated frequencies: the
    // batch conditions hold for several candidates per round, so this
    // actually exercises multi-merge rounds (the tie-heavy fixture in
    // the other equivalence test degrades to batches of 1)
    val words = Seq(
      ("abab", 100L), ("cdcd", 60L), ("efef", 35L), ("ghgh", 20L),
      ("ijij", 11L), ("klkl", 6L), ("mnmn", 3L), ("opop", 2L))
    val docs = words.flatMap { case (w, n) => Seq.fill(n.toInt)(w) }
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val n = 10
    val mem = Bpe.trainMerges(docs, n) // driver path
    val dist = Bpe.trainMergesGated(docs, n)(_ => None) // batched distributed
    assert(mem == dist, s"in-memory $mem != batched distributed $dist")
    // and with batching disabled (round per merge), identical again
    val single = Bpe.trainMergesGated(docs, n, batchTopK = 1)(_ => None)
    assert(single == dist, s"batchTopK=1 $single != batched $dist")
  }

  test("freqFloor: pruning the singleton tail is a documented semantic choice — divergent where tail mass was decisive, stable where it wasn't") {
    // 11 singleton words carry pair (x,y); one frequent word carries
    // (a,b) 10 times. floor=1: (x,y)=11 wins round 1; floor=2: the
    // tail is gone and (a,b) wins
    val tailDocs = (
      (1 to 10).map(i => (i.toLong, "ab")) ++
        (1 to 11).map(i => (100L + i, s"xy${('a' + i).toChar}"))
    ).toDF("doc_id", "text")
    val full = Bpe.trainMerges(tailDocs, 1)
    val floored = Bpe.trainMerges(tailDocs, 1, freqFloor = 2L)
    assert(full == Seq(("x", "y")), s"floor=1 top merge: $full")
    assert(floored == Seq(("a", "b")), s"floor=2 top merge: $floored")
    // where the tail never tips a pick, the merges are unchanged
    val stable = (
      (1 to 50).map(i => (i.toLong, "abab abab")) ++
        Seq((999L, "zq"))
    ).toDF("doc_id", "text")
    assert(Bpe.trainMerges(stable, 2) == Bpe.trainMerges(stable, 2, freqFloor = 2L))
    // floor must drop WORDS below it, not unique-within-doc tokens:
    // a word seen once in each of 3 docs has corpus freq 3, survives floor=3
    val crossDoc = Seq((1L, "qq rare"), (2L, "qq rare"), (3L, "qq rare"))
      .toDF("doc_id", "text")
    assert(Bpe.trainMerges(crossDoc, 1, freqFloor = 3L).nonEmpty)
  }
}
