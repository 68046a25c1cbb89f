package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions.{ArrayDotProduct, KmvDistinct, LevenshteinBanded, MinHashSig, MinHashSigFast, NormalizeVector, SimHash64}

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * expressions as SQL functions, so the whole surface is reachable from
  * pure SQL:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or: SparkSession.builder().withExtensions(new GraftExtensions()(_))
  * SELECT graft_dot(a, b), graft_normalize(v), graft_simhash64(hs),
  *        graft_minhash_sig(shingles, 16) ...
  * }}}
  *
  * `Sessions.local` applies it automatically; any externally-created
  * session can opt in via the conf above.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // Scale-hazard lint (cartesian joins, unpartitioned windows): warns
    // once per distinct hazard, never rewrites. graft.plans.PlanLint
    // has the same check as a pure per-DataFrame API.
    ext.injectOptimizerRule(_ => graft.plans.PlanLintRule())
  }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def oneArg(name: String)(f: Expression => Expression): Seq[Expression] => Expression = {
    case Seq(e) => f(e)
    case other => throw new IllegalArgumentException(s"$name expects 1 argument, got ${other.size}")
  }

  val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_dot",
      info("graft_dot", "graft_dot(a, b) - sequential-fold dot product of two array<double>"),
      {
        case Seq(a, b) => ArrayDotProduct(a, b)
        case other => throw new IllegalArgumentException(s"graft_dot expects 2 arguments, got ${other.size}")
      }),
    ("graft_normalize",
      info("graft_normalize", "graft_normalize(v) - unit-normalize an array<double> in one fused pass"),
      oneArg("graft_normalize")(NormalizeVector(_))),
    ("graft_simhash64",
      info("graft_simhash64", "graft_simhash64(hashes) - 64-bit majority-vote simhash of array<bigint>"),
      oneArg("graft_simhash64")(SimHash64)),
    ("graft_minhash_sig",
      info("graft_minhash_sig", "graft_minhash_sig(shingles, k) - k salted-md5 minhash values of array<string>"),
      {
        case Seq(sh, k) => MinHashSig(sh, literalInt("graft_minhash_sig", "k", k))
        case other => throw new IllegalArgumentException(s"graft_minhash_sig expects 2 arguments, got ${other.size}")
      }),
    ("graft_minhash_fast",
      info("graft_minhash_fast",
        "graft_minhash_fast(hashes, k) - k multiply-add permutation minima of array<bigint> shingle hashes"),
      {
        case Seq(hs, k) => MinHashSigFast(hs, literalInt("graft_minhash_fast", "k", k))
        case other => throw new IllegalArgumentException(s"graft_minhash_fast expects 2 arguments, got ${other.size}")
      }),
    ("graft_levenshtein",
      info("graft_levenshtein",
        "graft_levenshtein(a, b, k) - banded edit distance; -1 when it exceeds literal threshold k"),
      {
        case Seq(a, b, k) => LevenshteinBanded(a, b, literalInt("graft_levenshtein", "k", k))
        case other => throw new IllegalArgumentException(s"graft_levenshtein expects 3 arguments, got ${other.size}")
      }),
    ("graft_kmv_distinct",
      info("graft_kmv_distinct",
        "graft_kmv_distinct(hash, k) - KMV bottom-k distinct estimate over bigint hashes (aggregate)"),
      {
        case Seq(h, k) => KmvDistinct(h, literalInt("graft_kmv_distinct", "k", k))
        case other => throw new IllegalArgumentException(s"graft_kmv_distinct expects 2 arguments, got ${other.size}")
      }),
    ("graft_count_min",
      info("graft_count_min",
        "graft_count_min(hash, depth, widthBits) - Count-Min sketch bucket counts over bigint hashes (aggregate)"),
      {
        case Seq(h, d, w) => graft.expressions.CountMinAgg(h,
          literalInt("graft_count_min", "depth", d),
          literalInt("graft_count_min", "widthBits", w))
        case other => throw new IllegalArgumentException(s"graft_count_min expects 3 arguments, got ${other.size}")
      }),
    ("graft_bloom",
      info("graft_bloom",
        "graft_bloom(hash, numHashes, bitsLog2) - Bloom filter bitset words over bigint hashes (aggregate)"),
      {
        case Seq(h, k, b) => graft.expressions.BloomAgg(h,
          literalInt("graft_bloom", "numHashes", k),
          literalInt("graft_bloom", "bitsLog2", b))
        case other => throw new IllegalArgumentException(s"graft_bloom expects 3 arguments, got ${other.size}")
      }),
    ("graft_winnow",
      info("graft_winnow",
        "graft_winnow(s, k, w) - winnowing rolling-hash fingerprints (distinct per-window minima of k-gram hashes)"),
      {
        case Seq(s, k, w) => graft.expressions.RollingWinnow(s,
          literalInt("graft_winnow", "k", k), literalInt("graft_winnow", "w", w))
        case other => throw new IllegalArgumentException(s"graft_winnow expects 3 arguments, got ${other.size}")
      }),
    ("graft_unicode_normalize",
      info("graft_unicode_normalize",
        "graft_unicode_normalize(s, form) - JDK unicode normalization; form in NFC/NFD/NFKC/NFKD (literal)"),
      {
        case Seq(s, f) => graft.expressions.UnicodeNormalize(s, literalString("graft_unicode_normalize", "form", f))
        case other => throw new IllegalArgumentException(s"graft_unicode_normalize expects 2 arguments, got ${other.size}")
      })
  )

  private def literalString(fn: String, arg: String, e: Expression): String = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn $arg must be a literal (constant-foldable) string, got a non-constant expression")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn $arg must be a literal string, got ${Option(other).map(_.getClass.getSimpleName).getOrElse("null")}")
    }
  }

  private def literalInt(fn: String, arg: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn $arg must be a literal (constant-foldable) integer, got a non-constant expression")
    e.eval() match {
      case n: java.lang.Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn $arg must be a literal integer, got ${Option(other).map(_.getClass.getSimpleName).getOrElse("null")}")
    }
  }

  /** Imperatively register on an EXISTING session (builder-time
    * `withExtensions` is silently dropped when `getOrCreate` returns a
    * session that already exists in the JVM). Installs BOTH halves of
    * the extension: the SQL functions and the plan-lint optimizer rule
    * (via `experimental.extraOptimizations` — the imperative analogue
    * of `injectOptimizerRule`). Idempotent.
    */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.graft.ColumnBridge.ensureRegistered(spark, registrations)
    val extra = spark.experimental.extraOptimizations
    if (!extra.exists(_.isInstanceOf[graft.plans.PlanLintRule]))
      spark.experimental.extraOptimizations = extra :+ graft.plans.PlanLintRule()
  }
}
