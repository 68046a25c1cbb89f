package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}

/** Fused hashed-presence linear-model scorer: an array of feature
  * strings (char n-grams for [[graft.operators.LangId]], word tokens
  * for [[graft.operators.QualityClassifier]]) → the K per-class
  * margins, in ONE codegen pass per row.
  *
  * Semantics are EXACTLY the in-row decimal fold it replaces (the r15
  * shuffle-free scoring formulation, kept in each operator for the
  * spec pin):
  *
  *   buckets = concat(array_distinct(transform(feats,
  *       f -> pmod(hash60(f), nBuckets))), array(nBuckets))
  *   m_c = cast(aggregate(buckets, 0.0 as decimal,
  *       (acc, b) -> acc + cast(W[b][c] as decimal(38,18))) as double)
  *
  * bit-for-bit:
  *  - hash60 ≡ `conv(substring(md5(f),1,15),16,10)`: the first 60 bits
  *    of the md5 digest as a non-negative long (15 hex digits);
  *  - bucket DEDUP (the presence part) happens on the bucket value,
  *    exactly as the fold's `array_distinct` over hashed values;
  *  - each weight term is rounded double→decimal(38,18) exactly as
  *    Spark's cast (`BigDecimal.valueOf` — the canonical-string
  *    conversion — then HALF_UP to scale 18), the per-class sum is an
  *    exact decimal add (order-free, so iteration order is
  *    irrelevant; the fold's (30,18)/(20,18) plumbing is numerically
  *    identical for |margin| < 10^12), and the final double is
  *    `BigDecimal.doubleValue` — Spark's decimal→double cast.
  *
  * Why it exists (guide §1.2 "per-task work" / §4 "prefer codegen"):
  * the fold formulation is K interpreted `aggregate()` higher-order
  * lambdas, each re-evaluating the hash/distinct subtree and paying
  * lambda-variable plumbing per element — measured ~3.0 s per corpus
  * pass at sf0.1 for LangId's K=4, ~0.4 s fused (BASELINE.md "Records
  * of the deleted dev harnesses").
  *
  * Null semantics: null array → null margins; a null ELEMENT → null
  * margins (the fold's null bucket poisons its decimal sum the same
  * way). Callers wrap text in `coalesce(text, '')`, so neither occurs
  * on the query paths.
  */
case class HashedPresenceMargins(
    child: Expression, nBuckets: Int, weights: Array[Array[Double]])
    extends UnaryExpression {

  require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
  require(weights.length == nBuckets + 1,
    s"weight matrix must have nBuckets+1=${nBuckets + 1} rows, got ${weights.length}")
  private val k = weights.head.length
  require(k >= 1 && weights.forall(_.length == k), "ragged weight matrix")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> input, got $t")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hashed_presence_margins"

  /** dec18-rounded weight rows, built once per (deserialized) instance —
    * the same double→decimal(38,18) rounding as Spark's cast.
    */
  @transient private lazy val decW: Array[Array[java.math.BigDecimal]] =
    weights.map(_.map(HashedPresenceMargins.dec18))

  def compute(feats: ArrayData): Any = {
    val n = feats.numElements()
    val seen = new Array[Boolean](nBuckets)
    val acc = new Array[java.math.BigDecimal](k)
    // the intercept bucket (b = nBuckets) is always present
    var c = 0
    while (c < k) { acc(c) = decW(nBuckets)(c); c += 1 }
    val md = HashedPresenceMargins.md5.get()
    var i = 0
    while (i < n) {
      if (feats.isNullAt(i)) return null // fold parity: null poisons the sum
      md.reset()
      val d = md.digest(feats.getUTF8String(i).getBytes)
      // first 60 bits of the digest = conv(substring(md5_hex,1,15),16,10)
      var v = 0L
      var j = 0
      while (j < 7) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      v = (v << 4) | ((d(7) & 0xffL) >>> 4)
      val b = (v % nBuckets).toInt
      if (!seen(b)) {
        seen(b) = true
        val row = decW(b)
        c = 0
        while (c < k) { acc(c) = acc(c).add(row(c)); c += 1 }
      }
      i += 1
    }
    val out = new Array[Double](k)
    c = 0
    while (c < k) { out(c) = acc(c).doubleValue; c += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("presenceMargins", this,
      classOf[HashedPresenceMargins].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
       |${ev.value} = (org.apache.spark.sql.catalyst.util.GenericArrayData)
       |  $ref.compute($c);
       |${ev.isNull} = (${ev.value} == null);
     """.stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): HashedPresenceMargins = copy(child = newChild)
}

object HashedPresenceMargins {

  /** Spark's double→decimal(38,18) cast, exactly (see LangId.dec18). */
  private[graft] def dec18(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(18, java.math.RoundingMode.HALF_UP)

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
}
