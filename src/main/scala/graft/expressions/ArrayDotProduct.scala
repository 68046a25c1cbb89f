package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen dot product over two `array<double>` columns.
  *
  * Semantics are EXACTLY `aggregate(zip_with(a,b,(x,y)->x*y), 0d, +)`:
  * a sequential left-to-right fold (bit-identical to the DuckDB oracle's
  * `list_reduce`), null if the arrays differ in length or any needed
  * element is null (zip_with pads with null; null poisons the fold).
  *
  * Why a custom Expression (SURVEY §7.5 / prompt preference (b)): the
  * HOF formulation allocates a zipped array per row-pair and evaluates
  * interpreted lambdas — at 4M candidate pairs × 64 dims that dominated
  * the near-dup bench (40 s). This compiles to a tight primitive loop
  * inside whole-stage codegen: no allocation, no virtual calls.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<double> inputs, got $l and $r")
    }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayDotProduct.fold(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

object ArrayDotProduct {

  /** The interpreted fold, shared with driver-side callers (the IVF
    * build's driver lane): a boxed Double, or null when the lengths
    * differ or a needed element is null. */
  def fold(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }
}
