package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Unit-normalize an `array<double>` in one fused pass.
  *
  * Bit-identical to `transform(v, x -> x / sqrt(aggregate(zip_with(v,v,
  * _*_), 0d, +)))` (norm = sequential fold, then element-wise divide —
  * the formulation the DuckDB oracle replicates), but opaque to
  * `CollapseProject`, which otherwise inlines the norm sub-expression
  * into the per-element division lambda and recomputes the full fold
  * once per element (64 norms per row, observed in the q43 plan).
  * Null if the input is null, any element is null, or the norm is zero.
  */
case class NormalizeVector(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> input, got $t")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_normalize"

  override def nullSafeEval(input: Any): Any = NormalizeVector.fold(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val norm = ctx.freshName("norm")
      val vals = ctx.freshName("vals")
      s"""
         |final int $n = $c.numElements();
         |double $acc = 0.0;
         |final double[] $vals = new double[$n];
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($c.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $vals[$i] = $c.getDouble($i);
         |  $acc += $vals[$i] * $vals[$i];
         |}
         |if (!${ev.isNull}) {
         |  final double $norm = java.lang.Math.sqrt($acc);
         |  if ($norm == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    for (int $i = 0; $i < $n; $i++) $vals[$i] /= $norm;
         |    ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($vals);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NormalizeVector =
    copy(child = newChild)
}

object NormalizeVector {

  /** The interpreted fold, shared with driver-side callers (the IVF
    * build's driver lane): null when an element is null or the norm is
    * zero. */
  def fold(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var acc = 0d
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val x = arr.getDouble(i)
      acc += x * x
      i += 1
    }
    val norm = math.sqrt(acc)
    if (norm == 0d) return null
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = arr.getDouble(i) / norm; i += 1 }
    new GenericArrayData(out)
  }
}
