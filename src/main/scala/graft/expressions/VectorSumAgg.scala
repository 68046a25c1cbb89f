package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Element-wise sum of `array<double>` vectors: `vec_sum(v)` →
  * `array<double>`.
  *
  * The composable alternative (posexplode → groupBy(key, pos) →
  * agg(sum) → re-collect) multiplies the shuffled row count by the
  * vector dimensionality and needs a second shuffle to reassemble; this
  * aggregate keeps one `double[dims]` accumulator per group and runs as
  * partial + final `ObjectHashAggregate` — the shuffle carries one row
  * per (group, partition), whatever the dimensionality. Used by the IVF
  * index build for centroid means.
  *
  * Floating-point note: partial-sum merge order depends on partitioning,
  * so results are deterministic only up to FP addition order — same as
  * built-in `sum` over doubles. Use the exact-decimal patterns for
  * oracle-checked outputs; this is for numeric kernels (centroids)
  * where ulp-level drift is immaterial.
  *
  * Null vectors are skipped; an empty group yields null. Mismatched
  * dimensionalities fail loudly (a silent truncation would corrupt
  * every downstream centroid).
  */
case class VectorSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> input, got $t")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_vec_sum"

  // Empty sentinel: no input seen yet (dims unknown until first vector).
  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buffer else VectorSumAgg.add(buffer, v.asInstanceOf[ArrayData])
  }

  override def merge(buffer: Array[Double], other: Array[Double]): Array[Double] = {
    if (other.isEmpty) return buffer
    if (buffer.isEmpty) return other
    require(buffer.length == other.length,
      s"$prettyName: mismatched vector dims ${buffer.length} vs ${other.length}")
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Double]): Any =
    if (buffer.isEmpty) null
    else new GenericArrayData(buffer.map(x => x: Any))

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.length * 8)
    bb.putInt(buffer.length)
    buffer.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = bb.getDouble; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorSumAgg =
    copy(child = newChild)
}

object VectorSumAgg {

  /** `buffer` plus `arr`, null elements skipped: the update step, shared
    * with driver-side callers (the IVF build's driver lane). An empty
    * `buffer` means no input seen yet. */
  def add(buffer: Array[Double], arr: ArrayData): Array[Double] = {
    val n = arr.numElements()
    // A zero-length vector would be indistinguishable from the
    // "no input seen" empty-buffer sentinel and silently bypass the
    // dims check below — reject it instead.
    require(n > 0, "graft_vec_sum: zero-length vector in input")
    val acc =
      if (buffer.isEmpty) new Array[Double](n)
      else {
        require(buffer.length == n,
          s"graft_vec_sum: mismatched vector dims ${buffer.length} vs $n")
        buffer
      }
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) acc(i) += arr.getDouble(i)
      i += 1
    }
    acc
  }
}
