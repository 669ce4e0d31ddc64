package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Micro-quantized squared L2 distance over two `array<double>` columns —
  * the hot kernel of PQ encode/ADC (e3_pq_adc) as a codegen'd Catalyst
  * expression. Each per-dimension term round((x−y)²·10⁶) is quantized to a
  * long BEFORE the accumulation, so the sum is exact integer math: order-,
  * partitioning-, and engine-independent (the same contract as the HOF
  * spelling `aggregate(zip_with(a,b,(x,y)=>(x−y)*(x−y)), 0L,
  * (acc,t) => acc + round(t*1e6,0).cast("long"))`, which allocates a zipped
  * array per row; this is a fused loop). Rounding is decimal HALF_UP like
  * Spark's `round` — implemented as truncate-then-compare-fraction, which
  * for non-negative v avoids Math.round's float-add-0.5 bug at
  * 0.49999999999999994. NULL if either side is NULL, lengths differ, or any
  * element is NULL.
  */
case class L2Micros(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, java.lang.Long](ArrayType(DoubleType)) {

  override def dataType: DataType = LongType
  override protected def returnsNull: Boolean = true
  override def prettyName: String = "vec_l2_micros"

  def kernel(x: ArrayData, y: ArrayData): java.lang.Long = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      val v = d * d * 1e6
      // ≥ 2⁶³ (incl. +Inf): (long)v already saturates to Long.MaxValue and
      // the +1 would WRAP — match the HOF's cast saturation instead.
      // NaN: both branches yield 0, as cast(NaN as long) does.
      var r = v.toLong
      if (v < 9.223372036854776e18 && v - r >= 0.5) r += 1
      acc += r
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Micros =
    copy(left = newLeft, right = newRight)
}

object L2Micros {
  /** Column form for the DataFrame API. */
  def apply(a: Column, b: Column): Column =
    Bridge.column(L2Micros(Bridge.expression(a), Bridge.expression(b)))
}
