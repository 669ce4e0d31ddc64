package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dot product over two `array<double>` columns — the hot inner loop
  * of similarity search (SURVEY.md §2b E3), implemented as a codegen'd
  * Catalyst expression so it stays inside whole-stage codegen with zero
  * intermediate allocation. The HOF spelling
  * `aggregate(zip_with(a, b, (x,y) => x*y), 0d, (acc,x) => acc+x)` builds a
  * zipped array per row; this is a tight fused loop with identical
  * semantics: sequential left-to-right double accumulation, NULL if either
  * side is NULL, if lengths differ, or if any element is NULL.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, java.lang.Double](ArrayType(DoubleType)) {

  override def dataType: DataType = DoubleType
  override protected def returnsNull: Boolean = true
  override def prettyName: String = "vec_dot"

  def kernel(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column form for the DataFrame API. */
  def apply(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
}
