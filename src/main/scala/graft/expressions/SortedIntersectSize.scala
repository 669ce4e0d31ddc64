package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** `|A ∩ B|` of two LEXICOGRAPHICALLY SORTED, duplicate-free
  * `array<string>` columns by linear merge — the exact-verify kernel of the
  * near-dedup family. Value-identical to `size(array_intersect(a, b))` on
  * such inputs (shingle sets are distinct by construction; sortedness comes
  * from one `array_sort` per DOCUMENT upstream of the candidate join), but
  * `array_intersect` rebuilds a hash set of the left array and re-hashes
  * every element PER CANDIDATE PAIR — on a hot-bucket corpus that is the
  * dominant verify cost (scale_sf1: 240k candidates × ~2×300-element sets).
  * The merge does ~|A|+|B| byte-compares (UTF8String binary order — the
  * same ordering `array_sort` applies to strings), no hashing, no
  * allocation. Comparison order matters only for counting, so the count is
  * order-insensitive wrt which side is larger.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, Int](ArrayType(StringType)) {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  /** Null elements (legal for `containsNull=true` inputs; `array_sort`
    * places them LAST for ascending sort) can never be shared set members —
    * a null on either cursor means no further string match is possible, so
    * the merge stops there, matching `array_intersect` (null ∩ null is not
    * a string intersection hit on shingle sets, which never hold nulls). */
  def kernel(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb && !a.isNullAt(i) && !b.isNullAt(j)) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  def apply(l: Column, r: Column): Column =
    Bridge.column(SortedIntersectSize(Bridge.expression(l), Bridge.expression(r)))
}
