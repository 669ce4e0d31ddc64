package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType}

/** Count of positionally-equal bytes of two `array<tinyint>` signature
  * sketches — the pre-verify agreement test of the near-dedup banding joins
  * (`TextFunctions.sketchAgreeOk`).
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, (x,y) -> IF(x <=> y, 1, 0)), 0, (acc,v) -> acc+v)`
  * on equal-length null-free inputs, but that HOF spelling allocates a
  * 64-element array and evaluates two lambdas per ENUMERATED bucket pair —
  * measured at the 100× probe it put e2_minhash_lsh ~2.4× over its linear
  * curve (317 s vs ~130 s expected) because hot band buckets enumerate far
  * more pairs than survive the filter. This kernel is one fused byte loop,
  * no allocation, and keeps the join-condition evaluation inside
  * whole-stage codegen (the [[Kernel]] shape).
  *
  * Length mismatch (impossible for same-`numHashes` sketches) counts only
  * the common prefix; a null ELEMENT (impossible for sketches built by
  * `transform(mh, cast)` over non-null slots) never matches.
  */
case class SketchAgreement(left: Expression, right: Expression)
    extends BinaryKernel[ArrayData, Int](ArrayType(ByteType)) {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sketch_agreement"

  def kernel(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0; var c = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getByte(i) == b.getByte(i))
        c += 1
      i += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SketchAgreement =
    copy(left = newLeft, right = newRight)
}

object SketchAgreement {
  def apply(l: Column, r: Column): Column =
    Bridge.column(SketchAgreement(Bridge.expression(l), Bridge.expression(r)))
}
