package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}

/** Adjacent element pairs of a string array in one compiled pass —
  * `array<struct<w1:string, w2:string>>` with entry i = (a[i], a[i+1]),
  * n−1 entries, empty for arrays shorter than 2. The map-side form of the
  * bigram extraction e4_bigram_logprob previously ran as
  * `posexplode(tokens) → Window(lead over (doc_id, pos)) → filter`: that
  * spelling shuffles and sorts the corpus at TOKEN grain purely to pair
  * each token with its successor, when the successor is already the next
  * array slot of the row the tokens came from. Pairing inside the row
  * removes the token-grain Exchange+Sort+Window entirely; the first thing
  * that crosses a wire is the (doc, w1, w2) partial-aggregated count.
  * (The HOF spelling — zip_with over two slices — was measured ~6× slower
  * than the window at sf0.1 because HOF lambdas don't codegen and
  * re-evaluate their input arrays; this is a single compiled walk.)
  *
  * Equivalence to the window spelling: posexplode emits (pos, token) in
  * array order, lead(1) over pos pairs each token with its successor, the
  * null-filter drops the last token — exactly the (a[i], a[i+1]) pairs in
  * order. Null ELEMENTS cannot occur in tokenizer output (split never
  * yields null and the non-empty filter keeps strings); a null element in
  * some other caller's array would have produced null lead pairs that the
  * window spelling's isNotNull filter drops, so this expression refuses
  * arrays with null elements loudly rather than guessing.
  */
case class AdjacentPairs(child: Expression)
    extends UnaryKernel[ArrayData, GenericArrayData](ArrayType(StringType)) {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "adjacent_pairs"

  def kernel(a: ArrayData): GenericArrayData = {
    val n = a.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev = a.getUTF8String(0)
    var i = 0
    while (i < n - 1) {
      val next = a.getUTF8String(i + 1)
      if (prev == null || next == null) throw new IllegalArgumentException(
        "adjacent_pairs: null array element")
      out(i) = new GenericInternalRow(Array[Any](prev, next)): InternalRow
      prev = next
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): AdjacentPairs =
    copy(child = newChild)
}

object AdjacentPairs {
  def apply(c: Column): Column = Bridge.column(AdjacentPairs(Bridge.expression(c)))
}
