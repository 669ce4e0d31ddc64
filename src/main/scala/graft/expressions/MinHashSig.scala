package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Whole MinHash signature in one per-row kernel: for an `array<string>` of
  * shingles, hash each element once (Spark's xxhash64 semantics — XXH64 over
  * the UTF8 bytes, seed 42; a null element folds the bare seed, exactly as
  * `xxhash64(null)` leaves the accumulator at the seed) and fold k
  * universal-hash minima `min_i(a_i·h + b_i)` (odd `a_i` from splitmix64,
  * signed-long compare — bit-identical to the previous
  * `explode → xxhash64 → k × min-agg` formulation, which pushed one row per
  * shingle through a 64-buffer hash aggregate). Here the signature never
  * leaves the scan projection: no explode, no aggregation state, no shuffle.
  */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryKernel[ArrayData, GenericArrayData](ArrayType(StringType)) {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  @transient private lazy val slots = new MinHashSlots(k)

  def kernel(arr: ArrayData): GenericArrayData = {
    val mins = slots.empty
    var j = 0
    while (j < arr.numElements()) {
      // null elements fold the seed itself — xxhash64's semantics for a
      // null input — so arrays with containsNull=true are handled, not UB
      val h = if (arr.isNullAt(j)) 42L else {
        val s = arr.getUTF8String(j)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      }
      slots.fold(h, mins)
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  def apply(c: Column, k: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(c), k))
}
