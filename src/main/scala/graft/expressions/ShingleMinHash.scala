package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle + MinHash signature: `struct(sz, mh)` where `sz` is the
  * distinct character-n-gram count and `mh` the k-slot MinHash signature —
  * computed in ONE pass over the string's bytes with NO intermediate
  * `array<string>` shingle set.
  *
  * Why it exists: the staged spelling `MinHashSig(ShingleSet(text))`
  * allocates one `UTF8String` per shingle plus a per-row `LinkedHashSet`
  * and a `GenericArrayData` — and when the signature table is then
  * `localCheckpoint`ed for the banding self-join, every one of those
  * shingle strings is serialized into the block store. On a 50k-doc natural
  * corpus the shingle materialization + checkpoint was 6.8 s of a 9.5 s
  * `e2_minhash_lsh` (ProfileLshSkew, round 8); the signature itself is
  * ~500 B/doc. This kernel hashes each gram as a zero-copy byte-range slice
  * (XXH64 over the identical bytes `MinHashSig` hashes, seed 42, same
  * splitmix64 (aᵢ, bᵢ) schedule — the `mh` output is BIT-IDENTICAL to the
  * staged form), dedups through an open-addressed long table, and emits
  * only `(sz, mh)`. Exact shingle sets are then rebuilt ONLY for the docs
  * that survive banding (candidate verify), which is O(candidates), not
  * O(corpus).
  *
  * `sz` counts distinct 64-bit gram hashes, not distinct gram strings: two
  * distinct grams colliding in XXH64 would undercount by one. At ~10³
  * grams/doc that is a ~2⁻⁴⁴ per-doc event — quoted here because the
  * size-ratio prune's losslessness argument consumes `sz`, and its failure
  * mode should be on the record, not discovered.
  *
  * Returns null for strings with fewer than n characters (no shingles) —
  * callers filter on null, mirroring the `size(shset) > 0` guard of the
  * staged form.
  */
case class ShingleMinHash(child: Expression, n: Int, k: Int)
    extends UnaryKernel[UTF8String, InternalRow](StringType) {

  require(n > 0, s"shingle length must be positive, got $n")
  require(k > 0, s"signature size must be positive, got $k")

  override def dataType: DataType = StructType(Seq(
    StructField("sz", IntegerType, nullable = false),
    StructField("mh", ArrayType(LongType, containsNull = false),
      nullable = false)))
  override protected def returnsNull: Boolean = true
  override def prettyName: String = "shingle_minhash"

  @transient private lazy val slots = new MinHashSlots(k)

  def kernel(s: UTF8String): InternalRow = {
    val grams = new Grams(s.getBytes, n)
    if (grams.count == 0) return null
    val mins = slots.empty
    val sz = grams.distinct(prettyName)((h, _, _) => slots.fold(h, mins))
    new GenericInternalRow(Array[Any](sz, new GenericArrayData(mins)))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleMinHash =
    copy(child = newChild)
}

object ShingleMinHash {
  def apply(c: Column, n: Int, k: Int): Column =
    Bridge.column(ShingleMinHash(Bridge.expression(c), n, k))
}
