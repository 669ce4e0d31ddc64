package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All-k-bits-set Bloom membership probe of a string key in one compiled
  * kernel — the native form of `BloomFilter.mightContain`'s expression
  * spelling (forall over sequence(0, k−1) of element_at(bitsLit, …) bit
  * tests). Two reasons the expression spelling is slow at corpus scale,
  * both found by the round-17 plan audit: higher-order functions are
  * CodegenFallback (every probe of every shingle pays interpreted
  * dispatch), and the m/64-long bit array rides the plan as a LITERAL —
  * re-rendered per probe via element_at and ballooning the plan (the
  * e2_decontaminate_bloom formatted plan was 163 KB). Here the bit array
  * is a kernel member (one reference object), the two xxhash64 draws are
  * computed once per key, and the k double-hashed probes are a compiled
  * loop.
  *
  * Hash identity (pinned by BloomProbeSpec against the expression
  * spelling): Spark's `xxhash64(c)` is XxHash64Function.hash(c, seed 42),
  * and `xxhash64(c, lit(seed2))` FOLDS — h2 = hashLong(seed2, h1), not
  * "h1 with a different seed". The kernel reproduces the fold exactly —
  * including on NULL keys, which xxhash64 SKIPS (the hash stays at its
  * seed), so the expression spelling probes a concrete position for null
  * and this kernel does the identical thing rather than null-propagating.
  */
case class BloomProbe(child: Expression, bits: Array[Long], k: Int,
    seed2: Long) extends UnaryKernel[UTF8String, Boolean](StringType) {

  require(Integer.bitCount(bits.length * 64) == 1,
    s"m=${bits.length * 64} not a power of two")
  require(k > 0)

  override def dataType: DataType = BooleanType
  override protected def acceptsNull: Boolean = true
  override def prettyName: String = "bloom_probe"

  /** `s` may be null (the xxhash64 null-skip above). */
  def kernel(s: UTF8String): Boolean = {
    val mMask = bits.length * 64L - 1L
    val h1 = if (s == null) 42L else XxHash64Function.hash(s, StringType, 42L)
    val h2 = XxHash64Function.hash(seed2, LongType, h1)
    var i = 0
    while (i < k) {
      val p = (h1 + i.toLong * h2) & mMask
      if (((bits((p >>> 6).toInt) >>> (p & 63L).toInt) & 1L) != 1L)
        return false
      i += 1
    }
    true
  }

  override protected def withNewChildInternal(newChild: Expression): BloomProbe =
    copy(child = newChild)
}

object BloomProbe {
  def apply(c: Column, bits: Array[Long], k: Int, seed2: Long): Column =
    Bridge.column(BloomProbe(Bridge.expression(c), bits, k, seed2))
}
