package graft.expressions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** UTF-8 byte decisions shared by the text kernels. */
object Utf8 {

  /** Java regex `\s` as Spark's `split(c, "\\s+")` compiles it (no
    * UNICODE_CHARACTER_CLASS) is exactly the six ASCII bytes space, \t, \n,
    * \x0B, \f, \r; no UTF-8 continuation byte (≥ 0x80) equals one, so a
    * byte test finds the regex's token boundaries. */
  def isSpace(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)
}

/** The n-character grams of a UTF-8 byte string, in order: gram g spans
  * bytes [start(g), end(g)). `count` is 0 when the string has fewer than
  * n characters; n = 1 gives the characters themselves.
  *
  * Characters step by their lead byte's sequence length, so boundaries
  * match SQL `substring`/`length` code-point indexing on valid UTF-8. The
  * last character ends at the end of the input: a truncated last sequence
  * is one character ending at the last byte, never a read past the array
  * (Parquet strings and binary→string casts are not UTF-8-validated). */
final class Grams(val bytes: Array[Byte], n: Int) {
  // char start offsets, then bytes.length: char c is [starts(c), starts(c+1))
  private val starts = new Array[Int](bytes.length + 1)
  val count: Int = math.max(Grams.charStarts(bytes, starts) - n + 1, 0)
  def start(g: Int): Int = starts(g)
  def end(g: Int): Int = starts(g + n)

  /** Calls `fresh` once per distinct gram, in first-occurrence order, and
    * returns how many there were. Grams are distinct by XXH64 (seed 42 —
    * Spark's `xxhash64`) of their bytes, through an open-addressed long
    * table with 0 tracked by a flag: two grams colliding in XXH64 count
    * once, a ~2⁻⁴⁴ event per ~10³-gram document.
    *
    * Capacity math is in Long: for ~2^30-char inputs `count * 2` overflows
    * Int, which would leave the table undersized and turn the probe loop
    * into an unbounded spin once it fills. A table beyond 2^30 slots (an
    * 8 GiB single document) is refused loudly. */
  def distinct(kernel: String)(fresh: FreshGram): Int = {
    var capL = 4L
    while (capL < 2L * count) capL <<= 1
    if (capL > (1L << 30)) throw new IllegalArgumentException(
      s"$kernel: document with $count grams exceeds the 2^30-slot dedup " +
        "table; split the document first")
    val table = new Array[Long](capL.toInt)
    val mask = table.length - 1
    var zeroSeen = false
    var sz = 0
    var g = 0
    while (g < count) {
      val s = starts(g)
      val e = starts(g + n)
      val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + s, e - s, 42L)
      var isNew = false
      if (h == 0L) {
        isNew = !zeroSeen
        zeroSeen = true
      } else {
        var idx = (h & mask).toInt
        while (table(idx) != 0L && table(idx) != h) idx = (idx + 1) & mask
        if (table(idx) == 0L) { table(idx) = h; isNew = true }
      }
      if (isNew) { sz += 1; fresh(h, s, e) }
      g += 1
    }
    sz
  }
}

object Grams {
  /** Fills `starts` and returns the character count. A method of its own,
    * not a loop in the `count` initializer: there HotSpot skipped compiling
    * the constructor ("stack not empty at OSR entry point") and the walk
    * ran interpreted, several times slower. */
  private def charStarts(bytes: Array[Byte], starts: Array[Int]): Int = {
    var c = 0
    var i = 0
    while (i < bytes.length) {
      starts(c) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      c += 1
    }
    starts(c) = bytes.length
    c
  }
}

/** Callback of [[Grams.distinct]]: the gram's XXH64 and byte span. A SAM
  * type, so a lambda receives the primitives unboxed. */
trait FreshGram {
  def apply(h: Long, start: Int, end: Int): Unit
}
