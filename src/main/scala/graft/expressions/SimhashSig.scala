package graft.expressions

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document SimHash signature: tokenize, hash every token
  * occurrence, vote 64 bits, emit the packed sh64 — one pass per document,
  * no exploded token rows, no 64-column vote aggregate, no shuffle for the
  * signing stage at all.
  *
  * Why it exists: the staged spelling
  * `explode(tokens(text)) → tokenHash → groupBy(doc).agg(64 vote sums)`
  * ships one row per token into a 64-column partial aggregate (and, on the
  * oracle-portable md5 path, allocates an md5 hex string + a base-16
  * `conv` per token). The kernel folds all of it into a projection.
  *
  * BIT-PARITY CONTRACT with the staged form (SimhashSigSpec pins it):
  *  - tokens: Java-regex `split("\\s+", -1)` with empties dropped —
  *    exactly Spark's `filter(split(c, "\\s+"), _ =!= "")`;
  *  - `useMd5 = false`: XXH64 over the token's UTF-8 bytes, seed 42 —
  *    exactly `xxhash64(t)`;
  *  - `useMd5 = true`: the first 15 lowercase-hex chars of md5, parsed
  *    base-16 (a 60-bit value) — exactly
  *    `conv(substring(md5(t), 1, 15), 16, 10) cast long`
  *    ([[graft.functions.TextFunctions.md5Hash60]]), which is what DuckDB
  *    replays;
  *  - votes count every occurrence (not distinct tokens); bit b of the
  *    output is set when its vote sum is STRICTLY positive; a token-less
  *    document signs as 0L (the staged form's left-join null → 0).
  */
case class SimhashSig(child: Expression, useMd5: Boolean)
    extends UnaryKernel[UTF8String, Long](StringType) {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  /** Tokenization walks the UTF-8 BYTES directly: [[Utf8.isSpace]] finds
    * exactly the staged form's token byte-spans — with zero per-token
    * allocation (the first cut of this kernel round-tripped through
    * String + regex split + per-token re-encode and measured 4× SLOWER
    * than the staged pipeline on a 50k-doc natural corpus; the byte walk
    * is what makes fusing pay).
    */
  def kernel(s: UTF8String): Long = {
    val bytes = s.getBytes
    val votes = new Array[Int](64)
    val md = if (useMd5) MessageDigest.getInstance("MD5") else null
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && Utf8.isSpace(bytes(i))) i += 1
      val start = i
      while (i < bytes.length && !Utf8.isSpace(bytes(i))) i += 1
      if (i > start) {
        val h =
          if (!useMd5)
            XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start, 42L)
          else {
            md.update(bytes, start, i - start)
            // first 15 hex chars = the top 60 bits of the first 8 bytes
            ByteBuffer.wrap(md.digest()).getLong >>> 4
          }
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var sh = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sh |= (1L << b)
      b += 1
    }
    sh
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashSig =
    copy(child = newChild)
}

object SimhashSig {
  def apply(c: Column, useMd5: Boolean): Column =
    Bridge.column(SimhashSig(Bridge.expression(c), useMd5))
}
