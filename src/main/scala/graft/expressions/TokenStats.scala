package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The four e4_token_stats statistics in one compiled UTF-8 walk —
  * `struct<n_tokens, n_unique, char_sum, n_bpe: bigint>`, bit-identical to
  * the staged spelling
  *
  *   toks     = filter(split(text, "\\s+"), t => t =!= "")
  *   n_tokens = size(toks)
  *   n_unique = size(array_distinct(toks))
  *   char_sum = aggregate(toks, 0L, (acc, t) => acc + length(t))
  *   n_bpe    = size(regexp_extract_all(text, "[a-z]+|[0-9]+|[^a-z0-9 ]"))
  *
  * which pays a java.util.regex split per document, then walks the token
  * array three more times through interpreted higher-order functions
  * (`filter` and `aggregate` lambdas are CodegenFallback), then runs a
  * SECOND full regex scan just to count BPE-ish pieces it materializes as
  * strings and throws away. Here both scans collapse into two plain byte
  * walks and one small per-row hash set (distinct tokens), no regex, no
  * interpreted lambda dispatch, no piece array.
  *
  * Equivalence argument (valid UTF-8 input, like [[CharCounts]] /
  * [[ShingleSet]]):
  *
  *  - Java regex `\s` (no UNICODE_CHARACTER_CLASS flag — Spark's `split`
  *    compiles the pattern as-is) is exactly the six ASCII characters
  *    {space, \t, \n, \x0B, \f, \r}. All six are single-byte code points
  *    and no UTF-8 continuation byte equals them, so the non-empty
  *    split-by-`\s+` tokens are exactly the maximal byte runs containing
  *    no ws byte. Leading/trailing separator empties are filtered by the
  *    reference spelling and never produced here.
  *  - `length(t)` is `UTF8String.numChars` — a walk by
  *    `numBytesForFirstByte` steps; the in-token `chars` counter below
  *    takes identical steps.
  *  - `array_distinct` compares strings by UTF-8 bytes (UTF8_BINARY);
  *    so does the HashSet of token slices.
  *  - Java regex alternation scans left to right: at a position in
  *    [a-z] the greedy `[a-z]+` consumes the maximal letter run (one
  *    piece), else at [0-9] the digit run, else a single ' ' matches no
  *    alternative and is skipped, else `[^a-z0-9 ]` consumes exactly ONE
  *    code point (Java regex char classes are code-point aware —
  *    supplementary characters count once, not per surrogate; pinned by
  *    TokenStatsSpec's astral case). The byte walk below reproduces that
  *    piece count directly.
  *
  * Null text → null struct, matching the reference spelling where every
  * statistic is null (size(null) = null since Spark 3.0, aggregate(null)
  * = null).
  */
case class TokenStats(child: Expression)
    extends UnaryKernel[UTF8String, InternalRow](StringType) {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_unique", LongType, nullable = false),
    StructField("char_sum", LongType, nullable = false),
    StructField("n_bpe", LongType, nullable = false)))
  override def prettyName: String = "token_stats"

  def kernel(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    val total = bytes.length
    // pass 1: whitespace tokens — count, distinct count, char sum
    var nTokens = 0L
    var charSum = 0L
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < total) {
      if (Utf8.isSpace(bytes(i))) i += 1
      else {
        val start = i
        var chars = 0L
        while (i < total && !Utf8.isSpace(bytes(i))) {
          i += UTF8String.numBytesForFirstByte(bytes(i))
          chars += 1
        }
        val end = math.min(i, total) // malformed tail can overshoot
        nTokens += 1
        charSum += chars
        seen.add(UTF8String.fromBytes(bytes, start, end - start))
      }
    }
    // pass 2: BPE-ish pieces — letter runs, digit runs, single non-space
    // code points
    var nBpe = 0L
    i = 0
    while (i < total) {
      val b = bytes(i)
      if (b >= 'a'.toByte && b <= 'z'.toByte) {
        nBpe += 1
        i += 1
        while (i < total && bytes(i) >= 'a'.toByte && bytes(i) <= 'z'.toByte)
          i += 1
      } else if (b >= '0'.toByte && b <= '9'.toByte) {
        nBpe += 1
        i += 1
        while (i < total && bytes(i) >= '0'.toByte && bytes(i) <= '9'.toByte)
          i += 1
      } else if (b == 0x20.toByte) {
        i += 1
      } else {
        nBpe += 1
        i += UTF8String.numBytesForFirstByte(b)
      }
    }
    new GenericInternalRow(
      Array[Any](nTokens, seen.size.toLong, charSum, nBpe))
  }

  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
}

object TokenStats {
  def apply(c: Column): Column = Bridge.column(TokenStats(Bridge.expression(c)))
}
