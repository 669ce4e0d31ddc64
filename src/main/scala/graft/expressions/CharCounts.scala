package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-code-point occurrence counts of a string in one compiled pass —
  * `array<struct<c:string, cnt:bigint>>`, one entry per distinct code point
  * in first-occurrence order. The native form of
  * `explode(regexp_extract_all(text, '[\s\S]', 0))` followed by a
  * `groupBy(doc_id, c).count()`: the regex spelling pays a java.util.regex
  * match per CHARACTER and the explode turns every character into a row
  * that the (doc, char) hash aggregate must re-group — at the 100× fixture
  * that was two scans × (per-char regex + explode + hash-agg) of ~1e9
  * characters for an alphabet-bounded result. Here the counts come off a
  * single UTF-8 walk (code-point slicing exactly like [[ShingleSet]], so
  * multi-byte text matches Java regex's code-point iteration), one small
  * hash map per row, alphabet-sized output.
  *
  * Equivalence to the regex+groupBy spelling: `[\s\S]` matches every code
  * point exactly once (Java regex char classes are code-point aware, and
  * the class is the universal set), so the extracted array is the string's
  * code-point sequence and the group counts are per-code-point occurrence
  * counts — the row set `explode(this)` yields. Empty string → empty
  * array (explode then drops the row, matching the regex path).
  */
case class CharCounts(child: Expression)
    extends UnaryKernel[UTF8String, GenericArrayData](StringType) {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("c", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "char_counts"

  /** ASCII strings (the overwhelming case for a text corpus) count through
    * a flat 128-slot array — no per-character hashing or boxing; the first
    * multi-byte character falls back to counting the string's [[Grams]] of
    * one character in a [[Counts]] map, restarted from offset 0 so
    * first-occurrence order is computed over the whole string. Both paths
    * emit first-occurrence order. */
  def kernel(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    val cnt = new Array[Long](128)
    val order = new Array[Byte](128)
    var nSeen = 0
    var i = 0
    while (i < bytes.length && bytes(i) >= 0) {
      val b = bytes(i)
      if (cnt(b) == 0L) { order(nSeen) = b; nSeen += 1 }
      cnt(b) += 1L
      i += 1
    }
    if (i == bytes.length) return new GenericArrayData(Array.tabulate[Any](nSeen) { j =>
      val b = order(j)
      new GenericInternalRow(Array[Any](UTF8String.fromBytes(Array(b)), cnt(b))): InternalRow
    })
    val chars = new Grams(bytes, 1)
    val counts = new Counts
    var c = 0
    while (c < chars.count) {
      val start = chars.start(c)
      val ch = UTF8String.fromBytes(bytes, start, chars.end(c) - start)
      val slot = counts.get(ch)
      if (slot == null) counts.put(ch, Array(1L)) else slot(0) += 1L
      c += 1
    }
    counts.rows
  }

  override protected def withNewChildInternal(newChild: Expression): CharCounts =
    copy(child = newChild)
}

object CharCounts {
  def apply(c: Column): Column = Bridge.column(CharCounts(Bridge.expression(c)))
}
