package graft.expressions

import java.security.MessageDigest
import java.util.{Arrays, HexFormat}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused document fingerprint: `struct(fp, sz)` where `fp` is the minimum
  * SHA-256 (lowercase hex) over the string's distinct character-n-grams and
  * `sz` their count — one pass over the bytes, no intermediate
  * `array<string>` shingle set, no per-gram hex strings.
  *
  * Why it exists: the staged spelling
  * `explode(shingles(text, n)) → sha2(sh, 256) → groupBy(min, count)`
  * materializes one `UTF8String` per shingle, one 64-char hex string per
  * shingle, and an explode row per shingle, then min-aggregates over hex
  * STRINGS — at a 50k-doc fixture that is ~10⁸ short-lived allocations for
  * a result that is 72 bytes per doc. This kernel walks the string's
  * [[Grams]] and dedups them through the XXH64 table [[ShingleMinHash]]
  * uses ([[Grams.distinct]]), computes SHA-256 only for table-fresh grams
  * on a reused MessageDigest, and keeps the running minimum DIGEST
  * (unsigned byte-lexicographic — identical ordering to the lowercase-hex
  * string comparison, since hex encoding is monotone in the byte value).
  * One hex conversion per document, at the end.
  *
  * Parity caveat (the [[ShingleMinHash]] `sz` quote, same class): grams
  * are deduped by 64-bit XXH64, so two distinct grams colliding in XXH64
  * (~2⁻⁴⁴ per ~10³-gram doc) would drop one gram's SHA-256 from both the
  * count and the min candidates. Quoted because the DuckDB oracle computes
  * exact string-distinct; the failure mode should be on the record.
  *
  * Returns null for strings with fewer than n characters — the staged
  * form's explode simply drops such docs; callers filter nulls.
  */
case class ShingleShaMin(child: Expression, n: Int)
    extends UnaryKernel[UTF8String, InternalRow](StringType) {

  require(n > 0, s"shingle length must be positive, got $n")

  override def dataType: DataType = StructType(Seq(
    StructField("fp", StringType, nullable = false),
    StructField("sz", IntegerType, nullable = false)))
  override protected def returnsNull: Boolean = true
  override def prettyName: String = "shingle_sha_min"

  def kernel(s: UTF8String): InternalRow = {
    val grams = new Grams(s.getBytes, n)
    if (grams.count == 0) return null
    val md = MessageDigest.getInstance("SHA-256")
    var min: Array[Byte] = null
    val sz = grams.distinct(prettyName) { (_, start, end) =>
      md.update(grams.bytes, start, end - start)
      val d = md.digest()
      if (min == null || Arrays.compareUnsigned(d, min) < 0) min = d
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(HexFormat.of().formatHex(min)), sz))
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleShaMin =
    copy(child = newChild)
}

object ShingleShaMin {
  def apply(c: Column, n: Int): Column =
    Bridge.column(ShingleShaMin(Bridge.expression(c), n))
}
