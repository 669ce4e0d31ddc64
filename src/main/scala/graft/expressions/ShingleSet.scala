package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct character n-grams of a string in one compiled pass — the native
  * form of `array_distinct(transform(sequence(1, length(s)-n+1),
  * i => substring(s, i, n)))`, which pays interpreted-lambda dispatch per
  * SHINGLE in Spark 4 (HOF lambdas don't codegen) and re-scans the string
  * per substring call. Here the char start offsets are computed once
  * (UTF-8 aware, so semantics match SQL `substring`'s codepoint indexing for
  * multi-byte text), each shingle is a byte-range slice, and first-occurrence
  * dedup runs through one hash set — exactly `array_distinct`'s order, so
  * the swap is bit-identical to the HOF spelling, including the empty array
  * for strings shorter than n. Dominated e2_minhash_lsh / e2_ngram_jaccard /
  * e4_fingerprint before the swap (~4 s of a ~5 s query at sf0.1).
  */
case class ShingleSet(child: Expression, n: Int)
    extends UnaryKernel[UTF8String, GenericArrayData](StringType) {

  require(n > 0, s"shingle length must be positive, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"

  def kernel(s: UTF8String): GenericArrayData = {
    val grams = new Grams(s.getBytes, n)
    val seen = new java.util.LinkedHashSet[UTF8String](grams.count * 2)
    var g = 0
    while (g < grams.count) {
      val start = grams.start(g)
      seen.add(UTF8String.fromBytes(grams.bytes, start, grams.end(g) - start))
      g += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

object ShingleSet {
  def apply(c: Column, n: Int): Column =
    Bridge.column(ShingleSet(Bridge.expression(c), n))
}
