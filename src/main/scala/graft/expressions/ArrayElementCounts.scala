package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-element occurrence counts of a string array in one compiled pass —
  * `array<struct<t:string, cnt:bigint>>`, one entry per distinct element
  * in first-occurrence order. The [[CharCounts]] pattern applied to the
  * (doc, term) grain: `explode(arr)` + `groupBy(doc_id, t).count()` turns
  * every token occurrence into a row that the hash aggregate re-groups,
  * when the grouping key is doc-local by construction — the counts come
  * off one small hash map inside the row, and only term-grain rows ever
  * exist. Exploding this yields exactly the rows of the explode+groupBy
  * spelling (parity pinned by ArrayElementCountsSpec).
  *
  * Null ELEMENTS would have been dropped by neither spelling identically
  * (groupBy treats null as a key; tokenizer output never contains null),
  * so like AdjacentPairs this refuses them loudly rather than guessing.
  */
case class ArrayElementCounts(child: Expression)
    extends UnaryKernel[ArrayData, GenericArrayData](ArrayType(StringType)) {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("t", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "array_element_counts"

  def kernel(a: ArrayData): GenericArrayData = {
    val n = a.numElements()
    val counts = new Counts
    var i = 0
    while (i < n) {
      val t = a.getUTF8String(i)
      if (t == null) throw new IllegalArgumentException(
        "array_element_counts: null array element")
      val slot = counts.get(t)
      if (slot == null) counts.put(t, Array(1L)) else slot(0) += 1L
      i += 1
    }
    counts.rows
  }

  override protected def withNewChildInternal(
      newChild: Expression): ArrayElementCounts =
    copy(child = newChild)
}

object ArrayElementCounts {
  def apply(c: Column): Column =
    Bridge.column(ArrayElementCounts(Bridge.expression(c)))
}

/** Occurrence counts of strings, emitted as `(value, count)` struct rows in
  * first-occurrence order — deterministic output (order is irrelevant to
  * every consumer, which re-aggregates, but a deterministic expression must
  * not depend on hash iteration order). */
private[expressions] final class Counts
    extends java.util.LinkedHashMap[UTF8String, Array[Long]] {

  def rows: GenericArrayData = {
    val out = new Array[Any](size)
    val it = entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new GenericInternalRow(Array[Any](e.getKey, e.getValue()(0))): InternalRow
      j += 1
    }
    new GenericArrayData(out)
  }
}
