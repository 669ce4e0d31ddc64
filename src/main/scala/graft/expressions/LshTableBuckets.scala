package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** All `tables` LSH bucket ids of a vector in one compiled kernel —
  * `array<struct<t:int, b:bigint>>`, bit p of table t set iff
  * dot(v, plane[t·planesPerTable + p]) > 0 with strict left-to-right
  * double accumulation (bit-identical to the DotProduct spelling, and to
  * the HOF fold before it).
  *
  * Why an expression and not 48 `vec_dot` columns: inlining the projection
  * as expressions embeds tables×planes literal weight arrays (3,072
  * doubles at 8×6×64) into ONE whole-stage-codegen method — far past the
  * JIT's ~8 KB huge-method bail-out, so the generated hashing code ran in
  * the BYTECODE INTERPRETER. The round-17 differential pin caught it:
  * corpus hashing was ~95 of e3_lsh_ann's ~99 s at 100× under both the
  * HOF and vec_dot spellings, while the identical candidate join +
  * re-rank served from the pre-hashed index costs 2.4 s. Here the plane
  * matrix rides along as a reference object and the generated code is one
  * method call; the hot loop is this pre-compiled kernel (~3 s at 100×).
  *
  * Degenerate inputs mirror the expression spelling exactly — including
  * the quirk that a NULL vector is not null output: every plane's dot is
  * NULL, every CASE takes its otherwise(0) branch, and the array() of
  * structs is itself non-null, so a null/wrong-length/null-element vector
  * lands in bucket 0 of every table (LshTableBucketsSpec pins all three).
  */
case class LshTableBuckets(child: Expression, tables: Int,
    planesPerTable: Int, dim: Int)
    extends UnaryKernel[ArrayData, GenericArrayData](ArrayType(DoubleType)) {

  require(tables > 0 && planesPerTable > 0 && planesPerTable <= 63)

  @transient private lazy val planes: Array[Array[Double]] =
    graft.functions.VectorFunctions.hyperplanes(tables * planesPerTable, dim)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("t", IntegerType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)
  override protected def acceptsNull: Boolean = true
  override def prettyName: String = "lsh_table_buckets"

  /** `vArr` may be null (the null-vector quirk above). */
  def kernel(vArr: ArrayData): GenericArrayData = {
    // null unless the vector is clean: non-null, dim long, no null element
    var v = if (vArr != null && vArr.numElements() == dim) new Array[Double](dim) else null
    var d = 0
    while (v != null && d < dim) {
      if (vArr.isNullAt(d)) v = null else v(d) = vArr.getDouble(d)
      d += 1
    }
    val out = new Array[Any](tables)
    var t = 0
    while (t < tables) {
      var b = 0L
      var p = 0
      while (v != null && p < planesPerTable) {
        val w = planes(t * planesPerTable + p)
        var acc = 0.0
        d = 0
        while (d < dim) { acc += v(d) * w(d); d += 1 }
        if (acc > 0) b |= 1L << p
        p += 1
      }
      out(t) = new GenericInternalRow(Array[Any](t, b)): InternalRow
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): LshTableBuckets =
    copy(child = newChild)
}

object LshTableBuckets {
  def apply(v: Column, tables: Int, planesPerTable: Int, dim: Int): Column =
    Bridge.column(LshTableBuckets(Bridge.expression(v), tables,
      planesPerTable, dim))
}
