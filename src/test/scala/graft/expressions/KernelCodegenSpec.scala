package graft.expressions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Generated code ≡ interpreted eval, byte for byte, for every kernel. Each
  * expression is compiled with `GenerateUnsafeProjection` (no interpreted
  * fallback) and run on bound input rows next to `expr.eval` on the same
  * rows; both results are compared as UnsafeRows. No Spark job runs.
  *
  * Inputs come from a fixed ScalaCheck seed: ASCII, 2-/3-/4-byte code
  * points, a truncated UTF-8 tail, empty strings and arrays, null inputs,
  * strings shorter than the shingle length, null array elements, and
  * vectors of mismatched length. */
class KernelCodegenSpec extends AnyFunSuite {

  private val piece: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf(" ", "\t", "\n", "-", "."),
    1 -> Gen.oneOf("é", "ö", "ß"),
    1 -> Gen.oneOf("日", "本", "語"),
    1 -> Gen.oneOf("😀", "𝄞"))
  private val plain: Gen[String] = Gen.listOf(piece).map(_.mkString)

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 9 -> g)
  private def array(g: Gen[Any]): Gen[Any] =
    Gen.listOf(g).map(xs => new GenericArrayData(xs.toArray))

  // a truncated tail: the first two bytes of 日 (e6 97 a5) end the string
  private val text: Gen[Any] = orNull(Gen.frequency(
    8 -> plain.map(UTF8String.fromString),
    1 -> Gen.const(UTF8String.EMPTY_UTF8),
    2 -> plain.map(s => UTF8String.fromBytes((s + "é日").getBytes(UTF_8).dropRight(1)))))
  private val word: Gen[UTF8String] = plain.map(UTF8String.fromString)
  private val words: Gen[Any] = orNull(array(word))
  private val wordsWithNulls: Gen[Any] = orNull(array(orNull(word)))
  private val sortedWords: Gen[Any] = orNull(Gen.listOf(word).map(ws =>
    new GenericArrayData(ws.distinct.sortWith(_.compareTo(_) < 0).toArray[Any])))
  private val vec: Gen[Any] = orNull(Gen.oneOf(8, 8, 8, 7, 0).flatMap(n =>
    Gen.listOfN(n, orNull(Gen.frequency(
      8 -> Gen.choose(-2.0, 2.0),
      1 -> Gen.oneOf(0.0, -0.0, 1e9, Double.NaN, Double.PositiveInfinity))))
      .map(xs => new GenericArrayData(xs.toArray))))
  private val sketch: Gen[Any] = orNull(array(orNull(Gen.choose(-3, 3).map(_.toByte))))

  private val bits: Array[Long] = {
    val r = new scala.util.Random(7)
    Array.fill(16)(r.nextLong())
  }

  /** Each kernel with the generator of each input column and its type. */
  private def cases(in: (Int, DataType) => Expression): Seq[(Expression, Seq[Gen[Any]])] = {
    val (str, strs, dbl, byt) =
      (StringType, ArrayType(StringType), ArrayType(DoubleType), ArrayType(ByteType))
    Seq(
      AdjacentPairs(in(0, strs)) -> Seq(words),
      ArrayElementCounts(in(0, strs)) -> Seq(words),
      BloomProbe(in(0, str), bits, 4, 7L) -> Seq(text),
      CharCounts(in(0, str)) -> Seq(text),
      DotProduct(in(0, dbl), in(1, dbl)) -> Seq(vec, vec),
      L2Micros(in(0, dbl), in(1, dbl)) -> Seq(vec, vec),
      LevWithin(in(0, str), in(1, str), 3) -> Seq(text, text),
      LshTableBuckets(in(0, dbl), 3, 5, 8) -> Seq(vec),
      MinHashSig(in(0, strs), 8) -> Seq(wordsWithNulls),
      ShingleMinHash(in(0, str), 3, 8) -> Seq(text),
      ShingleSet(in(0, str), 3) -> Seq(text),
      ShingleShaMin(in(0, str), 3) -> Seq(text),
      SimhashSig(in(0, str), useMd5 = false) -> Seq(text),
      SimhashSig(in(0, str), useMd5 = true) -> Seq(text),
      SketchAgreement(in(0, byt), in(1, byt)) -> Seq(sketch, sketch),
      SortedIntersectSize(in(0, strs), in(1, strs)) -> Seq(sortedWords, sortedWords),
      TokenStats(in(0, str)) -> Seq(text))
  }

  private def check(expr: Expression, rows: Seq[GenericInternalRow]): Unit = {
    val generated = GenerateUnsafeProjection.generate(Seq(expr))
    val toUnsafe = UnsafeProjection.create(Array(expr.dataType))
    rows.foreach { row =>
      val viaCodegen = generated(row).copy()
      val viaEval = toUnsafe(new GenericInternalRow(Array[Any](expr.eval(row)))).copy()
      assert(viaCodegen == viaEval, s"$expr on ${row.values.mkString("[", ", ", "]")}")
    }
  }

  test("every kernel's generated code agrees with its interpreted eval") {
    val nullableCases = cases((i, t) => BoundReference(i, t, nullable = true))
    val strictCases = cases((i, t) => BoundReference(i, t, nullable = false))
    assert(nullableCases.map(_._1.getClass).distinct.size == 16)
    nullableCases.zip(strictCases).zipWithIndex.foreach {
      case (((nullableExpr, gens), (strictExpr, _)), i) =>
        val rows = Gen.listOfN(150, Gen.sequence[Seq[Any], Any](gens))
          .pureApply(Gen.Parameters.default.withSize(24), Seed(1000L + i))
          .map(vs => new GenericInternalRow(vs.toArray))
        check(nullableExpr, rows)
        // inputs declared non-null take the codegen path without null checks
        check(strictExpr, rows.filterNot(_.values.contains(null)))
    }
  }
}
