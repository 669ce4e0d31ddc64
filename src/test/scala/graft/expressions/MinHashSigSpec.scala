package graft.expressions

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec

/** Kernel semantics of [[MinHashSig]]: parity with the explode+xxhash64
  * formulation it replaced, including its null-element behavior (a null
  * folds the bare seed — `xxhash64(null)` = 42), and codegen/interpreted
  * agreement. */
class MinHashSigSpec extends SparkSpec {

  private val k = 8

  test("signature equals the explode → xxhash64 → k×min-agg formulation") {
    import spark.implicits._
    val docs = Seq((0L, Seq("abcde", "bcdef", "cdefg")),
      (1L, Seq("zzzzz")), (2L, Seq("abcde", "zzzzz")))
      .toDF("doc_id", "shset")
    val kernel = docs.select(col("doc_id"), MinHashSig(col("shset"), k).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // reference formulation: one row per shingle, k min-aggregates over the
    // same universal hash family (constants re-derived identically)
    val e = MinHashSig(Bridge.expression(lit(null).cast("array<string>")), k)
    val (as, bs) = {
      def sm(seed: Long): Long = {
        var z = seed + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      ((0 until k).map(i => sm(2L * i) | 1L), (0 until k).map(i => sm(2L * i + 1)))
    }
    val exploded = docs.select(col("doc_id"), explode(col("shset")).as("s"))
      .withColumn("h", xxhash64(col("s")))
    val minAggs = (0 until k).map(i => min(col("h") * as(i) + bs(i)).as(s"m$i"))
    val ref = exploded.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong)).toMap
    assert(e != null) // constants-path smoke
    kernel.foreach { case (id, sig) => assert(sig == ref(id), s"doc $id") }
  }

  test("null elements fold the seed (xxhash64(null) semantics), no crash") {
    val expr = MinHashSig(Bridge.expression(lit(null).cast("array<string>")), k)
    val withNull = expr.kernel(new GenericArrayData(
      Array[Any](UTF8String.fromString("abcde"), null)))
    // folding a null ≡ folding a pseudo-element whose hash is the seed 42
    val as = (0 until k).map { i =>
      def sm(seed: Long): Long = {
        var z = seed + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      (sm(2L * i) | 1L, sm(2L * i + 1))
    }
    val only = expr.kernel(new GenericArrayData(
      Array[Any](UTF8String.fromString("abcde"))))
    (0 until k).foreach { i =>
      val (a, b) = as(i)
      val expected = math.min(only.getLong(i), 42L * a + b)
      assert(withNull.getLong(i) == expected, s"slot $i")
    }
  }

  test("codegen and interpreted paths agree") {
    import spark.implicits._
    val docs = Seq((0L, Seq("abcde", "bcdef"))).toDF("doc_id", "shset")
    val viaPlan = docs.select(MinHashSig(col("shset"), k)).head.getSeq[Long](0)
    val direct = MinHashSig(Bridge.expression(col("shset")), k).kernel(
      new GenericArrayData(Array[Any](UTF8String.fromString("abcde"),
        UTF8String.fromString("bcdef"))))
    assert(viaPlan == (0 until k).map(direct.getLong))
  }
}
