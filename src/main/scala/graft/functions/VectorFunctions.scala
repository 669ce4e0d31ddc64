package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives over `array<float>` columns, computed with
  * higher-order functions (codegen'd, no UDF). Elements are widened to double
  * BEFORE multiplication so results are bit-compatible with an oracle that
  * does the same (float multiply then widen would differ).
  */
object VectorFunctions {

  def toDoubleArr(c: Column): Column = c.cast("array<double>")

  /** Dot product — a native codegen'd Catalyst expression
    * ([[graft.expressions.DotProduct]]): fused loop, no intermediate zipped
    * array, same semantics as the HOF spelling in [[dotHof]]. */
  def dot(a: Column, b: Column): Column = graft.expressions.DotProduct(a, b)

  /** HOF reference spelling of [[dot]] (kept for cross-checking; allocates a
    * zipped array per row). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Micro-quantized squared L2 — a native codegen'd expression
    * ([[graft.expressions.L2Micros]]): per-dim terms round((x−y)²·10⁶)
    * quantized to long BEFORE the sum, so the distance is exact integer
    * math (order- and engine-independent). */
  def l2Micros(a: Column, b: Column): Column = graft.expressions.L2Micros(a, b)

  /** HOF reference spelling of [[l2Micros]] (kept for cross-checking). */
  def l2MicrosHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, t) => acc + round(t * 1e6, 0).cast("long"))

  /** Cosine similarity via explicit dot/(|a||b|) — same shape as the oracle. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Deterministic pseudo-random hyperplane weights for cosine-LSH: a
    * splitmix64 stream keyed by (plane, dim), mapped to [-0.5, 0.5). Fully
    * reproducible across runs and engines — no RNG state. */
  def hyperplanes(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (p, d) =>
      val h = graft.expressions.SplitMix64(p.toLong * 1000003L + d)
      (h >>> 11).toDouble / (1L << 53).toDouble - 0.5
    }

  /** Sign-bit signature of `v` against `planes` → a bucket id in [0, 2^P).
    * REFERENCE spelling, kept for cross-checking the compiled kernel
    * below — as a plan expression at 8×6×64 it embeds 3,072 literal
    * doubles into the whole-stage-codegen method, which blows the JIT's
    * huge-method limit and drops the hashing into the bytecode
    * interpreter (~100 s of e3_lsh_ann's 100× cost; see
    * [[graft.expressions.LshTableBuckets]]). */
  def lshBucket(v: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (w, p) =>
      val proj = dot(v, typedLit(w.toSeq))
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Multi-table LSH buckets: `tables` independent hash tables of
    * `planesPerTable` hyperplanes each. A pair collides if it shares a bucket
    * in ANY table — recall 1 − (1 − p^k)^L for per-plane agreement p. Returns
    * one struct(table, bucket) per table, ready to explode. One compiled
    * kernel holding the plane matrix as a reference object
    * ([[graft.expressions.LshTableBuckets]]), bit-identical to
    * [[lshTableBucketsRef]]. */
  def lshTableBuckets(v: Column, tables: Int, planesPerTable: Int,
                      dim: Int): Column =
    graft.expressions.LshTableBuckets(v, tables, planesPerTable, dim)

  /** Reference expression spelling of [[lshTableBuckets]] (kept for
    * cross-checking, the dotHof pattern; do not use in a query plan — see
    * [[lshBucket]]'s huge-method note). */
  def lshTableBucketsRef(v: Column, tables: Int, planesPerTable: Int,
                         dim: Int): Column = {
    val planes = hyperplanes(tables * planesPerTable, dim)
    val cols = (0 until tables).map { t =>
      val slice = planes.slice(t * planesPerTable, (t + 1) * planesPerTable)
      struct(lit(t).as("t"), lshBucket(v, slice).as("b"))
    }
    array(cols: _*)
  }
}
