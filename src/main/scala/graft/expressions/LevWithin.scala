package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Thresholded edit distance: `levenshtein(a, b)` when it is ≤ `t`, else
  * `-1` — the verify kernel of the blocked near-pair family
  * ([[graft.operators.EditBlock]]). Exact on the ≤ t set (the value it
  * reports IS the Levenshtein distance), so swapping it for
  * `levenshtein(a,b) <= t` changes nothing about the output; the win is
  * the REJECT path, which is where a blocked join on a low-entropy corpus
  * spends its time (scale_sf1: 204M joined rows verify down to 582 pairs —
  * full-matrix levenshtein there is ~70 s of the 76 s query).
  *
  * Ukkonen's banding (public algorithm): cells farther than `t` off the
  * diagonal can never contribute to a distance ≤ t, so each DP row
  * evaluates a (2t+1)-wide band instead of all `m` columns, and the scan
  * stops the moment the band's row minimum exceeds `t` — a random
  * non-match exits after a handful of rows instead of filling n×m cells.
  * Codepoint-indexed like SQL `levenshtein` (UTF8String semantics), so
  * multi-byte text matches the built-in, not UTF-16 code units.
  */
case class LevWithin(left: Expression, right: Expression, t: Int)
    extends BinaryKernel[UTF8String, Int](StringType) {

  require(t >= 0, s"threshold must be >= 0, got $t")

  override def dataType: DataType = IntegerType
  override def prettyName: String = "lev_within"

  private def codePoints(s: UTF8String): Array[Int] = {
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    val out = new Array[Int](n)
    var i = 0; var c = 0
    while (c < n) {
      val cp = str.codePointAt(i)
      out(c) = cp
      i += Character.charCount(cp)
      c += 1
    }
    out
  }

  /** The banded kernel. ASCII inputs (the overwhelming case for the
    * blocked-verify corpora) take a zero-allocation path: bytes ARE code
    * points, so the DP indexes
    * `UTF8String.getByte` directly — no `toString`, no code-point arrays —
    * and the two band rows come from a per-thread scratch buffer instead
    * of two fresh allocations per pair. At the 100× routed row the kernel
    * runs ~4×10⁸ times and the per-call garbage (String + char[] + 2×int[]
    * per side) was the verify stage's dominant allocation churn. The
    * non-ASCII path keeps the original array spelling bit-for-bit. */
  def kernel(ls: UTF8String, rs: UTF8String): Int =
    if (ls.isFullAscii && rs.isFullAscii) distAscii(ls, rs)
    else distGeneric(codePoints(ls), codePoints(rs))

  private def distAscii(ls: UTF8String, rs: UTF8String): Int = {
    // DP over the shorter string's columns keeps the band row small
    val (x, y) = if (ls.numBytes >= rs.numBytes) (ls, rs) else (rs, ls)
    val n = x.numBytes; val m = y.numBytes
    if (n - m > t) return -1
    if (m == 0) return if (n <= t) n else -1
    val INF = t + 1
    // one thread-local buffer carries both rolling rows: prev at [po, po+m],
    // cur at [co, co+m]; each call re-initialises the full [0, m] range of
    // both rows, so cross-call reuse cannot leak state (the band-growth
    // argument for why stale cells right of the band are never read is the
    // same as the array spelling's — they are re-set to INF here).
    val buf = LevWithin.rowBuffer(m + 1)
    var po = 0; var co = m + 1
    var j = 0
    while (j <= m) {
      buf(po + j) = if (j <= t) j else INF
      buf(co + j) = INF
      j += 1
    }
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - t); val hi = math.min(m, i + t)
      buf(co + lo - 1) = if (lo == 1) math.min(i, INF) else INF
      var rowMin = INF
      val xi = x.getByte(i - 1)
      j = lo
      while (j <= hi) {
        val sub = buf(po + j - 1) + (if (xi == y.getByte(j - 1)) 0 else 1)
        val del = buf(po + j) + 1
        val ins = buf(co + j - 1) + 1
        var v = if (sub < del) sub else del
        if (ins < v) v = ins
        if (v > INF) v = INF
        buf(co + j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > t) return -1
      val tmp = po; po = co; co = tmp
      i += 1
    }
    if (buf(po + m) <= t) buf(po + m) else -1
  }

  private def distGeneric(a: Array[Int], b: Array[Int]): Int = {
    // DP over the shorter string's columns keeps the band allocation small
    val (x, y) = if (a.length <= b.length) (b, a) else (a, b)
    val n = x.length; val m = y.length
    if (n - m > t) return -1
    if (m == 0) return if (n <= t) n else -1
    val INF = t + 1
    // rolling rows, band-limited: row i touches columns [i-t, i+t] ∩ [0, m]
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= t) j else INF; j += 1 }
    // positions right of a row's band are READ (as prev) one row before
    // they are first WRITTEN — both arrays must start at INF there, or the
    // del path would see a phantom 0 and underestimate the distance
    java.util.Arrays.fill(cur, INF)
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - t); val hi = math.min(m, i + t)
      // left band edge: while the band touches column 0 (i <= t) the edge
      // cell's TRUE value is i — the next row reads it as a sub/del source,
      // so an INF sentinel there underprunes real ≤ t paths (caught by the
      // randomized spec: dist-4 pair reported -1). Once the band detaches
      // from column 0, lo-1 is genuinely outside any ≤ t path → INF. Right
      // of the previous row's band, prev(j) holds INF from init — bands
      // only grow rightward, so no per-row repair needed.
      cur(lo - 1) = if (lo == 1) math.min(i, INF) else INF
      var rowMin = INF
      j = lo
      while (j <= hi) {
        val sub = prev(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1)
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        var v = if (sub < del) sub else del
        if (ins < v) v = ins
        if (v > INF) v = INF
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > t) return -1
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    if (prev(m) <= t) prev(m) else -1
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LevWithin =
    copy(left = newLeft, right = newRight)
}

object LevWithin {
  def apply(l: Column, r: Column, t: Int): Column =
    Bridge.column(LevWithin(Bridge.expression(l), Bridge.expression(r), t))

  // per-thread DP scratch for the ASCII fast path — lives on the companion
  // (never serialized with the expression); grown monotonically, tiny
  // (2 × (len+1) ints, so ~256 B for the 30-char verify corpora)
  private val rowsTL = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](128)
  }
  private[expressions] def rowBuffer(rowLen: Int): Array[Int] = {
    var b = rowsTL.get()
    if (b.length < 2 * rowLen) {
      b = new Array[Int](2 * rowLen)
      rowsTL.set(b)
    }
    b
  }
}
