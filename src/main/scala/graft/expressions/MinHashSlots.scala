package graft.expressions

/** The MinHash universal-hash schedule: slot i keeps the minimum of
  * aᵢ·h + bᵢ (signed-long compare) over the hashes h it is fed, with odd
  * aᵢ = splitmix64(2i) | 1 and bᵢ = splitmix64(2i + 1). [[MinHashSig]] and
  * [[ShingleMinHash]] fold through this one definition, which is what makes
  * their signatures bit-identical. */
final class MinHashSlots(k: Int) {
  private val as = Array.tabulate(k)(i => SplitMix64(2L * i) | 1L)
  private val bs = Array.tabulate(k)(i => SplitMix64(2L * i + 1))

  def empty: Array[Long] = Array.fill(k)(Long.MaxValue)

  def fold(h: Long, mins: Array[Long]): Unit = {
    var i = 0
    while (i < k) {
      val v = h * as(i) + bs(i)
      if (v < mins(i)) mins(i) = v
      i += 1
    }
  }
}

/** The splitmix64 finalizer (public algorithm). The MinHash schedule and
  * the cosine-LSH hyperplane weights
  * ([[graft.functions.VectorFunctions.hyperplanes]]) are both drawn from it. */
object SplitMix64 {
  def apply(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
