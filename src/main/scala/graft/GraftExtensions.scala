package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.expressions._

/** SparkSessionExtensions hook: registers the engine's native expressions in
  * the SQL function registry, so `spark.sql("... vec_dot(a, b) ...")` works
  * the same as the Column API, and installs the optimizer rule that rewrites
  * the HOF dot-product spelling to the fused kernel
  * ([[graft.plans.RewriteHofDotProduct]]). Install with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (cluster-wide,
  * no code change for SQL users) — `GraftSession.tune` does this by default.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.RewriteHofDotProduct)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  /** The SQL surface, one row per function: name, parameter names (which
    * fix the arity) and builder. The other seven kernels have no SQL
    * caller, and `BloomProbe`'s bit array is no SQL literal. */
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("vec_dot", "a", "b")(a => DotProduct(a(0), a(1))),
    fn("vec_l2_micros", "a", "b")(a => L2Micros(a(0), a(1))),
    fn("lev_within", "a", "b", "t")(a => LevWithin(a(0), a(1), a.int(2))),
    fn("shingle_set", "text", "n")(a => ShingleSet(a(0), a.int(1))),
    fn("minhash_sig", "shingles", "k")(a => MinHashSig(a(0), a.int(1))),
    fn("shingle_minhash", "text", "n", "k")(a => ShingleMinHash(a(0), a.int(1), a.int(2))),
    fn("shingle_sha_min", "text", "n")(a => ShingleShaMin(a(0), a.int(1))),
    fn("simhash_sig", "text", "use_md5")(a => SimhashSig(a(0), a.bool(1))),
    fn("sorted_intersect_size", "a", "b")(a => SortedIntersectSize(a(0), a(1))))

  private def fn[E <: Expression](name: String, params: String*)(build: Args => E)(
      implicit tag: ClassTag[E]) =
    (FunctionIdentifier(name), new ExpressionInfo(tag.runtimeClass.getName, name),
      (args: Seq[Expression]) => build(new Args(name, params, args)): Expression)

  /** The arguments of one SQL call, checked against the row's arity.
    * Parameters the builder reads with `int`/`bool` are STRUCTURAL — they
    * shape the generated code — so they must fold to a non-null literal; a
    * column reference fails loudly at analysis time. They are folded, not
    * pattern-matched as `Literal`: the argument arrives unfolded, so
    * `NOT false`, a cast, or any other foldable spelling is legitimate SQL. */
  private final class Args(fn: String, params: Seq[String], args: Seq[Expression]) {
    require(args.length == params.length,
      s"$fn(${params.mkString(", ")}) takes exactly ${params.length} " +
        s"arguments, got ${args.length}")

    def apply(i: Int): Expression = args(i)

    def int(i: Int): Int = literal(i, "integer") match {
      case v: java.lang.Integer => v.intValue
      case v: java.lang.Long    => math.toIntExact(v.longValue)
      case v: java.lang.Short   => v.intValue
      case v: java.lang.Byte    => v.intValue
      case other => throw new IllegalArgumentException(
        s"$fn: ${params(i)} must be an integer literal, got $other")
    }

    def bool(i: Int): Boolean = literal(i, "BOOLEAN") match {
      case v: java.lang.Boolean => v
      case _ => throw new IllegalArgumentException(
        s"$fn: ${params(i)} must be a BOOLEAN literal, got ${args(i).sql}")
    }

    private def literal(i: Int, kind: String): Any = {
      require(args(i).foldable, s"$fn: ${params(i)} must be a literal $kind")
      val v = args(i).eval()
      require(v != null, s"$fn: ${params(i)} must not be NULL — it is a " +
        s"structural parameter of the kernel, pass a $kind")
      v
    }
  }
}
