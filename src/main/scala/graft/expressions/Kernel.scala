package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** The one shape of a graft kernel: a Catalyst expression whose work is a
  * single compiled Scala method, `kernel`, shared by interpreted eval and
  * generated code. The generated code is one call into that method through
  * one reference object, so the host projection stays inside one
  * whole-stage-codegen span (unlike `CodegenFallback`, which forces the row
  * through interpreted eval and splits the stage) and the hot loop is
  * ordinary JIT-compiled bytecode, identical on both paths.
  *
  * Nulls: by default a null input yields null without calling the kernel.
  * A kernel with no answer for some non-null input returns null
  * (`returnsNull`; a primitive result type then comes back boxed). A kernel
  * that answers for a null input itself (`acceptsNull`) is called with the
  * null and never returns null.
  */
trait Kernel extends Expression with ExpectsInputTypes with Serializable {
  protected def returnsNull: Boolean = false
  protected def acceptsNull: Boolean = false
  override def nullable: Boolean =
    returnsNull || !acceptsNull && children.exists(_.nullable)

  /** `ev.value = kernel(args)`, setting `ev.isNull` when the kernel may
    * return null. */
  protected def kernelCall(ctx: CodegenContext, ev: ExprCode,
      args: String*): String = {
    val call = s"${ctx.addReferenceObj(prettyName, this)}.kernel(${args.mkString(", ")})"
    if (!returnsNull) s"${ev.value} = $call;"
    else {
      val r = ctx.freshName("r")
      val unbox = if (CodeGenerator.isPrimitiveType(dataType))
        s".${CodeGenerator.javaType(dataType)}Value()" else ""
      s"""${CodeGenerator.boxedType(dataType)} $r = $call;
         |${ev.isNull} = $r == null;
         |if ($r != null) ${ev.value} = $r$unbox;""".stripMargin
    }
  }
}

/** A kernel over one input of Catalyst type `inputType`, whose values the
  * kernel takes as `I`. */
abstract class UnaryKernel[I, O](inputType: DataType)
    extends UnaryExpression with Kernel {
  def kernel(in: I): O
  override def inputTypes: Seq[DataType] = Seq(inputType)

  override def eval(row: InternalRow): Any = {
    val v = child.eval(row)
    if (v == null && !acceptsNull) null else kernel(v.asInstanceOf[I])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!acceptsNull) nullSafeCodeGen(ctx, ev, c => kernelCall(ctx, ev, c))
    else {
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} =
          ${CodeGenerator.defaultValue(dataType)};
        ${kernelCall(ctx, ev, s"${c.isNull} ? null : ${c.value}")}""",
        isNull = FalseLiteral)
    }
}

/** A kernel over two inputs of the same Catalyst type. */
abstract class BinaryKernel[I, O](inputType: DataType)
    extends BinaryExpression with Kernel {
  def kernel(l: I, r: I): O
  override def inputTypes: Seq[DataType] = Seq(inputType, inputType)

  override protected def nullSafeEval(l: Any, r: Any): Any =
    kernel(l.asInstanceOf[I], r.asInstanceOf[I])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => kernelCall(ctx, ev, l, r))
}
