package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** The one codegen path for graft's Catalyst kernels: generated code calls
  * the expression's own `nullSafeEval` through a reference to the
  * expression, so each kernel has exactly one implementation, and
  * generated code and interpreted eval run the same Scala body. Primitive
  * inputs are boxed into the call and the result is unboxed by its boxed
  * type. The operator holding the expression stays inside its whole-stage
  * codegen stage.
  *
  * Null handling is Spark's per-arity `nullSafeCodeGen` rule stated once
  * for any arity. A nullable expression is null as soon as one nullable
  * child is, and later children are evaluated only under non-null earlier
  * ones. A non-nullable expression always calls its kernel and passes a
  * null child through as null, so a kernel that raises on null input
  * ([[SignBucketHash]]) raises in generated code too.
  *
  * The vector kernels in VectorExpressions keep their inline loops: they
  * pick the element accessor for each input kind when the code is
  * generated, which one shared Scala body could only do with a branch per
  * element.
  */
private[functions] trait KernelCodegen extends Expression {

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = ctx.addReferenceObj("kernel", this)
    val gens = children.map(_.genCode(ctx))
    val args = children.zip(gens).map { case (c, g) =>
      val v = if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${g.value})" else s"${g.value}"
      if (c.nullable) s"(${g.isNull} ? null : $v)" else v
    }
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    val call = s"${ev.value} = (${CodeGenerator.boxedType(dataType)}) " +
      s"$kernel.nullSafeEval(${args.mkString(", ")});"
    if (nullable) {
      val guarded = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$call") {
        case ((c, g), inner) => s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull)(inner)}"
      }
      ev.copy(code = code"boolean ${ev.isNull} = true;\n$decl\n$guarded")
    } else {
      ev.copy(code = code"${gens.map(_.code).mkString("\n")}\n$decl\n$call",
        isNull = FalseLiteral)
    }
  }
}
