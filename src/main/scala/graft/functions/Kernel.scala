package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** The one codegen device of the graft kernels. Each kernel's loop is
  * a public `compute` method that `nullSafeEval` calls; its generated
  * code calls the same method on the expression itself, passed in as a
  * reference object. So eval and whole-stage codegen run one loop, and
  * no hand-written Java copy of it can drift from the Scala one (the
  * loops are data-sized, so a generated-source copy buys nothing over
  * the JIT'd method). `ArchitectureSpec` keeps every `doGenCode` under
  * `graft.functions` on this path. */
object Kernel {
  /** `ev.value = (<javaType>) self.compute(args);` */
  def callCompute(ctx: CodegenContext, ev: ExprCode, self: Expression,
      args: String*): String = {
    val ref = ctx.addReferenceObj("kernel", self, self.getClass.getName)
    s"${ev.value} = (${CodeGenerator.javaType(self.dataType)}) " +
      s"$ref.compute(${args.mkString(", ")});"
  }

  /** An array<float|double> argument. Parquet-sourced arrays read as
    * containsNull=true even when the data has no nulls, so only the
    * element type is checked. */
  def isVector(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** Whether a vector argument holds floats (else doubles). */
  def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
}
