package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** A double constant that generated code reads from the class's
  * `references` array instead of from its Java source.
  *
  * Spark inlines a double `lit` into the source (`0.000075D`), and its
  * codegen cache is keyed on the source, so a loop that builds `lit(x)`
  * from a scalar collected that iteration (PageRank's dangling base,
  * the power iteration's norm) compiles new classes every iteration.
  * With the value passed as data, every iteration's plan compiles to
  * the same class. The expression is not foldable, so the optimizer
  * leaves it in place; `eval` and the generated code both return
  * `value`, so the arithmetic around it is the same double operations
  * as with `lit(value)`.
  */
case class DoubleParamExpr(value: Double) extends LeafExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Double.valueOf(value), "java.lang.Double")
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.doubleValue()", DoubleType))
  }

  override def prettyName: String = "param"
}

object DoubleParam {

  /** Column API. */
  def apply(value: Double): Column = Bridge.column(DoubleParamExpr(value))
}
