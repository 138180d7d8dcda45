package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types._

/** A literal whose generated code does not hold its value.
  *
  * Spark writes an integral, floating, date or timestamp `Literal` into
  * the generated Java (`value >= 1704067200000000L`), and its codegen
  * cache is keyed by that source text, so each new filter value
  * compiles a new class, on the driver and again on the task thread.
  * This literal reads its value from a field that the generated class
  * initialises once from its `references`, so every value gives the
  * same source and one class serves them all. Evaluated, canonicalized
  * and printed it is the literal it stands for: two different values
  * never compare equal, so exchange reuse stays exact.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override def toString: String = Literal(value, dataType).toString

  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ParamLiteral {

  /** `cond` with the literal operands of its comparisons and `IN` lists
    * of the types Spark inlines made [[ParamLiteral]]s. Null literals
    * and other types (whose code already reads `references`, or holds no
    * value) stay as they are.
    */
  def params(cond: Expression): Expression = cond.transformUp {
    case c: BinaryComparison => c.mapChildren(param)
    case in: In => in.copy(list = in.list.map(param))
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
    case other => other
  }

  private def inlined(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
