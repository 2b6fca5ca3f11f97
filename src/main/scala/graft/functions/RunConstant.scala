package graft.functions

import java.time.Instant

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** A value fixed for one run (a run id, a load timestamp) that generated
  * code reads from the stage's reference array instead of its source
  * text. `value` is in Catalyst's internal form.
  *
  * A `Literal` of a long or timestamp is inlined into the generated Java,
  * and `current_timestamp()` folds to a new such literal on every query,
  * so a stage carrying either gets new source text, and a new Janino
  * compile, whenever the value changes. This expression is not foldable,
  * so `ConstantFolding` leaves it alone, and its generated code is the
  * same for every value: two runs of the same plan shape share one
  * compiled class.
  */
case class RunConstant(value: Any, dataType: DataType) extends LeafExpression {

  override def foldable: Boolean = false
  override def nullable: Boolean = value == null
  override def prettyName: String = "run_constant"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) ExprCode.forNullValue(dataType)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val boxed = ctx.addReferenceObj("runConstant", value, CodeGenerator.boxedType(dataType))
      val unboxed = if (CodeGenerator.isPrimitiveType(dataType)) s"$boxed.${javaType}Value()" else boxed
      ev.copy(code = code"final $javaType ${ev.value} = $unboxed;", isNull = FalseLiteral)
    }
}

object RunConstant {
  def string(v: String): Column =
    ColumnBridge.column(RunConstant(UTF8String.fromString(v), StringType))

  def long(v: Long): Column = ColumnBridge.column(RunConstant(v, LongType))

  def timestamp(t: Instant): Column =
    ColumnBridge.column(RunConstant(DateTimeUtils.instantToMicros(t), TimestampType))
}
