package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd Bloom-filter membership over a long column.
  *
  * [[graft.ops.IncrementalDedup]]'s routing filter is the ONLY
  * expression on the batch's hot path; as a Scala UDF it both broke
  * whole-stage codegen for the stage and paid boxing + a function call
  * per row. This is the native form: the filter rides an existing
  * `Broadcast` handle (serialized as a few bytes — the bitset itself
  * never enters the plan or the task binary), resolved once per
  * executor into a mutable-state field, probed with a direct
  * `mightContainLong` call inside the generated loop.
  */
case class BloomMightContainLong(child: Expression,
                                 bloom: Broadcast[BloomFilter])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  @transient private lazy val filter: BloomFilter = bloom.value

  override def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bfClass = classOf[BloomFilter].getName
    val ref = ctx.addReferenceObj("bloomBc", bloom,
      classOf[Broadcast[_]].getName)
    // resolve the broadcast once per task, not once per row
    val local = ctx.addMutableState(bfClass, "bloomFilter",
      v => s"$v = ($bfClass) $ref.value();")
    defineCodeGen(ctx, ev, c => s"$local.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}

object BloomMightContainLong {

  /** Column API: true iff the bloom may contain the (long) value. */
  def mightContain(c: Column, bloom: Broadcast[BloomFilter]): Column =
    ColumnBridge.column(BloomMightContainLong(ColumnBridge.expression(c), bloom))
}
