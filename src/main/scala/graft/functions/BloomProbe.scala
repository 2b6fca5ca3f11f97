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

/** File-backed sharded probe: no broadcast AT ALL — each task resolves
  * the shards its rows route to from the executor-wide
  * [[graft.ops.ShardedBloomFiles]] cache (one load per shard per JVM).
  * This is the >10^9-fingerprint path: the family exists only as N
  * files ([[graft.ops.ShardedBloom.buildToPath]]), never assembled in
  * any single JVM; a multi-GB standing filter costs each executor only
  * the shards it actually touches. `dir` is an immutable epoch by
  * contract.
  */
case class ShardedBloomPathProbe(child: Expression, dir: String,
                                 numShards: Int)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  @transient private lazy val handle =
    new graft.ops.ShardedBloomPathHandle(dir, numShards)

  override def nullSafeEval(input: Any): Any =
    handle.mightContain(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hClass = classOf[graft.ops.ShardedBloomPathHandle].getName
    val dirRef = ctx.addReferenceObj("shardDir", dir, "java.lang.String")
    val local = ctx.addMutableState(hClass, "shardedBloomHandle",
      v => s"$v = new $hClass($dirRef, $numShards);")
    defineCodeGen(ctx, ev, c => s"$local.mightContain($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShardedBloomPathProbe =
    copy(child = newChild)
}

object ShardedBloomPathProbe {

  /** Column API: true iff the file-backed family may contain the value. */
  def mightContain(c: Column, dir: String, numShards: Int): Column =
    ColumnBridge.column(
      ShardedBloomPathProbe(ColumnBridge.expression(c), dir, numShards))
}
