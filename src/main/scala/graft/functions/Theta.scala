package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketch, Sketches, Union}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Theta sketch as a native TypedImperativeAggregate — distinct-count
  * SET ALGEBRA, the capability HLL (q117) structurally lacks: theta
  * sketches close under union AND intersection AND difference, so
  * "distinct users who did A and B", "A but not B" are answerable
  * from per-segment summaries alone.
  *
  * Why that matters at 100 TB: segments are built by different
  * pipelines on different days; the exact answer is a full re-scan
  * with a giant distinct-join, but the sketch answer is driver-side
  * set algebra over kilobyte payloads. Below k retained entries a
  * theta sketch is EXACT (it is a sampled hash set); above, estimates
  * carry the standard 1/sqrt(k) relative error.
  *
  * Same execution shape as [[KllDoublesAgg]]: live heap Union per
  * group, serialized (compact, ordered) only across the
  * partial/final boundary; merges are associative in any tree.
  */
final case class ThetaSketchAgg(
    child: Expression, lgK: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_sketch_agg requires a BIGINT child (got ${child.dataType})")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "theta_sketch_agg"

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult)
    buffer
  }

  override def eval(buffer: Union): Any = buffer.getResult.toByteArray

  override def serialize(buffer: Union): Array[Byte] =
    buffer.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
    u.union(Sketches.wrapSketch(Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** Union over a column of SERIALIZED theta sketches — the
  * re-aggregation half of the mergeable-summary contract: per-segment
  * sketch columns (from [[ThetaSketchAgg]]) roll up to coarser grains
  * without touching raw data. Same buffer/serialization discipline as
  * the row-level aggregate; null sketches are skipped.
  */
final case class ThetaUnionAgg(
    child: Expression, lgK: Int = 12,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TypedImperativeAggregate[Union] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_union_agg requires a BINARY sketch child (got ${child.dataType})")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "theta_union_agg"

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null)
      buffer.union(Sketches.wrapSketch(
        Memory.wrap(v.asInstanceOf[Array[Byte]])))
    buffer
  }

  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult)
    buffer
  }

  override def eval(buffer: Union): Any = buffer.getResult.toByteArray

  override def serialize(buffer: Union): Array[Byte] =
    buffer.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
    u.union(Sketches.wrapSketch(Memory.wrap(bytes)))
    u
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = newOffset)
}

object Theta {

  /** Aggregate a long column into a serialized compact theta sketch. */
  def sketchAgg(c: Column, lgK: Int = 12): Column =
    ColumnBridge.column(
      ThetaSketchAgg(ColumnBridge.expression(c.cast("long")), lgK)
        .toAggregateExpression())

  /** The sketch of no values: what [[sketchAgg]] returns over no rows. */
  def empty(lgK: Int = 12): Array[Byte] =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
      .getResult.toByteArray

  private def wrap(bytes: Array[Byte]): Sketch =
    Sketches.wrapSketch(Memory.wrap(bytes))

  def estimate(bytes: Array[Byte]): Double = wrap(bytes).getEstimate

  /** |A ∪ B| sketch. */
  def union(a: Array[Byte], b: Array[Byte], lgK: Int = 12): Array[Byte] = {
    val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
    u.union(wrap(a)); u.union(wrap(b))
    u.getResult.toByteArray
  }

  /** |A ∩ B| sketch — the operation HLL cannot express. */
  def intersect(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val i = SetOperation.builder().buildIntersection()
    i.intersect(wrap(a)); i.intersect(wrap(b))
    i.getResult.toByteArray
  }

  /** |A \ B| sketch. */
  def aNotB(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val d = SetOperation.builder().buildANotB()
    d.aNotB(wrap(a), wrap(b)).toByteArray
  }

  /** Whether the sketch is still in exact mode (no sampling yet). */
  def isExact(bytes: Array[Byte]): Boolean =
    !wrap(bytes).isEstimationMode
}
