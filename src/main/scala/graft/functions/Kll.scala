package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** KLL quantile sketch as a native TypedImperativeAggregate — the
  * mergeable-summary path for rank/quantile statistics, completing
  * the sketch family (q35/q117 HLL distinct, q112 Count-Min
  * frequency, q113 Misra-Gries heavy hitters, and now quantiles).
  *
  * Why native and not an `Aggregator`: a sketch buffer must stay a
  * LIVE object across per-row updates — an `Aggregator` with a
  * byte-array buffer would pay deserialize+update+serialize per row.
  * `TypedImperativeAggregate` (the same base Spark's own
  * hll_sketch_agg uses) holds the heap sketch per group and
  * serializes only across the partial/final shuffle boundary.
  *
  * Scale: state is O(k log n) per group (~KB at k=200) regardless of
  * input size; partials merge associatively in any tree, so the same
  * bytes work per-partition, per-day, or per-tier — sketch once,
  * roll up forever (the q117 rollup contract, for quantiles).
  * Normalized rank error at k=200 is ~1.65% (99% confidence).
  */
final case class KllDoublesAgg(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllDoublesSketch] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kll_doubles_agg requires a DOUBLE child (got ${child.dataType};" +
        " cast first — Kll.sketchAgg does)")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "kll_doubles_agg"

  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buffer: KllDoublesSketch,
                      input: InternalRow): KllDoublesSketch = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[Double])
    buffer
  }

  override def merge(buffer: KllDoublesSketch,
                     other: KllDoublesSketch): KllDoublesSketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: KllDoublesSketch): Any = buffer.toByteArray

  override def serialize(buffer: KllDoublesSketch): Array[Byte] =
    buffer.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(newOffset: Int): KllDoublesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllDoublesAgg =
    copy(inputAggBufferOffset = newOffset)
}

object Kll {

  /** Aggregate a numeric column into a serialized KLL sketch. */
  def sketchAgg(c: Column, k: Int = 200): Column =
    ColumnBridge.column(
      KllDoublesAgg(ColumnBridge.expression(c.cast("double")), k)
        .toAggregateExpression())

  /** Quantile (inclusive rank semantics) of a serialized sketch. */
  def quantile(bytes: Array[Byte], rank: Double): Double =
    KllDoublesSketch.heapify(Memory.wrap(bytes)).getQuantile(rank)

  /** In-plan quantile extraction (tiny post-aggregation rows only —
    * one sketch per group, never a per-row hot path).
    */
  val quantileUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf(
      (bytes: Array[Byte], rank: Double) => quantile(bytes, rank))
}
