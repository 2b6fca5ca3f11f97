package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  AttributeSet, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan,
  Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The as-of join as a first-class operator: logical node, planner
  * strategy, and a physical sorted-merge exec — the tier-(c) path of
  * the extension ladder, for the one relational operator the engine
  * needs that Spark's built-ins only express indirectly (the composed
  * union+window form lives in [[graft.ops.AsOf.joinAsOf]] and stays
  * the oracle-shape reference).
  *
  * Semantics (identical to the composed form): for each left row,
  * the right row with equal key and the greatest rightTs <= leftTs
  * (inclusive); no match → nulls. Null keys never match (SQL ASOF
  * convention), and null right TIMESTAMPS never match either — a null
  * ts cannot be "the greatest ts <= leftTs", matching the composed
  * form where the window's max over a null ts row contributes nothing.
  * Right rows must be unique per (key, ts) for deterministic output.
  *
  * Physical shape: both children hash-clustered on the key and
  * sorted (key, ts) — exactly a sort-merge join's requirements, so
  * EnsureRequirements plans the same one-Exchange-per-side layout —
  * then ONE forward pass per partition pair: the right cursor only
  * ever advances (each right row is visited once), a single buffered
  * right row per key is the whole join state. No union row-widening,
  * no window machinery, no per-row null columns — the merge the
  * composed form simulates, done directly.
  */
final case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
                          leftKey: Attribute, rightKey: Attribute,
                          leftTs: Attribute, rightTs: Attribute,
                          rightVals: Seq[Attribute],
                          valOut: Seq[Attribute],
                          tolerance: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ valOut
  override def producedAttributes: AttributeSet = AttributeSet(valOut)

  /** One output row per left row: the left side's estimate, widened by
    * the appended value columns. Spark's fallback for an unknown binary
    * node is the product of both sides' sizes, which would make every
    * sort or join above an as-of join look huge.
    */
  override def stats: Statistics = {
    val l = left.stats
    val size = l.sizeInBytes * EstimationUtils.getSizePerRow(output) /
      EstimationUtils.getSizePerRow(left.output)
    Statistics(sizeInBytes = size.max(1), rowCount = l.rowCount)
  }

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(planLater(j.left), planLater(j.right), j.leftKey,
        j.rightKey, j.leftTs, j.rightTs, j.rightVals, j.valOut,
        j.tolerance) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                              leftKey: Attribute, rightKey: Attribute,
                              leftTs: Attribute, rightTs: Attribute,
                              rightVals: Seq[Attribute],
                              valOut: Seq[Attribute],
                              tolerance: Option[Long]) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ valOut

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val lKeyOrd = left.output.indexWhere(_.exprId == leftKey.exprId)
    val lTsOrd = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rKeyOrd = right.output.indexWhere(_.exprId == rightKey.exprId)
    val rTsOrd = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(Seq(lKeyOrd, lTsOrd, rKeyOrd, rTsOrd).forall(_ >= 0),
      "as-of columns must be present in child outputs")
    tolerance.foreach { _ =>
      require(Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.TimestampType).contains(leftTs.dataType),
        "as-of tolerance needs a long-backed ts (LongType/TimestampType)")
    }
    val keyType = leftKey.dataType
    val tsType = leftTs.dataType
    val leftSchema = left.output
    val rightSchema = right.output
    val valRefs = rightVals

    val lRdd = left.execute()
    val rRdd = right.execute()
    // both children carry ClusteredDistribution on the key, so AQE's
    // coalescing treats their shuffles uniformly (the sort-merge-join
    // contract); if a future planner change ever breaks that, fail
    // with the real story instead of a zip error
    require(lRdd.getNumPartitions == rRdd.getNumPartitions,
      s"as-of children must be co-partitioned (left ${lRdd.getNumPartitions}" +
        s" vs right ${rRdd.getNumPartitions})")
    lRdd.zipPartitions(rRdd, preservesPartitioning = true) {
      (lIter, rIter) =>
        val keyOrdering = TypeUtils.getInterpretedOrdering(keyType)
        val tsOrdering = TypeUtils.getInterpretedOrdering(tsType)
        def cmpNullsFirst(a: Any, b: Any,
                          ord: Ordering[Any]): Int =
          if (a == null && b == null) 0
          else if (a == null) -1
          else if (b == null) 1
          else ord.compare(a, b)
        // right-side fields bind NULLABLE regardless of their declared
        // nullability; misses go through their own projection whose
        // value slots are typed null literals — no dependence on any
        // binder's nullability inference for the all-null row
        val projection = UnsafeProjection.create(
          (leftSchema ++ valRefs.map(_.withNullability(true))).toIndexedSeq,
          (leftSchema ++ rightSchema.map(_.withNullability(true))).toIndexedSeq)
        val missProjection = UnsafeProjection.create(
          (leftSchema ++ valRefs.map(v =>
            org.apache.spark.sql.catalyst.expressions.Literal
              .create(null, v.dataType))).toIndexedSeq,
          leftSchema.toIndexedSeq)
        val joined = new JoinedRow

        new Iterator[InternalRow] {
          private var rHead: InternalRow = _
          private var lastMatch: InternalRow = _ // copied; key-guarded below
          private var lastMatchKey: Any = _
          private var lastMatchTs: Long = _ // valid only under tolerance

          override def hasNext: Boolean = lIter.hasNext

          override def next(): InternalRow = {
            val l = lIter.next()
            val lk = l.get(lKeyOrd, keyType)
            val lt = l.get(lTsOrd, tsType)
            var advancing = true
            while (advancing && (rHead != null || rIter.hasNext)) {
              if (rHead == null) rHead = rIter.next()
              val rk = rHead.get(rKeyOrd, keyType)
              val c = cmpNullsFirst(rk, lk,
                keyOrdering.asInstanceOf[Ordering[Any]])
              // a null right ts can never be "the greatest ts <= leftTs"
              // — it is consumed without buffering (same convention as
              // null keys), so the tolerance staleness check never reads
              // a lastMatchTs that no real match wrote
              val rtNull = c == 0 && rHead.isNullAt(rTsOrd)
              val tsOk = c == 0 && !rtNull && {
                val rt = rHead.get(rTsOrd, tsType)
                cmpNullsFirst(rt, lt, tsOrdering.asInstanceOf[Ordering[Any]]) <= 0
              }
              if (c < 0 || rtNull || tsOk) {
                if (tsOk && rk != null) {
                  lastMatch = rHead.copy()
                  // read the key back from the COPY — it owns its
                  // buffer, so buffer-backed values (UTF8String) can't
                  // dangle when the reused rHead row moves on
                  lastMatchKey = lastMatch.get(rKeyOrd, keyType)
                  // tsOk guarantees a non-null ts — under tolerance the
                  // staleness check always reads the ts this match wrote
                  if (tolerance.isDefined) {
                    lastMatchTs = lastMatch.getLong(rTsOrd)
                  }
                }
                rHead = null // consumed (either discarded or buffered)
              } else {
                advancing = false
              }
            }
            val matched = lk != null && lastMatch != null &&
              cmpNullsFirst(lastMatchKey, lk,
                keyOrdering.asInstanceOf[Ordering[Any]]) == 0 &&
              tolerance.forall(t =>
                lt != null && lt.asInstanceOf[Long] - lastMatchTs <= t)
            if (matched) projection(joined(l, lastMatch)) else missProjection(l)
          }
        }
    }
  }
}
