package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.ops.IncrementalAgg.Measure

/** Optimizer rule: answer aggregates from a maintained rollup table
  * instead of the raw history — the read half of
  * [[graft.ops.IncrementalAgg]] (which maintains per-key COUNT / SUM
  * / MIN / MAX partials O(batch) per ingest). A registered source
  * makes
  *
  *   SELECT keys…, count(*), sum(v)… FROM source GROUP BY keys…
  *
  * scan the |keys|-row rollup instead of the raw table: COUNT(1)
  * re-aggregates as SUM(count-partial), SUM/MIN/MAX as the same
  * aggregate over their stored partial — the classic rollup-lattice
  * property, which also answers any GROUP BY over a SUBSET of the
  * keys. At 100 TB this turns a history-wide scan into a scan of a
  * few thousand summary rows, with filters on key columns pushed to
  * the (key-partitioned) rollup's own scan.
  *
  * The rewrite fires only when every piece maps exactly: grouping
  * expressions are plain key columns, every aggregate is COUNT(1) or
  * SUM/MIN/MAX of a registered measure source (no DISTINCT, no
  * FILTER clause), and any Filter between aggregate and scan is
  * deterministic over key columns only. Anything else leaves the
  * plan untouched — missing a rewrite is always correct.
  *
  * Freshness is the registrar's contract, exactly as with any
  * materialized view: register a source only while
  * `IncrementalAgg.updateTable` owns the rollup; reads reflect the
  * last fold. Theta-sketch measures are deliberately not rewritten
  * (their re-aggregation is a sketch union, not a scalar aggregate).
  */
object RollupRewrite extends Rule[LogicalPlan] {

  /** A maintained rollup of `sourcePath` (both paths as given to
    * parquet read/write): per-`keys` partials for `measures`.
    */
  final case class Target(sourcePath: String, rollupPath: String,
                          keys: Seq[String], measures: Seq[Measure])

  private val targets = new ConcurrentHashMap[String, Target]()

  /** Canonical key: the FULLY QUALIFIED path — scheme + authority +
    * path — so `/data/x` on two different filesystems (file: vs an
    * object store) can never collide onto one Target. Qualification
    * goes through the active session's Hadoop conf (the same
    * resolution the scan itself uses); with no active session the raw
    * Path URI is kept, which is still scheme-preserving for any
    * explicit-scheme registration.
    */
  private def canon(p: String): String = canonPath(new Path(p))

  private def canonPath(path: Path): String =
    (try {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      path.getFileSystem(conf).makeQualified(path)
    } catch { case _: Throwable => path }).toUri.toString

  def register(t: Target): Unit = { targets.put(canon(t.sourcePath), t); () }

  /** Drop `t`, and only `t`: a target registered since under the same
    * source stays. */
  def unregister(t: Target): Unit = { targets.remove(canon(t.sourcePath), t); () }
  def clear(): Unit = targets.clear()

  /** The registered targets: part of a kept query plan's key
    * (`graft.Tables.query`), since a new target changes what this
    * rule rewrites. */
  def targetSet: Set[Target] = targets.values.asScala.toSet

  /** The rewrite requires the scan to read EXACTLY the registered
    * source: a multi-directory read (`spark.read.parquet(src, other)`)
    * covers rows the rollup never folded, so any root-path match
    * inside a multi-root scan must NOT answer from the summary.
    */
  private def targetFor(lr: LogicalRelation): Option[Target] =
    lr.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.size == 1 =>
        Option(targets.get(canonPath(fs.location.rootPaths.head)))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (targets.isEmpty) return plan
    plan.transformDown {
      case agg @ Aggregate(_, _, _, _) =>
        tryRewrite(agg).getOrElse(agg)
    }
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    // peel (Project of plain columns)* and at most one deterministic
    // Filter off the child until the source relation shows
    def peel(p: LogicalPlan, cond: Option[Expression])
        : Option[(LogicalRelation, Option[Expression])] = p match {
      case lr: LogicalRelation => Some((lr, cond))
      case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
        peel(child, cond)
      case Filter(c, child) if c.deterministic && cond.isEmpty =>
        peel(child, Some(c))
      case _ => None
    }
    for {
      (lr, cond) <- peel(agg.child, None)
      t <- targetFor(lr)
      rewritten <- build(agg, t, cond, lr)
    } yield rewritten
  }

  /** Builds the replacement through the Dataset API (groupBy/agg over
    * the rollup read) so every expression is constructed and resolved
    * the canonical way, then rebinds the analyzed result's output to
    * the original aggregate's exprIds with one Project — parents keep
    * resolving unchanged.
    */
  private def build(agg: Aggregate, t: Target, cond: Option[Expression],
                    lr: LogicalRelation): Option[LogicalPlan] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max => fMax,
      min => fMin, sum => fSum}
    import org.apache.spark.sql.graft.ColumnBridge
    val keySet = t.keys.toSet
    val sumOf = t.measures.collect {
      case Measure.Sum(src, out) => src -> out }.toMap
    val minOf = t.measures.collect {
      case Measure.Min(src, out) => src -> out }.toMap
    val maxOf = t.measures.collect {
      case Measure.Max(src, out) => src -> out }.toMap
    val countOut = t.measures.collectFirst {
      case Measure.Count(out) => out }

    // grouping: plain key columns only (any subset of the rollup keys)
    val groupNames = agg.groupingExpressions.map {
      case a: AttributeReference if keySet(a.name) => a.name
      case _ => return None
    }
    // duplicate output names would make the by-name re-selection
    // ambiguous — bail to the safe non-rewrite
    val outNames = agg.aggregateExpressions.map(_.name)
    if (outNames.distinct.size != outNames.size) return None

    def mapAgg(fn: AggregateFunction): Option[org.apache.spark.sql.Column] =
      fn match {
        // COUNT(1) re-aggregates as the sum of stored counts; coalesce
        // keeps the zero-rows global case at 0, where sum returns null
        case Count(Seq(Literal(1, _))) =>
          countOut.map(o => coalesce(fSum(col(o)), lit(0L)))
        case Sum(a: AttributeReference, _) =>
          sumOf.get(a.name).map(o => fSum(col(o)))
        case Min(a: AttributeReference) =>
          minOf.get(a.name).map(o => fMin(col(o)))
        case Max(a: AttributeReference) =>
          maxOf.get(a.name).map(o => fMax(col(o)))
        case _ => None
      }

    val aggCols: Seq[org.apache.spark.sql.Column] =
      agg.aggregateExpressions.flatMap {
        case a: AttributeReference if keySet(a.name) => None // grouping col
        case al @ Alias(ae: AggregateExpression, _)
            if !ae.isDistinct && ae.filter.isEmpty =>
          mapAgg(ae.aggregateFunction) match {
            case Some(c) => Some(c.as(al.name))
            case None => return None
          }
        case _ => return None
      }
    if (aggCols.isEmpty) return None

    // Read the rollup with key columns PINNED to the source's types:
    // hive-partitioned rollups would otherwise get their partition key
    // type-INFERRED from the directory value (a string day column
    // comes back DateType), and an output type differing from the
    // original aggregate's corrupts the parent's row decoding. With an
    // explicit schema the partition value is cast to the source type —
    // a string key keeps its raw directory text, any key round-trips.
    val srcType = lr.output.map(a => a.name -> a.dataType).toMap
    val session = SparkSession.active
    val inferred = session.read.parquet(t.rollupPath).schema
    val pinned = org.apache.spark.sql.types.StructType(inferred.map { f =>
      if (keySet(f.name) && srcType.contains(f.name))
        f.copy(dataType = srcType(f.name))
      else f
    })
    // a filter between aggregate and scan must touch key columns only;
    // re-resolve it by name against the rollup read
    val rollup0 = session.read.schema(pinned).parquet(t.rollupPath)
    val filtered = cond match {
      case Some(c) =>
        if (!c.references.forall(a => keySet(a.name))) return None
        val rebased = c.transformUp {
          case a: AttributeReference =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(a.name)
        }
        rollup0.filter(ColumnBridge.column(rebased))
      case None => rollup0
    }
    val agged = filtered.groupBy(groupNames.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .select(outNames.map(col): _*)
    val newPlan = agged.queryExecution.analyzed
    if (newPlan.output.size != agg.output.size) return None
    // exact type parity with the original output or no rewrite — a
    // mismatched attribute type corrupts parent row decoding
    if (agg.output.zip(newPlan.output).exists {
          case (o, n) => o.dataType != n.dataType }) return None
    Some(Project(agg.output.zip(newPlan.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId)
    }, newPlan))
  }
}
