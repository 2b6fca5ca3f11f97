package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.internal.SQLConf

/** Planner strategy: a global sort over an input small enough to ship
  * whole sorts in ONE task. Spark plans every `ORDER BY` as a range
  * exchange — a `RangePartitioner` sampling job over the input, then
  * a shuffle map stage — even for a 10-row result; every query's
  * final deterministic sort pays those two jobs.
  *
  * "Small" is Spark's own broadcast rule: the child's estimated
  * `sizeInBytes` is at most `spark.sql.autoBroadcastJoinThreshold`
  * (so `-1` turns the strategy off). The plan is
  * `SortExec(global) <- CoalesceExec(1) <- child`: `CoalesceExec(1)`
  * reports `SinglePartition`, which satisfies the sort's
  * `OrderedDistribution`, so EnsureRequirements adds no exchange —
  * no sampling job, no sort shuffle, the upstream stage's partitions
  * concatenated into the one sorting task. Larger inputs keep Spark's
  * range sort. Under AQE the strategy re-runs at each re-plan with
  * the materialized stages' runtime sizes.
  *
  * Only a bare `Sort` matches: `ORDER BY … LIMIT n` reaches Spark's
  * `SpecialLimits` (`TakeOrderedAndProject`) as before, since that
  * strategy matches the `Limit` above the sort.
  */
object SmallSortStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _)
        if child.stats.sizeInBytes <= SQLConf.get.autoBroadcastJoinThreshold =>
      SortExec(order, global = true, CoalesceExec(1, planLater(child))) :: Nil
    case _ => Nil
  }
}
