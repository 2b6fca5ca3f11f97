package graft.ops

import org.apache.spark.sql.SparkSession

/** Session tuning scoped to a micro-batch fold (r16).
  *
  * A streaming fold's inputs are bounded by construction — O(batch +
  * touched partitions), never table-scale — and its wall at streaming
  * cadence is the per-batch JOB bill, not task time (a job listener
  * shows it: with AQE every Exchange materializes as its own job plus
  * a scheduler round-trip; the r16 probe priced the scd2 fold at 63
  * jobs/gate, 36 with AQE off, job wall ~20-90 ms each at local[32]). AQE's actual
  * benefits — runtime skew splitting and partition coalescing — target
  * unbounded, estimate-hostile plans, which fold plans structurally
  * are not: their sizes are known-small every batch at ANY corpus
  * scale, so this is a cadence argument, not a local-mode tune.
  *
  * What AQE's coalescing did buy the folds — few write tasks, hence
  * few files per partitioned store write — is restored EXPLICITLY:
  * every fold write repartitions on its write key first (the r15
  * `MaxSim.writeIndex` discipline), which also bounds file counts on
  * a real cluster where AQE's advisory sizes would NOT have coalesced
  * to one task.
  *
  * The conf flip is session-wide for the duration of `f` and restored
  * after (finally) to exactly what it was: a value the session never
  * set is unset again, not pinned to Spark's default, so the session's
  * explicit confs (part of `graft.Tables.query`'s plan key) do not
  * change. That is safe under the folds' existing
  * one-owner-per-sink serialization: the foreachBatch tick owns the
  * session's work while it runs — the same contract the drain and
  * maintenance cadences already rely on.
  */
object MicroBatch {
  def noAqe[T](spark: SparkSession)(f: => T): T = {
    val k = "spark.sql.adaptive.enabled"
    val old =
      if (spark.sessionState.conf.contains(k)) spark.conf.getOption(k) else None
    spark.conf.set(k, "false")
    try f
    finally old match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }
}
