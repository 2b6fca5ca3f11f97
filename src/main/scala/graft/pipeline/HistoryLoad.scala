package graft.pipeline

import java.time.LocalDateTime
import scala.util.{Failure, Success, Try}

import graft.ops.{Audit, SchemaOps}
import graft.sources.{ParquetFooter, PartitionedSink}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's end-to-end pipeline (O-12, main.py:35-80) realized
  * on Spark: per-table loop with an `active_flag` gate, per-table
  * failure isolation (one bad table never aborts the run), and
  * success/failure tallies, with count reconciliation at the sink.
  *
  * Per-table flow (flow.txt:7-16, without the reference's compat
  * casts: [[graft.ops.CompatCasts.referenceCompatPass]] is not in the
  * chain, source types are written as read):
  *   scan -> audit columns -> name normalization -> row hash ->
  *   date-partitioned parquet sink, whose row count is observed on the
  *   write itself.
  * The whole chain is ONE lazy Catalyst plan per table executed at the
  * sink action — the reference's chunk loop becomes partition
  * parallelism. The scan takes its schema from one Parquet footer read
  * on the driver ([[ParquetFooter.schema]]), so a table costs one Spark
  * job, the write.
  */
final case class RunReport(
    succeeded: Seq[String],
    failed: Seq[(String, String)],
    rowCounts: Map[String, Long]) {
  def successCount: Int = succeeded.size
  def failureCount: Int = failed.size
}

class HistoryLoad(spark: SparkSession, config: PipelineConfig,
                  now: LocalDateTime = LocalDateTime.now()) {

  /** One table's transform chain (pure, testable). */
  def transform(df: DataFrame): DataFrame = {
    val audited = Audit.addAuditColumns(df,
      updatedBy = config.updatedBy, runId = config.runId)
    val normalized = SchemaOps.normalizeNames(audited)
    Audit.addRowHash(normalized,
      normalized.columns.filterNot(Set("updatedby", "updated_utc_ts", "runid"))
        .toIndexedSeq)
  }

  def processTable(table: String): Long = {
    val path = s"${config.sourceDir}/$table.parquet"
    val reader = ParquetFooter.schema(spark, path).fold(spark.read)(spark.read.schema)
    PartitionedSink.writeDatePartitioned(transform(reader.parquet(path)),
      config.targetDir, table, now)
  }

  /** The per-table loop: gate on active_flag == "T" (main.py:44),
    * isolate failures (main.py:72-76), tally (main.py:77-80).
    */
  def process(): RunReport = {
    val active = config.tables.filter(_.activeFlag == "T")
    val results = active.map { t =>
      t.name -> Try(processTable(t.name))
    }
    RunReport(
      succeeded = results.collect { case (n, Success(_)) => n },
      failed = results.collect { case (n, Failure(e)) =>
        n -> Option(e.getMessage).getOrElse(e.getClass.getName) },
      rowCounts = results.collect { case (n, Success(c)) => n -> c }.toMap)
  }
}
