package graft.pipeline

import java.io.FileNotFoundException
import java.time.LocalDateTime
import scala.util.{Failure, Success, Try}

import graft.functions.RowHash
import graft.ops.{Audit, SchemaOps}
import graft.sources.{ParquetFooter, PartitionedSink}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A run's tally; `wallMs` holds every active table's wall time in ms,
  * failed tables included. */
final case class RunReport(
    succeeded: Seq[String],
    failed: Seq[(String, String)],
    rowCounts: Map[String, Long],
    wallMs: Map[String, Long]) {
  def successCount: Int = succeeded.size
  def failureCount: Int = failed.size
}

/** The reference's end-to-end pipeline (O-12, main.py:35-80) realized
  * on Spark: per-table loop with an `active_flag` gate, per-table
  * failure isolation (one bad table never aborts the run), and
  * success/failure tallies, with count reconciliation at the sink.
  *
  * Per-table flow (flow.txt:7-16, without the reference's compat
  * casts: [[graft.ops.CompatCasts.referenceCompatPass]] is not in the
  * chain, source types are written as read):
  *   scan -> one projection (normalized source names, audit columns,
  *   row hash) -> date-partitioned parquet sink, whose row count is
  *   observed on the write itself.
  * The whole chain is ONE lazy Catalyst plan per table executed at the
  * sink action — the reference's chunk loop becomes partition
  * parallelism. The scan takes its schema from one Parquet footer read
  * on the driver ([[ParquetFooter.reader]]), so a table costs one Spark
  * job, the write.
  *
  * Each table's `updated_utc_ts` is taken on the driver as its plan is
  * built, truncated to milliseconds, and travels with `runid` and
  * `updatedby` as [[graft.functions.RunConstant]]s rather than inlined
  * literals. So every table whose columns have the same types runs the
  * same generated code, and after the first such table the write stage
  * is neither compiled again nor JIT-cold.
  */
class HistoryLoad(spark: SparkSession, config: PipelineConfig,
                  now: LocalDateTime = LocalDateTime.now()) {

  /** One table's transform chain (pure, testable): ONE projection of the
    * source columns under their normalized names, the audit columns,
    * and the row hash over the source columns. A source column whose
    * normalized name collides with another column, audit columns
    * included, fails the table.
    */
  def transform(df: DataFrame): DataFrame = {
    val source = df.columns.toIndexedSeq
    val cols = source.map(c => df.col(s"`${c.replace("`", "``")}`"))
    val audit = Audit.auditValues(config.updatedBy, config.runId, Audit.loadTimestamp())
    // audit names are already normalized, so they keep their names
    val names = SchemaOps.normalizedNames(source ++ Audit.AuditColumns)
    df.select((cols ++ audit).zip(names).map { case (c, n) => c.as(n) } :+
      RowHash.rowHash(cols).as("row_hash_code"): _*)
  }

  /** Load one table; a missing source fails here, on the driver, with
    * a message naming the table and its path, before any Spark job or
    * SQL execution starts.
    */
  def processTable(table: String): Long = {
    val path = s"${config.sourceDir}/$table.parquet"
    val reader = ParquetFooter.reader(spark, path).getOrElse(
      throw new FileNotFoundException(s"table '$table': source $path does not exist"))
    PartitionedSink.writeDatePartitioned(transform(reader.parquet(path)),
      config.targetDir, table, now)
  }

  /** The per-table loop: gate on active_flag == "T" (main.py:44),
    * isolate failures (main.py:72-76), tally (main.py:77-80), and time
    * each table's wall clock.
    */
  def process(): RunReport = {
    val active = config.tables.filter(_.activeFlag == "T")
    val results = active.map { t =>
      val start = System.nanoTime()
      val result = Try(processTable(t.name))
      (t.name, result, (System.nanoTime() - start) / 1000000L)
    }
    RunReport(
      succeeded = results.collect { case (n, Success(_), _) => n },
      failed = results.collect { case (n, Failure(e), _) =>
        n -> Option(e.getMessage).getOrElse(e.getClass.getName) },
      rowCounts = results.collect { case (n, Success(c), _) => n -> c }.toMap,
      wallMs = results.map { case (n, _, ms) => n -> ms }.toMap)
  }
}
