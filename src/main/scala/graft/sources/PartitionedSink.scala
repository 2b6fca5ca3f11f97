package graft.sources

import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** Partitioned Parquet sink (reference O-10): the reference PUTs one
  * in-memory Parquet object per 1M-row chunk under
  * `prefix/table/yyyy/MM/dd/HH/table_N.parquet` (utils/s3_operations
  * .py:49-61, key built main.py:51-57). On Spark the layout survives
  * but each partition writes its own part-file in parallel — no
  * driver-side buffering, no per-chunk object PUTs.
  */
object PartitionedSink {

  /** The reference's run-scoped date path for a table. */
  def datePath(baseDir: String, table: String, ts: LocalDateTime): String =
    f"$baseDir/$table/${ts.getYear}%04d/${ts.getMonthValue}%02d/" +
      f"${ts.getDayOfMonth}%02d/${ts.getHour}%02d"

  /** Append the frame under the run's date path; returns rows written
    * (the engine's analogue of the reference's PG_LAST_COPY_COUNT
    * reconciliation, utils/redshift_operations.py:154-159).
    *
    * The count rides the write itself via `observe` — O(this write),
    * measured on the rows that actually flowed into the sink. The
    * previous re-read-and-count was O(every run ever written to that
    * hour's path) and raced with concurrent writers.
    */
  def writeDatePartitioned(df: DataFrame, baseDir: String, table: String,
                           ts: LocalDateTime): Long = {
    val path = datePath(baseDir, table, ts)
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows_written"))
      .write.mode("append").parquet(path)
    obs.get("rows_written").asInstanceOf[Long]
  }
}
