package graft.ops

import graft.functions.RowHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Audit columns (reference O-6) and row fingerprinting (reference O-8).
  */
object Audit {

  /** Add the reference's three audit columns
    * (utils/dataframe_operations.py:53-70): `updatedby`,
    * `updated_utc_ts`, `runid`.
    *
    * The reference's Python default-arg gotcha freezes the timestamp at
    * import — one value per process. Spark's `current_timestamp()` is
    * fixed per query, which matches that semantic; we additionally
    * truncate to milliseconds to honor the declared
    * `pa.timestamp("ms")` contract (rdbms_operations.py:77).
    *
    * One per-run `runid` literal replaces the reference's per-chunk
    * decrementing run_id (rdbms_operations.py:225,246) — chunk identity
    * has no stable analogue under Spark partitioning (SURVEY.md §7.3).
    */
  def addAuditColumns(df: DataFrame,
                      updatedBy: String = "redshiftadmin",
                      runId: Long = -1L,
                      ts: Column = date_trunc("millisecond", current_timestamp()))
      : DataFrame =
    df.withColumn("updatedby", lit(updatedBy))
      .withColumn("updated_utc_ts", ts)
      .withColumn("runid", lit(runId))

  /** The reference's row hash (utils/dataframe_operations.py:73-90):
    * NULL -> '', join all listed columns' string casts with ',', wrap
    * in '(...)', MD5-hex. The bytes equal
    * `md5(concat('(', concat_ws(',', coalesce(cast(c as string), '')…), ')'))`.
    *
    * One native expression ([[graft.functions.RowHash]]) formats the
    * row into a reused buffer and digests it in the scan's codegen
    * pass, with no per-column strings. Integral, boolean, string,
    * decimal (precision <= 18), date and timestamp (fixed-offset
    * session zone) values are formatted directly; every other type,
    * and dates and timestamps outside years 1-9999, are printed by
    * Spark's own cast to string.
    */
  def rowHashExpr(cols: Seq[String]): Column = RowHash.rowHash(cols.map(col))

  /** Append `row_hash_code` (schema registration at reference
    * rdbms_operations.py:115).
    */
  def addRowHash(df: DataFrame, cols: Seq[String],
                 out: String = "row_hash_code"): DataFrame =
    df.withColumn(out, rowHashExpr(cols))
}
