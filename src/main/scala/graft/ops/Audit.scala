package graft.ops

import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.collection.immutable.ListMap

import graft.functions.{RowHash, RunConstant}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Audit columns (reference O-6) and row fingerprinting (reference O-8).
  */
object Audit {

  /** The audit columns' names, in the order they are appended. */
  val AuditColumns: Seq[String] = Seq("updatedby", "updated_utc_ts", "runid")

  /** Add the reference's three audit columns
    * (utils/dataframe_operations.py:53-70): `updatedby`,
    * `updated_utc_ts`, `runid`.
    *
    * The reference's Python default-arg gotcha freezes the timestamp at
    * import — one value per process. The default `ts` here is taken on
    * the driver when this is called ([[loadTimestamp]]), once per frame,
    * and truncated to milliseconds to honor the declared
    * `pa.timestamp("ms")` contract (rdbms_operations.py:77).
    *
    * One per-run `runid` value replaces the reference's per-chunk
    * decrementing run_id (rdbms_operations.py:225,246) — chunk identity
    * has no stable analogue under Spark partitioning (SURVEY.md §7.3).
    */
  def addAuditColumns(df: DataFrame,
                      updatedBy: String = "redshiftadmin",
                      runId: Long = -1L,
                      ts: Column = loadTimestamp())
      : DataFrame =
    df.withColumns(ListMap(AuditColumns.zip(auditValues(updatedBy, runId, ts)): _*))

  /** The audit columns' values, in [[AuditColumns]] order.
    *
    * `updatedby` and `runid` are [[RunConstant]]s, not literals: Spark
    * inlines a long or timestamp literal into the generated Java, so
    * each run (and, with a per-query timestamp, each table) would get a
    * stage of new source text and pay its Janino compiles and a cold
    * JIT again. Read from the stage's references, the values change
    * while the compiled stage is reused.
    */
  def auditValues(updatedBy: String, runId: Long, ts: Column): Seq[Column] =
    Seq(RunConstant.string(updatedBy), ts, RunConstant.long(runId))

  /** Now, on the driver, truncated to milliseconds, as a [[RunConstant]]
    * (the same value `date_trunc("millisecond", current_timestamp())`
    * gives a query started at this instant, without its per-query
    * literal).
    */
  def loadTimestamp(): Column =
    RunConstant.timestamp(Instant.now().truncatedTo(ChronoUnit.MILLIS))

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
