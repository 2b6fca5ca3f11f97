package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

package object queries {
  /** A named query: (session, fixture dir) -> result frame. */
  type Q = (SparkSession, String) => DataFrame

  def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Exact-arithmetic bridge for oracle parity: derived numeric results
    * are computed in DecimalType (exact, order-independent, identical
    * in Spark and DuckDB) and only cast to double as the final output
    * step — double sums would be non-deterministic under Spark's
    * partial aggregation order AND differ from the oracle's own
    * accumulation order. Raw (un-derived) doubles pass through
    * untouched and stay bit-identical by construction.
    */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** The events fixture stores `ts` as parquet TIMESTAMP(NANOS), which
    * Spark only reads as a raw long (spark.sql.legacy.parquet.nanosAsLong,
    * set in GraftSession). Convert ns -> µs by integer
    * division — the same truncation DuckDB applies on read, so both
    * engines see identical microsecond timestamps.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ => df
    }
  }
}
