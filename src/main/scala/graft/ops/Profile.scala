package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact data profiling: per-column non-null count, null count,
  * distinct count, min and max — the data-quality gate an ingest
  * pipeline runs before trusting a source drop.
  *
  * ONE pass over the data: every column's aggregates run in a single
  * Aggregate (the multi-count-distinct lowers to one Expand +
  * HashAggregate), then the single wide row is reshaped to one row
  * per column with `stack` — no per-column scans, no driver loops.
  * min/max surface as double (exact for the numeric/date profile set
  * and render-stable across engines, unlike decimal/float strings).
  */
object Profile {

  def profileNumeric(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__n"),
      (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__distinct"),
      min(col(c)).cast("double").as(s"${c}__min"),
      max(col(c)).cast("double").as(s"${c}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', `${c}__n`, `${c}__nulls`, `${c}__distinct`, `${c}__min`, `${c}__max`"
    }.mkString(", ")
    wide.selectExpr(
      s"stack(${cols.length}, $stackArgs) AS (column, n, n_nulls, n_distinct, min_d, max_d)")
  }
}
