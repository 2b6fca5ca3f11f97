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
  * Measured either way at 8 columns x 12M rows (x20 run
  * rows profile_onepass / profile_grouped): one-pass 4.2 s vs grouped
  * 11.8 s with healthy executor memory — the Expand's extra rows are
  * cheaper than re-scanning — but the ranking INVERTS under memory
  * pressure (grouped 7.6 s vs one-pass 35 s on a page-cache-starved
  * host), because the one-pass aggregate's hash state covers every
  * distinct-count at once. One-pass is the default;
  * [[profileNumericGrouped]] is the explicit escape hatch for
  * memory-constrained or very wide profiles. min/max surface as
  * double (exact for the numeric/date profile set and render-stable
  * across engines, unlike decimal/float strings).
  */
object Profile {

  def profileNumeric(df: DataFrame, cols: Seq[String]): DataFrame =
    profileNumericOnePass(df, cols)

  def profileNumericOnePass(df: DataFrame, cols: Seq[String]): DataFrame = {
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

  /** Per-column-group variant: identical output, but the profile runs
    * as ⌈cols/groupSize⌉ separate scans whose Expand factor is only
    * groupSize+1 each, instead of one scan expanded ncols+1-fold.
    * Total expanded row volume is HIGHER (n·(cols + cols/groupSize)
    * vs n·(cols+1)) and one-pass wins with healthy memory, but each
    * grouped aggregate's hash state is a fraction of the one-pass
    * giant — the measured winner only under memory pressure (see
    * object scaladoc for both measurements).
    */
  def profileNumericGrouped(df: DataFrame, cols: Seq[String],
                            groupSize: Int = 2): DataFrame =
    cols.grouped(math.max(groupSize, 1))
      .map(g => profileNumericOnePass(df, g))
      .reduce(_ unionAll _)
}
