package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Declarative data-quality constraints (the Deequ/expectations
  * shape): a rule set over a table evaluates to one verdict row per
  * rule — `(rule, col_name, n_violations, metric_milli,
  * threshold_milli, pass)` — so an ingest pipeline can gate a load on
  * `bool_and(pass)` and keep the full report as lineage.
  *
  * Scale contract: ALL single-table rules lower into ONE aggregation
  * pass ([[Profile]]'s stance) — each rule contributes one violation-
  * count aggregate to a single wide `agg`, the one-row result is
  * reshaped with `stack`, and the fraction/verdict math runs on the
  * stacked rows. A 20-rule suite over 100 TB costs exactly one scan,
  * not 20. Referential integrity is the one rule that genuinely
  * needs a second table ([[foreignKey]]): a left join against the
  * parent's distinct keys, counted in the same single pass over the
  * join.
  *
  * Verdict semantics are uniform and exact-integer: `metric_milli` =
  * `n_violations * 1000 DIV n` (violation fraction in milli; for
  * [[RowCount]] the notion of a fraction is degenerate and the rule
  * is strict), `pass` = `metric_milli <= threshold_milli`. Strict
  * rules carry threshold 0; [[NotNull]] takes a tolerance so a
  * mostly-complete column can pass at a declared bar (e.g. <=0.5%
  * nulls = 5 milli).
  */
object Expectations {

  sealed trait Rule
  /** Null fraction of `c` must be <= maxNullMilli/1000. */
  final case class NotNull(c: String, maxNullMilli: Long = 0L) extends Rule
  /** `cs` must be row-unique (violations = rows beyond the first of
    * each duplicated key combination). */
  final case class Unique(cs: Seq[String]) extends Rule
  /** Non-null values of `c` must lie in [lo, hi]. */
  final case class InRange(c: String, lo: Double, hi: Double) extends Rule
  /** Non-null values of `c` must be members of `vs`. */
  final case class InSet(c: String, vs: Seq[String]) extends Rule
  /** Total row count must lie in [lo, hi] (strict: 0 or 1 violations). */
  final case class RowCount(lo: Long, hi: Long) extends Rule

  private def ruleName(r: Rule): String = r match {
    case _: NotNull => "not_null"
    case _: Unique => "unique"
    case _: InRange => "in_range"
    case _: InSet => "in_set"
    case _: RowCount => "row_count"
  }

  private def ruleCol(r: Rule): String = r match {
    case NotNull(c, _) => c
    case Unique(cs) => cs.mkString(",")
    case InRange(c, _, _) => c
    case InSet(c, _) => c
    case RowCount(_, _) => "*"
  }

  private def threshold(r: Rule): Long = r match {
    case NotNull(_, t) => t
    case _ => 0L
  }

  /** One rule's violation-count aggregate (shared with the streaming
    * twin, which folds these per micro-batch). [[RowCount]] is
    * special: its "violation" is a verdict on the TOTAL count, so the
    * batch path evaluates it in-agg while the streaming twin
    * re-derives it from the cumulative count at report time.
    */
  private[graft] def violationAgg(r: Rule): org.apache.spark.sql.Column =
    r match {
      case NotNull(c, _) =>
        count(lit(1)) - count(col(c))
      case Unique(cs) =>
        count(lit(1)) - countDistinct(struct(cs.map(col): _*))
      case InRange(c, lo, hi) =>
        count_if(col(c).isNotNull && (col(c) < lo || col(c) > hi))
      case InSet(c, vs) =>
        count_if(col(c).isNotNull && !col(c).isin(vs.map(v => v: Any): _*))
      case RowCount(lo, hi) =>
        when(count(lit(1)).between(lo, hi), lit(0L)).otherwise(lit(1L))
    }

  /** Evaluate all `rules` over `df` in ONE aggregation pass. */
  def evaluate(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    val violAggs = rules.zipWithIndex.map { case (r, i) =>
      violationAgg(r).cast("long").as(s"v__$i")
    }
    val wide = df.agg((count(lit(1)).cast("long").as("n__") +: violAggs).head,
      (count(lit(1)).cast("long").as("n__") +: violAggs).tail: _*)
    val stackArgs = rules.zipWithIndex.map { case (r, i) =>
      s"'${ruleName(r)}', '${ruleCol(r)}', v__$i, ${threshold(r)}L"
    }.mkString(", ")
    wide
      .selectExpr("n__",
        s"stack(${rules.length}, $stackArgs)" +
          " AS (rule, col_name, n_violations, threshold_milli)")
      .withColumn("metric_milli",
        expr("CASE WHEN n__ = 0 THEN n_violations * 1000" +
          " ELSE n_violations * 1000 DIV n__ END"))
      .withColumn("pass", col("metric_milli") <= col("threshold_milli"))
      .select("rule", "col_name", "n_violations", "metric_milli",
        "threshold_milli", "pass")
  }

  /** Referential integrity: non-null `childKey` values must exist in
    * `parent(parentKey)`. One verdict row, same schema as
    * [[evaluate]]. The parent side is reduced to its DISTINCT keys
    * before the join (tiny for a dimension; lets Catalyst/AQE
    * broadcast it), and orphans are counted in a single pass over the
    * left join — no second scan, no driver-side key set.
    */
  def foreignKey(child: DataFrame, childKey: String,
                 parent: DataFrame, parentKey: String,
                 thresholdMilli: Long = 0L): DataFrame =
    child.select(col(childKey).as("ck__"))
      .join(parent.select(col(parentKey).as("pk__")).distinct(),
        col("ck__") === col("pk__"), "left")
      .agg(count(lit(1)).cast("long").as("n__"),
        count_if(col("ck__").isNotNull && col("pk__").isNull)
          .cast("long").as("n_violations"))
      .withColumn("rule", lit("foreign_key"))
      .withColumn("col_name", lit(childKey))
      .withColumn("threshold_milli", lit(thresholdMilli))
      .withColumn("metric_milli",
        expr("CASE WHEN n__ = 0 THEN n_violations * 1000" +
          " ELSE n_violations * 1000 DIV n__ END"))
      .withColumn("pass", col("metric_milli") <= col("threshold_milli"))
      .select("rule", "col_name", "n_violations", "metric_milli",
        "threshold_milli", "pass")
}
