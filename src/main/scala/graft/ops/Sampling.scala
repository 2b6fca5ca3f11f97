package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic, content-addressed sampling.
  *
  * RNG-based samplers (`df.sample`, `sampleBy`) are seeded per
  * partition: the selected rows change under repartitioning, retries,
  * or engine differences — useless for reproducible training-data
  * curation. Here membership is a pure function of the row's KEY
  * (md5-derived uniform), so a row's fate is identical on any engine,
  * any partitioning, any rerun, and samples are consistent across
  * tables sharing the key (the join of two 10% samples is the 10%
  * sample of the join).
  *
  * The hash is a narrow map — no shuffle, no state; at 100 TB this is
  * a pushdown-friendly filter like any other.
  */
object Sampling {

  /** md5-derived uniform in [0, 1000) milli-units, exact in any
    * engine: ('0x' || substr(md5(key), 1, 8))::BIGINT % 1000.
    * NULL keys hash to NULL, so every `hashMilli < rate` membership
    * test EXCLUDES them — a row without a content address has no
    * stable sampling fate (assign surrogate keys upstream if null
    * keys must participate).
    */
  def hashMilli(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast(LongType) % 1000

  /** Keep rows whose key hashes under their stratum's rate
    * (per-mill), e.g. to rebalance languages in a training corpus.
    * Unlisted strata get `defaultMilli`, so an empty `ratesMilli` is
    * a uniform sample.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       ratesMilli: Map[String, Int],
                       defaultMilli: Int = 0): DataFrame = {
    val rate = ratesMilli.toSeq.sortBy(_._1).foldLeft(lit(defaultMilli)) {
      case (acc, (stratum, r)) =>
        when(col(stratumCol) === stratum, lit(r)).otherwise(acc)
    }
    df.where(hashMilli(col(keyCol)) < rate)
  }

  /** Per-domain sampling rates (per-mill) that steer the corpus toward
    * a target mixture — the static form of training-data mixture
    * reweighting (the DoReMi/Pile-style "domain weights" knob, applied
    * as deterministic downsampling, never upsampling).
    *
    * For domain d with n_d rows out of N total and target share t_d
    * (per-mill), the keep-rate is min(1, t_d·N / (1000·n_d)) — i.e.
    * rate_milli = min(1000, t_d·N div n_d), computed in exact integer
    * arithmetic. Domains under their target keep everything (capped at
    * 1000); over-represented domains are thinned. Unlisted domains get
    * `defaultMilli`.
    *
    * One tiny aggregation (|domains| rows) produces the rate table;
    * applying it is a broadcast join + narrow filter — nothing about
    * the corpus itself shuffles.
    */
  def mixtureRatesMilli(df: DataFrame, domainCol: String,
                        targetMilli: Map[String, Int],
                        defaultMilli: Int = 1000): DataFrame = {
    val target = targetMilli.toSeq.sortBy(_._1).foldLeft(lit(defaultMilli)) {
      case (acc, (d, s)) => when(col(domainCol) === d, lit(s)).otherwise(acc)
    }
    df.groupBy(domainCol).agg(count(lit(1)).as("n_domain"))
      .crossJoin(df.agg(count(lit(1)).as("n_total")))
      .withColumn("_target", target.cast(LongType))
      .withColumn("rate_milli",
        least(lit(1000L), expr("(_target * n_total) DIV n_domain")).cast(LongType))
      .drop("_target")
  }

  /** [[mixtureRatesMilli]] with TOKEN-mass accounting: the target mix
    * is expressed over `weightCol` sums (token counts — the unit an
    * LM mixture is actually specified in), not document counts. A
    * domain of few huge documents and one of many small ones with
    * the same doc count contribute very different token mass; doc-
    * count rates silently skew the trained mixture toward the
    * long-document domain. rate = min(1000, tgt‰ · total_tokens /
    * domain_tokens), exact integer arithmetic; the keep decision
    * stays per-DOCUMENT and content-addressed (expected kept token
    * mass hits the target; documents stay whole).
    */
  def mixtureRatesMilliWeighted(df: DataFrame, domainCol: String,
                                weightCol: String,
                                targetMilli: Map[String, Int],
                                defaultMilli: Int = 1000): DataFrame = {
    val target = targetMilli.toSeq.sortBy(_._1).foldLeft(lit(defaultMilli)) {
      case (acc, (d, s)) => when(col(domainCol) === d, lit(s)).otherwise(acc)
    }
    df.groupBy(domainCol).agg(sum(col(weightCol)).as("w_domain"))
      .crossJoin(df.agg(sum(col(weightCol)).as("w_total")))
      .withColumn("_target", target.cast(LongType))
      .withColumn("rate_milli",
        least(lit(1000L), expr("(_target * w_total) DIV w_domain")).cast(LongType))
      .drop("_target")
  }

  /** Apply [[mixtureRatesMilliWeighted]]: same content-addressed
    * per-document gate as [[mixtureResample]], rates from token mass.
    */
  def mixtureResampleWeighted(df: DataFrame, keyCol: String,
                              domainCol: String, weightCol: String,
                              targetMilli: Map[String, Int],
                              defaultMilli: Int = 1000): DataFrame = {
    val rates = mixtureRatesMilliWeighted(df, domainCol, weightCol,
        targetMilli, defaultMilli)
      .select(col(domainCol), col("rate_milli"))
    df.join(broadcast(rates), domainCol)
      .where(hashMilli(col(keyCol)) < col("rate_milli"))
  }

  /** Apply [[mixtureRatesMilli]]: keep rows whose content hash falls
    * under their domain's rate. Membership stays a pure function of
    * (key, domain targets) — reproducible across engines and reruns.
    */
  def mixtureResample(df: DataFrame, keyCol: String, domainCol: String,
                      targetMilli: Map[String, Int],
                      defaultMilli: Int = 1000): DataFrame = {
    val rates = mixtureRatesMilli(df, domainCol, targetMilli, defaultMilli)
      .select(col(domainCol), col("rate_milli"))
    df.join(broadcast(rates), domainCol)
      .where(hashMilli(col(keyCol)) < col("rate_milli"))
  }

  /** Deterministic train/val/test assignment: the split is a pure
    * function of the row's KEY, so a document keeps its split across
    * re-ingests, engine changes, and corpus growth — new data never
    * migrates existing rows between splits (the content-addressed
    * guarantee that prevents silent test-set leakage in a pipeline
    * that reprocesses its corpus). Narrow map, no shuffle.
    *
    * NULL keys get a NULL split (same exclusion contract as
    * [[hashMilli]]): without the leading isNull branch they would fall
    * through both `when`s into `.otherwise("test")` and silently
    * pollute the test split.
    */
  def assignSplit(df: DataFrame, keyCol: String,
                  trainMilli: Int = 900, valMilli: Int = 50): DataFrame =
    df.withColumn("split",
      when(col(keyCol).isNull, lit(null).cast("string"))
        .when(hashMilli(col(keyCol)) < trainMilli, "train")
        .when(hashMilli(col(keyCol)) < trainMilli + valMilli, "val")
        .otherwise("test"))

  /** At-most-`k`-per-group cap by content-addressed priority: the
    * deterministic reservoir. Used for cluster-balanced diversity
    * subsampling (cap each embedding cluster), boilerplate caps per
    * host, etc. One shuffle on the group key; the `rn` column is the
    * 1-based priority rank within the group.
    */
  def capPerGroup(df: DataFrame, groupCol: String, keyCol: String,
                  k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(col("_pri"), col(keyCol))
    df.withColumn("_pri",
        conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
          .cast(LongType))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .where(col("rn") <= k)
      .drop("_pri")
  }

  /** WEIGHTED sampling without replacement, k per group — the
    * Efraimidis–Spirakis priority rule with content-addressed
    * pseudo-randomness: each row draws u ∈ (0,1) from 52 md5 bits of
    * its key (exact on any engine: the divisor is a power of two) and
    * ranks by priority ln(u)/w descending, which samples WITHOUT
    * replacement with inclusion odds proportional to `weightCol`
    * (w ≤ 0 rows are excluded — zero-weight items are unsampleable by
    * definition). The "sample documents proportional to quality
    * score" shape, with q95/q82's engine/partitioning-independence:
    * membership is a pure function of (key, weight), so re-runs,
    * repartitions, and cross-engine replays agree row-for-row.
    *
    * Determinism note: ln is libm-dependent in its last ulp, but only
    * the ORDERING of priorities reaches the output, and distinct
    * (u, w) pairs are separated by astronomically more than an ulp —
    * the q91 unigram-LM precedent. One shuffle on the group key.
    */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String, keyCol: String,
                             weightCol: String, k: Int): DataFrame =
    weightedSamplePerGroupWithPriority(df, groupCol, keyCol, weightCol, k)
      .drop("_es")

  /** [[weightedSamplePerGroup]] with the `_es` priority column kept —
    * the streaming reservoir's per-batch distributed stage needs the
    * priority to merge cross-batch state.
    */
  private[graft] def weightedSamplePerGroupWithPriority(
      df: DataFrame, groupCol: String, keyCol: String,
      weightCol: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(col("_es").desc, col(keyCol))
    df.where(col(weightCol) > 0)
      .withColumn("_es", esPriority(keyCol, weightCol))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .where(col("rnk") <= k)
  }

  /** The Efraimidis–Spirakis priority ln(u)/w as a column — u drawn
    * content-addressed from 52 md5 bits of the key, so a key's
    * priority is the same on every run and engine. Requires
    * `weightCol > 0` upstream.
    */
  private def esPriority(keyCol: String, weightCol: String): Column =
    expr(
      s"ln((CAST(conv(substring(md5(CAST($keyCol AS STRING)), 1, 13), 16, 10)" +
        s" AS BIGINT) + 0.5) / ${1L << 52}.0) / CAST($weightCol AS DOUBLE)")
}
