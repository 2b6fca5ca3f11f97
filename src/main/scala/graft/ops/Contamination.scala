package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark-contamination detection: flag training documents that
  * share verbatim n-grams with an evaluation/benchmark set — the
  * standard decontamination pass (the GPT-3/PaLM papers use 8-13 word
  * grams) every serious pretraining pipeline runs before training.
  *
  * Scale shape: the benchmark side is SMALL (eval suites are a few
  * thousand documents) and is broadcast — the 100 TB corpus is never
  * shuffled to find hits. Per-document grams are deduplicated INSIDE
  * the row (`array_distinct` before the explode), so the joined
  * volume is bounded by distinct-gram count, and the final per-doc
  * aggregation only shuffles actual hits (a tiny fraction of the
  * corpus). A no-hit document costs one broadcast-hash probe per
  * distinct gram and nothing else.
  */
object Contamination {

  /** (id, gram) pairs, one row per DISTINCT `n`-word shingle per
    * document; documents shorter than `n` tokens have no grams.
    */
  def distinctShingles(df: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= n)
      .select(col(idCol),
        explode(expr(s"array_distinct(${Dedup.shingleExpr(n)})")).as("sh"))

  /** Contaminated corpus documents: for each corpus doc sharing at
    * least one `n`-gram with any benchmark doc, the number of distinct
    * overlapping grams, the number of benchmark docs hit, and the
    * smallest benchmark doc id (a deterministic exemplar).
    */
  def check(corpus: DataFrame, bench: DataFrame, idCol: String,
            textCol: String, n: Int): DataFrame = {
    val cs = distinctShingles(corpus, idCol, textCol, n)
    val bs = distinctShingles(bench, idCol, textCol, n)
      .select(col(idCol).as("bench_id"), col("sh"))
    cs.join(broadcast(bs), "sh")
      .groupBy(idCol)
      .agg(countDistinct(col("sh")).as("n_hit_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"),
        min(col("bench_id")).as("first_bench_id"))
  }

  /** Corpus-wide n-gram document-frequency statistics: for each
    * distinct `n`-gram, how many documents contain it and the smallest
    * containing doc id (a deterministic exemplar). The raw material
    * for boilerplate/template detection and blocklist construction —
    * a gram appearing in thousands of documents is navigation chrome,
    * not content.
    *
    * Scale shape (two-pass): a web-scale gram df distribution is
    * Zipf — the overwhelming majority of grams are singletons that
    * `minDf` discards, yet a single-pass groupBy both MATERIALIZES
    * every shingle as a string (an interpreted concat_ws HOF,
    * measured as the dominant cost of the whole operator) and ships
    * it through the shuffle at ~25 bytes. Pass 1 counts the native
    * [[graft.functions.GramHashes]] 64-bit shingle hashes instead —
    * primitive longs end to end, no gram strings anywhere — and folds
    * the surviving hashes into a Bloom filter (built distributed, no
    * driver-side set); pass 2 ([[graft.functions.SurvivingGrams]])
    * probes every window's hash against the broadcast bloom IN-ROW
    * and builds gram strings ONLY for survivors — a pruned window
    * costs one 64-bit probe, never a string. Exact by construction:
    * the bloom has no false negatives (hash-df >= string-df, so every
    * true survivor passes), and false positives die at the final
    * `df >= minDf` on exact string counts. With `twoPass = false`
    * (or `minDf <= 1`, where nothing prunes) the classic single-pass
    * string aggregation runs instead — the right call for corpora
    * KNOWN to be survivor-dominated, where a prefilter cannot prune.
    *
    * Sizing note for the survivor bloom: survivors are the corpus's
    * repeated grams (boilerplate), ~1.8 bytes each at fpp 0.001. The
    * filter broadcasts comfortably to ~100M survivors. A corpus whose
    * survivor set outgrows broadcast should raise `minDf` (df >= 2 at
    * web scale keeps half of everything) or take the single-pass path.
    */
  def gramDocFrequency(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, minDf: Long = 2L,
                       twoPass: Boolean = true): DataFrame = {
    def exact(g: DataFrame): DataFrame = g
      .groupBy("sh")
      .agg(count(lit(1)).as("df"), min(col(idCol)).as("first_doc"))
      .where(col("df") >= minDf)
    if (!twoPass || minDf <= 1L)
      return exact(distinctShingles(docs, idCol, textCol, n))

    val spark = docs.sparkSession
    val toks = docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= n)
    // pass 1: per-doc distinct gram hashes, no strings in the plan
    val survivors = toks
      .select(explode(array_distinct(
        graft.functions.GramHashes.gramHashArray(col("tk"), n))).as("gh"))
      .groupBy("gh").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select("gh")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSurv = survivors.count()
    // pass 2: per-doc distinct SURVIVING gram strings, built in-row —
    // strings exist only for windows whose hash passed the filter
    val bloom =
      if (nSurv == 0L)
        org.apache.spark.util.sketch.BloomFilter.create(1L, 0.001)
      else survivors.stat.bloomFilter("gh", nSurv, 0.001)
    survivors.unpersist()
    val bc = spark.sparkContext.broadcast(bloom)
    val surviving = graft.functions.SurvivingGrams.survivingGrams(col("tk"), n, bc)
    exact(toks.select(col(idCol), explode(surviving).as("sh")))
  }
}
