package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Positional inverted index + exact phrase search — the retrieval
  * layer underneath bag-of-words ranking (q115's BM25 scores docs but
  * cannot answer "these words ADJACENT, in this order").
  *
  * Posting layout: one row per (term, doc) carrying tf and the sorted
  * POSITIONS array — rows = postings, not occurrences, so the index
  * is |vocab x docs containing| sized and each probe explodes only
  * the phrase terms' position lists. On disk the index is
  * hive-partitioned by `bucket` = a stable hash of the term into
  * `nBuckets` directories: `partitionBy(term)` would create a
  * directory per vocabulary word (millions at corpus scale — a
  * metadata bomb), while term-hash bucketing keeps the directory
  * count fixed and still lets a probe read ONLY the phrase terms'
  * buckets (static partition prune) with the exact `term IN (...)`
  * filter pushed into the parquet scan inside them.
  *
  * Phrase matching is the classic positional-join: occurrence i of
  * the phrase anchors at position p iff term_i appears at p + i, so
  * each term's postings shift by -i onto a shared `anchor` key and
  * the phrase is an n-way equi-join on (doc, anchor) — no regex over
  * the raw text, no re-scan of the corpus. Every join is keyed the
  * same way, so one shuffle partitioning serves the whole chain (and
  * phrase-term postings are a vanishing fraction of the index).
  */
object InvertedIndex {

  /** Number of hash buckets the on-disk layout uses; a probe prunes
    * to the phrase terms' buckets.
    */
  val DefaultBuckets = 64

  private def bucketOf(term: org.apache.spark.sql.Column, n: Int) =
    pmod(xxhash64(term), lit(n.toLong)).cast("int")

  /** Build the positional postings frame: (term, bucket, doc, tf,
    * positions — 0-based, sorted).
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
            nBuckets: Int = DefaultBuckets): DataFrame =
    docs.select(col(idCol).as("doc"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "term")))
      .groupBy("term", "doc")
      .agg(count(lit(1)).as("tf"), sort_array(collect_list("pos")).as("positions"))
      .withColumn("bucket", bucketOf(col("term"), nBuckets))

  /** Materialize the index, hive-partitioned by term-hash bucket.
    * Beside the postings the index carries a `_doclen` sidecar —
    * (doc, dl), the per-document token count (Lucene's norms file):
    * BM25 needs document lengths and corpus averages, and reading
    * |docs| tiny rows from the sidecar beats re-tokenizing the corpus
    * per query. The underscore prefix hides the sidecar from the
    * partitioned postings read.
    */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 path: String, nBuckets: Int = DefaultBuckets): Unit = {
    // postings first: their overwrite clears the whole dir, sidecar after
    build(docs, idCol, textCol, nBuckets)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    docs.select(col(idCol).as("doc"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("dl"))
      .write.mode("overwrite").parquet(path + "/_doclen")
  }

  /** Exact phrase occurrences per document from a postings frame:
    * (doc, n_occurrences), docs with zero occurrences absent.
    */
  def phraseFromPostings(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val anchors = phrase.zipWithIndex.map { case (t, i) =>
      postings.where(col("term") === t)
        .select(col("doc"), explode(col("positions")).as("p"))
        .select(col("doc"), (col("p") - i).as("anchor"))
    }
    anchors.reduce((a, b) => a.join(b, Seq("doc", "anchor")))
      .groupBy("doc").agg(count(lit(1)).as("n_occurrences"))
  }

  /** In-memory phrase search (build + match in one plan). */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
                   phrase: Seq[String]): DataFrame =
    phraseFromPostings(build(docs, idCol, textCol), phrase)

  /** Pruned + pushed postings read for a term set: only the terms'
    * buckets are listed (static partition prune — bucket ids are a
    * pure driver-side function of the terms) and the exact `term IN`
    * filter reaches the parquet scan.
    */
  private def probePostings(spark: SparkSession, path: String,
                            terms: Seq[String], nBuckets: Int): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val buckets = terms.toDF("term")
      .select(bucketOf(col("term"), nBuckets)).as[Int].collect()
      .toSeq.distinct.sorted
    spark.read.parquet(path)
      .where(col("bucket").isin(buckets.map(Integer.valueOf): _*))
      .where(col("term").isin(terms: _*))
  }

  /** Phrase search against a MATERIALIZED index: reads only the
    * phrase terms' buckets (static partition prune) with the exact
    * term set pushed into the scan.
    */
  def phraseSearchIndex(spark: SparkSession, path: String,
                        phrase: Seq[String],
                        nBuckets: Int = DefaultBuckets): DataFrame =
    phraseFromPostings(probePostings(spark, path, phrase.distinct, nBuckets),
      phrase)

  /** Okapi BM25 scoring tail (k1=1.2, b=0.75, Lucene idf), shared by
    * the corpus-scan composition (q115) and [[bm25SearchIndex]]:
    * `tf(doc_id, term, tf)` are the query terms' postings,
    * `dfreq(term, df)` the document frequencies, `dl(doc_id, dl)` the
    * document lengths, `stats` one row (n_docs, total_len).
    * Per-term contributions round to micro BEFORE the per-doc sum
    * (exact-integer scores, order-independent — the q115 oracle
    * convention, bit-replicable in SQL).
    */
  def bm25Score(tf: DataFrame, dfreq: DataFrame, dl: DataFrame,
                stats: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.types.LongType
    tf.join(broadcast(dfreq), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("total_len").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df") + lit(0.5))
          / (col("df").cast("double") + lit(0.5))))
      .withColumn("contrib_micro",
        round(col("idf") * (col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double")
            + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
          * lit(1000000.0)).cast(LongType))
      .groupBy("doc_id")
      .agg(sum(col("contrib_micro")).as("score_micro"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(k)
  }

  /** BM25 top-k against a MATERIALIZED index — why the index exists:
    * the corpus-scan path (q115) re-tokenizes every document per
    * query; this probe touches only the query terms' postings (pruned
    * + pushed, a vanishing fraction of the index) plus the |docs|-row
    * `_doclen` sidecar. df is one tiny aggregation over the pruned
    * postings; corpus stats one aggregation over the sidecar.
    */
  def bm25SearchIndex(spark: SparkSession, path: String,
                      terms: Seq[String], k: Int,
                      nBuckets: Int = DefaultBuckets): DataFrame = {
    val tf = probePostings(spark, path, terms.distinct, nBuckets)
      .select(col("doc").as("doc_id"), col("term"), col("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val doclen = spark.read.parquet(path + "/_doclen")
    val dl = doclen.select(col("doc").as("doc_id"), col("dl"))
    val stats = doclen.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("total_len"))
    bm25Score(tf, dfreq, dl, stats, k)
  }
}
