package graft.pipeline

import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end training-corpus cleaning: the composition a 100 TB
  * text pipeline actually runs, built entirely from the engine's
  * operator library.
  *
  *   1. quality gate   — drop documents under `minTokens` tokens
  *   2. exact dedup    — keep the min-id document per exact text hash
  *   3. near dedup     — MinHash/LSH candidate pairs; greedily drop
  *                       the higher id of every candidate pair
  *                       (deterministic: pairs are emitted a < b)
  *
  * Shuffle budget: one for the exact-dedup hash, one for the MinHash
  * signatures, one for the LSH band buckets — all on high-cardinality
  * keys; no quadratic stage anywhere (the pairwise work happens only
  * inside bounded LSH buckets).
  *
  * Scan budget: `quality` feeds BOTH the exact-dedup keeper pass and
  * the survivor semi-join; `unique` feeds BOTH the MinHash stage and
  * the final anti-join. Without materialization Spark re-derives each
  * subtree per consumer — at corpus scale that is dozens of full
  * source scans (round-1 plan: 48 scans / 22 exchanges). Both are
  * persisted DISK_ONLY (spill-safe at 100 TB), so each run scans the
  * source once and never re-runs a dedup shuffle. Callers that write
  * the result to a sink can free the cache afterwards via
  * `spark.catalog.clearCache()` or by re-staging to parquet between
  * phases.
  */
object CorpusClean {

  /** `transitive` resolves near-dup evidence through connected
    * components before dropping: with pairs (A,C) and (B,C) only, the
    * pair-greedy rule keeps both A and B even though they are
    * transitively duplicates — components keep exactly the min id per
    * duplicate cluster. Default false: q60's oracle replays the
    * pair-greedy contract.
    */
  final case class Params(minTokens: Int = 20, minhashK: Int = 8,
                          bands: Int = 4, rowsPerBand: Int = 2,
                          transitive: Boolean = false)

  /** Returns the surviving (doc_id, text) rows. */
  def clean(docs: DataFrame, params: Params = Params()): DataFrame = {
    val quality = docs
      .where(size(TextAnalysis.tokens(col("text"))) >= params.minTokens)
      .persist(StorageLevel.DISK_ONLY)

    val keepers = Dedup.exactDedup(quality, "doc_id", Seq("text"))
      .select(col("keeper_id").as("doc_id"))
    // Materialized once: consumed by the MinHash stage AND the final
    // anti-join; also collapses the duplicated `quality` derivation.
    val unique = quality.join(keepers, Seq("doc_id"), "left_semi")
      .persist(StorageLevel.DISK_ONLY)

    val sig = Dedup.minhashSignatures(unique, "doc_id", "text", params.minhashK, 3)
    val nearDups =
      if (params.transitive) {
        // star edges (connectivity-equivalent, n-1 per bucket) ->
        // components -> drop everything but each cluster's min id
        val edges = Dedup.lshCandidateEdges(sig, "doc_id",
          params.bands, params.rowsPerBand)
        Dedup.connectedComponents(edges)
          .where(col("id") =!= col("component"))
          .select(col("id").as("doc_id"))
      } else {
        Dedup.lshCandidatePairs(sig, "doc_id", params.bands, params.rowsPerBand)
          .select(col("doc_b").as("doc_id")).distinct()
      }

    unique.join(nearDups, Seq("doc_id"), "left_anti")
  }
}
