package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Incremental-ingest dedup: drop from a new batch every document
  * whose content fingerprint already exists in the historical corpus.
  *
  * This is the steady-state shape of corpus curation at 100 TB: the
  * full corpus was deduplicated once, and each day a (relatively)
  * small increment arrives that must be checked against ALL history.
  * A plain `left_anti` join re-shuffles the historical fingerprint set
  * on every ingest — O(history) work for an O(batch) question.
  *
  * Here a Bloom filter built over the historical fingerprints (built
  * distributed via `DataFrameStatFunctions.bloomFilter` — one
  * aggregation pass, merged on the driver, broadcast to executors)
  * prefilters the batch:
  *
  *   - bloom says NO  -> the fingerprint is definitely absent from
  *     history (no false negatives) -> the row passes through with no
  *     join at all;
  *   - bloom says MAYBE -> the row (true dups + an `fpp` fraction of
  *     false positives) goes to an exact anti-join for resolution.
  *
  * Exactness is preserved by construction — the bloom only routes
  * rows, the anti-join decides. The join's probe side shrinks from
  * |batch| to |dups| + fpp·|batch|, so for a mostly-novel batch the
  * shuffle all but disappears. Sizing: ~1.2 GB per 10^9 fingerprints
  * at 1% fpp; past that, raise fpp — correctness never depends on
  * it.
  * Pre-bucketing history by `fp` (see [[Bucketing]])
  * removes the history-side shuffle of the residual join too.
  *
  * Reference analogue: the reference dedups only within one pandas
  * chunk (`utils/dataframe_operations.py` drop_duplicates); the
  * cross-run/incremental form is the scale generalization.
  */
object IncrementalDedup {

  /** 60-bit content fingerprint: ('0x' || substr(md5(x), 1, 15)) as a
    * BIGINT — engine-portable (same value in DuckDB), collision odds
    * ~n²/2^61 (≪1 for any realistic batch), and primitive-typed so
    * joins and blooms stay on long buffers.
    */
  def fp60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast(LongType)

  /** One distributed aggregation pass over the historical fingerprints
    * (merged on the driver). Steady-state ingest builds this ONCE and
    * reuses it across batches ([[dedupAgainstBloom]]); the build is
    * O(history) and amortizes to zero, the per-batch cost is O(batch).
    */
  def buildBloom(history: DataFrame, fpCol: String, expectedItems: Long,
                 fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    // first-ingest state: stat.bloomFilter NPEs on an empty frame
    // (null aggregate buffer); an empty filter (answers "no" for
    // everything) is the correct value — the whole batch is new
    if (history.isEmpty)
      org.apache.spark.util.sketch.BloomFilter.create(math.max(expectedItems, 1L), fpp)
    else history.stat.bloomFilter(fpCol, expectedItems, fpp)

  /** Rows of `batch` whose `fpCol` (a long fingerprint) does NOT occur
    * in `history(fpCol)`. Bloom-prefiltered exact anti-join; output
    * equals `batch.join(history, Seq(fpCol), "left_anti")` exactly.
    *
    * `expectedItems`/`fpp` size the bloom only — they never affect the
    * result, only how much of the batch short-circuits the join.
    * One-shot convenience over [[buildBloom]] + [[dedupAgainstBloom]];
    * a standing pipeline keeps the bloom and calls the latter.
    */
  def dedupAgainst(batch: DataFrame, history: DataFrame, fpCol: String,
                   expectedItems: Long, fpp: Double = 0.01): DataFrame =
    dedupAgainstBloom(batch, history, fpCol,
      buildBloom(history, fpCol, expectedItems, fpp))

  /** The steady-state probe: route `batch` through a pre-built bloom,
    * resolve the maybe-dups exactly against `history`.
    *
    * The bloom does more than skip join work — it makes the probe set
    * SMALL (|dups| + fpp·|batch|), and a small probe set flips the
    * join strategy: instead of the textbook anti-join (which shuffles
    * the full history fingerprint set — O(history) network, every
    * ingest), the probe fps broadcast, history is semi-scanned in
    * place for confirmed hits (broadcast-hash, zero history-side
    * Exchange at ANY history size), and the confirmed-dup set — tiny —
    * broadcasts back into the final anti-join. Net per-ingest data
    * movement: O(batch), plus one in-place scan of history that
    * pre-bucketing or partition-pruned fingerprint stores can narrow
    * further. `maxBroadcastProbe` guards the degenerate mostly-dup
    * batch, falling back to the shuffled anti-join.
    */
  def dedupAgainstBloom(batch: DataFrame, history: DataFrame, fpCol: String,
                        bloom: org.apache.spark.util.sketch.BloomFilter,
                        maxBroadcastProbe: Long = 10000000L): DataFrame = {
    val bc = batch.sparkSession.sparkContext.broadcast(bloom)
    // native codegen'd probe (graft.functions.BloomMightContainLong):
    // the routing filter stays inside whole-stage codegen — a UDF here
    // broke the stage's codegen and boxed every fingerprint
    def mightContain(c: Column): Column =
      graft.functions.BloomMightContainLong.mightContain(c, bc)
    // null fingerprints: the anti-join keeps them (null keys never
    // match), so the bloom route must too — a null predicate would
    // silently drop them from BOTH branches
    val definitelyNew = batch.where(col(fpCol).isNull ||
      !mightContain(col(fpCol)))
    val maybeDup = batch.where(col(fpCol).isNotNull &&
      mightContain(col(fpCol)))
    // ONE action sizes the probe set AND captures it: take(max+1)
    // both decides the route and, on the broadcast path, becomes the
    // probe relation itself — so the final plan never re-derives
    // probeFps from the batch (the old count()-then-rebuild shape
    // paid the batch scan + distinct twice per ingest). The driver
    // round-trip is the same bytes the broadcast would ship anyway.
    val probeHead = maybeDup.select(fpCol).distinct()
      .take(math.min(maxBroadcastProbe, Int.MaxValue - 2L).toInt + 1)
    val resolved =
      if (probeHead.length <= maxBroadcastProbe) {
        val spark = batch.sparkSession
        import spark.implicits._
        val probeFps = spark
          .createDataset(probeHead.map(_.getLong(0)).toIndexedSeq)
          .toDF(fpCol)
        val dupFps = history.select(fpCol)
          .join(broadcast(probeFps), Seq(fpCol), "left_semi").distinct()
        maybeDup.join(broadcast(dupFps), Seq(fpCol), "left_anti")
      } else
        maybeDup.join(history.select(fpCol), Seq(fpCol), "left_anti")
    definitelyNew.unionByName(resolved)
  }
}
