package graft.streaming

import graft.ops.SegmentDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming sub-document dedup: a continuous document stream cleaned
  * against ALL segments ever seen, not just the current micro-batch.
  *
  * The cross-batch memory is a parquet segment-fingerprint store, not
  * operator state: stream state lives in executor memory/RocksDB and
  * is sized for keys-in-a-watermark-window, while a corpus segment set
  * at 100 TB is itself terabytes — it belongs in the table tier.
  * Each micro-batch:
  *
  *   1. splits its documents into segments (narrow),
  *   2. keeps first occurrence within the batch (one window),
  *   3. anti-joins the store on segment fingerprint (drops everything
  *      any earlier batch kept),
  *   4. appends the surviving docs' stats to `outPath` and the
  *      surviving fingerprints to the store.
  *
  * With arrival order consistent with `idCol` order (monotone ingest
  * ids — the natural case for a crawl), the cumulative output equals
  * the batch [[SegmentDedup.dedupSegments]] over everything ingested:
  * verified by `StreamingSegmentDedupSpec`. The store read/write is
  * snapshot-isolated per batch via `localCheckpoint` (same pattern as
  * [[graft.ops.IncrementalAgg.updateTable]]) so the append never
  * feeds back into its own batch's anti-join lineage.
  *
  * Store growth is one 32-byte fingerprint row per NEW segment —
  * at most the clean-corpus token volume / segTokens.
  *
  * Replay safety: the fold is NOT naturally idempotent — the segment
  * STORE tolerates a replay (every fingerprint is already present, so
  * the anti-join keeps nothing), but [[SegmentDedup.reassemble]]
  * emits a per-doc totals row whether or not any segment survived, so
  * a re-delivered batch appends a spurious `(doc_id, n_segs, 0,
  * null)` row per document to `outPath` (caught by the q191 oracle
  * gate; fixed round 12). Both attach points therefore run each
  * identified micro-batch through [[BatchMarkers.applyOnce]] keyed on
  * `outPath` — the [[RollupStream]]/[[Scd2Stream]] transactional-sink
  * discipline, with the same documented rename-sized window.
  */
object SegmentDedupStream {

  def start(docs: DataFrame, idCol: String, textCol: String, segTokens: Int,
            storePath: String, outPath: String,
            checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // empty check INSIDE the marker fold: every delivered id is
        // marked (BatchMarkers marking discipline)
        BatchMarkers.applyOnce(batch.sparkSession, outPath, id) {
          if (!batch.isEmpty)
            applyBatch(batch, idCol, textCol, segTokens, storePath, outPath)
        }
        ()
      }
      .start()

  /** One micro-batch of the loop; also the unit the spec replays. */
  def applyBatch(batch: DataFrame, idCol: String, textCol: String,
                 segTokens: Int, storePath: String, outPath: String): Unit = {
    val spark = batch.sparkSession
    // NOTE (r16): unlike the scd2/maxsim/rollup folds, this fold is
    // NOT wrapped in MicroBatch.noAqe — its per-batch work (text
    // segmentation + a window over every segment + the store
    // anti-join) is compute-heavy rather than fixed-bill, and the
    // A/B measured AQE-on faster (min of two runs, 3.85 s vs 4.28 s).
    // The single-file appends below are kept either way: they bound
    // the store's file count at any scale.
    val segs = SegmentDedup.segments(batch, idCol, textCol, segTokens)

    val w = Window.partitionBy("seg").orderBy(col(idCol), col("seg_idx"))
    val inBatch = segs
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .withColumn("seg_fp", md5(col("seg")))

    // data probed through the FS, not a read-and-catch: inside a
    // streaming micro-batch session a missing path surfaces as
    // FileNotFoundException (FileStreamSink metadata resolution), not
    // the batch session's AnalysisException. hasData, not bare
    // exists: a dir holding only _temporary debris from a crashed
    // first append EXISTS but throws on read — and would wedge every
    // retry (the empty-store fallback must cover that state too)
    val seen: DataFrame =
      if (BatchMarkers.hasData(spark, storePath))
        spark.read.parquet(storePath).select("seg_fp")
      else
        spark.emptyDataFrame.select(lit("").as("seg_fp")).where(lit(false))

    // snapshot the survivors BEFORE touching the store: the store
    // append below must not invalidate this plan's source
    val kept = inBatch.join(seen, Seq("seg_fp"), "left_anti")
      .localCheckpoint(true)

    // ONE file per append (batch-bounded rows): without AQE's
    // coalescing every cached partition holding rows would open its
    // own file, and the NEXT batch's store anti-join pays the count
    SegmentDedup.reassemble(segs, kept, idCol)
      .coalesce(1).write.mode("append").parquet(outPath)
    kept.select("seg_fp").coalesce(1)
      .write.mode("append").parquet(storePath)
  }
}
