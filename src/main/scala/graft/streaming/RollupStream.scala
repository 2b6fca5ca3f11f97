package graft.streaming

import graft.ops.IncrementalAgg
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming rollup maintenance: the streaming half of
  * [[graft.ops.IncrementalAgg]] — a continuously maintained
  * materialized aggregate table fed by micro-batches, each folded in
  * with one O(batch) partial aggregation and a touched-partition
  * merge. The dashboard rollup stays fresh without EVER rescanning
  * the event history.
  *
  * Unlike a keyed upsert, a COUNT/SUM fold is NOT naturally
  * idempotent: re-applying a replayed micro-batch (foreachBatch
  * re-executes the last batch after a crash between sink commit and
  * checkpoint commit) would double-count it. The
  * sink therefore runs each identified micro-batch through
  * [[BatchMarkers.applyOnce]] — applied ids are marker objects under
  * `<path>/_applied/`, and a marked id is skipped — the standard
  * transactional-sink discipline shared with [[Scd2Stream]], making
  * the fold effectively exactly-once under at-least-once redelivery
  * (the rename-sized fold-vs-marker window is documented there).
  */
object RollupStream {

  /** Fold one identified micro-batch into the rollup at `path`,
    * skipping batch ids that have already been applied. Returns true
    * if the batch was applied, false if recognized as a replay.
    */
  def applyBatch(batch: DataFrame, batchId: Long, path: String,
                 keys: Seq[String], measures: Seq[IncrementalAgg.Measure],
                 partitionCol: String): Boolean = {
    val spark = batch.sparkSession
    BatchMarkers.applyOnce(spark, path, batchId) {
      // no separate isEmpty action: updateTable's touched-partition
      // collect doubles as the emptiness check (an empty batch folds
      // to zero partials and touches nothing) — one job, not two, per
      // micro-batch (r16)
      IncrementalAgg.updateTable(spark, path, batch, keys, measures,
        partitionCol)
      ()
    }
  }

  /** Start maintaining the rollup at `path` from `rows` (a streaming
    * DataFrame already carrying the key + measure source columns).
    */
  def start(rows: DataFrame, path: String, keys: Seq[String],
            measures: Seq[IncrementalAgg.Measure], partitionCol: String,
            checkpointDir: String): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyBatch(batch, id, path, keys, measures, partitionCol)
        ()
      }
      .start()
}
