package graft.streaming

import graft.ops.{Generations, IncrementalDedup, SegmentDedup, ShardedBloom}
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
  * [[graft.sources.Merge.upsertPartitioned]]) so the append never
  * feeds back into its own batch's anti-join lineage.
  *
  * Store growth is one 32-byte fingerprint row per NEW segment —
  * at most the clean-corpus token volume / segTokens; compact it
  * periodically with [[graft.sources.PartitionedSink.compact]].
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

  // ---------------------------------------------------------------
  // XL-history variant: file-backed sharded-bloom routing
  // ---------------------------------------------------------------

  /** [[start]] for a segment history too large to anti-join per batch:
    * the cross-batch membership check routes through a standing
    * file-backed [[ShardedBloom]] family
    * ([[IncrementalDedup.dedupAgainstShardedPath]]) instead of
    * shuffling the full fingerprint store on every micro-batch.
    *
    * Store layout under `storeRoot`:
    * {{{
    *   fps/epoch=K/    accepted segment fps (long fp60), partitioned
    *                   by the family epoch they arrived DURING
    *   bloom/          a [[Generations]] root: gen-N dirs hold the
    *                   sharded families (immutable shard files), the
    *                   pointer log names the served one
    * }}}
    *
    * The family lifecycle is the ONE lifecycle idiom every versioned
    * index in this engine uses — [[Generations]] — not a parallel
    * epoch-listing discipline: the current epoch K is the live
    * generation number + 1 (no generation published => bootstrap
    * epoch 1, no family to probe), re-derived per batch from the
    * pointer (restart-safe, no driver state), and a family becomes
    * servable only by the atomic pointer flip inside
    * [[ShardedBloom.buildToPathVersioned]].
    *
    * Per batch at epoch K: fps covered by the family (`epoch < K`)
    * are routed through the file-backed probe of the LIVE generation —
    * bloom-NO rows skip the join entirely, maybe-dups resolve exactly
    * against the covered partitions; fps accepted SINCE the family was
    * built (`epoch = K`, the delta — small by the rotation bound)
    * resolve by a broadcast anti-join. Exactness is the
    * [[IncrementalDedup]] contract: the bloom only routes, joins
    * decide, and the delta join closes the family's blind spot for
    * post-epoch fingerprints — no false negative at any point in the
    * cadence.
    *
    * Rotation (the [[ShardedBloom.maintainEpochVersioned]] discipline,
    * keyed on delta growth rather than realized fpp — a FILE family
    * never admits in place, so its fpp cannot drift; what grows is
    * the unbloomed delta): when the delta passes `rotateDeltaRows`,
    * the whole store rebuilds into the next generation (task-to-disk,
    * never assembled in a JVM, sized for the store with 1.3x
    * headroom), the pointer flips, and subsequent fps land in
    * `fps/epoch=K+1`. Crash recovery is inherited wholesale:
    * uncommitted debris (no `_meta`) is cleared and reused by the
    * rebuild, a committed-but-unpublished generation (crash between
    * `_meta` commit and pointer flip) is skipped forward, and the
    * pointer never names a half-built family. Superseded generations
    * stay probe-able through [[Generations.prune]]'s keep window
    * (pruned here with keep=2 after each rotation).
    */
  def startSharded(docs: DataFrame, idCol: String, textCol: String,
                   segTokens: Int, storeRoot: String, outPath: String,
                   checkpointDir: String, numShards: Int = 8,
                   rotateDeltaRows: Long = 1000000L): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // empty check INSIDE the marker fold (see start)
        BatchMarkers.applyOnce(batch.sparkSession, outPath, id) {
          if (!batch.isEmpty)
            applyBatchSharded(batch, idCol, textCol, segTokens, storeRoot,
              outPath, numShards, rotateDeltaRows)
        }
        ()
      }
      .start()

  /** One micro-batch of the sharded loop; also the unit the spec
    * replays. Cumulative output over monotone batches equals
    * [[SegmentDedup.dedupSegments]] on the union — across rotations
    * (StreamingSegmentDedupSpec).
    */
  def applyBatchSharded(batch: DataFrame, idCol: String, textCol: String,
                        segTokens: Int, storeRoot: String, outPath: String,
                        numShards: Int = 8,
                        rotateDeltaRows: Long = 1000000L): Unit = {
    val spark = batch.sparkSession
    // not noAqe-wrapped: see applyBatch's note (measured AQE-on faster)
    val fpsDir = s"$storeRoot/fps"
    val bloomRoot = s"$storeRoot/bloom"

    // current epoch = live generation + 1, re-derived per batch from
    // the Generations pointer (restart-safe, no driver state). Only a
    // PUBLISHED family is ever served: a rotation that crashed before
    // its pointer flip leaves the epoch unchanged, and its debris is
    // cleared or skipped by the next rotation (buildToPathVersioned's
    // convergence rules) — the old hand-rolled highest-committed-dir
    // listing is gone.
    val epoch = Generations.current(spark, bloomRoot)
      .map(_ + 1).getOrElse(1L).toInt

    val segs = SegmentDedup.segments(batch, idCol, textCol, segTokens)
    val w = Window.partitionBy("seg").orderBy(col(idCol), col("seg_idx"))
    val inBatch = segs
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .withColumn("seg_fp", IncrementalDedup.fp60(col("seg")))

    // FS data probe, not read-and-catch or bare exists (see applyBatch)
    val store: DataFrame =
      if (BatchMarkers.hasData(spark, fpsDir))
        spark.read.parquet(fpsDir).select("seg_fp", "epoch")
      else
        spark.range(0).select(col("id").as("seg_fp"),
          col("id").cast("int").as("epoch")).where(lit(false))

    // family-covered history (partition-pruned read) vs the delta the
    // family has never seen
    val covered = store.where(col("epoch") < epoch).select("seg_fp")
    val delta = store.where(col("epoch") === epoch).select("seg_fp")

    val vsCovered =
      if (epoch == 1) {
        // bootstrap: no family yet — the delta IS the whole store and
        // the broadcast anti-join below does all the work
        inBatch
      } else
        IncrementalDedup.dedupAgainstShardedPath(inBatch, covered,
          "seg_fp", Generations.livePath(spark, bloomRoot))
    val kept = vsCovered
      .join(broadcast(delta.distinct()), Seq("seg_fp"), "left_anti")
      .localCheckpoint(true)

    // one file per append / per epoch partition (see applyBatch)
    SegmentDedup.reassemble(segs, kept, idCol)
      .coalesce(1).write.mode("append").parquet(outPath)
    kept.select("seg_fp").withColumn("epoch", lit(epoch))
      .coalesce(1)
      .write.mode("append").partitionBy("epoch").parquet(fpsDir)

    // rotation cadence: the delta (post-append) is what the per-batch
    // broadcast join pays for; fold it into a fresh family once it
    // outgrows the bound. buildToPathVersioned commits the family
    // (shards, then _meta) and publishes it with one atomic pointer
    // flip; prune keeps one superseded generation of reader grace.
    val deltaRows = spark.read.parquet(fpsDir)
      .where(col("epoch") === epoch).count()
    if (deltaRows > rotateDeltaRows) {
      val all = spark.read.parquet(fpsDir).select("seg_fp")
      val expected = math.max(math.ceil(all.count() * 1.3).toLong, 1L)
      ShardedBloom.buildToPathVersioned(all, "seg_fp", expected,
        bloomRoot, numShards = numShards)
      Generations.prune(spark, bloomRoot, keep = 2)
    }
  }
}
