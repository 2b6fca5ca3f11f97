package graft.streaming

import graft.ops.{Generations, MaxSim}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming late-interaction intake: a continuous document stream
  * scored against EVERYTHING already indexed, then folded into the
  * index — the RAG ingest loop (link/dedup each arriving doc against
  * the corpus, then make it retrievable) as a micro-batch twin of the
  * stored-index MaxSim family.
  *
  * The cross-batch memory is the persisted token-bucket index
  * ([[MaxSim.writeIndex]]'s layout under a [[Generations]] root), not
  * operator state — a multi-vector corpus at 100 TB is table-tier,
  * same argument as [[SegmentDedupStream]]. Each micro-batch:
  *
  *   1. probes the LIVE index with the batch's token bags
  *      ([[MaxSim.searchIndex]]: bucket-pruned shortlist + exact
  *      re-rank), so every score is against the corpus as of the
  *      PREVIOUS batch — scores are bit-identical to the batch
  *      [[MaxSim.scoreLshPruned]] over that corpus (spec-pinned);
  *   2. appends the scored top-k rows to `outPath`;
  *   3. appends the batch's tokens into the live index
  *      ([[MaxSim.appendIndexBufferedQuantized]]: one coalesced
  *      staging file per append — the r12 bench priced the unbuffered
  *      append at ~5 s / ~320 files REGARDLESS of batch size, a fixed floor
  *      that dominates at streaming cadence — with staging folding
  *      into the bucket partitions at `foldBytes`) so the NEXT batch
  *      retrieves against the grown corpus (staged docs are
  *      probe-visible immediately).
  *
  * The loop is NOT naturally idempotent (a replayed batch would
  * re-append its tokens and double them in every later score), so the
  * whole step runs under the [[BatchMarkers]] replay guard — the same
  * transactional-sink discipline as [[RollupStream]]/[[Scd2Stream]].
  * The guard is belt-AND-braces on the sink side: scored rows are
  * stamped with the batch id and written as a `batch_id=` partition
  * under dynamic partition overwrite, so a crash-replay inside the
  * applyBatch window REPLACES its own partition instead of appending
  * undetectable duplicate score rows. That shrinks the
  * non-idempotent window to the index append alone — whose duplicate
  * tokens are score-benign (MAX semantics) and whose duplicate
  * postings [[MaxSim.maintain]] detects and compacts.
  *
  * Probe-before-append makes the loop deterministic under monotone
  * ingest and keeps a batch from matching itself (self-docs are also
  * excluded by the scoring tail). Run [[MaxSim.compactVersioned]] at
  * maintenance cadence to re-distinct postings and cap boilerplate
  * buckets the appends may have grown.
  */
object MaxSimStream {

  /** Attach the intake loop. `maintainEvery = n` (off by default)
    * additionally runs [[MaxSim.maintain]] on the index root after
    * every n-th batch's fold — INSIDE the same foreachBatch thread,
    * which satisfies the one-owner-per-index-path writer contract
    * ([[MaxSim.appendIndexBufferedQuantized]]) by construction instead
    * of by caller care: the health probe, any triggered compaction, and the
    * appends can never overlap. A healthy tick costs one postings
    * scan; the cadence owns the duplicate-postings residue a
    * crash-replay can leave and the boilerplate buckets appends can
    * grow. The maintenance runs inside the batch-marker guard with
    * the fold, so a replayed batch skips it with everything else.
    */
  def start(docToks: DataFrame, indexRoot: String, outPath: String,
            k: Int, nPlanes: Int, dims: Int, dBuckets: Int,
            checkpointDir: String,
            foldBytes: Long = 64L << 20,
            maintainEvery: Int = 0): StreamingQuery =
    docToks.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // empty check INSIDE the marker fold: every delivered id is
        // marked (BatchMarkers marking discipline). The check itself
        // lives in applyBatch, read off the probe's own bucket job
        // (r16: a separate `isEmpty` action was one more fixed job
        // per micro-batch)
        BatchMarkers.applyOnce(batch.sparkSession, outPath, batchId) {
          applyBatch(batch, indexRoot, outPath, k, nPlanes, dims, dBuckets,
            batchId, foldBytes)
          if (maintainEvery > 0 && batchId > 0 &&
              batchId % maintainEvery == 0) {
            MaxSim.maintain(batch.sparkSession, indexRoot)
            ()
          }
        }
        ()
      }
      .start()

  /** One micro-batch of the loop; also the unit the spec replays.
    * `batchToks` must carry (doc_id, tok, vec_id, embedding).
    *
    * Replay semantics: scores are snapshotted BEFORE the index append,
    * so on the FIRST run a batch never matches its own documents. If a
    * crash lands between the append and the marker commit, the re-run
    * probes a corpus that already contains this batch's tokens — the
    * replayed partition is then consistent (one complete overwrite,
    * no duplicates) but not bit-identical to the first attempt: the
    * batch's own doc_ids become eligible neighbors. "Duplicate
    * postings are score-benign under MAX" covers re-appended tokens,
    * not this new-doc effect. Callers needing first-run-identical
    * replays must filter the batch's own doc_ids from the probe
    * result; the default keeps self-matches out only on the happy
    * path because excluding them post-crash would require the probe
    * to know which index files predate the batch.
    */
  def applyBatch(batchToks: DataFrame, indexRoot: String, outPath: String,
                 k: Int, nPlanes: Int, dims: Int, dBuckets: Int,
                 batchId: Long, foldBytes: Long = 64L << 20): Unit = {
    val spark = batchToks.sparkSession
    // AQE off for the intake's bounded per-batch plans (probe over a
    // bucket-pruned shortlist + O(batch) appends): with AQE every
    // Exchange is its own job + scheduler round-trip, the dominant
    // fixed bill at streaming cadence (r16 probe: 64 → 44 jobs/gate).
    // See graft.ops.MicroBatch.
    graft.ops.MicroBatch.noAqe(spark) {
    // labeled actions (guide §1.5): the per-batch job bill is the
    // streaming cost model — make it attributable (UI + job listeners)
    def labeled[T](step: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(s"maxsim[$batchId]: $step")
      try f finally spark.sparkContext.setJobDescription(null)
    }
    val live = Generations.livePath(spark, indexRoot)
    // ONE quantization per batch, shared by the probe and the append
    // (the r13 chain was probe-bound; re-quantizing the same bag
    // twice per batch was part of that fixed bill). Checkpointed: the
    // probe reads it three times and the append once.
    // LAZY checkpoint: the bucket collect right below is the frame's
    // first action and materializes it — one job does both (r16)
    val qRows = MaxSim.quantizeBag(batchToks).localCheckpoint(false)
    // the probe's bounded bucket read doubles as the emptiness check
    // (empty iff the batch is empty — every token row carries a
    // bucket), so an empty batch costs the one probe job and nothing
    // else; non-empty batches share the collected buckets with the
    // index probe instead of paying the job twice
    val qBuckets = labeled("buckets")(
      MaxSim.queryBuckets(qRows, nPlanes, dims))
    if (qBuckets.isEmpty) { graft.ops.Blocks.release(qRows); return }
    // snapshot the scores BEFORE the index append: the append adds
    // files to the partitions the probe plan's scans list
    val scored0 = labeled("probe")(
      MaxSim.searchIndexQuantizedPre(spark, live, qRows, qBuckets,
        k, dBuckets))
    // LAZY: the sink write below is the snapshot's first action and
    // materializes it — still strictly BEFORE the index append, which
    // is what the snapshot-before-append contract needs (r16: the
    // eager materialization was a separate job per batch)
    val scored = scored0.localCheckpoint(false)
    // batch-partitioned + dynamic overwrite: a replay of this batch id
    // replaces ONLY its own partition (never other batches' rows), so
    // the sink carries no undetectable duplicates from a crash-replay
    // ONE file per batch partition (top-k rows per batch doc — micro
    // by contract): without AQE's coalescing every cached partition
    // holding rows would open its own file under batch_id=
    labeled("sink")(scored.coalesce(1)
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outPath))
    // buffered: one staging file per append; the periodic fold (and
    // its crash-replay duplicates, score-identical under the
    // MAX-idempotent re-rank) runs inside this same BatchMarkers
    // guard, so an identified replay skips the fold with the rest
    labeled("append")(
      MaxSim.appendIndexBufferedQuantized(qRows, live, nPlanes, dims,
        dBuckets, foldBytes))
    // all consumers are done (scores written, tokens appended): free
    // the batch's checkpoint blocks now instead of waiting for a
    // driver GC — releasing scored0's lazy plan also frees the probe's
    // internal shortlist/staging checkpoints (graft.ops.Blocks)
    graft.ops.Blocks.release(scored, scored0, qRows)
    }
  }
}
