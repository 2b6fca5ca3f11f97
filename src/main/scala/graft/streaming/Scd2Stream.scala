package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.ChangeCapture

/** Streaming SCD2: the q155 dimension-history build maintained over a
  * change stream. The interval table lives as parquet partitioned by
  * a fixed key-hash bucket; each micro-batch rewrites ONLY the
  * buckets its keys touch — steady-state cost tracks batch volume and
  * the touched keys' history, never the table (a partition-scoped
  * rewrite whose unit of change is a KEY'S ROW-SET rather than a
  * single row).
  *
  * Fold per batch, equivalence by construction: a key's closed
  * intervals are immutable under in-order arrival, and its OPEN
  * interval is exactly one synthetic change event (valid_from,
  * current state) — so re-running [[ChangeCapture.scd2]] over {open
  * events of touched keys} ∪ {batch} rebuilds precisely the suffix
  * that can change, and the cumulative store equals the batch scd2
  * over every event ever folded (spec-pinned).
  *
  * Ordering contract: per key, event time should not regress ACROSS
  * batches (the watermark discipline every incremental SCD2 assumes —
  * a late event older than the open interval would need closed
  * history rewritten, which is a backfill job, not a fold). Real CDC
  * feeds still deliver the occasional late row, and a wedged stream
  * is the wrong answer to one: rows older than their key's high
  * watermark (max folded event time, an `hwm` column the store
  * carries — see [[applyBatch]] for why `valid_from` is NOT a safe
  * guard) are QUARANTINED to a dead-letter parquet at
  * `<store>/_latedata` (tagged with the micro-batch id that carried
  * them), the fold proceeds with the on-time rows, and the stream
  * stays alive. The `_`-prefixed dir is
  * invisible to readers of the store itself; drain it with
  * [[backfillQuarantine]] on a maintenance cadence (recomputes the
  * affected keys' history from the full event log and swaps exactly
  * their buckets — oracle-gated by q194). Within a batch any order
  * is fine.
  *
  * Replay safety: the fold is NOT naturally idempotent — a replayed
  * multi-event batch would misfold against the state it already wrote
  * (its own rows now read as late and quarantine as spurious
  * dead-letter rows). The streaming attach therefore runs EVERY
  * identified batch — including empty ones — through
  * [[BatchMarkers.applyOnce]] (the [[RollupStream]] discipline): an
  * already-marked batch id is skipped, making the fold effectively
  * exactly-once under foreachBatch's at-least-once redelivery.
  */
object Scd2Stream {

  /** Fold one batch of change events into the interval store. Rows
    * older than their key's HIGH WATERMARK — the max (event time,
    * tie) pair the key has ever folded, carried as `hwm`/`hwm_tie`
    * columns on the store — are appended to `<store>/_latedata` with
    * `batch_id = batchId` instead of folded. An EMPTY batch is a
    * no-op (detected by the same probe job that guards the feed, so
    * attach points need no separate `isEmpty` action). `teeTo`, when
    * set, appends the batch's raw events as a `batch_id=`-partitioned
    * dynamic overwrite to that path BEFORE the fold — the [[start]]
    * event-log capture contract, placed here so the tee rides behind
    * the one probe job.
    *
    * The watermark PAIR, not the open interval's `valid_from`, is the
    * guard, for two reasons. (1) [[ChangeCapture.scd2]] collapses an
    * event that re-asserts the current state into the open interval,
    * so `valid_from` can be OLDER than events the store has already
    * seen — a row younger than `valid_from` but older than a
    * collapsed re-assertion would pass a `valid_from` guard and
    * silently misfold (the q194 gate caught exactly this: 3 intervals
    * lost on the real slice). (2) A timestamp alone has the same hole
    * one level down: a row whose ts EQUALS the watermark but whose
    * tie sorts BEFORE the watermark event regresses in (ts, tie)
    * order — the order scd2 folds by — so the guard compares the
    * lexicographic pair. Quarantined rows do not advance the
    * watermark; the backfill recomputes it from the log.
    *
    * The dead-letter append happens AFTER the fold commits (late rows
    * snapshot via localCheckpoint first): a fold that fails leaves no
    * dead-letter residue to double on retry. A crash INSIDE the
    * fold-vs-marker rename window can still replay the batch against
    * its own folded state, re-classifying already-folded rows as late
    * — spurious dead-letter rows, which [[backfillQuarantine]] drains
    * harmlessly because it recomputes from the LOG and only reads
    * quarantined KEYS, never quarantined contents. `_latedata` counts
    * are advisory, not exactly-once.
    */
  def applyBatch(spark: SparkSession, store: String, batch: DataFrame,
                 keyCol: String, tsCol: String, tieCol: String,
                 stateCols: Seq[String], nBuckets: Int = 64,
                 batchId: Long = -1L, teeTo: Option[String] = None): Unit =
    // AQE off for the fold's bounded plans: every fold input is
    // O(batch + touched buckets) by construction, and with AQE each
    // Exchange is its own job + scheduler round-trip — the dominant
    // fixed bill at streaming cadence (r16 probe: 63 → 36 jobs/gate).
    // File-count hygiene AQE's coalescing used to provide comes from
    // the explicit write-key repartitions below. See graft.ops
    // .MicroBatch for the full argument.
    graft.ops.MicroBatch.noAqe(spark) {
    // labeled actions (guide §1.5): the fold runs a handful of jobs
    // per micro-batch and the job bill IS the streaming cost model —
    // labels make it attributable in the UI and to job listeners
    def labeled[T](step: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(s"scd2[$batchId]: $step")
      try f finally spark.sparkContext.setJobDescription(null)
    }
    val ev = batch.select(
      col(keyCol) +: col(tsCol) +: col(tieCol) +: stateCols.map(col): _*)
    // ONE probe job does the emptiness check (r16: was a separate
    // `b.isEmpty` action in [[start]]), the three-valued-logic guard
    // AND the touched-bucket collect (r15: guard + collect were two
    // separate O(batch) jobs; at streaming cadence every per-batch job
    // is fixed bill). The guard: a row with null (key, ts, tie) would
    // fail BOTH sides of the watermark split below (`regressed`
    // evaluates to NULL for null ts/tie; a null key never matches the
    // open-interval join, so it would re-fold as a brand-new key every
    // batch) — the key is the fold's partition domain and (ts, tie)
    // its ordering domain, and a null in either is a feed bug whose
    // only honest answer is a loud error. Bounded driver read:
    // <= nBuckets values + two scalars.
    val probe = labeled("probe")(ev.agg(
      count(lit(1)).as("n"),
      sum(when(col(keyCol).isNull || col(tsCol).isNull ||
        col(tieCol).isNull, 1L).otherwise(0L)).as("bad"),
      collect_set(pmod(hash(col(keyCol)), lit(nBuckets))).as("kbs")).head())
    require(probe.isNullAt(1) || probe.getLong(1) == 0L,
      s"scd2 fold: batch $batchId carries null $keyCol/$tsCol/$tieCol " +
        "rows — the key is the fold's partition domain and event time/" +
        "tiebreak its ordering domain; none can be null")
    if (probe.getLong(0) == 0L) return
    // tee BEFORE the fold (the [[start]] capture contract: rows this
    // very batch quarantines must already be in the log when a
    // same-tick drain runs). Lives here, after the probe, so the
    // emptiness check and the feed guard are one job for the whole
    // tick instead of a separate `isEmpty` action up front.
    teeTo.foreach { logPath =>
      labeled("tee")(ev.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(logPath))
    }
    def kb(df: DataFrame): DataFrame =
      df.withColumn("kb", pmod(hash(col(keyCol)), lit(nBuckets)))
    // data probe, not bare exists: the dir may already hold only the
    // _applied markers of empty batches (or _temporary debris from a
    // crashed first write) — states a bare exists would send into a
    // doomed read. Append for the same reason: the dir may exist.
    if (!BatchMarkers.hasData(spark, store)) {
      // repartition on the write key: one file per bucket partition
      // (the r15 writeIndex discipline) — without it every task
      // holding a bucket's rows opens a file there, and the NEXT
      // batch's pruned read pays the file count
      labeled("seed")(
        kb(ChangeCapture.scd2(ev, keyCol, tsCol, tieCol, stateCols)
            .join(hwmOf(ev, keyCol, tsCol, tieCol), Seq(keyCol)))
          .repartition(col("kb"))
          .write.mode("append").partitionBy("kb").parquet(store))
      return
    }
    val touchedKb: Seq[Any] = probe.getSeq[Any](2)
    // partition-pruned: only the touched buckets are ever read. kb is
    // kept so the WRITE set below can narrow further — to buckets
    // holding at least one on-time key (an all-late batch segment
    // must not rewrite its buckets byte-identically)
    val curAll = spark.read.parquet(store)
      .where(col("kb").isin(touchedKb: _*))
    // a store written before the watermark columns existed would
    // throw an opaque AnalysisException on col("hwm") below, wedging
    // every micro-batch of an upgraded stream — fail loudly instead
    require(curAll.columns.contains("hwm") &&
        curAll.columns.contains("hwm_tie"),
      s"scd2 store $store lacks the hwm/hwm_tie watermark columns the " +
        "fold classifies late rows against: rebuild the store with a " +
        "fresh fold over the full event log")
    // late-row split against the watermark pair (read off the key's
    // open row). Keys with no open interval (never seen) are on-time
    // by definition. The open rows join the batch DIRECTLY (r15: the
    // previous shape first semi-joined the open rows to the batch's
    // keys — an extra exchange of the same store rows that the left
    // join below already restricts to matching keys). localCheckpoint:
    // the split feeds writes that replace the very files this plan
    // reads.
    val openAll = curAll.where(col("is_current"))
      .select(col(keyCol), col("hwm").as("__hwm"),
        col("hwm_tie").as("__hwmt"))
    // LAZY checkpoint: the split aggregation below is the frame's
    // first action and materializes it in the same job (r16); the
    // late/on-time filters and the refold then read the cached blocks,
    // and the dead-letter write after the commit still reads a
    // snapshot taken strictly before the overwrite
    val tagged = ev.join(openAll, Seq(keyCol), "left").localCheckpoint(false)
    val regressed = struct(col(tsCol).as("h"), col(tieCol).as("t")) <
      struct(col("__hwm").as("h"), col("__hwmt").as("t"))
    val isLate = col("__hwm").isNotNull && regressed
    val isOnTime = col("__hwm").isNull || !regressed
    val lateRows = tagged.where(isLate).drop("__hwm", "__hwmt")
    // on-time rows keep their key's old watermark pair riding along:
    // the watermark advance below reads it per-row instead of joining
    // the open rows a second time
    val onTimeH = tagged.where(isOnTime)
    val onTime = onTimeH.drop("__hwm", "__hwmt")
    // bounded driver read #2 (<= nBuckets + one scalar), ONE job over
    // the checkpointed split: the write-set buckets (collect_set skips
    // the null the `when` leaves on late rows) AND the late-row count
    // (r16: was a separate `lateRows.isEmpty` action after the fold).
    // The bucket set doubles as the on-time emptiness probe — an
    // all-late batch has no on-time bucket and must not rewrite
    // anything byte-identically.
    val split = labeled("split")(tagged.agg(
      collect_set(when(isOnTime, pmod(hash(col(keyCol)), lit(nBuckets))))
        .as("kbs"),
      sum(when(isLate, 1L).otherwise(0L)).as("nlate")).head())
    val onTimeKb: Seq[Any] = split.getSeq[Any](0)
    val nLate = if (split.isNullAt(1)) 0L else split.getLong(1)
    if (onTimeKb.nonEmpty) {
      // the fold sees only on-time keys: a key whose rows ALL
      // quarantined is untouched and its history must carry through
      val keys = onTime.select(keyCol).distinct()
      val cur = curAll.where(col("kb").isin(onTimeKb: _*)).drop("kb")
      // ONE join classifies every current row against the batch's
      // on-time keys (r15: the previous shape ran THREE cur⋈keys
      // joins — open semi, closed semi, untouched anti — re-reading
      // the store buckets and re-shuffling cur for each); the
      // checkpoint materializes the classified rows once and the
      // three consumers below are plain filters over it
      // LAZY: the refold checkpoint below is the classified rows'
      // first action and materializes them in the same job — still
      // strictly before the commit replaces the files this plan reads
      val curT = cur
        .join(keys.withColumn("__t", lit(true)), Seq(keyCol), "left")
        .localCheckpoint(false)
      val openTouched = curT.where(col("__t") && col("is_current"))
        .drop("__t")
      val openAsEvents = openTouched.select(
        col(keyCol) +: col("valid_from").as(tsCol) +: col(tieCol) +:
          stateCols.map(col): _*)
      val redone0 = ChangeCapture.scd2(openAsEvents.unionByName(onTime),
        keyCol, tsCol, tieCol, stateCols)
      // watermark advance: lexicographic max(old pair, batch pair)
      // per on-time key — ONE aggregation over the tagged batch rows
      // (each row carries its key's old pair off the split join), no
      // second join against the open rows — attached to every redone
      // row, read back off the open row
      val newHwm = onTimeH.groupBy(keyCol).agg(
        max(struct(col(tsCol).as("h"), col(tieCol).as("t"))).as("__bp"),
        max(when(col("__hwm").isNotNull,
          struct(col("__hwm").as("h"), col("__hwmt").as("t")))).as("__op"))
        .select(col(keyCol),
          when(col("__op").isNotNull && col("__op") > col("__bp"),
            col("__op")).otherwise(col("__bp")).as("__p"))
        .select(col(keyCol), col("__p.h").as("hwm"),
          col("__p.t").as("hwm_tie"))
      val redone = redone0.join(newHwm, Seq(keyCol))
      // untouched keys' rows and touched keys' CLOSED rows carry
      // through unchanged (closed rows keep their pre-batch hwm —
      // stale but unread: the watermark is only ever read off the
      // is_current row); only touched keys' open rows are replaced
      // by the refold
      val keep = curT.where(col("__t").isNull || !col("is_current"))
        .drop("__t")
      val next = keep.unionByName(redone)
      // localCheckpoint breaks lineage from the files the dynamic
      // overwrite below replaces (Spark rejects reading-while-writing)
      // repartition on the write key before the checkpoint: one file
      // per rewritten bucket, and the checkpoint caches post-shuffle
      val nextCk = labeled("refold")(
        kb(next).repartition(col("kb")).localCheckpoint())
      labeled("commit")(nextCk.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("kb")
        .parquet(store))
      // fold committed: free this batch's fold checkpoints instead of
      // waiting for a driver GC (long-lived stream memory hygiene)
      graft.ops.Blocks.release(nextCk, curT)
    }
    // dead-letter AFTER the fold committed (see scaladoc); lateRows is
    // a filter over the checkpointed split, immune to the overwrite
    if (nLate > 0L)
      labeled("dead-letter")(lateRows.withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$store/_latedata"))
    graft.ops.Blocks.release(tagged)
  }

  /** Per-key lexicographic max (ts, tie) of an event frame, as
    * `(key, hwm, hwm_tie)` — the watermark the store carries.
    */
  private def hwmOf(ev: DataFrame, keyCol: String, tsCol: String,
                    tieCol: String): DataFrame =
    ev.groupBy(keyCol)
      .agg(max(struct(col(tsCol), col(tieCol))).as("__p"))
      .select(col(keyCol), col("__p")(tsCol).as("hwm"),
        col("__p")(tieCol).as("hwm_tie"))

  /** Drain the `_latedata` quarantine: recompute the affected keys'
    * history from the FULL event log and swap exactly their buckets.
    * This is the backfill job the quarantine scaladoc prescribes —
    * and it must take the LOG, not reconstruct events from the
    * store's own intervals: a late row's absence can make two
    * adjacent on-time events share a state, and [[ChangeCapture
    * .scd2]]'s collapse then drops the re-assertion event from the
    * store — recoverable only from the source log. With the log in
    * hand the fold is trivially exact: the affected keys' history
    * IS `scd2(log)` by definition.
    *
    * Cost at 100 TB: one semi-join-filtered log scan per backfill
    * tick (amortize by draining on a cadence, not per late row) plus
    * a dynamic overwrite of ONLY the quarantined keys' buckets —
    * untouched buckets are never read or written. Returns the number
    * of late rows drained (0 = no quarantine, nothing touched).
    *
    * Crash-safe by idempotence: a crash between the bucket overwrite
    * and the quarantine delete re-runs the same log recompute (same
    * result) and deletes then.
    *
    * SERIALIZATION CONTRACT — the drain must never overlap a live
    * fold on the same store. A micro-batch folded between this job's
    * store read and its bucket overwrite would be clobbered, and
    * because its batch id is already marked by [[BatchMarkers]] it is
    * never re-folded: silent, permanent divergence. Either stop the
    * stream for the drain, or — the built-in path — pass
    * `drainEvery` to [[start]], which runs this method INSIDE the
    * stream's own foreachBatch tick (same thread as the fold,
    * serialized by construction, reading the [[start]] event tee).
    * The quarantine delete is FILE-WISE for the same race family: only
    * the files this drain actually read are removed, so a quarantine
    * file appended by a concurrent out-of-contract fold is left in
    * place for the next drain instead of being destroyed unread.
    */
  def backfillQuarantine(spark: SparkSession, store: String, log: DataFrame,
                         keyCol: String, tsCol: String, tieCol: String,
                         stateCols: Seq[String], nBuckets: Int = 64): Long = {
    val latePath = s"$store/_latedata"
    if (!BatchMarkers.hasData(spark, latePath)) return 0L
    // snapshot rows AND their source files before anything mutates:
    // the bucket overwrite and the quarantine delete both invalidate
    // lazy plans over the files they replace, and the delete must
    // target exactly the files this snapshot read
    // LAZY checkpoint: the drain's meta aggregation is the snapshot's
    // first action and materializes it in the same job (r16) — still
    // strictly before the bucket overwrite and the file-wise delete,
    // which is all the snapshot-before-mutation contract needs
    val late = spark.read.parquet(latePath)
      .withColumn("__file", input_file_name())
      .localCheckpoint(false)
    backfillLate(spark, store, log, late, keyCol, tsCol, tieCol,
      stateCols, nBuckets)
  }

  /** The drain body over an explicit quarantine snapshot (carrying a
    * `__file` source column) — split out so the snapshot-vs-delete
    * race window is testable (the spec hands in a snapshot that
    * deliberately misses a file).
    */
  private[graft] def backfillLate(spark: SparkSession, store: String,
                                  log: DataFrame, late: DataFrame,
                                  keyCol: String, tsCol: String,
                                  tieCol: String, stateCols: Seq[String],
                                  nBuckets: Int = 64): Long =
    // bounded plans (quarantined keys' history + one log semi-join),
    // maintenance cadence: same AQE-off argument as applyBatch
    graft.ops.MicroBatch.noAqe(spark) {
    // ONE metadata job over the snapshot: the drained-row count, the
    // touched buckets (<= nBuckets values) and the source-file list
    // (bounded: files appended since the last drain) — previously
    // three separate driver reads (r15)
    def labeled[T](step: String)(f: => T): T = {
      spark.sparkContext.setJobDescription(s"scd2-drain: $step")
      try f finally spark.sparkContext.setJobDescription(null)
    }
    val meta = labeled("meta")(late.agg(
      count(lit(1)).as("n"),
      collect_set(pmod(hash(col(keyCol)), lit(nBuckets))).as("kbs"),
      collect_set(col("__file")).as("files")).head())
    val nLate = meta.getLong(0)
    val keys = late.select(keyCol).distinct()
    def kb(df: DataFrame): DataFrame =
      df.withColumn("kb", pmod(hash(col(keyCol)), lit(nBuckets)))
    val touchedKb: Seq[Any] = meta.getSeq[Any](1)
    val cur = spark.read.parquet(store)
      .where(col("kb").isin(touchedKb: _*)).drop("kb")
    val events = log.join(keys, Seq(keyCol), "left_semi").select(
      col(keyCol) +: col(tsCol) +: col(tieCol) +: stateCols.map(col): _*)
    // watermark recomputed from the log (the late rows fold in here)
    val redone = ChangeCapture.scd2(events, keyCol, tsCol, tieCol, stateCols)
      .join(hwmOf(events, keyCol, tsCol, tieCol), Seq(keyCol))
    val untouched = cur.join(keys, Seq(keyCol), "left_anti")
    // write-key repartition: one file per swapped bucket (see
    // applyBatch)
    val nextCk = labeled("recompute")(
      kb(untouched.unionByName(redone)).repartition(col("kb"))
        .localCheckpoint())
    labeled("commit")(nextCk.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("kb")
      .parquet(store))
    // file-wise delete (see scaladoc): exactly the files the snapshot
    // read, off the metadata job above
    val hconf = spark.sparkContext.hadoopConfiguration
    meta.getSeq[String](2).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
      p.getFileSystem(hconf).delete(p, false)
      ()
    }
    // drain committed: free the drain's checkpoints (stream hygiene)
    graft.ops.Blocks.release(nextCk, late)
    nLate
  }

  private def eventLogPath(store: String): String = s"$store/_eventlog"

  /** Compact the event tee's micro-batch partitions. The tee writes
    * one `batch_id=N` partition per micro-batch — the right unit for
    * replay idempotence, the wrong one for a long-lived archive: a
    * minute-cadence stream accrues ~500k partition directories a
    * year, and the log IS permanent (exact backfill needs each
    * quarantined key's FULL event history — scd2's collapse makes any
    * truncation unsound, so retention is the archive contract, and
    * file-count hygiene has to come from compaction, not deletion).
    *
    * Each tick coalesces every batch partition that is (a) at least
    * `keepRecentBatches` behind the newest and (b) already marked
    * applied — a marked batch can never be re-teed ([[start]]'s tee
    * runs inside the [[BatchMarkers]] guard), so its partition is
    * immutable and safe to move — into ONE compacted segment
    * partition `batch_id = -(minVictimId + 1)`, then deletes the
    * victim directories. Cost is O(newly-compacted bytes) per tick:
    * prior segments are never rewritten (no O(archive) re-merge), so
    * a cadence produces one segment per tick instead of one directory
    * per micro-batch.
    *
    * Crash-safe without a transaction: a crash after the segment
    * write but before the deletes leaves victim rows present TWICE
    * (segment + original partitions) — harmless, because
    * [[graft.ops.ChangeCapture.scd2]] is idempotent to exact
    * duplicate events (a duplicate never flips the change predicate,
    * and `valid_to` is computed after the change filter; spec-pinned)
    * — and the re-run compacts the surviving victims under a NEW
    * segment id (the min-victim naming can only repeat when no
    * delete happened, where the rewrite is bit-identical). Same
    * maintenance owner as the drain: run it inside the stream's
    * foreachBatch tick or with the stream stopped — a drain racing a
    * compaction could list a victim directory the compaction then
    * deletes mid-scan. Returns the number of batch partitions
    * compacted.
    */
  def compactEventLog(spark: SparkSession, store: String,
                      keepRecentBatches: Int = 2): Long = {
    val logPath = eventLogPath(store)
    if (!BatchMarkers.hasData(spark, logPath)) return 0L
    val logP = new org.apache.hadoop.fs.Path(logPath)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = logP.getFileSystem(hconf)
    val ids = fs.listStatus(logP).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .flatMap(n => n.stripPrefix("batch_id=").toLongOption)
      .filter(_ >= 0L)
    if (ids.isEmpty) return 0L
    val cut = ids.max - keepRecentBatches
    def marked(id: Long) = fs.exists(
      new org.apache.hadoop.fs.Path(s"$store/_applied", s"batch-$id"))
    val victims = ids.filter(id => id <= cut && marked(id)).sorted
    if (victims.isEmpty) return 0L
    val seg = -(victims.min + 1)
    // segment file count sized from the victims' on-disk bytes
    // (driver listing, bounded by the victim count) — one ~128 MiB
    // file per slot, floor one
    val bytes = victims.map(id =>
      fs.getContentSummary(
        new org.apache.hadoop.fs.Path(logP, s"batch_id=$id")).getLength).sum
    val nParts = math.max(1L, bytes / (128L << 20)).toInt
    // partition-pruned read of exactly the victim partitions; the
    // write creates ONE new segment partition (dynamic overwrite so a
    // crashed rerun replaces, never doubles, its own segment). ONE
    // job: AQE off (bounded maintenance plan, file count already
    // sized explicitly by the byte-derived repartition)
    graft.ops.MicroBatch.noAqe(spark) {
      spark.read.parquet(logPath)
        .where(col("batch_id").isin(victims.map(java.lang.Long.valueOf): _*))
        .withColumn("batch_id", lit(seg))
        .repartition(nParts)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(logPath)
    }
    victims.foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(logP, s"batch_id=$id"), true)
      ()
    }
    victims.size.toLong
  }

  /** Attach to a change stream; folds every micro-batch. Every
    * delivered batch id is marked — the empty check sits INSIDE the
    * marker fold ([[BatchMarkers]] marking discipline).
    *
    * Backfill capture contract: [[backfillQuarantine]] needs the FULL
    * event log, and a deployment that only ever ran this stream keeps
    * none — so `teeEventLog = true` appends each batch's raw events
    * to `<store>/_eventlog` BEFORE the fold (O(batch): one
    * `batch_id=`-partitioned write per micro-batch, dynamic overwrite
    * so a crash-replay replaces its own partition instead of
    * doubling rows; the `_`-prefixed dir is invisible to store
    * readers). With the tee off, the CALLER owns the log: whatever
    * upstream system feeds the stream must retain every event ever
    * delivered, or the quarantine can never be drained exactly.
    *
    * `drainEvery = n` (requires the tee) additionally runs
    * [[backfillQuarantine]] from the tee'd log after every n-th
    * batch's fold — on the same foreachBatch thread, which is the
    * serialization the drain's contract demands (a drain overlapping
    * a live fold silently loses the fold; see
    * [[backfillQuarantine]]). The tee rides inside the batch-marker
    * guard with the fold, so a replayed batch re-tees (idempotent
    * overwrite of its own partition) and skips both fold and drain.
    */
  def start(stream: DataFrame, store: String, keyCol: String, tsCol: String,
            tieCol: String, stateCols: Seq[String], checkpointDir: String,
            nBuckets: Int = 64, teeEventLog: Boolean = false,
            drainEvery: Int = 0): StreamingQuery = {
    require(drainEvery == 0 || teeEventLog,
      "drainEvery needs teeEventLog: the in-stream drain recomputes " +
        "from <store>/_eventlog, which only the tee maintains")
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        BatchMarkers.applyOnce(b.sparkSession, store, id) {
          // emptiness, feed guard and touched buckets are ONE probe
          // job inside applyBatch (r16: a separate `b.isEmpty` action
          // here was one more fixed job per micro-batch); the tee —
          // still strictly before the fold, see the capture contract —
          // rides behind the same probe
          applyBatch(b.sparkSession, store, b, keyCol, tsCol, tieCol,
            stateCols, nBuckets, id,
            teeTo = if (teeEventLog) Some(eventLogPath(store)) else None)
          // drain AFTER the fold commits, same thread — the serialized
          // cadence the backfill contract demands; outside the isEmpty
          // guard so an empty trigger can still pay down the quarantine
          if (drainEvery > 0 && id > 0 && id % drainEvery == 0) {
            val s = b.sparkSession
            val logPath = eventLogPath(store)
            if (BatchMarkers.hasData(s, logPath)) {
              backfillQuarantine(s, store, s.read.parquet(logPath),
                keyCol, tsCol, tieCol, stateCols, nBuckets)
              ()
            }
          }
        }
        ()
      }
      .start()
  }
}
