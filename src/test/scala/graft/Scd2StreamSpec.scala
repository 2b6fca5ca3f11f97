package graft

import graft.ops.ChangeCapture
import graft.streaming.Scd2Stream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class Scd2StreamSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: Seq[(Long, Long, Long, String)]): DataFrame =
    rows.toDF("user_id", "tsm", "event_id", "state")
      .withColumn("ts", timestamp_millis(col("tsm"))).drop("tsm")

  private def intervals(df: DataFrame): Seq[(Long, String, Long, Option[Long], Boolean)] =
    df.select(col("user_id"), col("state"),
        unix_millis(col("valid_from")).as("f"),
        unix_millis(col("valid_to")).as("t"), col("is_current"))
      .as[(Long, String, Long, Option[Long], Boolean)]
      .collect().sortBy(r => (r._1, r._3, r._2)).toSeq

  test("cumulative store equals the batch SCD2 over everything folded") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s").toString
    val store = s"$tmp/dim"
    // three in-order batches; keys overlap across batches, states
    // flip, repeat, and interleave
    val b1 = Seq((1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"), (2L, 15L, 3L, "X"),
      (3L, 12L, 4L, "P"))
    val b2 = Seq((1L, 30L, 5L, "B"), (2L, 25L, 6L, "X"), (4L, 22L, 7L, "M"))
    val b3 = Seq((1L, 40L, 8L, "A"), (3L, 35L, 9L, "Q"), (4L, 50L, 10L, "M"),
      (2L, 45L, 11L, "Y"))
    Seq(b1, b2, b3).foreach { b =>
      Scd2Stream.applyBatch(spark, store, ev(b), "user_id", "ts", "event_id",
        Seq("state"), nBuckets = 4)
    }
    val got = intervals(spark.read.parquet(store))
    val expect = intervals(ChangeCapture.scd2(ev(b1 ++ b2 ++ b3),
      "user_id", "ts", "event_id", Seq("state")))
    assert(got == expect)
    // the fold really collapsed: user 2's repeated X across batches is
    // one interval
    assert(got.count(r => r._1 == 2L && r._2 == "X") == 1)
  }

  test("a row older than a key's watermark quarantines; the fold proceeds") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_late").toString
    val store = s"$tmp/dim"
    Scd2Stream.applyBatch(spark, store,
      ev(Seq((1L, 100L, 1L, "A"), (2L, 100L, 2L, "X"))),
      "user_id", "ts", "event_id", Seq("state"))
    // batch 7 mixes one late row (user 1 at t=50 < open 100), one
    // on-time flip for user 2, and one brand-new key
    Scd2Stream.applyBatch(spark, store,
      ev(Seq((1L, 50L, 3L, "B"), (2L, 120L, 4L, "Y"), (3L, 5L, 5L, "P"))),
      "user_id", "ts", "event_id", Seq("state"), batchId = 7L)
    // on-time rows folded; the late key's history is untouched
    val got = intervals(spark.read.parquet(store))
    assert(got == intervals(ChangeCapture.scd2(
      ev(Seq((1L, 100L, 1L, "A"), (2L, 100L, 2L, "X"),
        (2L, 120L, 4L, "Y"), (3L, 5L, 5L, "P"))),
      "user_id", "ts", "event_id", Seq("state"))))
    // the late row dead-lettered with its batch id, invisible to
    // readers of the store itself (underscore-prefixed dir)
    val q = spark.read.parquet(s"$store/_latedata")
      .select("user_id", "event_id", "state", "batch_id")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(q == Seq((1L, 3L, "B", 7L)))
  }

  test("equal-ts tie regression quarantines: the watermark is the (ts, tie) pair") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_tie").toString
    val store = s"$tmp/dim"
    // batch 0 collapses (1,10,B),(1,100,B) to open [10,inf)B with
    // watermark (ts=100, tie=5). The tie-3 row at ts=100 sorts BEFORE
    // the folded tie-5 event in scd2's (ts, tie) order — a ts-only
    // watermark would call it on-time and fold [100,inf)C, silently
    // contradicting the one-shot truth (current state is B)
    val b0 = Seq((1L, 10L, 1L, "B"), (1L, 100L, 5L, "B"))
    val tieReg = Seq((1L, 100L, 3L, "C"))
    Scd2Stream.applyBatch(spark, store, ev(b0), "user_id", "ts", "event_id",
      Seq("state"), nBuckets = 4, batchId = 0L)
    Scd2Stream.applyBatch(spark, store, ev(tieReg), "user_id", "ts",
      "event_id", Seq("state"), nBuckets = 4, batchId = 1L)
    assert(intervals(spark.read.parquet(store)) ==
      intervals(ChangeCapture.scd2(ev(b0), "user_id", "ts", "event_id",
        Seq("state"))), "tie-regressed row must not fold")
    assert(spark.read.parquet(s"$store/_latedata").count() == 1L)
    // and the log backfill restores the full one-shot truth,
    // zero-length [100,100)C interval included
    Scd2Stream.backfillQuarantine(spark, store, ev(b0 ++ tieReg),
      "user_id", "ts", "event_id", Seq("state"), nBuckets = 4)
    assert(intervals(spark.read.parquet(store)) ==
      intervals(ChangeCapture.scd2(ev(b0 ++ tieReg), "user_id", "ts",
        "event_id", Seq("state"))))
  }

  test("backfillQuarantine drains late rows from the log; store equals one-shot scd2") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_bf").toString
    val store = s"$tmp/dim"
    // the late row (B@20, user 1) lands inside a CLOSED collapsed run:
    // on-time x@10, x@30 collapse to one interval, z@50 closes it at
    // [10,50)x. One-shot truth re-splits the run ([10,20)x, [20,30)y,
    // [30,50)x) — the x re-assertion at 30 exists only in the LOG
    // (collapse dropped it from the store), the exact case a
    // store-only reconstruction cannot recover
    val all = Seq((1L, 10L, 1L, "x"), (1L, 20L, 2L, "y"), (1L, 30L, 3L, "x"),
      (1L, 50L, 4L, "z"),
      (2L, 15L, 5L, "p"), (2L, 40L, 6L, "q"), (3L, 5L, 7L, "m"))
    val onTime1 = Seq((1L, 10L, 1L, "x"), (2L, 15L, 5L, "p"))
    val onTime2 = Seq((1L, 30L, 3L, "x"), (1L, 50L, 4L, "z"),
      (2L, 40L, 6L, "q"), (3L, 5L, 7L, "m"))
    val lateB = Seq((1L, 20L, 2L, "y")) // user 1's open is [50,∞) -> late
    Scd2Stream.applyBatch(spark, store, ev(onTime1), "user_id", "ts",
      "event_id", Seq("state"), nBuckets = 4, batchId = 0L)
    Scd2Stream.applyBatch(spark, store, ev(onTime2), "user_id", "ts",
      "event_id", Seq("state"), nBuckets = 4, batchId = 1L)
    Scd2Stream.applyBatch(spark, store, ev(lateB), "user_id", "ts",
      "event_id", Seq("state"), nBuckets = 4, batchId = 2L)
    assert(spark.read.parquet(s"$store/_latedata").count() == 1L)
    val drained = Scd2Stream.backfillQuarantine(spark, store, ev(all),
      "user_id", "ts", "event_id", Seq("state"), nBuckets = 4)
    assert(drained == 1L)
    // history is exact: B's interval appears AND C's re-assertion of x
    // survives (the collapse case) — equal to the one-shot scd2
    assert(intervals(spark.read.parquet(store)) ==
      intervals(ChangeCapture.scd2(ev(all), "user_id", "ts", "event_id",
        Seq("state"))))
    // quarantine cleared (file-wise: the dir may keep its _SUCCESS
    // marker, but no data files remain); a second drain is a no-op
    assert(!graft.streaming.BatchMarkers.hasData(spark, s"$store/_latedata"))
    assert(Scd2Stream.backfillQuarantine(spark, store, ev(all), "user_id",
      "ts", "event_id", Seq("state"), nBuckets = 4) == 0L)
  }

  test("an all-late batch leaves the store untouched; the stream stays alive") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_alllate").toString
    val store = s"$tmp/dim"
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    def stage(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val staged = s"$tmp/stage_$name"
      ev(rows).coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(inDir, s"$name.parquet").toPath)
    }
    stage("b1", Seq((1L, 100L, 1L, "A")))
    stage("b2", Seq((1L, 50L, 2L, "B"))) // entirely late
    stage("b3", Seq((1L, 200L, 3L, "C"))) // must still fold
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("state", StringType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Scd2Stream.start(stream, store, "user_id", "ts", "event_id",
      Seq("state"), s"$tmp/ckpt", nBuckets = 4)
    // the late batch must not wedge the query: all three process
    try q.processAllAvailable() finally q.stop()
    assert(intervals(spark.read.parquet(store)) ==
      intervals(ChangeCapture.scd2(
        ev(Seq((1L, 100L, 1L, "A"), (1L, 200L, 3L, "C"))),
        "user_id", "ts", "event_id", Seq("state"))))
    assert(spark.read.parquet(s"$store/_latedata").count() == 1L)
  }

  test("untouched buckets are not read: the fold is partition-pruned") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_prune").toString
    val store = s"$tmp/dim"
    val many = (1L to 200L).map(k => (k, 10L, k, "S"))
    Scd2Stream.applyBatch(spark, store, ev(many), "user_id", "ts", "event_id",
      Seq("state"), nBuckets = 16)
    // one-key batch: count input records of the fold; the store holds
    // 200 rows over 16 buckets, the fold may read only the one bucket
    val acc = new java.util.concurrent.atomic.AtomicLong()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) { acc.addAndGet(m.inputMetrics.recordsRead); () }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Scd2Stream.applyBatch(spark, store,
        ev(Seq((7L, 99L, 999L, "T"))), "user_id", "ts", "event_id",
        Seq("state"), nBuckets = 16)
      org.apache.spark.sql.graft.SparkBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(acc.get() < 100L,
      s"fold read ${acc.get()} records — bucket pruning not effective")
    // and the fold result is still right
    val got = intervals(spark.read.parquet(store)).filter(_._1 == 7L)
    assert(got == Seq((7L, "S", 10L, Some(99L), false),
      (7L, "T", 99L, None, true)))
  }

  test("full redelivery is absorbed by the applied-batch markers, not wedged by the late guard") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_replay").toString
    val store = s"$tmp/dim"
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    val rows = Seq((1L, 10L, 1L, "A"), (1L, 20L, 2L, "B"))
    val staged = s"$tmp/stage"
    ev(rows).coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(inDir, "b1.parquet").toPath)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("state", StringType),
      StructField("ts", TimestampType)))
    def run(ckpt: String): Unit = {
      val stream = spark.readStream.schema(schema).parquet(inDir.toString)
      val q = graft.streaming.Scd2Stream.start(stream, store, "user_id", "ts",
        "event_id", Seq("state"), ckpt, nBuckets = 4)
      try q.processAllAvailable() finally q.stop()
    }
    run(s"$tmp/ckpt1")
    val before = intervals(spark.read.parquet(store))
    // a FRESH checkpoint redelivers the whole file as batch 0 again —
    // without the marker the multi-event replay trips the late guard
    run(s"$tmp/ckpt2")
    assert(intervals(spark.read.parquet(store)) == before)
    assert(before == intervals(ChangeCapture.scd2(ev(rows),
      "user_id", "ts", "event_id", Seq("state"))))
  }

  test("null event time or tiebreak fails loudly, never silently vanishes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_null").toString
    val store = s"$tmp/dim"
    Scd2Stream.applyBatch(spark, store, ev(Seq((1L, 10L, 1L, "A"))),
      "user_id", "ts", "event_id", Seq("state"))
    // a null ts row used to fail BOTH sides of the watermark split
    // (three-valued logic) and drop without a trace
    val bad = ev(Seq((1L, 20L, 2L, "B"), (1L, 30L, 3L, "C")))
      .withColumn("ts", when(col("event_id") === 3L, lit(null)
        .cast("timestamp")).otherwise(col("ts")))
    val e = intercept[IllegalArgumentException] {
      Scd2Stream.applyBatch(spark, store, bad, "user_id", "ts", "event_id",
        Seq("state"), batchId = 5L)
    }
    assert(e.getMessage.contains("null"))
    // nothing folded, nothing quarantined: the batch was rejected whole
    assert(intervals(spark.read.parquet(store)) ==
      intervals(ChangeCapture.scd2(ev(Seq((1L, 10L, 1L, "A"))),
        "user_id", "ts", "event_id", Seq("state"))))
    assert(!graft.streaming.BatchMarkers.hasData(spark, s"$store/_latedata"))
  }

  test("pre-watermark store fails loudly; migrateHwm seeds it and the fold resumes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_mig").toString
    val store = s"$tmp/dim"
    val b1 = Seq((1L, 10L, 1L, "A"), (1L, 100L, 2L, "A"), (2L, 15L, 3L, "X"))
    Scd2Stream.applyBatch(spark, store, ev(b1), "user_id", "ts", "event_id",
      Seq("state"), nBuckets = 4)
    // strip the watermark columns — the round-12 store layout
    val legacy = spark.read.parquet(store).drop("hwm", "hwm_tie", "kb")
      .withColumn("kb", pmod(hash(col("user_id")), lit(4)))
      .localCheckpoint()
    legacy.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("kb").parquet(store)
    val b2 = ev(Seq((1L, 120L, 4L, "B")))
    val e = intercept[IllegalArgumentException] {
      Scd2Stream.applyBatch(spark, store, b2, "user_id", "ts", "event_id",
        Seq("state"), nBuckets = 4)
    }
    assert(e.getMessage.contains("migrateHwm"))
    Scd2Stream.migrateHwm(spark, store, "user_id", "ts", "event_id",
      nBuckets = 4)
    // the seeded watermark is the open row's (valid_from, tie) — a
    // conservative lower bound (user 1's collapsed ts=100 re-assertion
    // is unrecoverable from the store, so the seed is (10, 1), not
    // (100, 2); the documented migration trade) — and a plainly-new
    // row must fold cleanly against it:
    Scd2Stream.applyBatch(spark, store, b2, "user_id", "ts", "event_id",
      Seq("state"), nBuckets = 4)
    assert(intervals(spark.read.parquet(store)) ==
      intervals(ChangeCapture.scd2(
        ev(Seq((1L, 10L, 1L, "A"), (2L, 15L, 3L, "X"), (1L, 120L, 4L, "B"))),
        "user_id", "ts", "event_id", Seq("state"))))
    // a second migrate is a no-op (watermarks now non-null everywhere)
    val before = intervals(spark.read.parquet(store))
    Scd2Stream.migrateHwm(spark, store, "user_id", "ts", "event_id",
      nBuckets = 4)
    assert(intervals(spark.read.parquet(store)) == before)
    // and genuinely-regressed rows still quarantine against the seed
    Scd2Stream.applyBatch(spark, store, ev(Seq((2L, 5L, 9L, "Y"))),
      "user_id", "ts", "event_id", Seq("state"), nBuckets = 4, batchId = 9L)
    assert(spark.read.parquet(s"$store/_latedata").count() == 1L)
  }

  test("the drain deletes only the quarantine files it read") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_fw").toString
    val store = s"$tmp/dim"
    val all = Seq((1L, 10L, 1L, "a"), (1L, 50L, 2L, "b"),
      (2L, 10L, 3L, "p"), (2L, 50L, 4L, "q"),
      (1L, 20L, 5L, "c"), (2L, 30L, 6L, "r"))
    Scd2Stream.applyBatch(spark, store, ev(all.take(4)), "user_id", "ts",
      "event_id", Seq("state"), nBuckets = 4, batchId = 0L)
    // two separate late folds -> two quarantine files
    Scd2Stream.applyBatch(spark, store, ev(Seq(all(4))), "user_id", "ts",
      "event_id", Seq("state"), nBuckets = 4, batchId = 1L)
    Scd2Stream.applyBatch(spark, store, ev(Seq(all(5))), "user_id", "ts",
      "event_id", Seq("state"), nBuckets = 4, batchId = 2L)
    val latePath = s"$store/_latedata"
    def lateFiles(): Set[String] =
      new java.io.File(latePath).listFiles().toSeq
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val two = lateFiles()
    assert(two.size == 2, s"fixture: expected 2 quarantine files, got $two")
    // a snapshot that (deliberately) read only batch 1's file — the
    // shape of a drain racing a concurrent fold's append
    val late1 = spark.read.parquet(latePath)
      .withColumn("__file", input_file_name())
      .where(col("batch_id") === 1L)
      .localCheckpoint(true)
    val drained = Scd2Stream.backfillLate(spark, store, ev(all), late1,
      "user_id", "ts", "event_id", Seq("state"), nBuckets = 4)
    assert(drained == 1L)
    // batch 2's file survived the delete — its trigger is intact
    val left = lateFiles()
    assert(left.size == 1 && left.subsetOf(two),
      s"unread quarantine file destroyed: had $two, left $left")
    // and a second, full drain completes the repair to one-shot truth
    assert(Scd2Stream.backfillQuarantine(spark, store, ev(all), "user_id",
      "ts", "event_id", Seq("state"), nBuckets = 4) == 1L)
    assert(intervals(spark.read.parquet(store)) ==
      intervals(ChangeCapture.scd2(ev(all), "user_id", "ts", "event_id",
        Seq("state"))))
  }

  test("event tee + in-stream drain: out-of-order stream self-repairs to one-shot truth") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_tee").toString
    val store = s"$tmp/dim"
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    def stage(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val staged = s"$tmp/stage_$name"
      ev(rows).coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(inDir, s"$name.parquet").toPath)
    }
    // the q194 shape: the middle of the history arrives LAST — its
    // rows quarantine, and the drain (every 2nd batch, from the tee'd
    // log) repairs the store without any manual backfill
    val all = Seq((1L, 10L, 1L, "x"), (1L, 20L, 2L, "y"), (1L, 30L, 3L, "x"),
      (1L, 50L, 4L, "z"), (2L, 15L, 5L, "p"), (2L, 40L, 6L, "q"))
    stage("b1", Seq(all(0), all(4)))
    stage("b2", Seq(all(2), all(3), all(5)))
    stage("b3", Seq(all(1))) // late: user 1 already open at [50,inf)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("state", StringType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Scd2Stream.start(stream, store, "user_id", "ts", "event_id",
      Seq("state"), s"$tmp/ckpt", nBuckets = 4, teeEventLog = true,
      drainEvery = 2)
    try q.processAllAvailable() finally q.stop()
    // batch ids 0,1,2 -> the drain fired on id 2, right after its own
    // fold quarantined the late row: quarantine empty, store exact
    assert(!graft.streaming.BatchMarkers.hasData(spark, s"$store/_latedata"))
    assert(intervals(spark.read.parquet(store)) ==
      intervals(ChangeCapture.scd2(ev(all), "user_id", "ts", "event_id",
        Seq("state"))))
    // the tee IS the full log: a from-scratch backfill over it equals
    // a backfill over the original events (the capture contract)
    val teed = spark.read.parquet(s"$store/_eventlog")
    assert(teed.select("user_id", "event_id").distinct().count() ==
      all.size.toLong)
    assert(intervals(ChangeCapture.scd2(teed, "user_id", "ts", "event_id",
        Seq("state"))) ==
      intervals(ChangeCapture.scd2(ev(all), "user_id", "ts", "event_id",
        Seq("state"))))
  }

  test("scd2 is idempotent to exact duplicate events — the compaction crash contract") {
    // compactEventLog's crash window leaves victim rows present twice
    // (segment + original partition); this pins the property that
    // makes that benign: a duplicate never flips the change
    // predicate, and valid_to is computed after the change filter
    val all = Seq((1L, 10L, 1L, "x"), (1L, 20L, 2L, "y"),
      (1L, 30L, 3L, "x"), (1L, 30L, 3L, "x"), // in-batch dup too
      (2L, 15L, 4L, "p"))
    assert(intervals(ChangeCapture.scd2(ev(all ++ all), "user_id", "ts",
        "event_id", Seq("state"))) ==
      intervals(ChangeCapture.scd2(ev(all), "user_id", "ts", "event_id",
        Seq("state"))))
  }

  test("compactEventLog coalesces marked batches; the compacted log backfills exactly") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_cmp").toString
    val store = s"$tmp/dim"
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    def stage(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val staged = s"$tmp/stage_$name"
      ev(rows).coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(inDir, s"$name.parquet").toPath)
    }
    val all = Seq((1L, 10L, 1L, "x"), (1L, 20L, 2L, "y"), (1L, 30L, 3L, "x"),
      (1L, 50L, 4L, "z"), (2L, 15L, 5L, "p"), (2L, 40L, 6L, "q"))
    stage("b1", Seq(all(0), all(4)))
    stage("b2", Seq(all(2), all(3), all(5)))
    stage("b3", Seq(all(1))) // late for user 1 -> quarantines
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("state", StringType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    // tee only — no in-stream drain: the quarantine waits for the
    // maintenance tick, which compacts FIRST and drains from the
    // compacted log
    val q = Scd2Stream.start(stream, store, "user_id", "ts", "event_id",
      Seq("state"), s"$tmp/ckpt", nBuckets = 4, teeEventLog = true)
    try q.processAllAvailable() finally q.stop()
    val logDir = new java.io.File(s"$store/_eventlog")
    def batchDirs(): Set[String] =
      logDir.listFiles().toSeq.map(_.getName)
        .filter(_.startsWith("batch_id=")).toSet
    assert(batchDirs() == Set("batch_id=0", "batch_id=1", "batch_id=2"))
    // keepRecent=1: batches 0 and 1 (marked, behind the newest) fold
    // into segment batch_id=-1; batch 2 stays live
    assert(Scd2Stream.compactEventLog(spark, store,
      keepRecentBatches = 1) == 2L)
    assert(batchDirs() == Set("batch_id=-1", "batch_id=2"),
      s"unexpected layout after compaction: ${batchDirs()}")
    // the compacted log is still the FULL log: row-set identical and
    // the quarantine drains from it exactly
    val log = spark.read.parquet(s"$store/_eventlog")
    assert(log.select("user_id", "event_id").distinct().count() ==
      all.size.toLong)
    assert(Scd2Stream.backfillQuarantine(spark, store, log, "user_id",
      "ts", "event_id", Seq("state"), nBuckets = 4) == 1L)
    assert(intervals(spark.read.parquet(store)) ==
      intervals(ChangeCapture.scd2(ev(all), "user_id", "ts", "event_id",
        Seq("state"))))
    // crash window: deletes run in ascending id order, so a crash
    // leaves a SUFFIX of victims behind — simulate batch 1 surviving
    // alongside the segment that already carries its rows
    val segFile = new java.io.File(s"$store/_eventlog/batch_id=-1")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    val leftover = new java.io.File(s"$store/_eventlog/batch_id=1")
    leftover.mkdirs()
    java.nio.file.Files.copy(segFile.toPath,
      new java.io.File(leftover, segFile.getName).toPath)
    // duplicates are benign for any reader (scd2 dup-idempotence) ...
    assert(intervals(ChangeCapture.scd2(
        spark.read.parquet(s"$store/_eventlog"), "user_id", "ts",
        "event_id", Seq("state"))) ==
      intervals(ChangeCapture.scd2(ev(all), "user_id", "ts", "event_id",
        Seq("state"))))
    // ... and the re-run compacts the leftover into a NEW segment
    // (min-victim naming: never the one already on disk), leaving the
    // log exact again
    assert(Scd2Stream.compactEventLog(spark, store,
      keepRecentBatches = 1) == 1L)
    assert(batchDirs() == Set("batch_id=-1", "batch_id=-2", "batch_id=2"),
      s"unexpected layout after crash-recompaction: ${batchDirs()}")
    assert(intervals(ChangeCapture.scd2(
        spark.read.parquet(s"$store/_eventlog"), "user_id", "ts",
        "event_id", Seq("state"))) ==
      intervals(ChangeCapture.scd2(ev(all), "user_id", "ts", "event_id",
        Seq("state"))))
  }

  test("drainEvery without the tee is refused up front") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_cfg").toString
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String)]
    val rows = mem.toDS().toDF("user_id", "us", "event_id", "event_type")
    val e = intercept[IllegalArgumentException] {
      Scd2Stream.start(rows, s"$tmp/dim", "user_id", "us", "event_id",
        Seq("event_type"), s"$tmp/ckpt", drainEvery = 2)
    }
    assert(e.getMessage.contains("teeEventLog"))
  }

  test("streaming attach: file-source micro-batches fold through the checkpoint") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_scd2s_stream").toString
    val store = s"$tmp/dim"
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    def stage(name: String, rows: Seq[(Long, Long, Long, String)]): Unit = {
      val staged = s"$tmp/stage_$name"
      ev(rows).coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(inDir, s"$name.parquet").toPath)
    }
    val r1 = Seq((1L, 10L, 1L, "A"), (2L, 12L, 2L, "X"))
    val r2 = Seq((1L, 20L, 3L, "B"), (2L, 22L, 4L, "X"))
    stage("b1", r1)
    stage("b2", r2)
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_id", LongType), StructField("state", StringType),
      StructField("ts", TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = Scd2Stream.start(stream, store, "user_id", "ts", "event_id",
      Seq("state"), s"$tmp/ckpt", nBuckets = 4)
    try q.processAllAvailable() finally q.stop()
    val got = intervals(spark.read.parquet(store))
    val expect = intervals(ChangeCapture.scd2(ev(r1 ++ r2),
      "user_id", "ts", "event_id", Seq("state")))
    assert(got == expect)
  }
}
