package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.graft.SparkBridge

class StreamingSpec extends SparkSpec {

  test("streaming hourly agg matches the batch plan over the same data") {
    // batch side: same transform over a batch read
    val batch = EventsStream.hourlyAgg(
      EventsStream.withTimestamp(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")))
      .orderBy("hour", "event_type")
      .collect()

    // stage the fixture file into a directory (file-stream source
    // requires a directory to tail)
    val dir = SparkBridge.tempDir("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))

    // stream side: complete-mode memory sink, drained synchronously
    val q = EventsStream.hourlyStream(spark, dir.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_out")
        .orderBy("hour", "event_type").collect()
      assert(streamed.length == batch.length)
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("streaming sliding-window agg matches the batch plan over the same data") {
    val batch = EventsStream.slidingAgg(
      EventsStream.withTimestamp(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")))
      .orderBy("wstart").collect()

    val dir = SparkBridge.tempDir("graft_stream_sliding")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventsStream.slidingAgg(
        EventsStream.readStream(spark, dir.toString)
          .withWatermark("ts", "2 hours"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sliding_out").orderBy("wstart").collect()
      assert(streamed.length == batch.length)
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids across micro-batches") {
    // the same fixture staged TWICE: every event id arrives in two
    // different files; maxFilesPerTrigger=1 forces separate
    // micro-batches, so the drop happens through the state store
    val dir = SparkBridge.tempDir("graft_stream_dedup")
    Seq("a", "b").foreach { n =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
        dir.resolve(s"events_$n.parquet"))
    }

    val src = spark.readStream
      .schema(EventsStream.storedSchema(spark, dir.toString))
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val deduped = EventsStream.dedupEvents(
      EventsStream.withTimestamp(src).withWatermark("ts", "3650 days"))

    val q = deduped.select("event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
      val expected = spark.read
        .parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id").distinct().collect().map(_.getLong(0)).sorted
      assert(ids.length == expected.length, "one survivor per event id")
      assert(ids.sameElements(expected))
    } finally q.stop()
  }

  test("streaming upsert applies each micro-batch as a partition-scoped merge") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val tmp = SparkBridge.tempDir("graft_supsert").toString
    val target = s"$tmp/target"

    Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
      .toDF("k", "v", "part")
      .write.partitionBy("part").parquet(target)

    // two update files -> two micro-batches (maxFilesPerTrigger=1);
    // disjoint keys, so the final state is order-independent
    val updDir = new java.io.File(s"$tmp/updates"); updDir.mkdirs()
    def stageFile(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val stage = s"$tmp/stage_$name"
      rows.toDF("k", "v", "part").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(updDir, s"$name.parquet").toPath)
    }
    stageFile("u1", Seq((2L, "B", "p1"), (4L, "d", "p2"))) // update + insert
    stageFile("u2", Seq((5L, "e", "p3")))                  // brand-new partition

    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("part", StringType)))
    val updates = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(updDir.toString)
    val q = graft.streaming.StreamingUpsert.start(updates, target,
      Seq("k"), "part", s"$tmp/ckpt")
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(target)
      .select("k", "v", "part").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", "p1"), (2L, "B", "p1"), (3L, "c", "p2"),
      (4L, "d", "p2"), (5L, "e", "p3")))
  }

  test("streaming Count-Min heavy hitters: merged micro-batch sketches equal the one-pass batch sketch exactly") {
    import graft.ops.TextAnalysis
    import org.apache.spark.sql.functions._
    // stage the documents fixture TWICE -> two micro-batches, so the
    // equality below exercises a real cross-batch merge
    val dir = SparkBridge.tempDir("graft_hh_stream")
    Seq("a", "b").foreach { n =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
        dir.resolve(s"docs_$n.parquet"))
    }
    val docsSchema = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").schema
    val termStream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))

    val hh = new graft.streaming.StreamingHeavyHitters("term")
    val q = hh.attach(termStream)
    try q.processAllAvailable() finally q.stop()

    // one-pass batch sketch over the SAME rows (fixture x2)
    val batchDf = spark.read.parquet(dir.toString)
      .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
    val batchCms = batchDf.stat.countMinSketch("term", 0.0005, 0.99, 42)

    // linearity: estimates agree EXACTLY for every distinct term, and
    // never under the true count
    import spark.implicits._
    val terms = batchDf.groupBy("term").count()
      .as[(String, Long)].collect()
    assert(terms.nonEmpty)
    terms.foreach { case (term, n) =>
      val se = hh.sketch.estimateCount(term)
      val be = batchCms.estimateCount(term)
      assert(se == be, s"'$term': streamed $se != batch $be")
      assert(se >= n, s"'$term': estimate $se under true count $n")
    }
    assert(hh.sketch.totalCount() == batchCms.totalCount())
  }

  test("streaming HLL distinct counter: idempotent under re-delivery, matches exact count") {
    import org.apache.spark.sql.functions._
    // the SAME events file staged twice -> two micro-batches carrying
    // identical user_ids: a set-semantics accumulator must absorb the
    // replay (estimate unchanged), where a linear counter would double
    val dir = SparkBridge.tempDir("graft_hll_stream")
    Seq("a", "b").foreach { n =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
        dir.resolve(s"ev_$n.parquet"))
    }
    val evSchema = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet").schema
    val userStream = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .select(col("user_id"))

    val dc = new graft.streaming.StreamingDistinctCounter("user_id")
    val q = dc.attach(userStream)
    try q.processAllAvailable() finally q.stop()

    val exact = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("user_id").distinct().count()
    assert(exact > 0)
    assert(math.abs(dc.estimate - exact) <= exact * 0.05 + 1,
      s"streamed ${dc.estimate} vs exact $exact")

    // idempotence: one-copy batch sketch unioned alone gives the SAME
    // register state, so the two-copy streamed estimate equals it
    val single = new graft.streaming.StreamingDistinctCounter("user_id")
    single.addBatch(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id"))
    assert(dc.estimate == single.estimate,
      s"replay inflated the estimate: ${dc.estimate} vs ${single.estimate}")

    // the serialized union round-trips through datasketches heapify
    val back = org.apache.datasketches.hll.HllSketch.heapify(dc.sketchBytes)
    assert(back.getEstimate == dc.estimate)
  }

  test("stream-stream funnel join matches the batch plan over the same data") {
    val batchEv = EventsStream.withTimestamp(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val batch = EventsStream.funnelPairs(
        batchEv.where("event_type = 'click'"),
        batchEv.where("event_type = 'purchase'"))
      .orderBy("user_id", "click_id", "purchase_id").collect()

    val dir = SparkBridge.tempDir("graft_stream_funnel")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))

    val q = EventsStream.funnelStream(spark, dir.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("funnel_out")
        .orderBy("user_id", "click_id", "purchase_id").collect()
      assert(streamed.length == batch.length)
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }
}
