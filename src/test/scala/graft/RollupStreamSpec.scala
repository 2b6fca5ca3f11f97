package graft

import graft.ops.IncrementalAgg
import graft.streaming.RollupStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

class RollupStreamSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("day", "k")
  private val ms = Seq(
    IncrementalAgg.count("n"),
    IncrementalAgg.sum("v", "sv"),
    IncrementalAgg.max("v", "mx"))

  private def tableAt(path: String): Seq[(String, String, Long, Long, Long)] =
    spark.read.parquet(path)
      .select(col("day").cast("string").as("day"), col("k"),
        col("n"), col("sv"), col("mx"))
      .as[(String, String, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  test("streamed rollup == batch rollup over the union of micro-batches") {
    val path = SparkBridge.tempDir("graft_rollup_s")
      .resolve("t").toString
    val ckpt = SparkBridge.tempDir("graft_rollup_c")
      .toString
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, String, Long)]
    val rows = mem.toDF().toDF("day", "k", "v")
    val q = RollupStream.start(rows, path, keys, ms, "day", ckpt)
    val b1 = Seq(("2026-01-01", "a", 5L), ("2026-01-02", "a", 6L))
    val b2 = Seq(("2026-01-02", "a", 100L), ("2026-01-02", "b", 1L))
    val b3 = Seq(("2026-01-01", "b", -3L))
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      mem.addData(b3); q.processAllAvailable()
    } finally q.stop()

    val expect = IncrementalAgg.aggregateBatch(
        (b1 ++ b2 ++ b3).toDF("day", "k", "v"), keys, ms)
      .select("day", "k", "n", "sv", "mx")
      .as[(String, String, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(tableAt(path) == expect)
  }

  test("replayed micro-batch ids are skipped: the fold is redelivery-idempotent") {
    val path = SparkBridge.tempDir("graft_rollup_r")
      .resolve("t").toString
    val b = Seq(("2026-01-01", "a", 5L)).toDF("day", "k", "v")
    assert(RollupStream.applyBatch(b, 0L, path, keys, ms, "day"))
    val once = tableAt(path)
    // crash-after-commit redelivery: same batch id arrives again
    assert(!RollupStream.applyBatch(b, 0L, path, keys, ms, "day"))
    assert(tableAt(path) == once, "replay must not double-count")
    // a NEW batch id with the same content is genuine data and folds
    assert(RollupStream.applyBatch(b, 1L, path, keys, ms, "day"))
    assert(tableAt(path) == Seq(("2026-01-01", "a", 2L, 10L, 5L)))
  }

  test("empty first micro-batch leaves a foldable table shape behind") {
    val path = SparkBridge.tempDir("graft_rollup_e")
      .resolve("t").toString
    val empty = Seq.empty[(String, String, Long)].toDF("day", "k", "v")
    assert(RollupStream.applyBatch(empty, 0L, path, keys, ms, "day"))
    val b = Seq(("2026-01-01", "a", 5L)).toDF("day", "k", "v")
    assert(RollupStream.applyBatch(b, 1L, path, keys, ms, "day"))
    assert(tableAt(path) == Seq(("2026-01-01", "a", 1L, 5L, 5L)))
  }
}
