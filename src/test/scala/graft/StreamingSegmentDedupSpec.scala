package graft

import graft.ops.SegmentDedup
import graft.streaming.SegmentDedupStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

class StreamingSegmentDedupSpec extends SparkSpec {
  import spark.implicits._

  test("streamed segment dedup over monotone batches equals the batch op on the union") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    // plant truncated copies (+1M ids) so cross-batch dups exist:
    // batch 1 = originals, batch 2 = rest + plants (higher ids)
    val plants = docs.where(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        expr("concat_ws(' ', slice(split(lower(trim(text)), '\\\\s+'), 1, " +
          "greatest((size(split(lower(trim(text)), '\\\\s+')) * 4) div 5, 1)))")
          .as("text"))
    val b1 = docs.where(col("doc_id") < 250)
    val b2 = docs.where(col("doc_id") >= 250).unionAll(plants)

    val base = SparkBridge.tempDir("graft_segdedup").toString
    val (store, out) = (s"$base/store", s"$base/out")
    SegmentDedupStream.applyBatch(b1, "doc_id", "text", 10, store, out)
    SegmentDedupStream.applyBatch(b2, "doc_id", "text", 10, store, out)

    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_segs", "n_kept", "clean_fp")
      .as[(Long, Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    val batch = SegmentDedup.dedupSegments(
        b1.unionAll(b2), "doc_id", "text", segTokens = 10)
      .as[(Long, Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    // the plants actually lost segments (cross-batch dedup fired)
    assert(streamed.exists(r => r._1 >= 1000000L && r._3 < r._2))
  }

  test("the foreachBatch wrapper drives the same loop end-to-end") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").where(col("doc_id") < 100)
    val base = SparkBridge.tempDir("graft_segstream").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    docs.where(col("doc_id") < 50).coalesce(1)
      .write.parquet(s"$srcDir/part1")
    docs.where(col("doc_id") >= 50).coalesce(1)
      .write.parquet(s"$srcDir/part2")

    val src = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true")
      .parquet(srcDir)
    val q = SegmentDedupStream.start(src, "doc_id", "text", 10,
      s"$base/store", s"$base/out", s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(s"$base/out")
    assert(got.count() == docs.count())
    val batch = SegmentDedup.dedupSegments(docs, "doc_id", "text", 10)
    assert(got.orderBy("doc_id").collect().toSeq ==
      batch.orderBy("doc_id").collect().toSeq)
  }

  test("redelivered micro-batch is skipped by the marker; unguarded replay shows why") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").where(col("doc_id") < 100)
    val b1 = docs.where(col("doc_id") < 50)
    val b2 = docs.where(col("doc_id") >= 50)
    val base = SparkBridge.tempDir("graft_segreplay").toString
    val (store, out) = (s"$base/store", s"$base/out")
    def applyGuarded(b: org.apache.spark.sql.DataFrame, id: Long): Boolean =
      graft.streaming.BatchMarkers.applyOnce(spark, out, id) {
        SegmentDedupStream.applyBatch(b, "doc_id", "text", 10, store, out)
      }
    assert(applyGuarded(b1, 0L) && applyGuarded(b2, 1L))
    val once = spark.read.parquet(out).orderBy("doc_id").collect().toSeq
    // crash-after-commit redelivery: the marker must skip batch 1
    assert(!applyGuarded(b2, 1L))
    assert(spark.read.parquet(out).orderBy("doc_id").collect().toSeq == once,
      "guarded replay must leave the sink untouched")
    // the counterfactual the guard exists for: an UNGUARDED replay
    // appends a spurious (doc_id, n_segs, 0, null) row per document
    // (reassemble emits totals whether or not any segment survived)
    SegmentDedupStream.applyBatch(b2, "doc_id", "text", 10, store, out)
    val dup = spark.read.parquet(out)
    assert(dup.count() == once.size + b2.count())
    assert(dup.groupBy("doc_id").count().where(col("count") > 1).count() ==
      b2.count())
  }
}
