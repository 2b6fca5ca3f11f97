package graft

import graft.ops.Blocks
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

/** The r15 checkpoint-hygiene contract: a streaming fold that
  * `localCheckpoint`s frames every micro-batch must be able to free
  * their blocks deterministically once the batch commits, instead of
  * leaking storage until a driver GC (the long-lived-stream growth
  * the r14 advice flagged).
  */
class BlocksSpec extends SparkSpec {

  private def cachedRddIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release frees an eager localCheckpoint's cached blocks") {
    val before = cachedRddIds
    val ck = spark.range(1000).select(col("id"), (col("id") * 2).as("x"))
      .localCheckpoint(true)
    assert(ck.count() === 1000L)
    val added = cachedRddIds -- before
    assert(added.nonEmpty, "an eager localCheckpoint must cache blocks")
    Blocks.release(ck)
    assert((cachedRddIds -- before).isEmpty,
      "release must unpersist the checkpointed RDD")
  }

  test("releasing a lazy frame built over a checkpoint frees the input") {
    val before = cachedRddIds
    val ck = spark.range(500).localCheckpoint(true)
    val derived = ck.groupBy((col("id") % 7).as("m")).count()
    assert(derived.count() === 7L)
    assert((cachedRddIds -- before).nonEmpty)
    // the derived frame's analyzed plan leaves on the checkpointed RDD
    Blocks.release(derived)
    assert((cachedRddIds -- before).isEmpty,
      "release must reach checkpointed leaves through a lazy plan")
  }

  test("release is a no-op on plain (non-checkpointed) frames") {
    val before = cachedRddIds
    val df = spark.range(100).select(col("id"))
    Blocks.release(df)
    assert(df.count() === 100L)
    assert(cachedRddIds === before)
  }

  test("ownership contract: releasing one frame kills a live sibling " +
      "over the same checkpoint LOUDLY, never silently wrong") {
    // release() unpersists EVERY checkpointed leaf reachable from the
    // given frames. A caller that releases a frame while a SIBLING
    // frame over the same checkpointed input is still unconsumed has
    // broken the one-owner contract (the call sites all materialize
    // every consumer first). This spec pins the failure MODE of that
    // mistake: the sibling's later action must fail with an error —
    // a localCheckpoint's blocks were its only data copy, so Spark
    // cannot silently recompute (possibly stale) rows.
    val ck = spark.range(2000).select(col("id"), (col("id") * 3).as("y"))
      .localCheckpoint(true)
    val a = ck.where(col("id") % 2 === 0)
    val b = ck.where(col("id") % 2 === 1)
    assert(a.count() === 1000L)
    Blocks.release(a) // frees ck's blocks — b is still unconsumed
    val e = intercept[Exception] { b.count() }
    val msg = String.valueOf(e.getMessage) +
      String.valueOf(Option(e.getCause).map(_.getMessage).orNull)
    assert(msg.toLowerCase.contains("block") ||
      msg.toLowerCase.contains("checkpoint"),
      s"expected a missing-block/checkpoint error, got: $msg")
  }

  test("the maxsim stream's per-batch checkpoints do not accumulate") {
    import spark.implicits._
    val mv = graft.ops.MaxSim.multiVector(
      spark.range(64).select(col("id").as("vec_id"),
        expr("transform(sequence(1, 8), d -> CAST((vec_id * 31 + d * 7) % 13 AS FLOAT) / 13.0)")
          .as("embedding")),
      "vec_id", 4)
    val root = SparkBridge.tempDir("blocks_idx").toString
    val out = SparkBridge.tempDir("blocks_out").toString +
      "/scores"
    graft.ops.MaxSim.writeIndexVersioned(mv.where(col("doc_id") >= 8), root,
      nPlanes = 4, dims = 8, dBuckets = 4)
    val before = cachedRddIds
    (0L to 2L).foreach { b =>
      graft.streaming.MaxSimStream.applyBatch(
        mv.where(col("doc_id") >= b * 2 && col("doc_id") < (b + 1) * 2),
        root, out, k = 3, nPlanes = 4, dims = 8, dBuckets = 4, batchId = b)
    }
    assert((cachedRddIds -- before).isEmpty,
      "applyBatch must release every checkpoint it takes")
  }
}
