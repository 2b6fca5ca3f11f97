package graft

import graft.ops.{Contamination, IncrementalDedup, ShardedBloom}
import org.apache.spark.sql.functions._

/** The sharded bloom family: no false negatives at any shard count,
  * and the sharded survivor filter in gramDocFrequency.
  */
class ShardedBloomSpec extends SparkSpec {
  import spark.implicits._

  private def hist = spark.range(5000)
    .select(IncrementalDedup.fp60(concat(lit("h"), col("id"))).as("fp"))

  test("sharded family has no false negatives at any shard count") {
    val fps = hist.as[Long].collect()
    for (n <- Seq(1, 3, 8)) {
      val family = ShardedBloom.build(hist, "fp", fps.length.toLong,
        0.01, n)
      assert(fps.forall(family.mightContainLong),
        s"numShards=$n missed a built fingerprint")
    }
  }

  test("gramDocFrequency: sharded survivor filter equals monolithic and single-pass") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown cat sits under the lazy dog"),
      (3L, "a completely different document with no shared grams"),
      (4L, "the quick brown fox runs past the lazy dog")
    ).toDF("doc_id", "text")
    for (minDf <- Seq(1L, 2L)) {
      val mono = Contamination.gramDocFrequency(docs, "doc_id", "text",
        n = 3, minDf = minDf).orderBy("sh").collect().toSeq
      val sharded = Contamination.gramDocFrequency(docs, "doc_id", "text",
        n = 3, minDf = minDf, survivorShards = 4).orderBy("sh").collect().toSeq
      val one = Contamination.gramDocFrequency(docs, "doc_id", "text",
        n = 3, minDf = minDf, twoPass = false).orderBy("sh").collect().toSeq
      assert(sharded == mono, s"minDf=$minDf sharded vs mono")
      assert(sharded == one, s"minDf=$minDf sharded vs single-pass")
    }
  }
}
