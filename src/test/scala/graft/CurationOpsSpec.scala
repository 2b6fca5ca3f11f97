package graft

import graft.ops.{Contamination, IncrementalDedup}
import org.apache.spark.sql.functions._

class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables(spark, "/root/testdata/sf0.001", "documents")

  test("incremental dedup equals the plain anti-join at ANY bloom sizing") {
    val hist = docs.where(col("doc_id") % 3 === 0)
      .select(IncrementalDedup.fp60(col("text")).as("fp"))
    val batch = docs.where(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), IncrementalDedup.fp60(col("text")).as("fp"))
      .unionAll(docs.where(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          IncrementalDedup.fp60(col("text")).as("fp")))
    val plain = batch.join(hist, Seq("fp"), "left_anti")
      .select("doc_id").as[Long].collect().sorted.toSeq

    // well-sized bloom, deliberately undersized bloom (dense => many
    // false positives), and absurd fpp: the routing changes, the
    // result must not
    for ((items, fpp) <- Seq((10000L, 0.01), (10L, 0.5), (1000L, 0.9))) {
      val got = IncrementalDedup.dedupAgainst(batch, hist, "fp", items, fpp)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(got == plain, s"items=$items fpp=$fpp")
    }

    // the plants (re-crawls of history docs) all dropped; fresh docs all kept
    assert(!plain.exists(_ >= 2000000L))
    assert(plain.size == batch.count() - docs.where(col("doc_id") % 6 === 0).count())

    // both probe strategies agree: broadcast-probe (default) and the
    // shuffled-anti-join fallback (forced with maxBroadcastProbe = 0)
    val bloom = IncrementalDedup.buildBloom(hist, "fp", 10000L, 0.01)
    val viaBroadcast = IncrementalDedup
      .dedupAgainstBloom(batch, hist, "fp", bloom)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaShuffle = IncrementalDedup
      .dedupAgainstBloom(batch, hist, "fp", bloom, maxBroadcastProbe = 0L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(viaBroadcast == plain && viaShuffle == plain)

    // the broadcast-probe plan joins only via broadcast: history is
    // scanned in place, never shuffled (the property the op exists for)
    val bplan = IncrementalDedup.dedupAgainstBloom(batch, hist, "fp", bloom)
      .queryExecution.executedPlan.toString
    assert(!bplan.contains("SortMergeJoin") && !bplan.contains("ShuffledHashJoin"),
      s"history-side shuffle join in:\n$bplan")
    // the routing probe is the native codegen'd expression, not a UDF
    // that would break the stage's whole-stage codegen
    assert(!bplan.contains("UDF"), s"UDF in routing plan:\n$bplan")
    assert(bplan.contains("bloommightcontainlong") || bplan.contains("BloomMightContainLong"),
      s"native bloom probe missing from:\n$bplan")
  }

  test("gram doc-frequency counts documents, not occurrences") {
    val d = Seq(
      (1L, "a b c a b c a b c"), // repeats "a b c" 3x in one doc
      (2L, "a b c d e f"),
      (3L, "x y z")
    ).toDF("doc_id", "text")
    val got = Contamination.gramDocFrequency(d, "doc_id", "text", n = 3, minDf = 2L)
      .as[(String, Long, Long)].collect()
      .map { case (sh, df, fd) => sh -> ((df, fd)) }.toMap
    assert(got("a b c") == (2L, 1L)) // docs 1 and 2, NOT 4 occurrences
    assert(!got.contains("x y z"))   // df 1 pruned by minDf
    assert(!got.contains("b c a"))   // only in doc 1 (in-doc repeats collapse)
  }

  test("gramDocFrequency: two-pass equals single-pass exactly") {
    // the two-pass hash prefilter is a pure shuffle optimization — on
    // any corpus, at any minDf, the result must be bit-identical
    for (minDf <- Seq(1L, 2L, 5L)) {
      val two = Contamination.gramDocFrequency(docs, "doc_id", "text",
        n = 3, minDf = minDf).orderBy("sh").collect().toSeq
      val one = Contamination.gramDocFrequency(docs, "doc_id", "text",
        n = 3, minDf = minDf, twoPass = false).orderBy("sh").collect().toSeq
      assert(two == one, s"minDf=$minDf")
    }
  }
}
