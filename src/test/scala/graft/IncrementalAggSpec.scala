package graft

import graft.ops.IncrementalAgg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.SparkBridge
import scala.jdk.CollectionConverters._

class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(tag: String): String =
    SparkBridge.tempDir(s"graft_incagg_$tag")
      .resolve("t").toString

  private val keys = Seq("day", "k")
  private val ms = Seq(
    IncrementalAgg.count("n"),
    IncrementalAgg.sum("v", "sv"),
    IncrementalAgg.min("v", "mn"),
    IncrementalAgg.max("v", "mx"))

  private def frame(rows: Seq[(String, String, Long)]): DataFrame =
    rows.toDF("day", "k", "v")

  private def fromScratch(all: DataFrame): Seq[(String, String, Long, Long, Long, Long)] =
    IncrementalAgg.aggregateBatch(all, keys, ms)
      .select("day", "k", "n", "sv", "mn", "mx")
      .as[(String, String, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  private def tableAt(path: String): Seq[(String, String, Long, Long, Long, Long)] =
    spark.read.parquet(path)
      .select(col("day").cast("string").as("day"), col("k"),
        col("n"), col("sv"), col("mn"), col("mx"))
      .as[(String, String, Long, Long, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq

  test("maintained table == from-scratch aggregation across any batch split") {
    val rows = (1L to 300L).map { i =>
      (f"2026-01-${i % 5 + 1}%02d", s"k${i % 3}", i * 7 - 1000)
    }
    val all = frame(rows)
    val expect = fromScratch(all)

    // three different splits, including one that leaves a batch empty
    val splits = Seq(
      Seq(rows.take(100), rows.slice(100, 200), rows.drop(200)),
      Seq(rows.filter(_._3 % 2 == 0), rows.filter(_._3 % 2 != 0)),
      Seq(rows, Seq.empty[(String, String, Long)]))
    splits.zipWithIndex.foreach { case (batches, i) =>
      val path = scratch(s"split$i")
      batches.foreach { b =>
        IncrementalAgg.updateTable(spark, path, frame(b), keys, ms, "day")
      }
      assert(tableAt(path) == expect, s"split $i diverged from scratch")
    }
  }

  test("update rewrites only the touched partitions; untouched files are byte-identical") {
    val path = scratch("touch")
    IncrementalAgg.updateTable(spark, path,
      frame(Seq(("2026-01-01", "a", 5L), ("2026-01-02", "a", 6L))),
      keys, ms, "day")
    def filesUnder(day: String): Map[String, Long] = {
      val dir = java.nio.file.Paths.get(path, s"day=$day")
      val s = java.nio.file.Files.list(dir)
      try s.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
      finally s.close()
    }
    val before = filesUnder("2026-01-01")
    Thread.sleep(5)
    val n = IncrementalAgg.updateTable(spark, path,
      frame(Seq(("2026-01-02", "a", 100L), ("2026-01-02", "b", 1L))),
      keys, ms, "day")
    assert(n == 1, "only day=2026-01-02 should be rewritten")
    assert(filesUnder("2026-01-01") == before,
      "files of an untouched partition must not be rewritten")
    assert(tableAt(path) == fromScratch(frame(Seq(
      ("2026-01-01", "a", 5L), ("2026-01-02", "a", 6L),
      ("2026-01-02", "a", 100L), ("2026-01-02", "b", 1L)))))
  }

  test("merge algebra: count sums partials, min/max fold, order-independent") {
    val a = IncrementalAgg.aggregateBatch(
      frame(Seq(("d", "x", 10L), ("d", "x", -4L))), keys, ms)
    val b = IncrementalAgg.aggregateBatch(
      frame(Seq(("d", "x", 7L), ("d", "y", 1L))), keys, ms)
    val ab = IncrementalAgg.mergePartials(a, b, keys, ms)
      .select("day", "k", "n", "sv", "mn", "mx")
      .as[(String, String, Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    val ba = IncrementalAgg.mergePartials(b, a, keys, ms)
      .select("day", "k", "n", "sv", "mn", "mx")
      .as[(String, String, Long, Long, Long, Long)].collect().sortBy(_._2).toSeq
    assert(ab == Seq(("d", "x", 3L, 13L, -4L, 10L), ("d", "y", 1L, 1L, 1L, 1L)))
    assert(ab == ba)
  }

  test("non-mergeable measures rejected at construction, a non-key partition column at update") {
    intercept[IllegalArgumentException] {
      IncrementalAgg.Measure("avg", "v", "bad")
    }
    intercept[IllegalArgumentException] {
      IncrementalAgg.updateTable(spark, scratch("badkey"),
        frame(Seq(("d", "x", 1L))), keys, ms, "not_a_key")
    }
  }

  test("null partition keys fold into __HIVE_DEFAULT_PARTITION__ without losing prior partials") {
    val path = scratch("nullpart")
    val b1 = Seq((null.asInstanceOf[String], "x", 10L), ("d1", "x", 1L))
    val b2 = Seq((null.asInstanceOf[String], "x", 5L))
    IncrementalAgg.updateTable(spark, path, frame(b1), keys, ms, "day")
    // the second fold touches ONLY the null partition — an isin-based
    // touched predicate reads nothing back and the dynamic overwrite
    // would replace the partition with batch-only partials (n=1)
    IncrementalAgg.updateTable(spark, path, frame(b2), keys, ms, "day")
    val got = spark.read.parquet(path)
      .select(col("day").cast("string"), col("k"), col("n"), col("sv"))
      .as[(Option[String], String, Long, Long)]
      .collect().sortBy(_._1.getOrElse("")).toSeq
    assert(got == Seq((None, "x", 2L, 15L), (Some("d1"), "x", 1L, 1L)))
  }
}
