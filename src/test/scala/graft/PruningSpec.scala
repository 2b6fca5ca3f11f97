package graft

import graft.sources.PartitionedSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

class PruningSpec extends SparkSpec {

  test("hive-partitioned layout gives partition pruning on read") {
    val out = SparkBridge.tempDir("graft_prune").toString + "/events_by_type"
    val ev = graft.queries.events(spark, "/root/testdata/sf0.001")
    PartitionedSink.writePartitionedBy(ev, out, Seq("event_type"))

    val pruned = PartitionedSink.read(spark, out)
      .where(col("event_type") === "click")
    val plan = pruned.queryExecution.executedPlan.toString

    // the scan must carry the partition filter — only the click
    // directory is read, not a post-scan filter over everything
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(event_type"),
      s"expected partition filters in scan:\n$plan")

    val clickCount = pruned.count()
    val allCount = PartitionedSink.read(spark, out).count()
    assert(clickCount > 0 && clickCount < allCount)

    // physical layout: the pruned read equals reading ONLY the click
    // partition directory
    val clickDirOnly = spark.read.parquet(s"$out/event_type=click").count()
    assert(clickCount == clickDirOnly)
  }

  test("clustered write: row-group stats let a filtered scan skip most data") {
    val base = SparkBridge.tempDir("graft_cluster").toString
    val orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")

    // unsorted layout: every file covers the whole key range
    orders.repartition(8).write.parquet(s"$base/unsorted")
    PartitionedSink.clusteredWrite(orders, s"$base/clustered",
      Seq("o_totalprice"), nFiles = 8)

    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path).where(col("o_totalprice") < 10000.0)
      q.collect() // execute THIS plan so its scan metrics populate
      q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    val selected = spark.read.parquet(s"$base/clustered")
      .where(col("o_totalprice") < 10000.0).count()
    val unsortedRead = scanRows(s"$base/unsorted")
    val clusteredRead = scanRows(s"$base/clustered")

    // same answer, far fewer rows decoded: the unsorted layout decodes
    // every row group; the clustered one skips all but the matching
    // range (bounded by one file's worth here)
    assert(selected > 0)
    assert(unsortedRead == orders.count(),
      s"unsorted layout should decode everything, got $unsortedRead")
    assert(clusteredRead < unsortedRead / 4,
      s"clustered scan decoded $clusteredRead vs unsorted $unsortedRead")
  }

  test("z-ordered write: a two-dimensional box filter skips more than single-column clustering") {
    val base = SparkBridge.tempDir("graft_zorder").toString
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")

    PartitionedSink.clusteredWrite(li, s"$base/by_partkey",
      Seq("l_partkey"), nFiles = 16)
    PartitionedSink.zOrderedWrite(li, s"$base/zorder",
      "l_partkey", "l_suppkey", nFiles = 16)

    // ~25% box on each dimension => ~6% of rows match
    val (pMax, sMax) = (500L, 25L)
    def pred(df: org.apache.spark.sql.DataFrame) =
      df.where(col("l_partkey") < pMax && col("l_suppkey") < sMax)
    def scanRows(path: String): Long = {
      val q = pred(spark.read.parquet(path))
      q.collect() // execute THIS plan so its scan metrics populate
      q.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }

    // identical answers across layouts
    val expect = pred(li).count()
    assert(expect > 0)
    assert(pred(spark.read.parquet(s"$base/zorder")).count() == expect)

    val byPartkey = scanRows(s"$base/by_partkey")
    val zRead = scanRows(s"$base/zorder")
    // single-column clustering decodes every file in the partkey
    // range regardless of suppkey; the z-layout's files are spatial
    // tiles, selective on both dimensions at once
    assert(zRead < byPartkey,
      s"z-order decoded $zRead vs single-column $byPartkey")
    assert(zRead < li.count() / 4, s"z-order decoded $zRead of ${li.count()}")
  }

  test("z-ordered write survives empty frames and all-null z columns") {
    val base = SparkBridge.tempDir("graft_zorder_edge").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey")

    // empty frame: min/max are null -> plain clustered fallback, no NPE
    PartitionedSink.zOrderedWrite(li.where(col("l_orderkey") < 0),
      s"$base/empty", "l_partkey", "l_suppkey", nFiles = 4)
    assert(spark.read.parquet(s"$base/empty").count() == 0)

    // all-null z-order column: same fallback, data intact
    val nulled = li.withColumn("l_suppkey", lit(null).cast("long"))
    PartitionedSink.zOrderedWrite(nulled, s"$base/nullcol",
      "l_partkey", "l_suppkey", nFiles = 4)
    assert(spark.read.parquet(s"$base/nullcol").count() == li.count())
  }

  test("compaction merges small files without changing the data") {
    val out = SparkBridge.tempDir("graft_compact").toString + "/t"
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    orders.repartition(16).write.parquet(out)
    val before = orders.orderBy("o_orderkey").collect().toSeq

    val (nBefore, nAfter) = PartitionedSink.compact(spark, out)
    assert(nBefore == 16 && nAfter == 1, s"$nBefore -> $nAfter")
    val partFiles = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(partFiles == 1)

    val after = spark.read.parquet(out).orderBy("o_orderkey").collect().toSeq
    assert(after == before)
  }
}
