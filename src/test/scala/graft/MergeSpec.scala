package graft

import graft.sources.Merge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

class MergeSpec extends SparkSpec {

  private def fileSet(dir: String): Set[(String, Long)] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length())).toSet
  }

  test("partition-scoped upsert rewrites only touched partitions") {
    val out = SparkBridge.tempDir("graft_merge").toString + "/orders"
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    orders.write.partitionBy("o_orderstatus").parquet(out)
    val statuses = orders.select("o_orderstatus").distinct()
      .collect().map(_.getString(0)).sorted
    assert(statuses.length >= 2)
    val (touchedStatus, untouchedStatus) = (statuses.head, statuses.last)
    val untouchedBefore = fileSet(s"$out/o_orderstatus=$untouchedStatus")
    val total = orders.count()

    // updates: re-price 5 existing keys + insert 1 new key, all in ONE status
    val existing = orders.where(col("o_orderstatus") === touchedStatus).limit(5)
      .withColumn("o_totalprice", lit(999.99))
    val novel = orders.where(col("o_orderstatus") === touchedStatus).limit(1)
      .withColumn("o_orderkey", lit(-1L))
    val updates = existing.unionByName(novel)

    val rewritten = Merge.upsertPartitioned(spark, out, updates,
      Seq("o_orderkey"), "o_orderstatus")
    assert(rewritten == 1)

    val after = spark.read.parquet(out)
    assert(after.count() == total + 1) // 5 replaced in place, 1 inserted
    val repriced = after.where(col("o_totalprice") === 999.99).count()
    assert(repriced == 5)
    assert(after.where(col("o_orderkey") === -1L).count() == 1)

    // the untouched partition's files were not rewritten
    assert(fileSet(s"$out/o_orderstatus=$untouchedStatus") == untouchedBefore)
  }

  test("applyChanges: deletes go, upserts land, an emptied partition's files are cleared") {
    import spark.implicits._
    val out = SparkBridge.tempDir("graft_cdc").toString + "/t"
    Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p3"))
      .toDF("k", "v", "part").write.partitionBy("part").parquet(out)
    val untouchedBefore = fileSet(s"$out/part=p1")

    // delete k=3 (empties p2), update k=4, insert k=5 — p1 untouched
    val changes = Seq(
      (3L, null.asInstanceOf[String], "p2", "delete"),
      (4L, "D", "p3", "update"),
      (5L, "e", "p3", "insert"))
      .toDF("k", "v", "part", "change_type")
    val n = graft.sources.Merge.applyChanges(spark, out, changes,
      Seq("k"), "part")
    assert(n == 2)

    val after = spark.read.parquet(out)
      .select("k", "v", "part").as[(Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(after == Seq((1L, "a", "p1"), (2L, "b", "p1"),
      (4L, "D", "p3"), (5L, "e", "p3")))
    // the partition whose last row was deleted holds no stale files
    assert(!new java.io.File(s"$out/part=p2").exists())
    // and the untouched partition was never rewritten
    assert(fileSet(s"$out/part=p1") == untouchedBefore)
  }

  test("applyChanges clears emptied partitions whose value Hive-escapes") {
    import spark.implicits._
    val out = SparkBridge.tempDir("graft_cdc_esc").toString + "/t"
    // space and colon both escape in hive directory names — a raw
    // "$col=$value" path would miss the directory and leave the
    // stale files behind
    Seq((1L, "a", "p 1:x"), (2L, "b", "safe"))
      .toDF("k", "v", "part").write.partitionBy("part").parquet(out)
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("part=")).toSet
    assert(dirs.exists(_.contains("%")), s"expected an escaped dir in $dirs")

    val changes = Seq((1L, null.asInstanceOf[String], "p 1:x", "delete"))
      .toDF("k", "v", "part", "change_type")
    Merge.applyChanges(spark, out, changes, Seq("k"), "part")

    val after = spark.read.parquet(out).select("k", "v", "part")
      .as[(Long, String, String)].collect().toSeq
    assert(after == Seq((2L, "b", "safe")))
    val dirsAfter = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("part=")).toSet
    assert(!dirsAfter.exists(_.contains("%")),
      s"escaped partition dir not cleared: $dirsAfter")
  }

  test("null partition key merges against __HIVE_DEFAULT_PARTITION__, not past it") {
    import spark.implicits._
    val out = SparkBridge.tempDir("graft_merge_null").toString + "/t"
    Seq((1L, "a", null.asInstanceOf[String]), (2L, "b", null), (3L, "c", "p1"))
      .toDF("k", "v", "part").write.partitionBy("part").parquet(out)

    // update k=1 in the null partition: k=2 must SURVIVE the dynamic
    // overwrite of that partition (isin-only touched predicates never
    // read it, losing k=2)
    val updates = Seq((1L, "A", null.asInstanceOf[String]))
      .toDF("k", "v", "part")
    Merge.upsertPartitioned(spark, out, updates, Seq("k"), "part")

    val after = spark.read.parquet(out).select("k", "v")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(after == Seq((1L, "A"), (2L, "b"), (3L, "c")))
  }
}
