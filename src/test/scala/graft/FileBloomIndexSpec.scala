package graft

import graft.ops.FileBloomIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

class FileBloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private def scratch(tag: String): String =
    SparkBridge.tempDir(s"graft_fbi_$tag").toString

  private def writeData(path: String, ids: Range, nFiles: Int): Unit =
    spark.range(ids.start, ids.end).toDF("id")
      .withColumn("payload", md5(col("id").cast("string")))
      .repartition(nFiles)
      .write.mode("append").parquet(path)

  test("point lookup == full-scan filter; absent keys return empty") {
    val data = scratch("eq") + "/t"
    writeData(data, 0 until 16000, 16)
    val side = scratch("eq_side") + "/idx"
    FileBloomIndex.build(spark, data, "id", side,
      expectedPerFile = 2000, fpp = 0.01)

    val keys = Seq(7L, 9001L, 15999L)
    val got = FileBloomIndex.pointLookup(spark, data, side, "id", keys)
      .select("id", "payload").as[(Long, String)].collect().sortBy(_._1).toSeq
    val want = spark.read.parquet(data).where(col("id").isin(keys: _*))
      .select("id", "payload").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got == want && got.size == 3)

    assert(FileBloomIndex.pointLookup(spark, data, side, "id",
      Seq(999999L)).count() == 0)
  }

  test("the sidecar actually prunes: a point probe touches few of many files") {
    val data = scratch("prune") + "/t"
    writeData(data, 0 until 16000, 16)
    val side = scratch("prune_side") + "/idx"
    FileBloomIndex.build(spark, data, "id", side,
      expectedPerFile = 2000, fpp = 0.001)
    val total = spark.read.parquet(data).inputFiles.length
    assert(total == 16)
    val cand = FileBloomIndex.candidateFiles(spark, data, side, Seq(1234L))
    // the key lives in exactly one file; fpp=0.001 over 15 others
    // makes >3 survivors astronomically unlikely
    assert(cand.nonEmpty && cand.size <= 3,
      s"expected <=3 candidate files of $total, got ${cand.size}")
    // absent key: candidates may be nonempty (false positives) but the
    // pruned read returns nothing
    val none = FileBloomIndex.candidateFiles(spark, data, side, Seq(777777L))
    assert(none.size <= 3)
  }

  test("stale sidecar is safe: appended files are always candidates; refresh covers them") {
    val data = scratch("stale") + "/t"
    writeData(data, 0 until 8000, 8)
    val side = scratch("stale_side") + "/idx"
    FileBloomIndex.build(spark, data, "id", side,
      expectedPerFile = 2000, fpp = 0.001)
    // append AFTER the build — the sidecar does not know these files,
    // so every probe, even for a key stored nowhere, must read them
    val before = spark.read.parquet(data).inputFiles.toSet
    writeData(data, 100000 until 104000, 4)
    val appended = spark.read.parquet(data).inputFiles.toSet -- before
    assert(appended.size == 4)
    assert(appended.subsetOf(
      FileBloomIndex.candidateFiles(spark, data, side, Seq(-1L)).toSet))

    // a key that lives only in the appended files MUST still be found
    val got = FileBloomIndex.pointLookup(spark, data, side, "id", Seq(100123L))
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(100123L), "stale sidecar lost an appended row")

    // a rebuild restores full coverage => the appended-only key prunes
    FileBloomIndex.build(spark, data, "id", side,
      expectedPerFile = 2000, fpp = 0.001)
    val cand = FileBloomIndex.candidateFiles(spark, data, side, Seq(100123L))
    assert(cand.size <= 3, s"post-refresh probe should prune, got ${cand.size}")
    assert(FileBloomIndex.pointLookup(spark, data, side, "id", Seq(100123L))
      .count() == 1)
  }
}
