package graft

import graft.ops.FrequentKeys
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

/** Misra-Gries heavy-hitter enumeration (q113's production path):
  * the two mergeable-summary theorems under real eviction, exactness
  * below capacity, the streaming twin's cumulative guarantee, and
  * parity between the SQL count_min_sketch aggregate and
  * stat.countMinSketch (q112's single-pass restructure rides it).
  */
class FrequentKeysSpec extends SparkSpec {
  import spark.implicits._

  /** Zipf-ish skew: key i appears ~1000/i times, i in 1..60 — far
    * more distinct keys than summary capacity, so adds evict and
    * merges subtract.
    */
  private def skewed = {
    val rows = for {
      i <- 1 to 60
      _ <- 1 to (1000 / i)
    } yield s"key$i"
    // interleave deterministically so partitions see mixed keys
    rows.sortBy(_.hashCode).toDF("term").repartition(8)
  }

  test("below capacity the summary is exact") {
    val df = Seq("a", "a", "b", "c", "c", "c").toDF("term").repartition(3)
    val mg = FrequentKeys.summarize(df, "term", k = 10)
    assert(mg.scanned == 6L)
    assert(mg.estimates == Map("a" -> 2L, "b" -> 1L, "c" -> 3L))
  }

  test("theorems hold under eviction: no false negative above bound, undercount-only within bound") {
    val df = skewed
    val exact = df.groupBy("term").count().as[(String, Long)].collect().toMap
    val n = exact.values.sum
    val k = 12 // far below 60 distinct keys: decrement + subtract run
    val mg = FrequentKeys.summarize(df, "term", k)
    assert(mg.scanned == n)
    val est = mg.estimates
    assert(est.size <= k)
    val bound = mg.bound
    // enumeration guarantee: every key above the bound is present
    val mustHave = exact.filter(_._2 > bound).keySet
    assert(mustHave.nonEmpty, "fixture must exercise the guarantee")
    assert(mustHave.subsetOf(est.keySet),
      s"missing hot keys: ${mustHave -- est.keySet}")
    // estimate guarantee: undercount-only, within bound
    est.foreach { case (key, e) =>
      val truth = exact(key)
      assert(e <= truth, s"$key overcounted: $e > $truth")
      assert(truth - e <= bound, s"$key undercount ${truth - e} > $bound")
    }
  }

  test("nulls are skipped, not counted as a key") {
    val df = Seq(Some("a"), None, Some("a"), None).toDF("term")
    val mg = FrequentKeys.summarize(df, "term", k = 4)
    assert(mg.scanned == 2L && mg.estimates == Map("a" -> 2L))
  }

  test("merge refuses mismatched capacities") {
    val a = new FrequentKeys.MisraGries(4)
    val b = new FrequentKeys.MisraGries(5)
    intercept[IllegalArgumentException](a.merge(b))
  }

  test("streaming twin: per-batch merges keep the cumulative guarantee; snapshots are isolated") {
    val dir = SparkBridge.tempDir("graft_mg_stream")
    // two micro-batches of the documents fixture -> a real cross-batch
    // merge, same staging shape as the Count-Min streaming spec
    Seq("a", "b").foreach { nm =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.001/documents.parquet"),
        dir.resolve(s"docs_$nm.parquet"))
    }
    val docsSchema = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").schema
    val termStream = spark.readStream.schema(docsSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      .select(explode(graft.ops.TextAnalysis.tokens(col("text"))).as("term"))

    val k = 29
    val sfk = new graft.streaming.StreamingFrequentKeys("term", k)
    val q = sfk.attach(termStream)
    try q.processAllAvailable() finally q.stop()

    val batchDf = spark.read.parquet(dir.toString)
      .select(explode(graft.ops.TextAnalysis.tokens(col("text"))).as("term"))
    val exact = batchDf.groupBy("term").count().as[(String, Long)].collect().toMap
    val n = exact.values.sum

    val snap = sfk.summary
    assert(snap.scanned == n)
    val bound = snap.bound
    val est = snap.estimates
    val mustHave = exact.filter(_._2 > bound).keySet
    assert(mustHave.nonEmpty, "fixture must exercise the guarantee")
    assert(mustHave.subsetOf(est.keySet))
    est.foreach { case (key, e) =>
      assert(e <= exact(key) && exact(key) - e <= bound)
    }
    // the snapshot is a deep copy: mutating it leaves the accumulator
    // (and later snapshots) untouched
    snap.add("poison")
    assert(!sfk.summary.estimates.contains("poison"))
  }

  test("SQL count_min_sketch aggregate == stat.countMinSketch (q112's one-pass sketch)") {
    val df = skewed
    val viaStat = df.stat.countMinSketch("term", 0.0005, 0.99, 42)
    val row = df.agg(
      expr("count_min_sketch(term, 0.0005d, 0.99d, 42)").as("cms"),
      count(lit(1)).as("total")).head()
    val viaSql = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]]("cms")))
    assert(viaSql.totalCount() == viaStat.totalCount())
    assert(row.getLong(1) == viaStat.totalCount())
    df.select("term").distinct().as[String].collect().foreach { term =>
      assert(viaSql.estimateCount(term) == viaStat.estimateCount(term), term)
    }
  }
}
