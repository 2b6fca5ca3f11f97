package graft

import graft.ops.FrequentKeys
import org.apache.spark.sql.functions._

/** Misra-Gries heavy-hitter enumeration (q113's production path):
  * the two mergeable-summary theorems under real eviction, exactness
  * below capacity, the cumulative guarantee of a driver-side merge,
  * and parity between the SQL count_min_sketch aggregate and
  * stat.countMinSketch (q112's single-pass restructure rides it).
  */
class FrequentKeysSpec extends SparkSpec {
  import spark.implicits._

  /** Zipf-ish skew: key i appears ~1000/i times, i in 1..60 — far
    * more distinct keys than summary capacity, so adds evict and
    * merges subtract.
    */
  private def skewedRows: Seq[String] = {
    val rows = for {
      i <- 1 to 60
      _ <- 1 to (1000 / i)
    } yield s"key$i"
    // interleave deterministically so partitions see mixed keys
    rows.sortBy(_.hashCode)
  }
  private def skewed = skewedRows.toDF("term").repartition(8)

  /** ceil(n / (k+1)): the bound a summary of `n` rows must report. */
  private def boundOf(n: Long, k: Int): Long = math.ceil(n.toDouble / (k + 1)).toLong

  test("below capacity the summary is exact") {
    val df = Seq("a", "a", "b", "c", "c", "c").toDF("term").repartition(3)
    val mg = FrequentKeys.summarize(df, "term", k = 10)
    assert(mg.estimates == Map("a" -> 2L, "b" -> 1L, "c" -> 3L))
  }

  test("theorems hold under eviction: no false negative above bound, undercount-only within bound") {
    val df = skewed
    val exact = df.groupBy("term").count().as[(String, Long)].collect().toMap
    val n = exact.values.sum
    val k = 12 // far below 60 distinct keys: decrement + subtract run
    val mg = FrequentKeys.summarize(df, "term", k)
    assert(mg.bound == boundOf(n, k))
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
    // k = 1: two counted rows bound at 1, four (nulls counted) at 2
    val mg = FrequentKeys.summarize(df, "term", k = 1)
    assert(mg.bound == boundOf(2L, 1) && mg.estimates == Map("a" -> 2L))
  }

  test("merge refuses mismatched capacities") {
    val a = new FrequentKeys.MisraGries(4)
    val b = new FrequentKeys.MisraGries(5)
    intercept[IllegalArgumentException](a.merge(b))
  }

  test("driver-side merge of two summaries keeps the cumulative guarantee") {
    // two loads sharing keys, each summarized on its own, then merged
    // on the driver: N and the bound are cumulative over both
    val (a, b) = skewedRows.zipWithIndex.partition(_._2 % 3 == 0)
    val k = 12
    val mg = FrequentKeys.summarize(a.map(_._1).toDF("term").repartition(4), "term", k)
      .merge(FrequentKeys.summarize(b.map(_._1).toDF("term").repartition(4), "term", k))
    val exact = skewedRows.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = skewedRows.length.toLong
    assert(mg.bound == boundOf(n, k))
    val est = mg.estimates
    assert(est.size <= k)
    val mustHave = exact.filter(_._2 > mg.bound).keySet
    assert(mustHave.nonEmpty, "fixture must exercise the guarantee")
    assert(mustHave.subsetOf(est.keySet),
      s"missing hot keys: ${mustHave -- est.keySet}")
    est.foreach { case (key, e) =>
      assert(e <= exact(key) && exact(key) - e <= mg.bound, key)
    }
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
