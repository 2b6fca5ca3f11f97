package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

/** `graft.plans.SmallSortStrategy`: a global sort over an input no
  * larger than `spark.sql.autoBroadcastJoinThreshold` runs in one task
  * with no range exchange, and returns exactly the rows Spark's range
  * sort returns.
  */
class SmallSortSpec extends SparkSpec {

  private def rangeSorted[T](body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** 2,000 rows in four partitions: a nullable int key with ties, a
    * nullable string key with ties, and a unique id. */
  private def input: DataFrame = spark.range(0, 2000, 1, 4).select(
    when(col("id") % 13 === 0, lit(null)).otherwise((col("id") % 17).cast("int")).as("k"),
    when(col("id") % 11 === 0, lit(null)).otherwise(concat(lit("s"), (col("id") % 5).cast("string"))).as("s"),
    col("id"))

  /** The input as a small parquet table of four part files. */
  private lazy val table: String = {
    val dir = SparkBridge.tempDir("graft_smallsort").toString + "/t.parquet"
    input.write.parquet(dir)
    dir
  }

  test("a small orderBy plans no range exchange and collects in one job") {
    val df = spark.read.parquet(table).orderBy(col("k").asc_nulls_last, col("id"))
    val p = plan(df)
    assert(!p.contains("rangepartitioning"), p)
    assert(p.contains("Coalesce 1"), p)
    var rows: Array[Row] = Array.empty
    assert(jobsOf { rows = df.collect() } == 1)
    assert(rows.length == 2000)
    assert(rows.toSeq == rangeSorted(
      spark.read.parquet(table).orderBy(col("k").asc_nulls_last, col("id")).collect().toSeq))
  }

  test("with autoBroadcastJoinThreshold=-1 the range exchange is planned as before") {
    rangeSorted {
      val df = spark.read.parquet(table).orderBy("id")
      val p = plan(df)
      assert(p.contains("rangepartitioning"), p)
      assert(!p.contains("Coalesce 1"), p)
      assert(df.collect().map(_.getLong(2)).toSeq == (0L until 2000L))
    }
  }

  test("orderBy(...).limit(n) still plans TakeOrderedAndProject") {
    val df = spark.read.parquet(table).orderBy(col("s").desc, col("id")).limit(25)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    val full = spark.read.parquet(table).orderBy(col("s").desc, col("id")).collect()
    assert(df.collect().toSeq == full.take(25).toSeq)
  }

  test("rows equal the range sort's: asc/desc, nulls first/last, ties, AQE on and off") {
    // every order is on (k, s) in some arrangement; many rows share a
    // (k, s) pair, so each order has ties
    val orders: Seq[Seq[Column]] = Seq(
      Seq(col("k").asc_nulls_first, col("s").asc_nulls_first),
      Seq(col("k").asc_nulls_last, col("s").desc_nulls_first),
      Seq(col("k").desc_nulls_first, col("s").asc_nulls_last),
      Seq(col("s").desc_nulls_last, col("k").desc_nulls_last))
    // an orderBy over a scan, and over an aggregate (a shuffle below
    // the sort, as in the queries' final ORDER BY)
    val inputs: Seq[() => DataFrame] = Seq(
      () => spark.read.parquet(table),
      () => spark.read.parquet(table).groupBy("k", "s").agg(count(lit(1)).as("id")))
    for (aqe <- Seq("true", "false"); in <- inputs; order <- orders)
      withConf("spark.sql.adaptive.enabled" -> aqe) {
        val label = s"aqe=$aqe order=${order.mkString(",")}"
        val small = in().orderBy(order: _*)
        assert(!plan(small).contains("rangepartitioning"), plan(small))
        val got = small.collect().toSeq
        val want = rangeSorted {
          val df = in().orderBy(order: _*)
          assert(plan(df).contains("rangepartitioning"), plan(df))
          df.collect().toSeq
        }
        // ties leave the order of equal-key rows open on both paths:
        // the sort keys (k, s) must agree row for row, the rows as a
        // multiset
        def sortKeys(rows: Seq[Row]) = rows.map(r => (r.get(0), r.get(1)))
        def counts(rows: Seq[Row]) = rows.groupBy(identity).view.mapValues(_.size).toMap
        assert(sortKeys(got) == sortKeys(want), label)
        assert(counts(got) == counts(want), label)
      }
  }

  test("an empty input returns no rows") {
    val filtered = spark.read.parquet(table).where("id < 0").orderBy("k")
    assert(!plan(filtered).contains("rangepartitioning"), plan(filtered))
    assert(filtered.collect().isEmpty)

    val dir = SparkBridge.tempDir("graft_smallsort_empty").toString + "/e.parquet"
    input.where("id < 0").write.parquet(dir)
    val empty = spark.read.parquet(dir).orderBy(col("s").desc)
    assert(!plan(empty).contains("rangepartitioning"), plan(empty))
    assert(empty.collect().isEmpty)
  }
}
