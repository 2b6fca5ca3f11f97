package graft

import graft.ops.{AsOf, Bucketing, Skew}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class AsOfSpec extends SparkSpec {
  import spark.implicits._

  test("as-of join picks greatest right ts <= left ts, inclusive, null when none") {
    def ts(s: String) = Timestamp.valueOf(s)
    val quotes = Seq(
      ("A", ts("2024-01-01 10:00:00"), 100.0),
      ("A", ts("2024-01-01 11:00:00"), 110.0),
      ("B", ts("2024-01-01 10:30:00"), 200.0)
    ).toDF("sym", "qts", "px")
    val trades = Seq(
      ("A", ts("2024-01-01 10:30:00"), 1L), // -> 100.0 (10:00 quote)
      ("A", ts("2024-01-01 11:00:00"), 2L), // -> 110.0 (inclusive tie)
      ("B", ts("2024-01-01 10:00:00"), 3L), // -> null (no prior quote)
      ("B", ts("2024-01-01 12:00:00"), 4L)  // -> 200.0
    ).toDF("sym", "tts", "trade_id")

    val out = AsOf.joinAsOf(trades, quotes, "sym", "tts", "qts", Seq("px"))
      .select("trade_id", "px_asof").as[(Long, Option[Double])]
      .collect().toMap
    assert(out(1L).contains(100.0))
    assert(out(2L).contains(110.0))
    assert(out(3L).isEmpty)
    assert(out(4L).contains(200.0))
  }
}

class BucketingSpec extends SparkSpec {

  test("bucketed join runs with no exchange (co-located by bucket)") {
    val dir = "/root/testdata/sf0.001"
    Bucketing.writeBucketed(Tables(spark, dir, "orders"), "b_orders",
      "o_custkey", 8)
    Bucketing.writeBucketed(
      Tables(spark, dir, "customer").withColumnRenamed("c_custkey", "o_custkey"),
      "b_customer", "o_custkey", 8)

    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val joined = Bucketing.table(spark, "b_orders")
        .join(Bucketing.table(spark, "b_customer"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join should not shuffle, plan:\n$plan")
      assert(joined.count() == 1500L)
    }
  }
}

class SkewSpec extends SparkSpec {

  test("salted join returns exactly the rows of the plain join") {
    val dir = "/root/testdata/sf0.001"
    val li = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    val part = Tables(spark, dir, "part").select("p_partkey", "p_brand")
      .withColumnRenamed("p_partkey", "l_partkey")

    val plain = li.join(part, "l_partkey")
    val salted = Skew.saltedJoin(li, part, "l_partkey",
      discriminator = col("l_orderkey") * lit(10) + col("l_linenumber"),
      saltFactor = 8)

    assert(salted.count() == plain.count())
    assert(salted.select("l_orderkey", "l_linenumber", "l_partkey", "p_brand")
      .exceptAll(plain.select("l_orderkey", "l_linenumber", "l_partkey", "p_brand"))
      .isEmpty)
  }
}
