package graft

import graft.ops.JoinProfile

class JoinProfileSpec extends SparkSpec {
  import spark.implicits._

  private def row(df: org.apache.spark.sql.DataFrame) = {
    val r = df.head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getBoolean(5))
  }

  test("disjoint and subset key domains profile exactly below k") {
    val a = spark.range(0, 1000).toDF("k")
    val disjoint = spark.range(1000, 2000).toDF("k")
    assert(row(JoinProfile.keyOverlap(a, "k", disjoint, "k")) ==
      ((1000L, 1000L, 0L, 2000L, 0L, true)))

    val subset = spark.range(0, 100).toDF("k")
    assert(row(JoinProfile.keyOverlap(a, "k", subset, "k")) ==
      ((1000L, 100L, 100L, 1000L, 1000L, true)))

    // partial overlap: [0,1000) vs [600,1600) -> 400 shared
    val shifted = spark.range(600, 1600).toDF("k")
    assert(row(JoinProfile.keyOverlap(a, "k", shifted, "k")) ==
      ((1000L, 1000L, 400L, 1600L, 400L, true)))
  }

  test("a side with no rows profiles as an empty key domain") {
    val a = spark.range(0, 50).toDF("k")
    val none = spark.range(0, 100).toDF("k").where("k < 0")
    assert(row(JoinProfile.keyOverlap(a, "k", none, "k")) ==
      ((50L, 0L, 0L, 50L, 0L, true)))
    assert(row(JoinProfile.keyOverlap(none, "k", a, "k")) ==
      ((0L, 50L, 0L, 50L, 0L, true)))
    assert(row(JoinProfile.keyOverlap(none, "k", none, "k")) ==
      ((0L, 0L, 0L, 0L, 0L, true)))
  }

  test("estimation mode is flagged and stays within sketch error") {
    val a = spark.range(0, 300000).toDF("k")
    val b = spark.range(100000, 400000).toDF("k")
    val (nA, nB, nI, nU, _, exact) = row(JoinProfile.keyOverlap(a, "k", b, "k"))
    assert(!exact, "300k keys at lgK=12 must leave exact mode")
    def within(est: Long, truth: Long) =
      math.abs(est - truth).toDouble / truth < 0.05
    assert(within(nA, 300000) && within(nB, 300000), s"$nA $nB")
    assert(within(nI, 200000), s"intersect $nI")
    assert(within(nU, 400000), s"union $nU")
  }
}
