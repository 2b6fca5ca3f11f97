package graft

import graft.ops.Expectations
import graft.ops.Expectations._
import org.apache.spark.sql.functions._

class ExpectationsSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("rule", "col_name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toSeq

  test("rule suite verdicts: violations, milli fractions, tolerance boundary") {
    val df = Seq(
      (1L, Some("a"), 10.0),
      (2L, Some("b"), 20.0),
      (2L, None, 500.0), // dup key, null name, out of range
      (3L, Some("z"), 30.0) // 'z' outside the allowed set
    ).toDF("id", "name", "price")

    val got = rows(Expectations.evaluate(df, Seq(
      NotNull("name"), // 1/4 null -> 250 milli, strict -> fail
      NotNull("id"), // 0 nulls -> pass
      Unique(Seq("id")), // 1 dup surplus -> fail
      InRange("price", 0.0, 100.0), // 1 violation -> fail
      InSet("name", Seq("a", "b")), // 'z' -> 1 violation (nulls skipped)
      RowCount(1L, 10L)))) // 4 rows -> pass

    assert(got.contains(("not_null", "name", 1L, 250L, 0L, false)))
    assert(got.contains(("not_null", "id", 0L, 0L, 0L, true)))
    assert(got.contains(("unique", "id", 1L, 250L, 0L, false)))
    assert(got.contains(("in_range", "price", 1L, 250L, 0L, false)))
    assert(got.contains(("in_set", "name", 1L, 250L, 0L, false)))
    assert(got.contains(("row_count", "*", 0L, 0L, 0L, true)))

    // tolerance: the same null fraction passes at a declared bar
    val tol = rows(Expectations.evaluate(df, Seq(NotNull("name", 250L))))
    assert(tol == Seq(("not_null", "name", 1L, 250L, 250L, true)))
  }

  test("multi-column uniqueness and the empty frame") {
    val df = Seq((1L, "a"), (1L, "b"), (1L, "a")).toDF("k1", "k2")
    val got = rows(Expectations.evaluate(df, Seq(Unique(Seq("k1", "k2")))))
    assert(got == Seq(("unique", "k1,k2", 1L, 333L, 0L, false)))

    // empty input: zero violations everywhere, RowCount's lower bound trips
    val empty = rows(Expectations.evaluate(df.where(lit(false)), Seq(
      NotNull("k2"), Unique(Seq("k1")), RowCount(1L, 10L))))
    assert(empty.contains(("not_null", "k2", 0L, 0L, 0L, true)))
    // n=0 must NOT mask a tripped row-count bound: the degenerate
    // denominator branch surfaces the violation instead of dividing
    assert(empty.contains(("row_count", "*", 1L, 1000L, 0L, false)), empty.toString)
  }

  test("foreign key: orphans counted, null child keys are not orphans") {
    val child = Seq(Some(1L), Some(2L), Some(99L), None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val got = rows(Expectations.foreignKey(child, "fk", parent, "pk"))
    assert(got == Seq(("foreign_key", "fk", 1L, 250L, 0L, false)))

    val clean = rows(Expectations.foreignKey(
      child.where(col("fk") =!= 99L || col("fk").isNull), "fk", parent, "pk"))
    assert(clean.head._6, clean.toString)
  }

  test("the whole single-table suite is ONE scan (no per-rule passes)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val plan = Expectations.evaluate(df, Seq(
        NotNull("o_custkey"), Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 0.0, 300000.0),
        InSet("o_orderstatus", Seq("O", "F", "P")),
        RowCount(1L, 100000000L)))
      .queryExecution.executedPlan.toString
    val scans = plan.split("\n").count(_.contains("FileScan"))
    assert(scans == 1, s"expected exactly one scan, got $scans:\n$plan")
  }
}
