package graft

import graft.ops.ZOrder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def z(x: Long, y: Long, bits: Int): Long =
    Seq((x, y)).toDF("x", "y")
      .select(ZOrder.zValue2(col("x"), col("y"), bits))
      .head().getLong(0)

  test("interleaves bits: x at even positions, y at odd") {
    assert(z(1, 0, 4) == 1L)
    assert(z(0, 1, 4) == 2L)
    assert(z(3, 3, 2) == 15L)
    // x=0b1010 -> z bits 2,6; y=0b0101 -> z bits 1,5
    assert(z(0xAL, 0x5L, 4) == ((1L << 2) | (1L << 6) | (1L << 1) | (1L << 5)))
    // axis-aligned monotonicity and composition
    assert(z(7, 0, 4) < z(8, 0, 4))
    assert(z(0, 7, 4) < z(0, 8, 4))
    assert(z(0xA, 0x5, 4) == (z(0xA, 0, 4) | z(0, 0x5, 4)))
  }

  test("masks inputs to the configured width") {
    assert(z((1L << 20) + 5, 0, 16) == z(5, 0, 16))
  }

  test("zValueSql renders the identical function (replayed in Spark SQL)") {
    // both engines speak the >> & << | operators, so evaluating the
    // DuckDB-targeted rendering in Spark must reproduce zValue2
    val sql = ZOrder.zValueSql("x", "y", 8)
    val df = (0 until 200).map(i => ((i * 37L) % 251, (i * 91L) % 247))
      .toDF("x", "y")
    val diff = df.select(
        (ZOrder.zValue2(col("x"), col("y"), 8) === expr(sql)).as("same"))
      .where(!col("same")).count()
    assert(diff == 0L)
  }
}
