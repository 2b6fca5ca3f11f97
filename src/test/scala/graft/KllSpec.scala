package graft

import graft.functions.{Kll, KllDoublesAgg}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KllSpec extends SparkSpec {
  import spark.implicits._

  // exact quantile of a sorted sample at inclusive-rank semantics
  private def exactQ(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  test("sketch quantiles land within the rank-eps window of exact") {
    val rnd = new scala.util.Random(3)
    val xs = Seq.fill(20000)(rnd.nextGaussian() * 100 + 500)
    val sk = xs.toDF("v").agg(Kll.sketchAgg(col("v")).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    for (q <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val est = Kll.quantile(sk, q)
      val (lo, hi) = (exactQ(xs, math.max(0.001, q - 0.03)),
        exactQ(xs, math.min(1.0, q + 0.03)))
      assert(est >= lo && est <= hi, s"q=$q: $est outside [$lo,$hi]")
    }
  }

  test("partials merge: distributed sketch ≡ same accuracy as single-node") {
    val rnd = new scala.util.Random(5)
    val xs = Seq.fill(30000)(rnd.nextDouble() * 1000)
    // 16 partitions => real partial/final merge tree
    val sk = xs.toDF("v").repartition(16)
      .agg(Kll.sketchAgg(col("v")).as("sk")).head().getAs[Array[Byte]]("sk")
    assert(org.apache.datasketches.kll.KllDoublesSketch
      .heapify(org.apache.datasketches.memory.Memory.wrap(sk)).getN == xs.size)
    for (q <- Seq(0.25, 0.75)) {
      val est = Kll.quantile(sk, q)
      assert(est >= exactQ(xs, q - 0.03) && est <= exactQ(xs, q + 0.03))
    }
  }

  test("grouped aggregation runs as ObjectHashAggregate with a partial stage") {
    val df = (1 to 2000).map(i => (i % 4, i.toDouble)).toDF("g", "v")
      .repartition(8)
    val plan = df.groupBy("g").agg(Kll.sketchAgg(col("v")).as("sk"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.toLowerCase.contains("partial_kll_doubles_agg"), plan)
  }

  test("rejects non-double children; nulls are skipped") {
    import org.apache.spark.sql.graft.ColumnBridge
    val bad = KllDoublesAgg(ColumnBridge.expression(col("s")), 200)
    assert(!bad.copy(child =
      ColumnBridge.expression(lit("x"))).checkInputDataTypes().isSuccess)
    val sk = Seq(Some(1.0), None, Some(3.0)).toDF("v")
      .agg(Kll.sketchAgg(col("v")).as("sk")).head().getAs[Array[Byte]]("sk")
    assert(org.apache.datasketches.kll.KllDoublesSketch
      .heapify(org.apache.datasketches.memory.Memory.wrap(sk)).getN == 2)
  }
}
