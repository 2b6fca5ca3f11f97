package graft

import graft.functions.{Kll, Theta}
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge
import org.scalatest.funsuite.AnyFunSuite

/** The durable half of the sketch-rollup contract (q117/q119/q121):
  * per-partition sketches written as ordinary parquet BINARY columns,
  * reloaded in a different session state, and rolled up — proving the
  * "sketch once at ingest, answer any later rollup from summaries"
  * pattern survives storage, not just one plan.
  */
class SketchRollupSpec extends SparkSpec {
  import spark.implicits._

  test("theta + KLL sketch columns round-trip parquet and roll up correctly") {
    val dir = SparkBridge.tempDir("graft_sketch_store")
    val events = (1 to 30000).map { i =>
      (i % 7, (i % 2300).toLong, (i % 997).toDouble)
    }.toDF("day", "user_id", "value").repartition(8)

    // ingest-time: one sketch row per day, written like any table
    events.groupBy("day")
      .agg(Theta.sketchAgg(col("user_id")).as("theta_users"),
        Kll.sketchAgg(col("value")).as("kll_value"))
      .write.mode("overwrite").parquet(dir.toString)

    // later, from storage: distinct-over-all-days via theta union of
    // the reloaded columns — no rescan of the raw events
    val stored = spark.read.parquet(dir.toString)
    val thetas = stored.select("theta_users").collect()
      .map(_.getAs[Array[Byte]](0))
    val unioned = thetas.reduce((a, b) => Theta.union(a, b))
    val exactUsers = events.select("user_id").distinct().count()
    assert(Theta.estimate(unioned) == exactUsers.toDouble) // exact mode

    // quantile rollup across days from the stored KLL columns
    val klls = stored.select("kll_value").collect()
      .map(_.getAs[Array[Byte]](0))
    val acc = KllDoublesSketch.newHeapInstance(200)
    klls.foreach(b => acc.merge(KllDoublesSketch.heapify(Memory.wrap(b))))
    val est = Kll.quantile(acc.toByteArray, 0.5)
    val xs = events.select("value").as[Double].collect().sorted
    val (lo, hi) = (xs((xs.length * 0.47).toInt), xs((xs.length * 0.53).toInt))
    assert(est >= lo && est <= hi, s"p50 $est outside [$lo,$hi]")
  }
}
