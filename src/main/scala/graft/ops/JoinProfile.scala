package graft.ops

import graft.functions.Theta
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** Pre-flight join diagnostics: the distinct-key overlap between two
  * join sides, answered from theta sketches BEFORE paying for the
  * join. Each side collapses to one KB-scale sketch (one aggregation
  * grouped by side — at 100 TB that is one scan of each input, no
  * shuffle of anything but the kilobyte partials); the overlap
  * numbers are driver-side set algebra ([[graft.functions.Theta]]).
  *
  * What it answers up front: will this join be empty (disjoint key
  * domains — a wrong-column bug caught before an hour-long run)?
  * one-sided (containment ≈ 1000‰ ⇒ the smaller domain is a subset —
  * a semi-join or broadcast candidate)? diluted (tiny intersection ⇒
  * pre-filter both sides on the shared keys with a bloom before
  * shuffling)? Exact below k retained entries per sketch, standard
  * sketch error beyond ([[Theta.isExact]] rides in the output so a
  * consumer knows which regime it is reading).
  */
object JoinProfile {

  private val schema = StructType(Seq(
    StructField("n_a", LongType, nullable = false),
    StructField("n_b", LongType, nullable = false),
    StructField("n_intersect", LongType, nullable = false),
    StructField("n_union", LongType, nullable = false),
    StructField("containment_milli", LongType, nullable = false),
    StructField("exact", BooleanType, nullable = false)))

  /** One-row profile of the (aKey, bKey) join: distinct keys per
    * side, intersection, union, and containment of the SMALLER key
    * domain in the larger (1000 = subset). `exact` is true iff every
    * sketch stayed in exact mode (below k entries), in which case all
    * counts are exact integers.
    */
  def keyOverlap(a: DataFrame, aKey: String, b: DataFrame, bKey: String,
                 lgK: Int = 12): DataFrame = {
    val spark: SparkSession = a.sparkSession
    // both sketches in one aggregation; a side with no rows has no
    // group, so its sketch is the empty one
    val sides = a.select(lit(0).as("side"), col(aKey).cast("long").as("k"))
      .unionAll(b.select(lit(1).as("side"), col(bKey).cast("long").as("k")))
      .groupBy("side").agg(Theta.sketchAgg(col("k"), lgK))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    val skA = sides.getOrElse(0, Theta.empty(lgK))
    val skB = sides.getOrElse(1, Theta.empty(lgK))
    val inter = Theta.intersect(skA, skB)
    val uni = Theta.union(skA, skB, lgK)
    val nA = Theta.estimate(skA).round
    val nB = Theta.estimate(skB).round
    val nI = Theta.estimate(inter).round
    val nU = Theta.estimate(uni).round
    val smaller = math.min(nA, nB)
    val containment = if (smaller == 0) 0L else nI * 1000L / smaller
    val exact = Theta.isExact(skA) && Theta.isExact(skB) &&
      Theta.isExact(inter) && Theta.isExact(uni)
    spark.createDataFrame(
      java.util.Arrays.asList(Row(nA, nB, nI, nU, containment, exact)),
      schema)
  }
}
