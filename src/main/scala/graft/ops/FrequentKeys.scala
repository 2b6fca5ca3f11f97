package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Heavy-hitter ENUMERATION via a mergeable Misra-Gries summary (the
  * deterministic twin of SpaceSaving — the two maintain isomorphic
  * state). This is the production half the Count-Min sketch (q112)
  * lacks: Count-Min answers "how hot is key X" but cannot *list* the
  * hot keys; a Misra-Gries summary of k counters carries at most k
  * candidates and guarantees every key whose true count exceeds
  * N/(k+1) is among them.
  *
  * Guarantees after ANY sequence of adds and merges (Agarwal et al.,
  * "Mergeable Summaries", PODS 2012 — the merge keeps the pointwise
  * sum and subtracts the (k+1)-th largest counter):
  *
  *  - no overcount: estimate(x) <= trueCount(x)
  *  - bounded undercount: trueCount(x) - estimate(x) <= N/(k+1)
  *  - no false negatives above threshold: trueCount(x) > N/(k+1)
  *    implies x is in the summary
  *
  * where N is the total number of rows summarized. The bound is
  * per-summary-instance and survives arbitrary merge trees, which is
  * what makes the operator 100 TB-shaped: each partition reduces to a
  * <= k-entry map, partials merge associatively (treeAggregate), the
  * driver holds one O(k) map regardless of key cardinality, and no
  * per-key shuffle ever happens. Summaries of separate loads merge on
  * the driver under the same bound, with N the cumulative row count.
  *
  * The reference has no analogue (its 15 operators move tables; it
  * never aggregates) — this is extension surface, same family as the
  * q112 sketch.
  */
object FrequentKeys {

  /** Mutable Misra-Gries summary: at most `k` (key, count) counters
    * plus the number of rows scanned. NOT thread-safe; each Spark
    * task owns its own instance and merges are driver-side or inside
    * treeAggregate combiners.
    */
  final class MisraGries(val k: Int) extends Serializable {
    require(k >= 1, "k must be >= 1")
    private[FrequentKeys] val counters = new java.util.HashMap[String, Long](k * 2)
    private var scannedCount: Long = 0L

    /** Undercount bound for this summary: ceil(N / (k+1)), N the rows
      * folded into it (nulls are not rows of the key space). Any key
      * with true count above this is guaranteed enumerated.
      */
    def bound: Long = math.ceil(scannedCount.toDouble / (k + 1)).toLong

    /** The enumerated candidates and their (under-)estimates. */
    def estimates: Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      counters.forEach((key, n) => b += key -> n)
      b.result()
    }

    def add(key: String): this.type = {
      scannedCount += 1
      val cur = counters.get(key)
      if (cur != 0L || counters.containsKey(key)) {
        counters.put(key, cur + 1)
      } else if (counters.size < k) {
        counters.put(key, 1L)
      } else {
        // classic decrement-all step: every counter pays one, zeros
        // evicted; amortized O(1) per add for fixed k
        val it = counters.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue == 1L) it.remove() else e.setValue(e.getValue - 1)
        }
      }
      this
    }

    /** Mergeable-summaries merge: pointwise sum, then subtract the
      * (k+1)-th largest counter and drop non-positives, restoring the
      * <= k size while keeping the N/(k+1) bound additive.
      */
    def merge(other: MisraGries): this.type = {
      require(other.k == k, s"cannot merge summaries of different k ($k vs ${other.k})")
      other.counters.forEach { (key, n) =>
        counters.merge(key, n, (a, b) => a + b); ()
      }
      scannedCount += other.scannedCount
      if (counters.size > k) {
        val values = new Array[Long](counters.size)
        var i = 0
        val vit = counters.values().iterator()
        while (vit.hasNext) { values(i) = vit.next(); i += 1 }
        java.util.Arrays.sort(values)
        val sub = values(values.length - (k + 1)) // (k+1)-th largest
        val it = counters.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue <= sub) it.remove() else e.setValue(e.getValue - sub)
        }
      }
      this
    }
  }

  /** Summarize a string column in one distributed pass: one <= k-entry
    * partial per partition, tree-merged — no shuffle, O(k) driver
    * state. Nulls are skipped (they are not keys).
    */
  def summarize(df: DataFrame, column: Column, k: Int): MisraGries = {
    import df.sparkSession.implicits._
    df.select(column.cast("string")).as[String].rdd
      .treeAggregate(new MisraGries(k))(
        (mg, key) => if (key == null) mg else mg.add(key),
        (a, b) => a.merge(b))
  }

  def summarize(df: DataFrame, column: String, k: Int): MisraGries =
    summarize(df, df.col(column), k)
}
