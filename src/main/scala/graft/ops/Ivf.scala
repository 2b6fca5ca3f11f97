package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** IVF-style approximate nearest neighbor index: a farthest-point
  * coarse quantizer partitions the corpus into `nLists` cells; a query
  * probes only its `nProbe` closest cells.
  *
  * Everything runs over integer-quantized embeddings (round(x*1e6) ->
  * long). Integer d2 is exact and order-independent, so init,
  * assignment, probe selection and ranking are bit-identical in any
  * engine — the SQL oracle replays them (q61, q93, q99, q130):
  *  - init: ONE corpus scan collects an oversampled far-point pool
  *    (top `nLists*initOversample` by distance from the lowest-id
  *    vector), then a driver-side greedy farthest-point pass over that
  *    tiny pool picks the `nLists` seeds — the k-means|| shape (one
  *    distributed oversample pass + cheap local reduce) instead of one
  *    full scan per centroid;
  *  - assignment is a per-row argmin over an in-plan broadcast
  *    centroid array (ZERO exchange — no crossJoin, no window);
  *  - [[lloydStepQuantized]] refines with integer-floor means, the one
  *    Lloyd step that stays bit-replicable cross-engine;
  *  - only the k (tiny) centroids and the init pool ever reach the
  *    driver.
  *
  * A probe reads `nProbe/nLists` of the corpus's cells; the quadratic
  * term of brute force drops by that factor, recall governed by
  * nProbe. [[IvfPq]] materializes the cells as a codes-only index.
  */
object Ivf {

  final case class QuantModel(centroids: Seq[(Int, Seq[Long])])

  /** Per-row `struct(d2, cell)` candidates against an in-plan literal
    * centroid array with d2 = |c|^2 - 2<x,c> (|c|^2 precomputed
    * exactly on the driver — integers don't drift; |x|^2 is omitted,
    * argmin and probe order are unchanged). Shared with [[IvfPq]]'s
    * probe-cell selection.
    */
  private[ops] def scoredCellsQ(ei: Column, centroids: Seq[(Int, Seq[Long])]): Column = {
    val cArr = array(centroids.map { case (cell, v) =>
      struct(lit(v.toArray).as("cvec"), lit(v.map(x => x * x).sum).as("cc"),
        lit(cell).as("cell")) }: _*)
    transform(cArr, c => struct(
      (c.getField("cc")
        - lit(2L) * Similarity.dotLong(ei, c.getField("cvec"))).as("d2"),
      c.getField("cell").as("cell")))
  }

  private def dotL(a: Seq[Long], b: Seq[Long]): Long =
    a.lazyZip(b).map(_ * _).sum

  /** Quantized farthest-point init (no Lloyd): one corpus scan for the
    * oversampled pool, greedy selection on the driver, all in exact
    * integer arithmetic.
    */
  def fitQuantized(corpus: DataFrame, idCol: String, nLists: Int,
                   initOversample: Int = 8): QuantModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = Similarity.withQuantized(corpus, "embedding")

    val first = q.orderBy(col(idCol)).limit(1)
      .select(col("ei")).as[Seq[Long]].head()

    val pool: Seq[(Long, Seq[Long])] = q
      .withColumn("d2",
        col("nn") - lit(2L) * Similarity.dotLong(col("ei"), lit(first.toArray)))
      .orderBy(col("d2").desc, col(idCol).asc)
      .limit((nLists - 1) * initOversample)
      .select(col(idCol).cast(LongType), col("ei"))
      .as[(Long, Seq[Long])].collect().toSeq

    var centroids: Seq[(Int, Seq[Long])] = Seq((0, first))
    var remaining = pool
    (1 until nLists).foreach { i =>
      if (remaining.nonEmpty) {
        val next = remaining.maxBy { case (id, v) =>
          val mind2 = centroids.map { case (_, c) =>
            dotL(v, v) - 2L * dotL(v, c) + dotL(c, c) }.min
          (mind2, -id)
        }
        centroids = centroids :+ ((i, next._2))
        remaining = remaining.filterNot(_._1 == next._1)
      }
    }
    QuantModel(centroids)
  }

  /** Quantized cell assignment: each corpus row with its nearest cell
    * (exact integer d2, cell index as the deterministic tie-break) —
    * a NARROW map over a broadcast centroid array, zero Exchange.
    * Returns the quantized columns (ei, nn) alongside, so downstream
    * within-cell math reuses them.
    */
  def assignQuantized(corpus: DataFrame, model: QuantModel): DataFrame =
    Similarity.withQuantized(corpus, "embedding")
      .withColumn("cell",
        array_min(scoredCellsQ(col("ei"), model.centroids)).getField("cell"))

  /** ONE Lloyd refinement step, bit-replicable cross-engine because
    * centroid means are integer floors: the new centroid coordinate is
    * `floor(sum/count)` where `sum` and `count` are exact integers.
    * Every engine computes the same correctly-rounded IEEE-754 double
    * quotient of the same two integers and floors it, so the result is
    * identical everywhere.
    * The floor cannot land on the wrong side of an integer boundary
    * while `|sum| < 2^53`: for non-integral S/n the distance to the
    * nearest integer is >= 1/n, the quotient's rounding error is
    * <= |S/n|·2^-53, and |S/n|·2^-53 < 1/n ⟺ |S| < 2^53 (an
    * integral S/n divides exactly). That bound is require-checked
    * per (cell, dim) sum — it allows ~4.5e9 rows per cell at
    * 1e6-quantized unit-scale coordinates before tripping.
    *
    * Plan shape per step:
    * assignment is a narrow argmin over broadcast centroids (zero
    * Exchange), the mean update is one map-side-combined groupBy of
    * the (cell, dim) explode, and only nLists × dims longs reach the
    * driver. Empty cells keep their previous centroid.
    */
  def lloydStepQuantized(corpus: DataFrame, model: QuantModel): QuantModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val assigned = assignQuantized(corpus, model)
    val sums = assigned
      .select(col("cell"), posexplode(col("ei")).as(Seq("i", "v")))
      .groupBy("cell", "i")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .as[(Int, Int, Long, Long)].collect()
    require(sums.forall(r => math.abs(r._3) < (1L << 53)),
      "lloydStepQuantized: floor-mean parity requires |sum| < 2^53 per" +
        " (cell, dim) — re-center or down-scale the quantized domain")
    // floor of the correctly-rounded double quotient — the exact same
    // IEEE computation Spark's floor(s/n) and DuckDB's floor() perform
    val byCell = sums.groupBy(_._1).map { case (cell, rows) =>
      cell -> rows.sortBy(_._2)
        .map(r => math.floor(r._3.toDouble / r._4.toDouble).toLong).toSeq
    }
    QuantModel(model.centroids.map { case (cell, prev) =>
      (cell, byCell.getOrElse(cell, prev))
    })
  }

  /** Per-cell fit diagnostics under a quantized model: row count and
    * exact-integer inertia (sum of true |x - c|^2) per cell — the
    * convergence measure a Lloyd loop watches. Narrow argmin over
    * broadcast centroids plus one k-row aggregate; nothing but the
    * k summary rows ever moves.
    */
  def cellStatsQuantized(corpus: DataFrame, model: QuantModel): DataFrame = {
    val best = array_min(scoredCellsQ(col("ei"), model.centroids))
    Similarity.withQuantized(corpus, "embedding")
      .withColumn("cell", best.getField("cell"))
      .withColumn("d2", best.getField("d2") + col("nn"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2")).as("inertia"))
  }

  /** Probe: top-k micro-unit cosine (Similarity.cosineMicro) within
    * the query's `nProbe` nearest cells. Query-side probe selection is
    * the same in-plan argmin (sorted, first nProbe) — no window over
    * the query set either.
    */
  def searchQuantized(corpus: DataFrame, queries: DataFrame, idCol: String,
                      model: QuantModel, k: Int, nProbe: Int): DataFrame = {
    val c = Similarity.withQuantized(corpus, "embedding")
      .withColumn("cell",
        array_min(scoredCellsQ(col("ei"), model.centroids)).getField("cell"))

    val qc = Similarity.withQuantized(queries, "embedding")
      .withColumn("probe",
        explode(slice(array_sort(scoredCellsQ(col("ei"), model.centroids)),
          1, nProbe)))
      .select(col(idCol).as("q_id"), col("ei").as("qe"), col("nn").as("qn"),
        col("probe").getField("cell").as("cell"))

    val w = Window.partitionBy("q_id").orderBy(col("sim_micro").desc, col(idCol))
    c.join(broadcast(qc), Seq("cell"))
      .where(col(idCol) =!= col("q_id"))
      .withColumn("sim_micro",
        Similarity.cosineMicro(Similarity.dotLong(col("ei"), col("qe")),
          col("nn"), col("qn")))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col(idCol), col("sim_micro"))
  }

  /** FILTERED (predicate-constrained) ANN — the retrieval shape every
    * production vector store ends up needing: "nearest neighbors of q
    * AMONG rows whose metadata matches" (same language, same tenant,
    * same license class). `matchCols` are metadata equality columns
    * carried by BOTH sides; they ride the equi-join key alongside
    * `cell`, so the constraint is enforced as a hash-join key — never
    * a post-ranking filter (post-filtering silently starves top-k when
    * the predicate is selective) and never a residual predicate on an
    * exploded join.
    *
    * This is PRE-filtering at equal nProbe: identical to running
    * [[searchQuantized]] against the metadata-matching subset of the
    * corpus under the SAME model (cell assignment is corpus-global, so
    * the filter cannot move anyone's cell). A very selective predicate
    * thins probed cells rather than mis-routing vectors; raise nProbe
    * to recover recall, exactly as IVF theory prescribes.
    *
    * Same exact-integer math as [[searchQuantized]] — bit-replicable
    * in SQL (q130).
    */
  def searchQuantizedFiltered(corpus: DataFrame, queries: DataFrame,
                              idCol: String, model: QuantModel, k: Int,
                              nProbe: Int, matchCols: Seq[String]): DataFrame = {
    require(matchCols.nonEmpty, "matchCols must name at least one metadata column")
    val c = Similarity.withQuantized(corpus, "embedding")
      .withColumn("cell",
        array_min(scoredCellsQ(col("ei"), model.centroids)).getField("cell"))

    val qc = Similarity.withQuantized(queries, "embedding")
      .withColumn("probe",
        explode(slice(array_sort(scoredCellsQ(col("ei"), model.centroids)),
          1, nProbe)))
      .select(col(idCol).as("q_id") +: col("ei").as("qe") +: col("nn").as("qn") +:
        col("probe").getField("cell").as("cell") +: matchCols.map(col): _*)

    val w = Window.partitionBy("q_id").orderBy(col("sim_micro").desc, col(idCol))
    c.join(broadcast(qc), "cell" +: matchCols)
      .where(col(idCol) =!= col("q_id"))
      .withColumn("sim_micro",
        Similarity.cosineMicro(Similarity.dotLong(col("ei"), col("qe")),
          col("nn"), col("qn")))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col(idCol), col("sim_micro"))
  }
}
