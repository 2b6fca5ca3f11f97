package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The two-level IVF-PQ index — the billion-vector ANN deployment
  * shape ([[Pq]]'s scaladoc prescribes it; this composes the two
  * halves). A coarse quantizer ([[Ivf.fitQuantized]]) partitions the
  * corpus into cells; product quantization ([[Pq]]) compresses each
  * row to `m` small codes. The materialized index stores ONLY
  * `(id, codes, cell)` — m codes per row, not `dim` floats: at 100 TB
  * and m=8/k<=256 that is a ~32x smaller index than one materializing
  * full embeddings.
  *
  * Probe = three stages, each strictly narrower than the last:
  *  1. '''cell prune''': the query's `nProbe` nearest cells, pushed as
  *     a static partition filter — reads `~nProbe/nLists` of the
  *     CODES, never the corpus;
  *  2. '''ADC shortlist''': per-candidate distance is `m` integer
  *     lookups into the query's in-plan LUT, ranking a
  *     `topK * refine` shortlist;
  *  3. '''exact re-rank''': only the shortlist rows (k*refine per
  *     query) fetch their full vectors from the BASE table via a
  *     broadcast join, and exact integer |q-x|^2 orders the final
  *     top-k — ADC error decides who makes the shortlist, never the
  *     final order.
  *
  * All math is exact integer over micro-quantized embeddings (the
  * [[Ivf.fitQuantized]]/[[Pq.fitQuantized]] determinism contract), so
  * the SQL oracle (q110) replays fit, assignment, encode, probe,
  * shortlist, and re-rank bit-for-bit.
  *
  * Codes default to the raw quantized vectors, not the cell residuals:
  * the non-residual form keeps encode a pure function of one model and
  * replays in SQL without a per-cell codebook join (q110's oracle
  * shape). The IVFFlat+PQ RESIDUAL variant — codes quantize
  * `ei - centroid(cell)`, the textbook deployment, spending codebook
  * entries on within-cell structure instead of re-describing cell
  * positions — ships behind `Model.residual`. MEASURED
  * (r12 x20 run, `frontier_ivfpq_res_*`, content-addressed fits —
  * run-stable): on the 2.56M x 64-dim clustered frontier corpus the
  * residual form tracks raw codes at low refine (recall@10 0.097 vs
  * 0.094 at np4/rf64) and falls BEHIND as the exact re-rank deepens
  * (0.125 vs 0.200 at np4/rf256; 0.088 vs 0.134 at np16/rf64) —
  * with 64 impure cells over tightly clustered data, per-cell
  * centroid subtraction smears the per-subspace modes that raw PQ
  * quantizes well, so the textbook residual win does not transfer to
  * this geometry. The OPQ coordinate permutation (round 13, see
  * [[fit]]'s scaladoc and [[Pq.fitOpqPermutationEi]]) is the lever
  * that DOES transfer: balanced per-subspace energy lifts the tier's
  * best measured point to **0.256** (np4/rf256, vs raw 0.200 /
  * residual 0.125) and 0.216 at np16/rf64 (vs 0.134 / 0.088) — OPQ
  * raw codes are the recommended configuration. Even so, no PQ form
  * approaches flat [[Ivf]] (0.919 at a 3.1 s probe vs OPQ-PQ's best
  * 0.256 at ~14 s): IVF-PQ's tier is the memory-constrained one —
  * its codes-only index measures 18.2 MB vs 382.8 MB of full vectors
  * (21x) — not a latency/recall win at this dimensionality.
  * The flag lives IN the model so an index can never
  * be probed under the wrong interpretation, codes become a function
  * of BOTH levels (any coarse refit invalidates them, so [[fit]]
  * always fits both together), and the probe builds its ADC LUT per
  * (query, probed cell) over the query's residual, since
  * `|(q - c) - (x - c)|^2 = |q - x|^2`. Residuals stay on the same
  * exact-integer micro grid (`quant(x) - quant(c)` is plain long
  * subtraction), so determinism is preserved; what is given up is the
  * single-model SQL replay, which is why the oracle path stays
  * non-residual.
  *
  * Reference scope ends at exact/LSH/IVF search; IVF-PQ is extension
  * surface (SURVEY.md §2.4), like [[Pq]] itself.
  */
object IvfPq {

  /** Both levels of the index: the coarse cell quantizer and the
    * per-subspace PQ codebooks, fit on the same corpus. `residual`
    * records how codes are to be interpreted (raw-vector vs
    * cell-residual quantization) — it is part of the model because an
    * index written one way must never be probed the other. `perm`
    * (OPQ, [[Pq.fitOpqPermutationEi]]) records the coordinate
    * permutation the codebooks were fit under: codes quantize the
    * PERMUTED vector, the probe LUT builds over the permuted query,
    * and everything else (cells, exact re-rank) stays in raw space —
    * L2 is permutation-invariant. In the model for the same reason as
    * `residual`: probing an OPQ index without its permutation would
    * silently mis-rank every shortlist.
    */
  final case class Model(coarse: Ivf.QuantModel, pq: Pq.QuantCodebook,
                         residual: Boolean = false,
                         perm: Option[Seq[Int]] = None)

  /** Apply the model's OPQ permutation to a quantized `ei` column
    * (identity when none). Callers in the probe path must project the
    * result as its OWN column before feeding it to the LUT — the
    * IvfPqSpec plan-size lesson (see the residual note in
    * [[searchIndex]]).
    */
  private def permuteEi(ei: Column, perm: Option[Seq[Int]]): Column =
    perm.map(p => array(p.map(d => element_at(ei, d + 1)): _*)).getOrElse(ei)

  /** In-plan quantized centroid of the row's `cell` column. */
  private def cellCentroid(coarse: Ivf.QuantModel): Column =
    element_at(map(coarse.centroids.flatMap { case (cell, v) =>
      Seq(lit(cell), lit(v.toArray)) }: _*), col("cell"))

  /** Exact integer cell residual: `ei - centroid(cell)`, element-wise
    * on the micro grid. Requires a `cell` column in scope.
    */
  private def residualEi(ei: Column, coarse: Ivf.QuantModel): Column =
    zip_with(ei, cellCentroid(coarse), (x, c) => x - c)

  /** Fit both levels: coarse farthest-point cells, then PQ codebooks —
    * two corpus scans total, both driver-bounded (centroid pools
    * only). With `residual = true` the codebooks fit on the cell
    * residuals (one extra narrow assign inside the second scan). With
    * `opq = true` a coordinate permutation is fit first
    * ([[Pq.fitOpqPermutationEi]], one extra aggregation) and the
    * codebooks fit on the permuted vectors — MEASURED WORTH SHIPPING
    * (r13 x20 run, `frontier_ivfpq_opq_*`, same fixture and
    * operating points as the raw/residual sweeps): recall@10 0.256
    * vs raw's 0.200 at np4/rf256, 0.216 vs 0.134 at np16/rf64 —
    * balancing per-subspace energy lifts the PQ memory tier at every
    * measured point, where the residual variant lost. OPQ composes
    * with raw codes only (`residual && opq` is refused: residual
    * already measured behind raw, and the q193 oracle replay is
    * non-residual — same reasoning that keeps q110 non-residual).
    * Production fits on a sample; the operator takes whatever frame
    * it's given.
    */
  def fit(corpus: DataFrame, idCol: String, nLists: Int, m: Int, k: Int,
          oversample: Int = 8, residual: Boolean = false,
          opq: Boolean = false): Model = {
    require(!(residual && opq),
      "OPQ ships for the non-residual form (residual measured worse than" +
        " raw codes at every frontier point; see the scaladoc)")
    val coarse = Ivf.fitQuantized(corpus, idCol, nLists, oversample)
    if (opq) {
      val q = Similarity.withQuantized(corpus, "embedding")
      val perm = Pq.fitOpqPermutationEi(q, m)
      val pq = Pq.fitQuantizedEi(
        q.withColumn("ei", permuteEi(col("ei"), Some(perm))),
        idCol, m, k, oversample)
      Model(coarse, pq, residual = false, perm = Some(perm))
    } else {
      val pq =
        if (!residual) Pq.fitQuantized(corpus, idCol, m, k, oversample)
        else Pq.fitQuantizedEi(
          Ivf.assignQuantized(corpus, coarse)
            .withColumn("ei", residualEi(col("ei"), coarse)),
          idCol, m, k, oversample)
      Model(coarse, pq, residual)
    }
  }

  /** Materialize the two-level index: one corpus scan assigns cells
    * (narrow argmin over broadcast centroids) and encodes codes
    * (narrow argmin per subspace, over the residual when the model
    * says so), writing `(id, codes, cell)` hive-partitioned by cell.
    * No full embedding reaches the index — that is the point.
    */
  def writeIndex(corpus: DataFrame, idCol: String, model: Model,
                 path: String): Unit = {
    val enc =
      if (model.residual) residualEi(col("ei"), model.coarse) else col("ei")
    Ivf.assignQuantized(corpus, model.coarse)
      .withColumn("codes", Pq.codesColumn(permuteEi(enc, model.perm), model.pq))
      .select(col(idCol), col("codes"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /** Probe the materialized index. `corpus` is the BASE table the
    * shortlist re-ranks against (the index itself holds no vectors);
    * only `topK * refine` rows per query are fetched from it, via a
    * broadcast hash join on `idCol` — at 100 TB that join is one
    * corpus scan per probe BATCH (batch your queries), with the
    * shortlist side broadcast.
    *
    * The probed cell set is computed first and pushed as a static
    * `cell IN (...)` partition filter (guaranteed pruning — asserted
    * in IvfPqSpec).
    */
  def searchIndex(spark: SparkSession, path: String, corpus: DataFrame,
                  queries: DataFrame, idCol: String, model: Model,
                  topK: Int, nProbe: Int, refine: Int = 4): DataFrame = {
    val probed = Similarity.withQuantized(queries, "embedding")
      .withColumn("probe",
        explode(slice(array_sort(
          Ivf.scoredCellsQ(col("ei"), model.coarse.centroids)), 1, nProbe)))
      .select(col(idCol).as("q_id"), col("ei").as("qe"), col("nn").as("qn"),
        col("probe").getField("cell").as("cell"))
    // residual models build the LUT per (query, probed cell) over the
    // query's own cell residual: |(q-c) - (x-c)|^2 = |q-x|^2.
    // The residual MUST be its own projected column: lutColumn splices
    // its ei argument into all m*k code entries (3 dotLong references
    // each), and the residual tree carries the full nLists x dims
    // centroid map literal — inlined, the duplicated subtrees serialize
    // to a ~44 MiB task binary that OOMs executors at 2.56M x 64-dim
    // (measured, r12). As an attribute it is evaluated once per row and
    // the LUT references stay single nodes; CollapseProject keeps the
    // barrier because the alias is non-cheap and referenced m times
    // (plan-size parity with non-residual pinned in IvfPqSpec).
    // OPQ models likewise project the PERMUTED query ei once (qpe) —
    // inlined, the 64-element_at permutation tree would splice into
    // every one of the m*k LUT entries' dot references
    val q = (if (model.residual)
        probed.withColumn("qre", residualEi(col("qe"), model.coarse))
      else if (model.perm.isDefined)
        probed.withColumn("qpe", permuteEi(col("qe"), model.perm))
      else probed)
      .withColumn("lut",
        if (model.residual) Pq.lutColumn(col("qre"), model.pq)
        else if (model.perm.isDefined) Pq.lutColumn(col("qpe"), model.pq)
        else Pq.lutColumn(col("qe"), model.pq))
      .drop("qre", "qpe")

    val probedCells = q.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    val idx = spark.read.parquet(path)
      .where(col("cell").isin(probedCells.map(Integer.valueOf): _*))

    // stage 2: ADC over the pruned code read — m integer lookups per
    // candidate, shortlist topK*refine per query
    val sw = Window.partitionBy("q_id").orderBy(col("adc_d2").asc, col(idCol).asc)
    val short = idx.join(broadcast(q), Seq("cell"))
      .where(col(idCol) =!= col("q_id"))
      .withColumn("adc_d2", Pq.adcDistance(col("codes"), col("lut")))
      .withColumn("srnk", row_number().over(sw))
      .where(col("srnk") <= topK * refine)
      .select(col("q_id"), col(idCol), col("qe"), col("qn"))

    // stage 3: exact integer re-rank of the shortlist against the base
    // table — shortlist broadcast, corpus scanned once per batch
    val base = Similarity.withQuantized(corpus, "embedding")
      .select(col(idCol), col("ei"), col("nn"))
    val ew = Window.partitionBy("q_id").orderBy(col("d2").asc, col(idCol).asc)
    base.join(broadcast(short), Seq(idCol))
      .withColumn("d2",
        col("qn") - lit(2L) * Similarity.dotLong(col("ei"), col("qe")) + col("nn"))
      .withColumn("rnk", row_number().over(ew).cast(LongType))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col(idCol), col("d2"))
  }
}
