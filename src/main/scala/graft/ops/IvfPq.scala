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
  * Codes quantize the raw quantized vectors, not the cell residuals:
  * encode stays a pure function of one model and replays in SQL
  * without a per-cell codebook join (q110's oracle shape). The
  * textbook IVFFlat+PQ RESIDUAL form (codes quantize
  * `ei - centroid(cell)`) was MEASURED and dropped (r12 x20 run,
  * `frontier_ivfpq_res_*`, content-addressed fits — run-stable): on
  * the 2.56M x 64-dim clustered frontier corpus it tracked raw codes
  * at low refine (recall@10 0.097 vs 0.094 at np4/rf64) and fell
  * BEHIND as the exact re-rank deepened (0.125 vs 0.200 at np4/rf256;
  * 0.088 vs 0.134 at np16/rf64) — with 64 impure cells over tightly
  * clustered data, per-cell centroid subtraction smears the
  * per-subspace modes that raw PQ quantizes well. The OPQ coordinate
  * permutation (round 13, see [[fit]]'s scaladoc and
  * [[Pq.fitOpqPermutationEi]]) is the lever that DOES transfer:
  * balanced per-subspace energy lifts the tier's best measured point
  * to **0.256** (np4/rf256, vs raw 0.200 / residual 0.125) and 0.216
  * at np16/rf64 (vs 0.134 / 0.088). Even so, no PQ form approaches
  * flat [[Ivf]] (0.919 at a 3.1 s probe vs OPQ-PQ's best 0.256 at
  * ~14 s): IVF-PQ's tier is the memory-constrained one — its
  * codes-only index measures 18.2 MB vs 382.8 MB of full vectors
  * (21x) — not a latency/recall win at this dimensionality.
  *
  * Reference scope ends at exact/LSH/IVF search; IVF-PQ is extension
  * surface (SURVEY.md §2.4), like [[Pq]] itself.
  */
object IvfPq {

  /** Both levels of the index: the coarse cell quantizer and the
    * per-subspace PQ codebooks, fit on the same corpus. `perm` (OPQ,
    * [[Pq.fitOpqPermutationEi]]) records the coordinate permutation
    * the codebooks were fit under: codes quantize the PERMUTED vector,
    * the probe LUT builds over the permuted query, and everything else
    * (cells, exact re-rank) stays in raw space — L2 is
    * permutation-invariant. It is part of the model because probing an
    * OPQ index without its permutation would silently mis-rank every
    * shortlist.
    */
  final case class Model(coarse: Ivf.QuantModel, pq: Pq.QuantCodebook,
                         perm: Option[Seq[Int]] = None)

  /** Apply the model's OPQ permutation to a quantized `ei` column
    * (identity when none). Callers in the probe path must project the
    * result as its OWN column before feeding it to the LUT — the
    * IvfPqSpec plan-size lesson (see the note in [[searchIndex]]).
    */
  private def permuteEi(ei: Column, perm: Option[Seq[Int]]): Column =
    perm.map(p => array(p.map(d => element_at(ei, d + 1)): _*)).getOrElse(ei)

  /** Fit both levels: coarse farthest-point cells, then PQ codebooks —
    * two corpus scans total, both driver-bounded (centroid pools
    * only). With `opq = true` a coordinate permutation is fit first
    * ([[Pq.fitOpqPermutationEi]], one extra aggregation) and the
    * codebooks fit on the permuted vectors — MEASURED WORTH SHIPPING
    * (r13 x20 run, `frontier_ivfpq_opq_*`, same fixture and
    * operating points as the raw/residual sweeps): recall@10 0.256
    * vs raw's 0.200 at np4/rf256, 0.216 vs 0.134 at np16/rf64 —
    * balancing per-subspace energy lifts the PQ memory tier at every
    * measured point. Production fits on a sample; the operator takes
    * whatever frame it's given.
    */
  def fit(corpus: DataFrame, idCol: String, nLists: Int, m: Int, k: Int,
          oversample: Int = 8, opq: Boolean = false): Model = {
    val coarse = Ivf.fitQuantized(corpus, idCol, nLists, oversample)
    if (opq) {
      val q = Similarity.withQuantized(corpus, "embedding")
      val perm = Pq.fitOpqPermutationEi(q, m)
      val pq = Pq.fitQuantizedEi(
        q.withColumn("ei", permuteEi(col("ei"), Some(perm))),
        idCol, m, k, oversample)
      Model(coarse, pq, Some(perm))
    } else Model(coarse, Pq.fitQuantized(corpus, idCol, m, k, oversample))
  }

  /** Materialize the two-level index: one corpus scan assigns cells
    * (narrow argmin over broadcast centroids) and encodes codes
    * (narrow argmin per subspace), writing `(id, codes, cell)`
    * hive-partitioned by cell. No full embedding reaches the index —
    * that is the point.
    */
  def writeIndex(corpus: DataFrame, idCol: String, model: Model,
                 path: String): Unit = {
    Ivf.assignQuantized(corpus, model.coarse)
      .withColumn("codes", Pq.codesColumn(permuteEi(col("ei"), model.perm), model.pq))
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
    // OPQ models project the PERMUTED query ei once, as its own column
    // (qpe): lutColumn splices its ei argument into all m*k code
    // entries (3 dotLong references each), so an inlined derived query
    // tree is copied into every one of them, and each copy serializes
    // into the task binary (~44 MiB, executors OOMed at 2.56M x 64-dim,
    // measured r12). As an attribute it is evaluated once per row and
    // the LUT references stay single nodes; CollapseProject keeps the
    // barrier because the alias is non-cheap and referenced m*k times
    // (pinned in IvfPqSpec).
    val q = (if (model.perm.isDefined)
        probed.withColumn("qpe", permuteEi(col("qe"), model.perm))
      else probed)
      .withColumn("lut",
        Pq.lutColumn(col(if (model.perm.isDefined) "qpe" else "qe"), model.pq))
      .drop("qpe")

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
