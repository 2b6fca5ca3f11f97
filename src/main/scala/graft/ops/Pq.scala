package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Product quantization (PQ) — the compression half of the IVF-PQ
  * design every billion-vector ANN deployment runs. The embedding is
  * split into `m` contiguous subvectors; each subspace gets its own
  * tiny codebook (`k` centroids), and a vector is stored as `m` small
  * codes instead of `dim` floats — a 64-dim float vector becomes 4
  * bytes at m=4/k<=256, a 64x compression of the index payload.
  *
  * Search is ADC (asymmetric distance computation): the QUERY stays
  * exact; per query a m x k lookup table of subspace distances to
  * every centroid is computed once, and a candidate's approximate
  * distance is just `m` table lookups summed — no per-pair float math
  * over the full dimension. Here the whole ADC scan is one
  * codegen'd expression over the codes column (`zip_with` codes with
  * the in-plan LUT + `aggregate`), zero UDFs, zero shuffle beyond the
  * final top-k window.
  *
  * Everything is exact integer arithmetic over micro-quantized
  * embeddings (`Similarity.withQuantized`: round(x*1e6) -> long), the
  * same determinism contract as [[Ivf.fitQuantized]]: init is greedy
  * farthest-point from the lowest-id vector per subspace (no Lloyd —
  * FP means are not replicable cross-engine), assignment argmin
  * tie-breaks on code index, rankings tie-break on id. The SQL oracle
  * (q108) replays fit, encode, and ADC search bit-for-bit.
  *
  * At 100 TB: fit on a sample (the pool collect is
  * `m * (k-1) * oversample` subvectors — driver-tiny either way),
  * encode is ONE narrow map over the corpus (no exchange in the plan,
  * pinned by PqSpec), and the codes table is what a probe scans —
  * `m` ints a row instead of the full embedding column. Compose with
  * [[Ivf]] cells for the standard two-level index: coarse cell prune,
  * ADC rank inside the cell, exact re-rank of the short list.
  *
  * Reference scope ends at exact/LSH/IVF search (`Similarity`,
  * [[Ivf]]); PQ is part of the extension surface (SURVEY.md §2.4).
  */
object Pq {

  /** Per-subspace codebooks: `centroids(s)` lists (code, subvector)
    * with code indices 0..k-1 in selection order. `width` = subvector
    * dims; `cc(s)(code)` = exact |c|^2, precomputed on the driver.
    */
  final case class QuantCodebook(m: Int, width: Int,
                                 centroids: Seq[Seq[(Int, Seq[Long])]]) {
    def cc(s: Int, code: Int): Long =
      centroids(s)(code)._2.map(x => x * x).sum
  }

  private def dotL(a: Seq[Long], b: Seq[Long]): Long =
    a.lazyZip(b).map(_ * _).sum

  /** Greedy farthest-point codebook per subspace, all subspaces in ONE
    * distributed pass: explode each row into its `m` subvectors,
    * window-rank the oversampled pool per subspace by exact integer
    * distance from the seed (the lowest-id vector's subvector), and
    * run the tiny greedy selection on the driver — `m` independent
    * copies of [[Ivf.fitQuantized]]'s init, sharing one scan.
    */
  def fitQuantized(corpus: DataFrame, idCol: String, m: Int, k: Int,
                   oversample: Int = 8): QuantCodebook =
    fitQuantizedEi(Similarity.withQuantized(corpus, "embedding"), idCol,
      m, k, oversample)

  /** [[fitQuantized]] over a frame that ALREADY carries the quantized
    * `ei` column — the OPQ IVF-PQ fit path, where `ei` holds the
    * permuted quantized vectors ([[IvfPq.fit]]).
    */
  private[ops] def fitQuantizedEi(q: DataFrame, idCol: String, m: Int,
                                  k: Int, oversample: Int): QuantCodebook = {
    val spark = q.sparkSession
    import spark.implicits._
    val dim = q.select(size(col("ei"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val w = dim / m

    // (vec_id, s, subvector): one row per subspace per vector
    val sub = q.select(col(idCol).cast(LongType).as("vid"),
      posexplode(array((0 until m).map(s =>
        slice(col("ei"), s * w + 1, w)): _*)).as(Seq("s", "sv")))

    val first: Map[Int, Seq[Long]] = sub
      .withColumn("rn", row_number().over(Window.partitionBy("s").orderBy("vid")))
      .where(col("rn") === 1)
      .select(col("s"), col("sv")).as[(Int, Seq[Long])].collect().toMap

    val firstArr = map((0 until m).flatMap(s =>
      Seq(lit(s), lit(first(s).toArray))): _*)
    val poolW = Window.partitionBy("s").orderBy(col("d2").desc, col("vid").asc)
    val pool: Seq[(Int, Long, Seq[Long])] = sub
      .withColumn("c0", element_at(firstArr, col("s")))
      .withColumn("d2",
        Similarity.dotLong(col("sv"), col("sv"))
          - lit(2L) * Similarity.dotLong(col("sv"), col("c0")))
      .withColumn("rn", row_number().over(poolW))
      .where(col("rn") <= (k - 1) * oversample)
      .select(col("s"), col("vid"), col("sv"))
      .as[(Int, Long, Seq[Long])].collect().toSeq

    val perSubspace = (0 until m).map { s =>
      var centroids: Seq[(Int, Seq[Long])] = Seq((0, first(s)))
      var remaining = pool.filter(_._1 == s).map(p => (p._2, p._3))
      (1 until k).foreach { i =>
        if (remaining.nonEmpty) {
          val next = remaining.maxBy { case (id, v) =>
            val mind2 = centroids.map { case (_, c) =>
              dotL(v, v) - 2L * dotL(v, c) + dotL(c, c) }.min
            (mind2, -id) // farthest; ties -> lowest id
          }
          centroids = centroids :+ ((i, next._2))
          remaining = remaining.filterNot(_._1 == next._1)
        }
      }
      centroids
    }
    QuantCodebook(m, w, perSubspace)
  }

  /** struct(d2, code) per codebook entry of subspace `s` for the
    * subvector column — [[Ivf]]'s scoredCellsQ shape, |c|^2 - 2<x,c>
    * (the |x|^2 term is constant under argmin).
    */
  private def scoredCodes(sv: Column, model: QuantCodebook, s: Int): Column = {
    val entries = array(model.centroids(s).map { case (code, cvec) =>
      struct(lit(cvec.toArray).as("cvec"), lit(model.cc(s, code)).as("cc"),
        lit(code).as("code")) }: _*)
    transform(entries, e => struct(
      (e.getField("cc")
        - lit(2L) * Similarity.dotLong(sv, e.getField("cvec"))).as("d2"),
      e.getField("code").as("code")))
  }

  // ---------------------------------------------------------------
  // OPQ (optimized product quantization, Ge et al. CVPR'13): learn an
  // orthogonal transform R so the subspace split quantizes R·x better
  // than x. The FULL learned rotation is a float matrix — applying it
  // to the micro grid yields irrational coordinates, which forfeits
  // the exact-integer replay contract every fit/encode/probe here is
  // built on. The family member that survives the contract is the
  // COORDINATE-PERMUTATION restriction: a permutation matrix is
  // orthogonal, commutes with element-wise micro-quantization, leaves
  // every L2 distance (cells, ground truth, exact re-rank) bit-
  // identical, and is replayable as a plain array literal. Its fit is
  // OPQ's eigenvalue-allocation step on the coordinate basis:
  // balance the per-subspace energy (Σ of per-dim second moments)
  // instead of letting the natural contiguous split concentrate
  // high-variance dims in one codebook.
  // ---------------------------------------------------------------

  /** Fit the balanced-allocation permutation: per-dimension EXACT
    * integer energy E_d = Σ_x x_d² (one posexplode aggregation,
    * decimal(38,0) so 2.56M rows of micro² values cannot overflow),
    * dims dealt greedily — (E_d desc, d asc) order, each to the
    * lowest-energy subspace with remaining capacity. Deterministic:
    * integer energies, total tie order. Returns `perm` where
    * `perm(j)` is the source dim of target slot `j`, slots grouped
    * contiguously per subspace (slot j belongs to subspace j / width).
    * Takes a frame already carrying `ei`: [[IvfPq.fit]] quantizes once
    * for all three fits (coarse, perm, codebooks).
    */
  private[ops] def fitOpqPermutationEi(q: DataFrame, m: Int): Seq[Int] = {
    val dim = q.select(size(col("ei"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val cap = dim / m
    val energies: Seq[(Int, BigDecimal)] = q
      .select(posexplode(col("ei")).as(Seq("d", "x")))
      .groupBy("d")
      .agg(sum((col("x") * col("x")).cast("decimal(38,0)")).as("e"))
      .collect().map(r => (r.getInt(0), BigDecimal(r.getDecimal(1)))).toSeq
    require(energies.length == dim, s"energy rows ${energies.length} != $dim")
    val bins = Array.fill(m)(Vector.empty[Int])
    val binE = Array.fill(m)(BigDecimal(0))
    energies.sortBy { case (d, e) => (-e, d) }.foreach { case (d, e) =>
      val tgt = (0 until m).filter(bins(_).length < cap)
        .minBy(s => (binE(s), s))
      bins(tgt) :+= d
      binE(tgt) += e
    }
    bins.toIndexedSeq.flatten
  }

  /** The `m`-code encode of a pre-quantized `ei` column: per subspace,
    * argmin over the broadcast codebook — a pure narrow map. Shared by
    * [[encodeQuantized]] and the [[IvfPq]] index writer.
    *
    * Runs as the native [[graft.functions.PqEncodeCodes]] expression:
    * the HOF formulation below is CodegenFallback (every transform
    * lambda interpreted) and measured ~50x slower at m=8/k=16
    * (111 s -> ~2 s for a 2.56M-row index build). Exact-equal output
    * (same integer argmin, same tie rule — parity spec in PqSpec).
    */
  def codesColumn(ei: Column, model: QuantCodebook): Column =
    graft.functions.PqEncodeCodes.codes(ei, model.m, model.width,
      model.centroids.map(_.sortBy(_._1).map(_._2.toArray).toArray).toArray)

  /** The HOF reference formulation of [[codesColumn]], which
    * PqSpec's parity rows compare the native expression against.
    */
  private[graft] def codesColumnHof(ei: Column, model: QuantCodebook): Column =
    array((0 until model.m).map { s =>
      array_min(scoredCodes(slice(ei, s * model.width + 1, model.width),
        model, s)).getField("code")
    }: _*)

  /** Per-query ADC lookup table: `lut(s)(code)` = exact integer
    * |q_s - c|^2 for every codebook entry, built in-plan from the
    * query's quantized `ei`. Shared by the ADC searches here and the
    * [[IvfPq]] probe.
    */
  def lutColumn(ei: Column, model: QuantCodebook): Column =
    array((0 until model.m).map { s =>
      val qs = slice(ei, s * model.width + 1, model.width)
      array(model.centroids(s).map { case (code, cvec) =>
        Similarity.dotLong(qs, qs) -
          lit(2L) * Similarity.dotLong(qs, lit(cvec.toArray)) +
          lit(model.cc(s, code))
      }: _*)
    }: _*)

  /** ADC distance of a candidate's codes column against the query's
    * in-plan LUT column — the probe's hot loop (candidates x queries
    * rows), as the native [[graft.functions.PqAdcDistance]]
    * expression. The HOF reference below is CodegenFallback and kept
    * for the parity spec.
    */
  def adcDistance(codes: Column, lut: Column): Column =
    graft.functions.PqAdcDistance.distance(codes, lut)

  private[graft] def adcDistanceHof(codes: Column, lut: Column): Column =
    aggregate(zip_with(codes, lut, (c, r) => element_at(r, c + lit(1))),
      lit(0L), (a, x) => a + x)

  /** Encode every row to its `m` nearest-centroid codes: a pure
    * narrow map over broadcast codebook literals — NO exchange in the
    * plan (pinned by PqSpec). Output keeps the quantized columns
    * (ei, nn) for downstream exact re-ranking.
    */
  def encodeQuantized(corpus: DataFrame, model: QuantCodebook): DataFrame = {
    val q = Similarity.withQuantized(corpus, "embedding")
    q.withColumn("codes", codesColumn(col("ei"), model))
  }

  /** The production IVF-PQ probe shape: per query, an in-plan m x k
    * LUT of EXACT integer subspace distances (|q_s - c|^2), so each
    * candidate's approximate distance is `zip_with(codes, lut,
    * lookup) |> sum` — one codegen'd expression per pair. ADC ranks a
    * SHORTLIST (`topK * refine` candidates, ties (adc_d2, id)), then
    * only the shortlist is re-ranked by exact integer distance over
    * the full quantized vectors. Coarse-but-cheap first, exact math on
    * k*refine rows per query — ADC's quantization error affects which
    * candidates make the shortlist, never the final ordering. Output
    * `d2` is the EXACT |q - x|^2 in micro^2 units. Queries are
    * broadcast-size by contract (same as [[Ivf.searchQuantized]]).
    */
  def searchAdcRefinedQuantized(corpus: DataFrame, queries: DataFrame,
                                idCol: String, model: QuantCodebook,
                                topK: Int, refine: Int = 4): DataFrame = {
    val codes = encodeQuantized(corpus, model)
      .select(col(idCol), col("codes"), col("ei"), col("nn"))

    val qlut = Similarity.withQuantized(queries, "embedding")
      .withColumn("lut", lutColumn(col("ei"), model))
      .select(col(idCol).as("q_id"), col("ei").as("qe"), col("nn").as("qn"),
        col("lut"))

    val sw = Window.partitionBy("q_id").orderBy(col("adc_d2").asc, col(idCol).asc)
    val ew = Window.partitionBy("q_id").orderBy(col("d2").asc, col(idCol).asc)
    codes.crossJoin(broadcast(qlut))
      .where(col(idCol) =!= col("q_id"))
      .withColumn("adc_d2", adcDistance(col("codes"), col("lut")))
      .withColumn("srnk", row_number().over(sw))
      .where(col("srnk") <= topK * refine)
      .withColumn("d2",
        col("qn") - lit(2L) * Similarity.dotLong(col("ei"), col("qe")) + col("nn"))
      .withColumn("rnk", row_number().over(ew).cast(LongType))
      .where(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col(idCol), col("d2"))
  }
}
