package graft.queries

import graft.ops.{Pq, Similarity}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

/** Similarity-search surface over the embeddings fixture
  * (vec_id, embedding: array<float>, label).
  *
  * All similarity math uses integer-quantized embeddings (see
  * Similarity) so every dot product is exact and order-independent —
  * identical in Spark and DuckDB, and reproducible under any shuffle
  * order at cluster scale.
  */
object VectorQueries {

  /** q171/q172 share ONE NN-Descent build per (session, dir, params):
    * the build is the dominant cost of both queries and the family is
    * adjudicated experimental (IVF wins everywhere measured), so the
    * correctness gate should not pay it twice. First caller builds —
    * [[graft.ops.GraphAnn.buildGraph]] returns a materialized
    * (checkpointed) edge frame — later callers reuse it.
    *
    * Keyed on the SparkSession REFERENCE itself (tuple equality
    * compares sessions by identity since SparkSession doesn't override
    * equals) — never on identityHashCode, which is not unique and could
    * hand one session a frame bound to another. Sessions are held via a
    * WeakHashMap whose VALUE is a SoftReference to the per-session
    * map: a cached Dataset strongly references its own SparkSession,
    * so holding the map directly would root the weak key through the
    * value (the documented WeakHashMap pitfall) and the entry could
    * never be reclaimed. Behind the soft reference the session is only
    * softly reachable once the caller drops it — the GC clears the
    * soft ref under memory pressure (cache loss is benign: the graph
    * rebuilds), which unroots the weak key and releases the
    * checkpointed blocks.
    *
    * Locking: the global monitor only resolves the per-session map;
    * the multi-second NN-Descent build runs under that map's own
    * monitor, so concurrent sessions never serialize behind one
    * another's builds (same-session same-params callers do share one
    * build, which is the point of the cache).
    *
    * ASSUMPTION: the embeddings table under `dir` is immutable for the
    * lifetime of the session — the gate's testdata is driver-written
    * once. If a caller regenerates data under the same path it must use
    * a fresh session (or a fresh dir) to avoid stale edges.
    */
  private type GraphKey = (String, Int, Int, Int)
  private type GraphMap =
    scala.collection.mutable.Map[GraphKey, org.apache.spark.sql.DataFrame]
  private val graphCache =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.lang.ref.SoftReference[GraphMap]]()
  private[graft] def cachedGraph(s: org.apache.spark.sql.SparkSession,
                                 dir: String, k: Int, initBuckets: Int,
                                 iterations: Int): org.apache.spark.sql.DataFrame = {
    val perSession: GraphMap = graphCache.synchronized {
      val ref = graphCache.get(s)
      val live = if (ref != null) ref.get() else null
      if (live != null) live
      else {
        val fresh: GraphMap = scala.collection.mutable.Map.empty
        graphCache.put(s, new java.lang.ref.SoftReference(fresh))
        fresh
      }
    }
    perSession.synchronized {
      perSession.getOrElseUpdate((dir, k, initBuckets, iterations),
        graft.ops.GraphAnn.buildGraph(t(s, dir, "embeddings"), "vec_id",
          k, initBuckets, iterations))
    }
  }

  /** Test seam (GraphCacheSpec): clears the session's SoftReference —
    * exactly what the GC does under memory pressure — so the
    * "cache loss is benign, the graph rebuilds" claim is exercisable
    * without forcing a collection.
    */
  private[graft] def evictGraphCache(s: org.apache.spark.sql.SparkSession): Unit =
    graphCache.synchronized {
      val ref = graphCache.get(s)
      if (ref != null) ref.clear()
    }

  val queries: Map[String, Q] = Map(
    // brute-force cosine top-k: broadcast 5 query vectors over the corpus
    "q48_ann_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), "vec_id", k = 5)
        .orderBy("q_id", "rnk")
    }),

    // LSH bucketed candidates: 6 deterministic hyperplanes -> 64 buckets
    "q49_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshCandidates(e, e.where(col("vec_id") < 5), "vec_id",
        nPlanes = 6, dims = 64)
        .orderBy("q_id", "vec_id")
    }),

    // IVF probe over the fixture, on the quantized oracle-parity path:
    // exact-integer farthest-point init (oversampled pool + greedy),
    // integer-d2 cell assignment, nProbe probe, micro-unit cosine
    // ranking — every step bit-replicable in SQL. The float/Lloyd
    // performance path is covered by IvfSpec's recall tests.
    "q61_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.ops.Ivf.fitQuantized(e, "vec_id", nLists = 4)
      graft.ops.Ivf.searchQuantized(e, e.where(col("vec_id") < 5), "vec_id",
          model, k = 5, nProbe = 2)
        .orderBy("q_id", "rnk")
    }),

    // FILTERED ANN: q61's probe constrained to same-label corpus rows
    // — the metadata predicate rides the hash-join key next to cell
    // (pre-filter at equal nProbe: identical to probing the filtered
    // corpus under the same model; a post-ranking filter would starve
    // top-k instead).
    "q130_ann_filtered" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.ops.Ivf.fitQuantized(e, "vec_id", nLists = 4)
      graft.ops.Ivf.searchQuantizedFiltered(e, e.where(col("vec_id") < 5),
          "vec_id", model, k = 5, nProbe = 2, matchCols = Seq("label"))
        .orderBy("q_id", "rnk")
    }),

    // product-quantization ADC probe, refined (the IVF-PQ deployment
    // shape): 4 subspaces x 4 codes fit by exact-integer farthest
    // point, corpus encoded to 4 codes/vector, ADC LUT ranks a
    // 20-candidate shortlist, exact integer |q-x|^2 re-ranks the final
    // top 5 — fit, encode, LUT, shortlist, and re-rank all replayed
    // bit-for-bit by the SQL oracle
    "q108_pq_adc" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = Pq.fitQuantized(e, "vec_id", m = 4, k = 4)
      Pq.searchAdcRefinedQuantized(e, e.where(col("vec_id") < 5), "vec_id",
          model, topK = 5, refine = 4)
        .orderBy("q_id", "rnk")
    }),

    // the composed two-level IVF-PQ index end-to-end: fit both levels,
    // materialize the codes-only index (id, codes, cell — no vectors)
    // to a scratch dir, probe 2 of 4 cells via static partition prune,
    // ADC-shortlist 20 candidates, exact-integer re-rank the top 5
    // against the base table. Fit, assignment, encode, probe,
    // shortlist, and re-rank all replayed bit-for-bit by the oracle.
    "q110_ivfpq_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.ops.IvfPq.fit(e, "vec_id", nLists = 4, m = 4, k = 4)
      val idx = SparkBridge.tempDir("graft_q110")
        .resolve("idx").toString
      graft.ops.IvfPq.writeIndex(e, "vec_id", model, idx)
      graft.ops.IvfPq.searchIndex(s, idx, e, e.where(col("vec_id") < 5),
          "vec_id", model, topK = 5, nProbe = 2, refine = 4)
        .orderBy("q_id", "rnk")
    }),

    // q110 with OPQ (round 13): the coordinate-permutation fit is
    // part of the model, codes quantize the permuted vectors, the
    // LUT builds over the permuted query, cells and exact re-rank
    // stay raw — and the ORACLE replays the whole thing including
    // the greedy balanced-energy allocation (a 64-step recursive
    // CTE), so the fit is verified, not shipped as a literal
    "q193_ivfpq_opq_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.ops.IvfPq.fit(e, "vec_id", nLists = 4, m = 4, k = 4,
        opq = true)
      val idx = SparkBridge.tempDir("graft_q193")
        .resolve("idx").toString
      graft.ops.IvfPq.writeIndex(e, "vec_id", model, idx)
      graft.ops.IvfPq.searchIndex(s, idx, e, e.where(col("vec_id") < 5),
          "vec_id", model, topK = 5, nProbe = 2, refine = 4)
        .orderBy("q_id", "rnk")
    }),

    // recall@5 of the nProbe=1 IVF probe against brute-force ground
    // truth — the tuning measurement behind every nProbe/nLists
    // decision, as frame algebra (one join + one agg, driver-free);
    // nProbe=1 is the setting that genuinely loses recall, so the
    // evaluation is exercised on a non-trivial gap
    "q138_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.ops.Ivf.fitQuantized(e, "vec_id", nLists = 4)
      val approx = graft.ops.Ivf.searchQuantized(e, e.where(col("vec_id") < 5),
        "vec_id", model, k = 5, nProbe = 1)
      val exact = Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5),
        "vec_id", k = 5)
      graft.ops.AnnEval.recallAtK(approx, exact, "q_id", "vec_id", k = 5)
        .orderBy("q_id")
    }),

    // graph ANN end-to-end: NN-Descent k-NN graph (md5-bucket init,
    // 2 neighbor-of-neighbor rounds) + 2-hop beam search from the
    // md5-stride entry set — every pair score exact integer
    // micro-cosine, every top-k a total order, so the whole
    // build+search recurrence replays bit-for-bit as unrolled SQL
    // (GraphAnn.buildSql/searchSql, the LPA recurrence discipline)
    "q171_graph_ann" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val g = cachedGraph(s, dir, k = 4, initBuckets = 32, iterations = 2)
      graft.ops.GraphAnn.searchStrideEntries(g, e, e.where(col("vec_id") < 5), "vec_id",
          k = 5, beam = 8, hops = 2, entryStride = 50)
        .orderBy("q_id", "rnk")
    }),

    // the two-layer ANN deployment shape end-to-end: a cheap
    // quantized-IVF nProbe=1 probe routes each query to an 8-node
    // shortlist, which SEEDS the graph beam walk (a kNN graph over a
    // clustered corpus has no long-range links — the router supplies
    // reach, the graph supplies precision); router, graph build, and
    // walk all replay in the oracle
    "q172_graph_ann_routed" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // the SAME graph as q171 (k=4, 32 buckets, 2 rounds) — shared
      // via cachedGraph so the gate builds it once, searches twice
      val g = cachedGraph(s, dir, k = 4, initBuckets = 32, iterations = 2)
      val model = graft.ops.Ivf.fitQuantized(e, "vec_id", nLists = 4)
      val seeds = graft.ops.Ivf.searchQuantized(e,
          e.where(col("vec_id") < 5), "vec_id", model, k = 8, nProbe = 1)
        .select(col("q_id"), col("vec_id").as("node"))
      graft.ops.GraphAnn.searchSeeded(g, e, e.where(col("vec_id") < 5),
          "vec_id", k = 5, beam = 8, hops = 2, seeds)
        .orderBy("q_id", "rnk")
    }),

    // full-corpus embedding near-dup via LSH buckets: pairwise cosine
    // only WITHIN a bucket (1/2^p of all pairs) — the unsampled scale
    // path complementing q50's sampled exact sweep
    "q76_embed_neardup_lsh" -> ((s, dir) => {
      val planes = Similarity.planeWeights(6, 64)
      val c = Similarity.withQuantized(t(s, dir, "embeddings"), "embedding")
        .withColumn("bucket", Similarity.lshBucket(col("ei"), planes))
      val a = c.select(col("vec_id").as("id_a"), col("ei").as("ea"),
        col("nn").as("na"), col("bucket"))
      val b = c.select(col("vec_id").as("id_b"), col("ei").as("eb"),
        col("nn").as("nb"), col("bucket").as("bucket_b"))
      a.join(b, col("bucket") === col("bucket_b") && col("id_a") < col("id_b"))
        .withColumn("sim_micro",
          Similarity.cosineMicro(Similarity.dotLong(col("ea"), col("eb")),
            col("na"), col("nb")))
        .where(col("sim_micro") >= 300000)
        .select("id_a", "id_b", "sim_micro")
        .orderBy("id_a", "id_b")
    }),

    // per-label embedding centroids: exact long sums per dimension
    // (order-independent), one IEEE division chain at the end — the
    // aggregation a label-balanced sampler or a class-prototype
    // similarity search runs over the whole corpus
    "q79_label_centroids" -> ((s, dir) => {
      val e = Similarity.withQuantized(t(s, dir, "embeddings"), "embedding")
      e.select(col("label"), posexplode(col("ei")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_micro"))
        .withColumn("centroid",
          col("sum_micro").cast("double") / col("n") / lit(1000000.0))
        .orderBy("label", "dim")
    }),

    // SemDeDup-style semantic dedup: IVF cells as the blocking key,
    // within-cell cosine >= 0.3, one-hop min-id keeper — the
    // embedding-space retirement pass a curated corpus runs after
    // text-level dedup
    "q93_semantic_dedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.ops.Ivf.fitQuantized(e, "vec_id", nLists = 4)
      Similarity.semanticDedup(e, "vec_id", model, minSimMicro = 300000L)
        .orderBy("vec_id")
    }),

    // cluster-balanced diversity subsample: IVF cells as coverage
    // strata, at most 16 docs kept per cell by content-addressed
    // priority — the cheap k-center stand-in that guarantees every
    // region of embedding space survives a corpus downsample (dense
    // clusters are thinned, sparse ones kept whole)
    "q99_diversity_sample" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.ops.Ivf.fitQuantized(e, "vec_id", nLists = 4)
      val assigned = graft.ops.Ivf.assignQuantized(e, model)
        .select(col("vec_id"), col("cell").cast("long").as("cell"))
      graft.ops.Sampling.capPerGroup(assigned, "cell", "vec_id", k = 16)
        .select("cell", "rn", "vec_id")
        .orderBy("cell", "rn")
    }),

    // embedding near-dup pairs over a 10% sample (quadratic stage is
    // sampled; the scale path for full-corpus near-dup is LSH, q49)
    "q50_embed_neardup" -> ((s, dir) => {
      val sample = Similarity.withQuantized(
        t(s, dir, "embeddings").where(col("vec_id") % 10 === 0), "embedding")
      val a = sample.select(col("vec_id").as("id_a"), col("ei").as("ea"), col("nn").as("na"))
      val b = sample.select(col("vec_id").as("id_b"), col("ei").as("eb"), col("nn").as("nb"))
      a.join(b, col("id_a") < col("id_b"))
        .withColumn("sim_micro",
          Similarity.cosineMicro(Similarity.dotLong(col("ea"), col("eb")),
            col("na"), col("nb")))
        .where(col("sim_micro") >= 300000)
        .select("id_a", "id_b", "sim_micro")
        .orderBy("id_a", "id_b")
    }),

    // one exact-integer Lloyd refinement step on the IVF coarse
    // quantizer: farthest-point init (q61's fit), floor-mean centroid
    // update, reassignment, and per-cell count + exact inertia — the
    // convergence measurement a k-means training loop makes after
    // every iteration, with the floor-of-IEEE-quotient mean making
    // the step itself bit-replicable in SQL (see Ivf.lloydStepQuantized)
    "q152_kmeans_refine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val m0 = graft.ops.Ivf.fitQuantized(e, "vec_id", nLists = 4)
      val m1 = graft.ops.Ivf.lloydStepQuantized(e, m0)
      graft.ops.Ivf.cellStatsQuantized(e, m1)
        .orderBy("cell")
    }),

    // cluster labeling (c-TF-IDF shape): each embedding cluster
    // described by its 5 most DISTINCTIVE terms — tf within the
    // cluster × ln(nLists / #clusters-containing-term), so terms
    // every cluster shares score zero and cluster-specific vocabulary
    // rises; the "describe your clusters" readout a curation UI runs
    // after any embedding-space grouping. Joins ride the shared
    // doc/vec id space; exact micro rounding per (cell, term).
    "q169_cluster_labels" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = t(s, dir, "embeddings")
      val model = graft.ops.Ivf.fitQuantized(e, "vec_id", nLists = 4)
      val assigned = graft.ops.Ivf.assignQuantized(e, model)
        .select(col("vec_id"), col("cell"))
      val toks = t(s, dir, "documents")
        .join(assigned, col("doc_id") === col("vec_id"))
        .select(col("cell"),
          explode(expr("split(lower(trim(text)), '\\\\s+')")).as("w"))
      val tf = toks.groupBy("cell", "w").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("w").agg(countDistinct("cell").as("df"))
      val win = Window.partitionBy("cell")
        .orderBy(col("score_micro").desc, col("term"))
      tf.join(dfT, "w")
        .withColumn("score_micro",
          expr("CAST(round(tf * ln(4.0 / df) * 1000000) AS BIGINT)"))
        .select(col("cell"), col("w").as("term"), col("tf"), col("score_micro"))
        .withColumn("rnk", row_number().over(win).cast("long"))
        .where(col("rnk") <= 5)
        .select("cell", "rnk", "term", "tf", "score_micro")
        .orderBy("cell", "rnk")
    }),

    // vector-store intake QA: per label, zero vectors, norm outliers
    // (quantized |x|^2 outside the unit-ball band), and exact norm
    // extrema — the validation gate before anything reaches an ANN
    // index, where a zero vector NaNs every cosine. Exact integers
    // end to end; one narrow pass + one small aggregate.
    "q168_vector_qa" -> ((s, dir) => {
      Similarity.withQuantized(t(s, dir, "embeddings"), "embedding")
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("nn") === 0L, 1L).otherwise(0L)).as("n_zero"),
          sum(when(col("nn") < 500000000000L ||
            col("nn") > 2000000000000L, 1L).otherwise(0L)).as("n_norm_outlier"),
          min("nn").as("min_nn"), max("nn").as("max_nn"))
        .orderBy("label")
    }),

    // embedding distribution-shift monitor: two corpus snapshots
    // (even/odd vec_ids standing in for old/new crawls) binned by ONE
    // fixed coarse quantizer; per-cell occupancy shares in exact
    // milli + their absolute drift — the "did the new crawl move in
    // embedding space" check a curation pipeline runs before mixing
    // corpora. One assignment pass (broadcast centroids, zero
    // Exchange) + one k-row aggregate.
    "q157_embedding_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.ops.Ivf.fitQuantized(e, "vec_id", nLists = 4)
      val cells = graft.ops.Ivf.assignQuantized(e, model)
        .groupBy("cell")
        .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
      val totals = cells.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
      cells.crossJoin(broadcast(totals))
        .withColumn("share_a_milli", expr("n_a * 1000 DIV ta"))
        .withColumn("share_b_milli", expr("n_b * 1000 DIV tb"))
        .withColumn("drift_milli",
          abs(col("share_a_milli") - col("share_b_milli")))
        .select("cell", "n_a", "n_b", "share_a_milli", "share_b_milli",
          "drift_milli")
        .orderBy("cell")
    }),

    // Rademacher JL projection to 8 dims (sign matrix derived from
    // integer index arithmetic — no PRNG, no stored matrix, zero
    // Exchange), then the 20 largest projected norms with the first
    // projection coordinate pinned — the cheap sketch in front of a
    // clustering/coarse-ANN pass, values exact end to end
    "q153_random_projection" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = graft.ops.Projection.rademacher(t(s, dir, "embeddings"), "vec_id", k = 8)
        .withColumn("pnorm2", expr("aggregate(proj, 0L, (acc, x) -> acc + x*x)"))
        .withColumn("proj1", expr("element_at(proj, 1)"))
      val top = p.orderBy(col("pnorm2").desc, col("vec_id")).limit(20)
      top.withColumn("rnk", row_number()
          .over(Window.orderBy(col("pnorm2").desc, col("vec_id"))).cast("long"))
        .select("vec_id", "rnk", "pnorm2", "proj1")
        .orderBy("rnk")
    }),

    // late-interaction (MaxSim) retrieval, exact path: docs as bags
    // of m=4 token vectors, score = Σ_q-tok max_d-tok cos — query
    // token table broadcast, two map-side-combinable aggs, integer
    // micro-scores end to end
    "q175_maxsim_exact" -> ((s, dir) => {
      val mv = graft.ops.MaxSim.multiVector(t(s, dir, "embeddings"), "vec_id", 4)
      graft.ops.MaxSim.scoreExact(
          mv, mv.where(col("doc_id") < 3), k = 5)
        .orderBy("q_doc", "rnk")
    }),

    // hard-negative mining: per query, the k nearest corpus vectors
    // with a DIFFERENT label — the contrastive-training negative
    // miner; q48's broadcast-scan plan with the label inequality
    // riding the scan filter
    "q179_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.where(col("vec_id") < 5), "vec_id",
          "label", k = 5)
        .orderBy("q_id", "rnk")
    }),

    // MaxSim, production path: md5-hyperplane buckets shortlist
    // candidate docs, exact re-rank ONLY the shortlist (same scoring
    // tail as q175 — pruning can drop docs, never distort scores)
    "q176_maxsim_lsh" -> ((s, dir) => {
      val mv = graft.ops.MaxSim.multiVector(t(s, dir, "embeddings"), "vec_id", 4)
      graft.ops.MaxSim.scoreLshPruned(
          mv, mv.where(col("doc_id") < 3), k = 5, nPlanes = 4, dims = 64)
        .orderBy("q_doc", "rnk")
    }),

    // MaxSim against the PERSISTED token-bucket index: quantization +
    // bucketing paid once at build, probe = bucket-pruned postings
    // read -> doc-hash-pruned token read -> the shared exact re-rank.
    // Same (nPlanes, dims) as q176, so the oracle IS q176's SQL —
    // the stored index must hash-equal the in-memory pruned path
    "q180_maxsim_index" -> ((s, dir) => {
      val mv = graft.ops.MaxSim.multiVector(t(s, dir, "embeddings"), "vec_id", 4)
      val idx = SparkBridge.tempDir("graft_q180").toString
      graft.ops.MaxSim.writeIndex(mv, idx, nPlanes = 4, dims = 64,
        dBuckets = 16)
      graft.ops.MaxSim.searchIndex(s, idx, mv.where(col("doc_id") < 3),
          k = 5, nPlanes = 4, dims = 64, dBuckets = 16)
        .orderBy("q_doc", "rnk")
    }),

    // MaxSim multi-probe: at nPlanes=6 the single-probe shortlist is
    // aggressive (64 buckets over 4-token docs); each query token
    // additionally probes the 2 buckets across its nearest hyperplane
    // boundaries (|dot| asc). Same exact re-rank tail — multi-probe
    // can only ADD candidate docs, never change a surviving score
    "q186_maxsim_multiprobe" -> ((s, dir) => {
      val mv = graft.ops.MaxSim.multiVector(t(s, dir, "embeddings"), "vec_id", 4)
      graft.ops.MaxSim.scoreLshPruned(
          mv, mv.where(col("doc_id") < 3), k = 5, nPlanes = 6, dims = 64,
          multiProbe = 2)
        .orderBy("q_doc", "rnk")
    }),

    // STREAMING intake, oracle-gated (round 12): a REAL
    // MemoryStream -> foreachBatch loop drives MaxSimStream over
    // three micro-batches of 2 docs each against an index seeded
    // with docs >= 8 — each batch scores against the corpus AS OF
    // the previous batch, then appends itself. After the stream
    // stops, batch 1 is deliberately RE-DELIVERED through the
    // BatchMarkers guard: the marker must skip it, because a broken
    // guard would re-append batch 1's tokens AND overwrite its sink
    // partition with scores over the post-append corpus (its own
    // docs now eligible) — rows the oracle's as-of-previous-batch
    // replay would reject. This promotes redelivery-idempotence from
    // spec assertion to correctness gate.
    "q187_maxsim_stream_intake" -> ((s, dir) => {
      val mv = graft.ops.MaxSim.multiVector(t(s, dir, "embeddings"), "vec_id", 4)
      val root = SparkBridge.tempDir("graft_q187_idx").toString
      val out = SparkBridge.tempDir("graft_q187").toString +
        "/scores"
      val ckpt = SparkBridge.tempDir("graft_q187_ck").toString
      graft.ops.MaxSim.writeIndexVersioned(mv.where(col("doc_id") >= 8), root,
        nPlanes = 4, dims = 64, dBuckets = 16)
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, Seq[Float])]
      val toks = mem.toDS().toDF("doc_id", "tok", "vec_id", "embedding")
      val q = graft.streaming.MaxSimStream.start(toks, root, out, k = 5,
        nPlanes = 4, dims = 64, dBuckets = 16, ckpt)
      // ONE bounded driver read feeds the whole gate (r16): the six
      // streamed docs' token rows (24) are collected once and cut
      // into 2-doc batches driver-side — the three per-batch collects
      // each recomputed the multiVector frame. In-batch order is
      // immaterial (scoring and append are aggregations), so slicing
      // the single scan is delivery-identical.
      val feed = mv.where(col("doc_id") < 6)
        .select("doc_id", "tok", "vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Float](3))).toSeq
      def batch(lo: Long, hi: Long): Seq[(Long, Long, Long, Seq[Float])] =
        feed.filter(t => t._1 >= lo && t._1 < hi)
      try {
        Seq((0L, 2L), (2L, 4L), (4L, 6L)).foreach { case (lo, hi) =>
          mem.addData(batch(lo, hi)); q.processAllAvailable()
        }
      } finally q.stop()
      val replayApplied = graft.streaming.BatchMarkers.applyOnce(s, out, 1L) {
        graft.streaming.MaxSimStream.applyBatch(
          mv.where(col("doc_id") >= 2 && col("doc_id") < 4), root, out,
          k = 5, nPlanes = 4, dims = 64, dBuckets = 16, batchId = 1L)
      }
      require(!replayApplied, "replay guard must skip an applied batch")
      s.read.parquet(out)
        .select(col("batch_id").cast("long").as("batch_id"), col("q_doc"),
          col("rnk"), col("doc_id"), col("score_micro"))
        .orderBy("batch_id", "q_doc", "rnk")
    }),

    // q187's twin with foldBytes = 1 (round 13): every buffered append
    // crosses the staging threshold, so each batch's tokens FOLD into
    // the bucket partitions before the next batch probes — the oracle
    // is IDENTICAL to q187's, because fold timing must never move a
    // score bit (probe-visible staging and the MAX-idempotent re-rank
    // guarantee it). A fold that lost rows, double-counted them, or
    // left a torn staging pointer fails the hash. The replayed batch
    // exercises the marker guard AROUND a fold, q187's done-bar.
    "q192_maxsim_stream_folded" -> ((s, dir) => {
      val mv = graft.ops.MaxSim.multiVector(t(s, dir, "embeddings"), "vec_id", 4)
      val root = SparkBridge.tempDir("graft_q192_idx").toString
      val out = SparkBridge.tempDir("graft_q192").toString +
        "/scores"
      val ckpt = SparkBridge.tempDir("graft_q192_ck").toString
      graft.ops.MaxSim.writeIndexVersioned(mv.where(col("doc_id") >= 8), root,
        nPlanes = 4, dims = 64, dBuckets = 16)
      import s.implicits._
      implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, Seq[Float])]
      val toks = mem.toDS().toDF("doc_id", "tok", "vec_id", "embedding")
      val q = graft.streaming.MaxSimStream.start(toks, root, out, k = 5,
        nPlanes = 4, dims = 64, dBuckets = 16, ckpt, foldBytes = 1L)
      // ONE bounded driver read feeds the whole gate (r16) — same
      // single-collect feed cut as q187; see the note there
      val feed = mv.where(col("doc_id") < 6)
        .select("doc_id", "tok", "vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Float](3))).toSeq
      def batch(lo: Long, hi: Long): Seq[(Long, Long, Long, Seq[Float])] =
        feed.filter(t => t._1 >= lo && t._1 < hi)
      try {
        Seq((0L, 2L), (2L, 4L), (4L, 6L)).foreach { case (lo, hi) =>
          mem.addData(batch(lo, hi)); q.processAllAvailable()
        }
      } finally q.stop()
      val replayApplied = graft.streaming.BatchMarkers.applyOnce(s, out, 1L) {
        graft.streaming.MaxSimStream.applyBatch(
          mv.where(col("doc_id") >= 2 && col("doc_id") < 4), root, out,
          k = 5, nPlanes = 4, dims = 64, dBuckets = 16, batchId = 1L,
          foldBytes = 1L)
      }
      require(!replayApplied, "replay guard must skip an applied batch")
      s.read.parquet(out)
        .select(col("batch_id").cast("long").as("batch_id"), col("q_doc"),
          col("rnk"), col("doc_id"), col("score_micro"))
        .orderBy("batch_id", "q_doc", "rnk")
    }))

  // Every CTE of the shared replay fragments below (quantCte,
  // ivfAssignCte, pqFitCte, opqPermCte) is declared AS MATERIALIZED:
  // DuckDB otherwise inlines a CTE at each reference and re-runs the
  // PQ fit per use (q110 took 96 s, q193 minutes at 7.6 GB RSS on
  // sf0.01); materialized, each runs once. An evaluation hint only —
  // the rows are unchanged.
  private val quantCte =
    """e AS MATERIALIZED (SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ei
         FROM embeddings),
       flat AS MATERIALIZED (SELECT vec_id, generate_subscripts(ei, 1) AS i, unnest(ei) AS v FROM e),
       norms AS MATERIALIZED (SELECT vec_id, SUM(v*v) AS nn FROM flat GROUP BY 1)"""

  /** Shared IVF replay (fitQuantized nLists=4 + assignment): c0 =
    * lowest-id vector; pool = top 24 by integer d2 from c0; greedy
    * farthest-point picks p1..p3 (unrolled — nLists is fixed at 4);
    * cell assignment ranks by exact (d2, cell). Used by q61 (probe)
    * and q93 (semantic dedup).
    */
  private val ivfAssignCte =
    """c0 AS MATERIALIZED (SELECT vec_id FROM e ORDER BY vec_id LIMIT 1),
         dots0 AS MATERIALIZED (SELECT f.vec_id, SUM(f.v * c.v) AS xc
                   FROM flat f JOIN flat c ON c.i = f.i
                     AND c.vec_id = (SELECT vec_id FROM c0)
                   GROUP BY 1),
         pool AS MATERIALIZED (SELECT d.vec_id, n.nn - 2*d.xc AS d2
                  FROM dots0 d JOIN norms n ON n.vec_id = d.vec_id
                  ORDER BY d2 DESC, d.vec_id LIMIT 24),
         pdot AS MATERIALIZED (SELECT fa.vec_id AS ida, fb.vec_id AS idb, SUM(fa.v*fb.v) AS dot
                  FROM flat fa JOIN flat fb ON fb.i = fa.i
                  WHERE fa.vec_id IN (SELECT vec_id FROM pool)
                    AND (fb.vec_id IN (SELECT vec_id FROM pool)
                         OR fb.vec_id = (SELECT vec_id FROM c0))
                  GROUP BY 1, 2),
         pd AS MATERIALIZED (SELECT ida, idb, na.nn - 2*dot + nb.nn AS d2
                FROM pdot JOIN norms na ON na.vec_id = ida
                  JOIN norms nb ON nb.vec_id = idb),
         p1 AS MATERIALIZED (SELECT ida AS vec_id FROM pd WHERE idb = (SELECT vec_id FROM c0)
                ORDER BY d2 DESC, ida LIMIT 1),
         p2 AS MATERIALIZED (SELECT ida AS vec_id FROM (
                  SELECT ida, MIN(d2) AS mind2 FROM pd
                  WHERE idb IN (SELECT vec_id FROM c0 UNION SELECT vec_id FROM p1)
                    AND ida <> (SELECT vec_id FROM p1)
                  GROUP BY ida)
                ORDER BY mind2 DESC, ida LIMIT 1),
         p3 AS MATERIALIZED (SELECT ida AS vec_id FROM (
                  SELECT ida, MIN(d2) AS mind2 FROM pd
                  WHERE idb IN (SELECT vec_id FROM c0 UNION SELECT vec_id FROM p1
                                UNION SELECT vec_id FROM p2)
                    AND ida NOT IN (SELECT vec_id FROM p1 UNION SELECT vec_id FROM p2)
                  GROUP BY ida)
                ORDER BY mind2 DESC, ida LIMIT 1),
         cents AS MATERIALIZED (SELECT 0 AS cell, (SELECT vec_id FROM c0) AS vec_id
                   UNION ALL SELECT 1, (SELECT vec_id FROM p1)
                   UNION ALL SELECT 2, (SELECT vec_id FROM p2)
                   UNION ALL SELECT 3, (SELECT vec_id FROM p3)),
         cflat AS MATERIALIZED (SELECT c.cell, f.i, f.v FROM cents c JOIN flat f ON f.vec_id = c.vec_id),
         cnorm AS MATERIALIZED (SELECT cell, SUM(v*v) AS cc FROM cflat GROUP BY 1),
         scored AS MATERIALIZED (SELECT a.vec_id, a.cell, cn.cc - 2*a.dot AS d2 FROM (
                      SELECT f.vec_id, cf.cell, SUM(f.v * cf.v) AS dot
                      FROM flat f JOIN cflat cf ON cf.i = f.i GROUP BY 1, 2) a
                    JOIN cnorm cn ON cn.cell = a.cell),
         assigned AS MATERIALIZED (SELECT vec_id, cell FROM (
                        SELECT vec_id, cell,
                          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
                        FROM scored) WHERE rn = 1)"""

  /** PQ fit + encode + query-LUT replay (fitQuantized m=4 k=4 over 64
    * dims -> w=16): subspace flat view, per-subspace greedy
    * farthest-point init (pool 24, 3 unrolled picks), argmin encode,
    * per-query ADC LUT — mirrors `Pq` step for step. The search tail
    * (ADC scan, shortlist, exact re-rank) is [[pqSearchCte]]; q110
    * reuses THIS half under a `pq_` rename ([[pqFitCteRenamed]]) with
    * its own cell-restricted tail.
    */
  private val pqFitCte =
    """sflat AS MATERIALIZED (SELECT vec_id, CAST((i - 1) // 16 AS INT) AS s,
                   (i - 1) % 16 AS j, v FROM flat),
       snorm AS MATERIALIZED (SELECT vec_id, s, SUM(v*v) AS nn FROM sflat GROUP BY 1, 2),
       c0 AS MATERIALIZED (SELECT vec_id FROM e ORDER BY vec_id LIMIT 1),
       sd0 AS MATERIALIZED (SELECT f.vec_id, f.s, SUM(f.v * c.v) AS xc
               FROM sflat f JOIN sflat c ON c.s = f.s AND c.j = f.j
                 AND c.vec_id = (SELECT vec_id FROM c0)
               GROUP BY 1, 2),
       pool AS MATERIALIZED (SELECT vec_id, s FROM (
                 SELECT d.vec_id, d.s,
                   ROW_NUMBER() OVER (PARTITION BY d.s
                     ORDER BY (n.nn - 2*d.xc) DESC, d.vec_id) AS rn
                 FROM sd0 d JOIN snorm n ON n.vec_id = d.vec_id AND n.s = d.s)
                WHERE rn <= 24),
       poolc AS MATERIALIZED (SELECT vec_id, s FROM pool
                 UNION
                 SELECT c0.vec_id, sub.s FROM c0,
                   (SELECT DISTINCT s FROM sflat) sub),
       pdot AS MATERIALIZED (SELECT fa.s, fa.vec_id AS ida, fb.vec_id AS idb,
                  SUM(fa.v * fb.v) AS dot
                FROM (SELECT sf.vec_id, sf.s, sf.j, sf.v FROM sflat sf
                      JOIN pool p ON p.vec_id = sf.vec_id AND p.s = sf.s) fa
                JOIN (SELECT sf.vec_id, sf.s, sf.j, sf.v FROM sflat sf
                      JOIN poolc p ON p.vec_id = sf.vec_id AND p.s = sf.s) fb
                  ON fb.s = fa.s AND fb.j = fa.j
                GROUP BY 1, 2, 3),
       pd AS MATERIALIZED (SELECT p.s, ida, idb, na.nn - 2*dot + nb.nn AS d2
              FROM pdot p JOIN snorm na ON na.vec_id = ida AND na.s = p.s
                JOIN snorm nb ON nb.vec_id = idb AND nb.s = p.s),
       p1 AS MATERIALIZED (SELECT s, vec_id FROM (
               SELECT s, ida AS vec_id,
                 ROW_NUMBER() OVER (PARTITION BY s ORDER BY d2 DESC, ida) AS rn
               FROM pd WHERE idb = (SELECT vec_id FROM c0)) WHERE rn = 1),
       p2m AS MATERIALIZED (SELECT pd.s, ida, MIN(d2) AS mind2 FROM pd
               WHERE (idb = (SELECT vec_id FROM c0)
                      OR EXISTS (SELECT 1 FROM p1
                                 WHERE p1.s = pd.s AND p1.vec_id = idb))
                 AND NOT EXISTS (SELECT 1 FROM p1
                                 WHERE p1.s = pd.s AND p1.vec_id = ida)
               GROUP BY 1, 2),
       p2 AS MATERIALIZED (SELECT s, vec_id FROM (
               SELECT s, ida AS vec_id,
                 ROW_NUMBER() OVER (PARTITION BY s ORDER BY mind2 DESC, ida) AS rn
               FROM p2m) WHERE rn = 1),
       p3m AS MATERIALIZED (SELECT pd.s, ida, MIN(d2) AS mind2 FROM pd
               WHERE (idb = (SELECT vec_id FROM c0)
                      OR EXISTS (SELECT 1 FROM p1
                                 WHERE p1.s = pd.s AND p1.vec_id = idb)
                      OR EXISTS (SELECT 1 FROM p2
                                 WHERE p2.s = pd.s AND p2.vec_id = idb))
                 AND NOT EXISTS (SELECT 1 FROM p1
                                 WHERE p1.s = pd.s AND p1.vec_id = ida)
                 AND NOT EXISTS (SELECT 1 FROM p2
                                 WHERE p2.s = pd.s AND p2.vec_id = ida)
               GROUP BY 1, 2),
       p3 AS MATERIALIZED (SELECT s, vec_id FROM (
               SELECT s, ida AS vec_id,
                 ROW_NUMBER() OVER (PARTITION BY s ORDER BY mind2 DESC, ida) AS rn
               FROM p3m) WHERE rn = 1),
       cb AS MATERIALIZED (SELECT s, 0 AS code, (SELECT vec_id FROM c0) AS vec_id
              FROM (SELECT DISTINCT s FROM sflat)
              UNION ALL SELECT s, 1, vec_id FROM p1
              UNION ALL SELECT s, 2, vec_id FROM p2
              UNION ALL SELECT s, 3, vec_id FROM p3),
       cvec AS MATERIALIZED (SELECT cb.s, cb.code, f.j, f.v FROM cb
                JOIN sflat f ON f.vec_id = cb.vec_id AND f.s = cb.s),
       cnorm AS MATERIALIZED (SELECT s, code, SUM(v*v) AS cc FROM cvec GROUP BY 1, 2),
       xdot AS MATERIALIZED (SELECT f.vec_id, c.s, c.code, SUM(f.v * c.v) AS dot
                FROM sflat f JOIN cvec c ON c.s = f.s AND c.j = f.j
                GROUP BY 1, 2, 3),
       enc AS MATERIALIZED (SELECT vec_id, s, code FROM (
                SELECT x.vec_id, x.s, x.code,
                  ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.s
                    ORDER BY (cn.cc - 2*x.dot), x.code) AS rn
                FROM xdot x JOIN cnorm cn ON cn.s = x.s AND cn.code = x.code)
               WHERE rn = 1),
       qlut AS MATERIALIZED (SELECT f.vec_id AS q_id, c.s, c.code,
                  MAX(n.nn) - 2*SUM(f.v * c.v) + MAX(cn.cc) AS d2
                FROM sflat f
                JOIN cvec c ON c.s = f.s AND c.j = f.j
                JOIN snorm n ON n.vec_id = f.vec_id AND n.s = f.s
                JOIN cnorm cn ON cn.s = c.s AND cn.code = c.code
                WHERE f.vec_id < 5
                GROUP BY 1, 2, 3)"""

  /** q108's search tail over [[pqFitCte]]: full-corpus ADC scan,
    * shortlist 20, exact re-rank.
    */
  private val pqSearchCte =
    """adc AS (SELECT l.q_id, e2.vec_id, SUM(l.d2) AS adc_d2
               FROM enc e2 JOIN qlut l ON l.s = e2.s AND l.code = e2.code
               WHERE e2.vec_id <> l.q_id
               GROUP BY 1, 2),
       short AS (SELECT q_id, vec_id FROM (
                  SELECT q_id, vec_id,
                    ROW_NUMBER() OVER (PARTITION BY q_id
                      ORDER BY adc_d2, vec_id) AS srn
                  FROM adc) WHERE srn <= 20),
       refined AS (SELECT s2.q_id, s2.vec_id,
                     MAX(nq.nn) - 2*SUM(fq.v * fc.v) + MAX(nc.nn) AS d2
                   FROM short s2
                   JOIN flat fq ON fq.vec_id = s2.q_id
                   JOIN flat fc ON fc.vec_id = s2.vec_id AND fc.i = fq.i
                   JOIN norms nq ON nq.vec_id = s2.q_id
                   JOIN norms nc ON nc.vec_id = s2.vec_id
                   GROUP BY 1, 2)"""

  /** [[pqFitCte]] with every CTE name prefixed `pq_`, so it composes
    * with [[ivfAssignCte]] in one WITH clause (the two replays share
    * names — pool, pdot, pd, p1..p3, cnorm — because they share the
    * farthest-point idiom). Token-exact rename: `\b`-delimited, so
    * column names and aliases (s, v, code, cc, rn) are untouched.
    */
  private val pqFitCteRenamed: String =
    Seq("sflat", "snorm", "c0", "sd0", "poolc", "pool", "pdot", "pd",
      "p1", "p2m", "p2", "p3m", "p3", "cb", "cvec", "cnorm", "xdot",
      "enc", "qlut")
      .foldLeft(pqFitCte)((s, n) => s.replaceAll("\\b" + n + "\\b", "pq_" + n))

  /** Replays [[graft.ops.Pq.fitOpqPermutationEi]] for q193 (m=4 over 64
    * dims -> 4 bins of cap 16): exact integer per-dim energies, dims
    * ranked (energy desc, dim asc), and the greedy lowest-energy-bin
    * allocation as a 64-step recursive CTE whose state is the four
    * bins' (count, energy) — the pick each step is (energy, bin)-min
    * among bins below capacity, exactly the Scala fold. `permmap`
    * sends source dim -> permuted slot (bin * 16 + within-bin pick
    * order), and `pflat` is the permuted flat view the PQ fit CTEs
    * then run on UNCHANGED. Requires `WITH RECURSIVE` at the head of
    * the composed query.
    */
  private val opqPermCte =
    """denergy AS MATERIALIZED (SELECT i, CAST(SUM(v*v) AS HUGEINT) AS en FROM flat GROUP BY 1),
       drank AS MATERIALIZED (SELECT i, en, ROW_NUMBER() OVER (ORDER BY en DESC, i) AS r
                 FROM denergy),
       alloc(r, cnts, es, asg) AS (
         SELECT 0::BIGINT, [0,0,0,0]::INT[], [0,0,0,0]::HUGEINT[],
                []::STRUCT(i BIGINT, s INT, r BIGINT)[]
         UNION ALL
         SELECT a.r + 1,
           list_transform(range(1, 5), b ->
             CASE WHEN b - 1 = pick.s THEN a.cnts[b] + 1 ELSE a.cnts[b] END)::INT[],
           list_transform(range(1, 5), b ->
             CASE WHEN b - 1 = pick.s THEN a.es[b] + nd.en ELSE a.es[b] END)::HUGEINT[],
           list_append(a.asg,
             {i: nd.i, s: pick.s, r: a.r + 1}::STRUCT(i BIGINT, s INT, r BIGINT))
         FROM alloc a JOIN drank nd ON nd.r = a.r + 1,
         LATERAL (SELECT s FROM (
             SELECT CAST(b - 1 AS INT) AS s, a.es[b] AS be, a.cnts[b] AS c
             FROM range(1, 5) t(b)) z
           WHERE z.c < 16 ORDER BY z.be, z.s LIMIT 1) pick
         WHERE a.r < 64
       ),
       asgf AS MATERIALIZED (SELECT u.x.i AS src_i, u.x.s AS s, u.x.r AS rr
                FROM (SELECT asg FROM alloc WHERE r = 64) fin,
                     UNNEST(fin.asg) u(x)),
       permmap AS MATERIALIZED (SELECT src_i,
                     s * 16 + ROW_NUMBER() OVER (PARTITION BY s ORDER BY rr) AS new_i
                   FROM asgf),
       pflat AS MATERIALIZED (SELECT f.vec_id, pm.new_i AS i, f.v
                 FROM flat f JOIN permmap pm ON pm.src_i = f.i)"""

  /** [[pqFitCteRenamed]] over the PERMUTED flat view: the only raw
    * `flat` reference in the renamed fit is pq_sflat's source — OPQ
    * changes nothing else about the PQ fit/encode/LUT replay.
    */
  private val pqFitCteRenamedOpq: String =
    pqFitCteRenamed.replaceAll("\\bflat\\b", "pflat")

  val oracles: Map[String, String] = Map(
    // the full MaxSim pipeline replayed relationally: integer
    // micro-cosine per token pair, MAX per (query-token, doc), SUM
    // per (query, doc); the pruned twin additionally replays the
    // md5-hyperplane shortlist before the identical scoring tail
    "q175_maxsim_exact" ->
      s"""WITH $quantCte,
         ${graft.ops.MaxSim.exactSql(m = 4, k = 5, v => s"$v // 4 < 3")}""",
    // q48's replay with the label-inequality predicate on the dots
    // join — labels ride alongside ids through rank and output
    "q179_hard_negatives" ->
      s"""WITH $quantCte,
         lbl AS (SELECT vec_id, label FROM embeddings),
         dots AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, SUM(q.v * c.v) AS dot
                  FROM flat q JOIN flat c ON q.i = c.i
                    AND q.vec_id < 5 AND c.vec_id <> q.vec_id
                  GROUP BY 1, 2),
         neg AS (SELECT d.q_id, d.vec_id, d.dot, lc.label
                 FROM dots d
                 JOIN lbl lq ON lq.vec_id = d.q_id
                 JOIN lbl lc ON lc.vec_id = d.vec_id AND lc.label <> lq.label),
         sims AS (SELECT q_id, n.vec_id, n.label,
                    CAST(round(CAST(dot AS DOUBLE) /
                      (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
                      * 1000000) AS BIGINT) AS sim_micro
                  FROM neg n JOIN norms nq ON nq.vec_id = n.q_id
                    JOIN norms nc ON nc.vec_id = n.vec_id)
         SELECT q_id, rnk, vec_id, label, sim_micro FROM (
           SELECT q_id, vec_id, label, sim_micro,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY sim_micro DESC, vec_id) AS BIGINT) AS rnk
           FROM sims)
         WHERE rnk <= 5 ORDER BY q_id, rnk""",
    "q176_maxsim_lsh" ->
      s"""WITH $quantCte,
         ${graft.ops.MaxSim.lshPrunedSql(m = 4, k = 5, v => s"$v // 4 < 3",
            nPlanes = 4, dims = 64)}""",
    // the stored-index probe replays the SAME relational pipeline —
    // storage layout must be score-invisible
    "q180_maxsim_index" ->
      s"""WITH $quantCte,
         ${graft.ops.MaxSim.lshPrunedSql(m = 4, k = 5, v => s"$v // 4 < 3",
            nPlanes = 4, dims = 64)}""",
    // the multi-probe expansion replayed: per query token, the
    // primary bucket plus the 2 buckets across its least-confident
    // hyperplanes (xor of the flipped plane bit), identical re-rank
    "q186_maxsim_multiprobe" ->
      s"""WITH $quantCte,
         ${graft.ops.MaxSim.lshPrunedSql(m = 4, k = 5, v => s"$v // 4 < 3",
            nPlanes = 6, dims = 64, multiProbe = 2)}""",
    // the streaming loop replayed batch-by-batch: batch b (docs
    // [2b, 2b+2)) scores against EXACTLY the corpus as of the
    // previous batch (seed docs >= 8 plus batches < b) — the
    // re-delivered batch 1 must leave no trace beyond its first
    // application for this union to hash-match
    "q187_maxsim_stream_intake" -> {
      def b(i: Int): String = {
        val lo = 2 * i; val hi = lo + 2
        s"""SELECT CAST($i AS BIGINT) AS batch_id, s.* FROM (
           WITH $quantCte,
           ${graft.ops.MaxSim.lshPrunedSql(m = 4, k = 5,
              v => s"($v // 4 >= $lo AND $v // 4 < $hi)",
              nPlanes = 4, dims = 64,
              cPred = v => s"($v // 4 >= 8 OR $v // 4 < $lo)")}) s"""
      }
      s"""SELECT * FROM (${b(0)} UNION ALL ${b(1)} UNION ALL ${b(2)})
         ORDER BY batch_id, q_doc, rnk"""
    },
    // identical replay to q187 — fold timing must never move a bit
    "q192_maxsim_stream_folded" -> {
      def b(i: Int): String = {
        val lo = 2 * i; val hi = lo + 2
        s"""SELECT CAST($i AS BIGINT) AS batch_id, s.* FROM (
           WITH $quantCte,
           ${graft.ops.MaxSim.lshPrunedSql(m = 4, k = 5,
              v => s"($v // 4 >= $lo AND $v // 4 < $hi)",
              nPlanes = 4, dims = 64,
              cPred = v => s"($v // 4 >= 8 OR $v // 4 < $lo)")}) s"""
      }
      s"""SELECT * FROM (${b(0)} UNION ALL ${b(1)} UNION ALL ${b(2)})
         ORDER BY batch_id, q_doc, rnk"""
    },
    // replays fitQuantized (ivfAssignCte's assigned) + one Lloyd step:
    // floor-of-IEEE-quotient centroid means (exact parity — both
    // engines floor the same correctly-rounded double quotient of the
    // same exact integers), exact-integer reassignment (d2, cell)
    // tie-break, then per-cell count + true |x-c|^2 inertia
    "q152_kmeans_refine" ->
      s"""WITH $quantCte,
         $ivfAssignCte,
         cm AS (SELECT a.cell, f.i,
                  CAST(floor(CAST(SUM(f.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
                FROM assigned a JOIN flat f ON f.vec_id = a.vec_id
                GROUP BY 1, 2),
         cnn AS (SELECT cell, SUM(cv*cv) AS cc FROM cm GROUP BY 1),
         d AS (SELECT f.vec_id, c.cell,
                 MAX(n.nn) + MAX(cn.cc) - 2*SUM(f.v * c.cv) AS d2
               FROM flat f JOIN cm c ON c.i = f.i
                 JOIN cnn cn ON cn.cell = c.cell
                 JOIN norms n ON n.vec_id = f.vec_id
               GROUP BY 1, 2),
         re AS (SELECT vec_id, cell, d2 FROM (
                  SELECT vec_id, cell, d2,
                    ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY d2, cell) AS rn FROM d) WHERE rn = 1)
         SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(d2) AS BIGINT) AS inertia
         FROM re GROUP BY 1 ORDER BY cell""",
    // the q61 fit/assign replay feeding a c-TF-IDF tail: tf per
    // (cell, term), cross-cell df, same ln expression text
    "q169_cluster_labels" ->
      s"""WITH $quantCte,
         $ivfAssignCte,
         tk AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\\s+') AS tk
           FROM documents),
         toks AS (SELECT a.cell, r.w
                  FROM tk, LATERAL (SELECT unnest(tk) AS w) r
                  JOIN assigned a ON a.vec_id = tk.doc_id),
         tf AS (SELECT cell, w, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         dfc AS (SELECT w, COUNT(DISTINCT cell) AS df FROM tf GROUP BY 1),
         sc AS (SELECT tf.cell, tf.w AS term, tf.tf,
                 CAST(round(tf.tf * ln(4.0 / dfc.df) * 1000000) AS BIGINT)
                   AS score_micro
                FROM tf JOIN dfc ON dfc.w = tf.w)
         SELECT cell, CAST(rnk AS BIGINT) AS rnk, term,
           CAST(tf AS BIGINT) AS tf, score_micro FROM (
           SELECT cell, term, tf, score_micro,
             ROW_NUMBER() OVER (PARTITION BY cell
               ORDER BY score_micro DESC, term) AS rnk
           FROM sc)
         WHERE rnk <= 5 ORDER BY cell, rnk""",
    "q168_vector_qa" ->
      s"""WITH $quantCte,
         lab AS (SELECT vec_id, label FROM embeddings)
         SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN n.nn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(SUM(CASE WHEN n.nn < 500000000000 OR n.nn > 2000000000000
             THEN 1 ELSE 0 END) AS BIGINT) AS n_norm_outlier,
           CAST(MIN(n.nn) AS BIGINT) AS min_nn,
           CAST(MAX(n.nn) AS BIGINT) AS max_nn
         FROM norms n JOIN lab l ON l.vec_id = n.vec_id
         GROUP BY 1 ORDER BY l.label""",
    // q61's fit + assignment replay, grouped by snapshot parity —
    // shares and drift in exact floor-div milli
    "q157_embedding_drift" ->
      s"""WITH $quantCte,
         $ivfAssignCte,
         g AS (SELECT cell,
                 SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
                 SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b
               FROM assigned GROUP BY 1),
         tt AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM g)
         SELECT cell, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_a * 1000 // ta AS BIGINT) AS share_a_milli,
           CAST(n_b * 1000 // tb AS BIGINT) AS share_b_milli,
           CAST(abs(n_a * 1000 // ta - n_b * 1000 // tb) AS BIGINT)
             AS drift_milli
         FROM g, tt ORDER BY cell""",
    // replays Projection.rademacher: the ±1 sign is the same integer
    // formula on (i, j); projections and norms stay exact integers
    "q153_random_projection" ->
      s"""WITH $quantCte,
         p AS (SELECT f.vec_id, j.j,
                 SUM(f.v * (CASE WHEN (f.i * 2654435761 + j.j * 40503) % 97 % 2 = 0
                   THEN 1 ELSE -1 END)) AS pv
               FROM flat f CROSS JOIN (SELECT unnest(range(1, 9)) AS j) j
               GROUP BY 1, 2),
         n2 AS (SELECT vec_id, SUM(pv*pv) AS pnorm2 FROM p GROUP BY 1),
         pick AS (SELECT vec_id, pnorm2,
                    ROW_NUMBER() OVER (ORDER BY pnorm2 DESC, vec_id) AS rnk
                  FROM n2)
         SELECT k.vec_id, CAST(k.rnk AS BIGINT) AS rnk,
           CAST(k.pnorm2 AS BIGINT) AS pnorm2, CAST(p1.pv AS BIGINT) AS proj1
         FROM pick k JOIN p p1 ON p1.vec_id = k.vec_id AND p1.j = 1
         WHERE k.rnk <= 20 ORDER BY k.rnk""",
    "q108_pq_adc" ->
      s"""WITH $quantCte,
         $pqFitCte,
         $pqSearchCte
         SELECT q_id, rnk, CAST(d2 AS BIGINT) AS d2, vec_id FROM (
           SELECT q_id, vec_id, d2,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY d2, vec_id) AS BIGINT) AS rnk
           FROM refined) WHERE rnk <= 5 ORDER BY q_id, rnk""",
    // the IVF x PQ composition (IvfPq.searchIndex): coarse cells and
    // probe selection replayed by ivfAssignCte (same as q61), PQ fit /
    // encode / LUT replayed by the pq_-renamed q108 CTEs, then the
    // cell-restricted tail: ADC only over candidates in the query's 2
    // probed cells, shortlist 20, exact re-rank, top 5
    "q110_ivfpq_index" ->
      s"""WITH $quantCte,
         $ivfAssignCte,
         $pqFitCteRenamed,
         probes AS (SELECT vec_id AS q_id, cell FROM (
                      SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
                      FROM scored WHERE vec_id < 5) WHERE rn <= 2),
         cand AS (SELECT p.q_id, a.vec_id FROM probes p
                  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.q_id),
         adc AS (SELECT c.q_id, c.vec_id, SUM(l.d2) AS adc_d2
                 FROM cand c JOIN pq_enc e2 ON e2.vec_id = c.vec_id
                 JOIN pq_qlut l ON l.q_id = c.q_id AND l.s = e2.s AND l.code = e2.code
                 GROUP BY 1, 2),
         short AS (SELECT q_id, vec_id FROM (
                    SELECT q_id, vec_id,
                      ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY adc_d2, vec_id) AS srn
                    FROM adc) WHERE srn <= 20),
         refined AS (SELECT s2.q_id, s2.vec_id,
                       MAX(nq.nn) - 2*SUM(fq.v * fc.v) + MAX(nc.nn) AS d2
                     FROM short s2
                     JOIN flat fq ON fq.vec_id = s2.q_id
                     JOIN flat fc ON fc.vec_id = s2.vec_id AND fc.i = fq.i
                     JOIN norms nq ON nq.vec_id = s2.q_id
                     JOIN norms nc ON nc.vec_id = s2.vec_id
                     GROUP BY 1, 2)
         SELECT q_id, rnk, vec_id, CAST(d2 AS BIGINT) AS d2 FROM (
           SELECT q_id, vec_id, d2,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY d2, vec_id) AS BIGINT) AS rnk
           FROM refined) WHERE rnk <= 5 ORDER BY q_id, rnk""",
    // q110 under OPQ: identical coarse/probe/tail replay, but the PQ
    // fit/encode/LUT CTEs run over the PERMUTED flat view, and the
    // permutation itself is REPLAYED (energies + greedy allocation as
    // a recursive CTE) rather than shipped as a literal — the fit is
    // part of what the oracle verifies
    "q193_ivfpq_opq_index" ->
      s"""WITH RECURSIVE $quantCte,
         $ivfAssignCte,
         $opqPermCte,
         $pqFitCteRenamedOpq,
         probes AS (SELECT vec_id AS q_id, cell FROM (
                      SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
                      FROM scored WHERE vec_id < 5) WHERE rn <= 2),
         cand AS (SELECT p.q_id, a.vec_id FROM probes p
                  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.q_id),
         adc AS (SELECT c.q_id, c.vec_id, SUM(l.d2) AS adc_d2
                 FROM cand c JOIN pq_enc e2 ON e2.vec_id = c.vec_id
                 JOIN pq_qlut l ON l.q_id = c.q_id AND l.s = e2.s AND l.code = e2.code
                 GROUP BY 1, 2),
         short AS (SELECT q_id, vec_id FROM (
                    SELECT q_id, vec_id,
                      ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY adc_d2, vec_id) AS srn
                    FROM adc) WHERE srn <= 20),
         refined AS (SELECT s2.q_id, s2.vec_id,
                       MAX(nq.nn) - 2*SUM(fq.v * fc.v) + MAX(nc.nn) AS d2
                     FROM short s2
                     JOIN flat fq ON fq.vec_id = s2.q_id
                     JOIN flat fc ON fc.vec_id = s2.vec_id AND fc.i = fq.i
                     JOIN norms nq ON nq.vec_id = s2.q_id
                     JOIN norms nc ON nc.vec_id = s2.vec_id
                     GROUP BY 1, 2)
         SELECT q_id, rnk, vec_id, CAST(d2 AS BIGINT) AS d2 FROM (
           SELECT q_id, vec_id, d2,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY d2, vec_id) AS BIGINT) AS rnk
           FROM refined) WHERE rnk <= 5 ORDER BY q_id, rnk""",
    // replays Ivf.fitQuantized + searchQuantized step by step;
    // probe rank by exact (d2, cell); cosine in micro units
    "q61_ann_ivf" ->
      s"""WITH $quantCte,
         $ivfAssignCte,
         probes AS (SELECT vec_id AS q_id, cell FROM (
                      SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
                      FROM scored WHERE vec_id < 5) WHERE rn <= 2),
         qdots AS (SELECT cp.q_id, cp.vec_id, SUM(fq.v * fc.v) AS dot FROM (
                     SELECT p.q_id, a.vec_id FROM probes p
                     JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.q_id) cp
                   JOIN flat fq ON fq.vec_id = cp.q_id
                   JOIN flat fc ON fc.vec_id = cp.vec_id AND fc.i = fq.i
                   GROUP BY 1, 2),
         sims AS (SELECT q_id, d.vec_id,
                    CAST(round(CAST(dot AS DOUBLE) /
                      (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
                      * 1000000) AS BIGINT) AS sim_micro
                  FROM qdots d JOIN norms nq ON nq.vec_id = d.q_id
                    JOIN norms nc ON nc.vec_id = d.vec_id)
         SELECT q_id, rnk, vec_id, sim_micro FROM (
           SELECT q_id, vec_id, sim_micro,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY sim_micro DESC, vec_id) AS BIGINT) AS rnk
           FROM sims)
         WHERE rnk <= 5 ORDER BY q_id, rnk""",
    // q61's replay with the label-equality constraint applied at
    // candidate generation (pre-filter), exactly where the Spark side
    // puts it in the join key
    "q130_ann_filtered" ->
      s"""WITH $quantCte,
         $ivfAssignCte,
         probes AS (SELECT vec_id AS q_id, cell FROM (
                      SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
                      FROM scored WHERE vec_id < 5) WHERE rn <= 2),
         lab AS (SELECT vec_id, label FROM embeddings),
         qdots AS (SELECT cp.q_id, cp.vec_id, SUM(fq.v * fc.v) AS dot FROM (
                     SELECT p.q_id, a.vec_id FROM probes p
                     JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.q_id
                     JOIN lab lq ON lq.vec_id = p.q_id
                     JOIN lab lc ON lc.vec_id = a.vec_id AND lc.label = lq.label) cp
                   JOIN flat fq ON fq.vec_id = cp.q_id
                   JOIN flat fc ON fc.vec_id = cp.vec_id AND fc.i = fq.i
                   GROUP BY 1, 2),
         sims AS (SELECT q_id, d.vec_id,
                    CAST(round(CAST(dot AS DOUBLE) /
                      (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
                      * 1000000) AS BIGINT) AS sim_micro
                  FROM qdots d JOIN norms nq ON nq.vec_id = d.q_id
                    JOIN norms nc ON nc.vec_id = d.vec_id)
         SELECT q_id, rnk, vec_id, sim_micro FROM (
           SELECT q_id, vec_id, sim_micro,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY sim_micro DESC, vec_id) AS BIGINT) AS rnk
           FROM sims)
         WHERE rnk <= 5 ORDER BY q_id, rnk""",
    // q61's chain at nProbe=1 (approx) + q48's chain (exact ground
    // truth), intersected per query — the recall evaluation replayed
    "q138_ann_recall" ->
      s"""WITH $quantCte,
         $ivfAssignCte,
         probes AS (SELECT vec_id AS q_id, cell FROM (
                      SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
                      FROM scored WHERE vec_id < 5) WHERE rn <= 1),
         qdots AS (SELECT cp.q_id, cp.vec_id, SUM(fq.v * fc.v) AS dot FROM (
                     SELECT p.q_id, a.vec_id FROM probes p
                     JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.q_id) cp
                   JOIN flat fq ON fq.vec_id = cp.q_id
                   JOIN flat fc ON fc.vec_id = cp.vec_id AND fc.i = fq.i
                   GROUP BY 1, 2),
         isims AS (SELECT q_id, d.vec_id,
                    CAST(round(CAST(dot AS DOUBLE) /
                      (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
                      * 1000000) AS BIGINT) AS sim_micro
                  FROM qdots d JOIN norms nq ON nq.vec_id = d.q_id
                    JOIN norms nc ON nc.vec_id = d.vec_id),
         approx AS (SELECT q_id, vec_id FROM (
                     SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY sim_micro DESC, vec_id) AS rnk
                     FROM isims) WHERE rnk <= 5),
         bdots AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, SUM(q.v * c.v) AS dot
                   FROM flat q JOIN flat c ON q.i = c.i
                     AND q.vec_id < 5 AND c.vec_id <> q.vec_id
                   GROUP BY 1, 2),
         bsims AS (SELECT q_id, d.vec_id,
                    CAST(round(CAST(dot AS DOUBLE) /
                      (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
                      * 1000000) AS BIGINT) AS sim_micro
                  FROM bdots d JOIN norms nq ON nq.vec_id = d.q_id
                    JOIN norms nc ON nc.vec_id = d.vec_id),
         exact AS (SELECT q_id, vec_id FROM (
                    SELECT q_id, vec_id,
                      ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY sim_micro DESC, vec_id) AS rnk
                    FROM bsims) WHERE rnk <= 5)
         SELECT q_id, n_exact, n_hits,
           CAST(n_hits * 1000 // 5 AS BIGINT) AS recall_milli FROM (
           SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
             CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits
           FROM exact e LEFT JOIN approx a
             ON a.q_id = e.q_id AND a.vec_id = e.vec_id
           GROUP BY 1)
         ORDER BY q_id""",

    // the whole NN-Descent build (init buckets + 2 rounds) and 2-hop
    // beam search unrolled as CTEs — rendered by the op itself so the
    // oracle cannot drift from the Scala recurrence; every CTE pinned
    // MATERIALIZED (the graph/flat/norms nodes are multiply
    // referenced and DuckDB's inlining re-derives them per reference)
    "q171_graph_ann" -> graft.ops.GraphAnn.materializeCtes(
      s"""WITH $quantCte,
         ${graft.ops.GraphAnn.buildSql(k = 4, initBuckets = 32, iterations = 2)},
         ${graft.ops.GraphAnn.searchSql(graph = "g2", querySel = "vec_id < 5",
            k = 5, beam = 8, hops = 2, entryStride = 50)}"""),

    // q61's router chain (nProbe=1, 8-wide shortlist) as the seeds
    // CTE, then the graph walk — the full two-layer recurrence
    // (MATERIALIZED pin: 1120s -> 2s measured at sf0.01)
    "q172_graph_ann_routed" -> graft.ops.GraphAnn.materializeCtes(
      s"""WITH $quantCte,
         $ivfAssignCte,
         probes AS (SELECT vec_id AS q_id, cell FROM (
                      SELECT vec_id, cell,
                        ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
                      FROM scored WHERE vec_id < 5) WHERE rn <= 1),
         rqdots AS (SELECT cp.q_id, cp.vec_id, SUM(fq.v * fc.v) AS dot FROM (
                      SELECT p.q_id, a.vec_id FROM probes p
                      JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.q_id) cp
                    JOIN flat fq ON fq.vec_id = cp.q_id
                    JOIN flat fc ON fc.vec_id = cp.vec_id AND fc.i = fq.i
                    GROUP BY 1, 2),
         rqsims AS (SELECT q_id, d.vec_id,
                      CAST(round(CAST(dot AS DOUBLE) /
                        (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
                        * 1000000) AS BIGINT) AS sim_micro
                    FROM rqdots d JOIN norms nq ON nq.vec_id = d.q_id
                      JOIN norms nc ON nc.vec_id = d.vec_id),
         seeds AS (SELECT q_id, vec_id AS node FROM (
                     SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY sim_micro DESC, vec_id) AS rnk
                     FROM rqsims) WHERE rnk <= 8),
         ${graft.ops.GraphAnn.buildSql(k = 4, initBuckets = 32, iterations = 2)},
         ${graft.ops.GraphAnn.searchSqlSeeded(graph = "g2", seedsCte = "seeds",
            k = 5, beam = 8, hops = 2)}"""),

    "q48_ann_bruteforce" ->
      s"""WITH $quantCte,
         dots AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, SUM(q.v * c.v) AS dot
                  FROM flat q JOIN flat c ON q.i = c.i
                    AND q.vec_id < 5 AND c.vec_id <> q.vec_id
                  GROUP BY 1, 2),
         sims AS (SELECT q_id, d.vec_id,
                    CAST(round(CAST(dot AS DOUBLE) /
                      (sqrt(CAST(nq.nn AS DOUBLE)) * sqrt(CAST(nc.nn AS DOUBLE)))
                      * 1000000) AS BIGINT) AS sim_micro
                  FROM dots d JOIN norms nq ON nq.vec_id = d.q_id
                    JOIN norms nc ON nc.vec_id = d.vec_id)
         SELECT q_id, rnk, vec_id, sim_micro FROM (
           SELECT q_id, vec_id, sim_micro,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY sim_micro DESC, vec_id) AS BIGINT) AS rnk
           FROM sims)
         WHERE rnk <= 5 ORDER BY q_id, rnk""",
    "q49_ann_lsh" ->
      s"""WITH $quantCte,
         planes AS (SELECT p, d,
                      ('0x' || substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 4))::BIGINT
                        - 32768 AS wt
                    FROM (SELECT unnest(range(0, 6)) AS p),
                         (SELECT unnest(range(0, 64)) AS d)),
         dots AS (SELECT f.vec_id, pl.p, SUM(f.v * pl.wt) AS dp
                  FROM flat f JOIN planes pl ON pl.d = f.i - 1
                  GROUP BY 1, 2),
         bucket AS (SELECT vec_id,
                      CAST(SUM(CASE WHEN dp > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS b
                    FROM dots GROUP BY 1)
         SELECT q.vec_id AS q_id, c.vec_id AS vec_id
         FROM bucket q JOIN bucket c ON q.b = c.b
           AND q.vec_id < 5 AND c.vec_id <> q.vec_id
         ORDER BY q_id, vec_id""",
    "q76_embed_neardup_lsh" ->
      s"""WITH $quantCte,
         planes AS (SELECT p, d,
                      ('0x' || substr(md5(p::VARCHAR || '_' || d::VARCHAR), 1, 4))::BIGINT
                        - 32768 AS wt
                    FROM (SELECT unnest(range(0, 6)) AS p),
                         (SELECT unnest(range(0, 64)) AS d)),
         pdots AS (SELECT f.vec_id, pl.p, SUM(f.v * pl.wt) AS dp
                   FROM flat f JOIN planes pl ON pl.d = f.i - 1
                   GROUP BY 1, 2),
         bucket AS (SELECT vec_id,
                      CAST(SUM(CASE WHEN dp > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS b
                    FROM pdots GROUP BY 1),
         cand AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b
                  FROM bucket a JOIN bucket b2 ON a.b = b2.b AND a.vec_id < b2.vec_id),
         dots AS (SELECT c.id_a, c.id_b, SUM(fa.v * fb.v) AS dot
                  FROM cand c JOIN flat fa ON fa.vec_id = c.id_a
                    JOIN flat fb ON fb.vec_id = c.id_b AND fb.i = fa.i
                  GROUP BY 1, 2),
         sims AS (SELECT id_a, id_b,
                    CAST(round(CAST(dot AS DOUBLE) /
                      (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
                      * 1000000) AS BIGINT) AS sim_micro
                  FROM dots JOIN norms na ON na.vec_id = id_a
                    JOIN norms nb ON nb.vec_id = id_b)
         SELECT id_a, id_b, sim_micro FROM sims
         WHERE sim_micro >= 300000 ORDER BY id_a, id_b""",
    // same IVF replay as q61 up to `assigned`, then within-cell pairs
    // (cand < target), exact micro-cosine (list_dot_product over
    // micro-quantized bigints stays exact: |dot| <= 64 * 1e12 << 2^53),
    // one-hop min keeper
    "q93_semantic_dedup" ->
      s"""WITH $quantCte,
         $ivfAssignCte,
         cand AS (SELECT a.vec_id AS vec_id, b.vec_id AS cand_id
                  FROM assigned a JOIN assigned b
                    ON b.cell = a.cell AND b.vec_id < a.vec_id),
         sims AS (SELECT c.vec_id, c.cand_id,
                    CAST(round(CAST(list_dot_product(ea.ei, eb.ei) AS DOUBLE) /
                      (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
                      * 1000000) AS BIGINT) AS sim_micro
                  FROM cand c
                    JOIN e ea ON ea.vec_id = c.vec_id
                    JOIN e eb ON eb.vec_id = c.cand_id
                    JOIN norms na ON na.vec_id = c.vec_id
                    JOIN norms nb ON nb.vec_id = c.cand_id)
         SELECT vec_id, MIN(cand_id) AS keeper_id
         FROM sims WHERE sim_micro >= 300000
         GROUP BY vec_id ORDER BY vec_id""",
    // same IVF replay up to `assigned`, then the q95 priority-rank
    // idiom per cell
    "q99_diversity_sample" ->
      s"""WITH $quantCte,
         $ivfAssignCte,
         p AS (SELECT CAST(cell AS BIGINT) AS cell, vec_id,
                 ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS pri
               FROM assigned),
         r AS (SELECT cell, vec_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY cell ORDER BY pri, vec_id) AS BIGINT) AS rn
               FROM p)
         SELECT cell, rn, vec_id FROM r WHERE rn <= 16 ORDER BY cell, rn""",
    "q79_label_centroids" ->
      """WITH e AS (SELECT vec_id, label,
           list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ei
           FROM embeddings),
         flat AS (SELECT label, generate_subscripts(ei, 1) - 1 AS dim, unnest(ei) AS v FROM e)
         SELECT label, CAST(dim AS INTEGER) AS dim, COUNT(*) AS n,
           CAST(SUM(v) AS BIGINT) AS sum_micro,
           CAST(SUM(v) AS DOUBLE) / COUNT(*) / 1000000.0 AS centroid
         FROM flat GROUP BY label, dim ORDER BY label, dim""",
    "q50_embed_neardup" ->
      """WITH e AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ei
           FROM embeddings WHERE vec_id % 10 = 0),
         flat AS (SELECT vec_id, generate_subscripts(ei, 1) AS i, unnest(ei) AS v FROM e),
         norms AS (SELECT vec_id, SUM(v*v) AS nn FROM flat GROUP BY 1),
         dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, SUM(a.v * b.v) AS dot
                  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
                  GROUP BY 1, 2),
         sims AS (SELECT id_a, id_b,
                    CAST(round(CAST(dot AS DOUBLE) /
                      (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
                      * 1000000) AS BIGINT) AS sim_micro
                  FROM dots JOIN norms na ON na.vec_id = id_a
                    JOIN norms nb ON nb.vec_id = id_b)
         SELECT id_a, id_b, sim_micro FROM sims
         WHERE sim_micro >= 300000 ORDER BY id_a, id_b""")
}
