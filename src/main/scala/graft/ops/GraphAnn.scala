package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Graph-based approximate nearest neighbor: a k-NN graph built by
  * NN-Descent (Dong et al., WWW'11) and searched by iterative beam
  * expansion — the small-world-family index shape (HNSW's production
  * niche) re-expressed as joins and bounded aggregations instead of
  * sequential inserts.
  *
  * Why this shape on Spark: HNSW's insert loop is inherently
  * sequential (every insert greedy-searches the graph built so far),
  * which distributes poorly. NN-Descent reaches the same kind of
  * navigable k-NN graph through a fixpoint that IS join-shaped:
  * "a neighbor of my neighbor is probably my neighbor" — each round
  * joins the (undirected) edge list with itself on the shared
  * endpoint, scores the new candidate pairs, and keeps each node's
  * top-k. Every round is one self-join + two embedding lookups + one
  * bounded top-k aggregation ([[graft.functions.TopKAgg]] — at most k
  * rows per node cross the shuffle), and the candidate volume is
  * bounded by sum of degree^2 <= 4k^2 per node per round.
  *
  * Search is beam expansion over the materialized graph: start from a
  * deterministic entry set, repeatedly expand the per-query top-`beam`
  * pool nodes through the undirected adjacency, score only UNSEEN
  * candidates (anti-join against the pool), fold them in. `hops`
  * rounds of one equi-join + one window each; per query the pool
  * grows by <= beam*k rows per hop, so a million-query batch stays a
  * narrow frame. At 100 TB the adjacency shuffles ONCE per hop against
  * a frontier of Q*beam rows.
  *
  * Exactness/determinism contract (the q171 oracle): all similarity
  * math is exact-integer micro-cosine over quantized embeddings
  * ([[Similarity]]); init buckets and entry points come from the
  * md5-derived id hash (cross-engine, no RNG); every top-k uses the
  * total order (sim desc, id asc). The whole build+search recurrence
  * is rendered as DuckDB SQL by [[buildSql]]/[[searchSql]] — same
  * CTE-unroll discipline as [[LabelPropagation.recurrenceSql]].
  *
  * Approximation is ONLY in which pairs get scored, never in a score:
  * recall is governed by (k, iterations) at build and (beam, hops,
  * seed quality) at search; `AnnEval.recallAtK` measures it (the x20
  * scale run's frontier rows put this family on the same
  * recall/latency axes as IVF / IVF-PQ).
  *
  * ==FAMILY SCOPE: EXPERIMENTAL (measured verdict, round 10)==
  * On cluster-structured corpora — the shape web-scale embedding
  * corpora actually have — this family is DOMINATED by the IVF
  * family at every measured operating point, and the round-10
  * build-quality sweep (the x20 scale run's `sweep16_*` rows)
  * shows more build quality cannot fix it: k=8/it=2 and k=16/it=2
  * builds lift router-seeded recall only to 0.23/0.27 against their
  * own nProbe=1 router's 0.24, while plain IVF nProbe=16 reads 0.80
  * at a tenth of the probe latency and ~zero build cost (the k=16
  * build on 1/16 of the corpus already costs 1.5x the IVF build on
  * the FULL corpus; NN-Descent candidate volume scales as (2k)^2·n).
  * The mechanism is structural, not a tuning gap: a CONVERGED kNN
  * graph over a many-cluster corpus is cluster-pure (every node's
  * top-k is intra-cluster), so the beam walk can never leave the
  * clusters its seeds landed in — recall is ceilinged by router
  * coverage, and the walk only re-ranks what IVF's exact distances
  * already rank exactly. Use
  * [[Ivf]] / [[IvfPq]] (+ refine) for production ANN; reach for this
  * family only on corpora VERIFIED to have small-world connectivity
  * (long-range links a graph can exploit), and measure recall on the
  * `frontier_*` axes before shipping it.
  */
object GraphAnn {

  /** Cross-engine deterministic id hash: first 8 md5 hex chars as a
    * bigint — DuckDB spells it
    * `('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT`.
    */
  private def hash8(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast(LongType)

  /** Salted variant (independent bucketing per round `j`). */
  private def hash8Salted(id: Column, j: Int): Column =
    conv(substring(md5(concat(id.cast("string"), lit(s"#$j"))), 1, 8),
      16, 10).cast(LongType)

  /** Quantized corpus view (id, ei, nn). */
  private def prep(df: DataFrame, idCol: String): DataFrame =
    Similarity.withQuantized(df, "embedding")
      .select(col(idCol).cast(LongType).as("id"), col("ei"), col("nn"))

  private def simMicro(ea: Column, na: Column, eb: Column, nb: Column): Column =
    Similarity.cosineMicro(Similarity.dotLong(ea, eb), na, nb)

  /** Exact micro-cosine for (src, dst) pair rows against the prepped
    * corpus `c`.
    */
  private def scorePairs(pairs: DataFrame, c: DataFrame): DataFrame =
    pairs
      .join(c.select(col("id").as("src"), col("ei").as("es"),
        col("nn").as("ns")), "src")
      .join(c.select(col("id").as("dst"), col("ei").as("ed"),
        col("nn").as("nd")), "dst")
      .select(col("src"), col("dst"),
        simMicro(col("es"), col("ns"), col("ed"), col("nd")).as("sim_micro"))

  /** Keep each src's top-k edges by (sim desc, dst asc) — the
    * mergeable bounded aggregate, <= k rows per node per map partition
    * across the shuffle.
    */
  private def topKEdges(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(graft.functions.TopKAgg(k))
    scored.groupBy("src")
      .agg(topk(col("sim_micro"), col("dst")).as("top"))
      .select(col("src"), explode(col("top")).as("e"))
      .select(col("src"), col("e._2").as("dst"), col("e._1").as("sim_micro"))
  }

  /** Both directions of the edge list, deduplicated. */
  private def undirect(edges: DataFrame): DataFrame =
    edges.select("src", "dst")
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** NN-Descent k-NN graph: (src, dst, sim_micro), out-degree <= k.
    *
    * Init: TWO independently-salted md5 bucketings into `initBuckets`
    * groups each, all pairs within a group scored (the
    * bounded-blocking contract: size groups to a task, ~n/initBuckets
    * rows each), per-node top-k over the union. Two bucketings are
    * load-bearing, not an optimization: with a SINGLE bucketing every
    * initial edge is intra-bucket, so neighbor-of-neighbor candidates
    * never leave the bucket and the refinement is a closed fixpoint
    * (measured: zero improved nodes, ever). A second independent
    * grouping gives each node neighbors in two different random
    * groups, so 2-hop chains cross groups and percolate the whole
    * corpus — the determinism-preserving stand-in for classic
    * NN-Descent's random init.
    *
    * Then `iterations` rounds of neighbor-of-neighbor refinement;
    * each round unions the new scored candidates with the current
    * edges and re-takes top-k, so each node's k-th best similarity is
    * MONOTONICALLY nondecreasing round over round (spec-pinned — the
    * NN-Descent convergence handle).
    */
  def buildGraph(corpus: DataFrame, idCol: String, k: Int,
                 initBuckets: Int, iterations: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1 (got $k)")
    require(initBuckets >= 1, s"initBuckets must be >= 1 (got $initBuckets)")
    require(iterations >= 0 && iterations <= 16,
      s"iterations in [0,16] (got $iterations)")
    val c = prep(corpus, idCol).persist()
    val initPairs = (0 until 2).map { j =>
      val h = c.select(col("id"),
        (hash8Salted(col("id"), j) % initBuckets).as("b"))
      h.select(col("id").as("src"), col("b"))
        .join(h.select(col("id").as("dst"), col("b").as("b2")),
          col("b") === col("b2") && col("src") =!= col("dst"))
        .select("src", "dst")
    }.reduce(_ union _).distinct()
    var edges = topKEdges(scorePairs(initPairs, c), k).persist()
    edges.count()
    (1 to iterations).foreach { _ =>
      val u = undirect(edges)
      // all frames here share `edges`' lineage, so every join uses
      // globally distinct column names — name-based join keys against
      // a self-derived frame can silently resolve to the LEFT side's
      // attributes (making an anti-join drop everything)
      val known = edges.select(col("src").as("ksrc"), col("dst").as("kdst"))
      val cands = u.select(col("src").as("m1"), col("dst").as("u1"))
        .join(u.select(col("src").as("m2"), col("dst").as("u2")),
          col("m1") === col("m2"))
        .where(col("u1") =!= col("u2"))
        .select(col("u1").as("src"), col("u2").as("dst")).distinct()
        .join(known,
          col("src") === col("ksrc") && col("dst") === col("kdst"),
          "left_anti")
      val merged = topKEdges(
        edges.unionByName(scorePairs(cands, c)), k)
        .localCheckpoint() // truncate lineage: O(1) plan depth per round
      edges.unpersist()
      edges = merged
    }
    c.unpersist()
    edges
  }

  /** Beam search with SCATTERED HASH entries — explicit opt-in, NOT
    * the default search mode. Entry set = nodes whose md5 hash is 0
    * mod `entryStride` (~n/entryStride seeds, no driver collect).
    *
    * WARNING (measured): on cluster-structured corpora this mode's
    * recall is ~ZERO — a kNN graph has no long-range links (every
    * node's top-k stays inside its cluster), so a scattered entry set
    * cannot reach clusters it didn't land in
    * (`frontier_graph_recall_milli_stride5000` = 0.000 on the
    * x20 frontier corpus). Use [[searchSeeded]] with a cheap
    * coarse router's shortlist (e.g. an nProbe=1 [[Ivf]] probe) as
    * seeds — the primary API. Stride entries are defensible only on
    * corpora verified to have small-world connectivity.
    *
    * Per query, expand the top-`beam` scored nodes through the
    * undirected adjacency for `hops` rounds, scoring each candidate
    * exactly once (pool = every (q, node) ever scored; expansion
    * anti-joins it). Self-matches (node == q_id) are excluded, like
    * every ANN query in the engine. Output: (q_id, rnk, vec_id,
    * sim_micro), rnk <= k.
    */
  def searchStrideEntries(edges: DataFrame, corpus: DataFrame,
                          queries: DataFrame, idCol: String, k: Int,
                          beam: Int, hops: Int,
                          entryStride: Int): DataFrame = {
    require(entryStride >= 1, s"entryStride must be >= 1 (got $entryStride)")
    val c = prep(corpus, idCol)
    val entries = c.where(hash8(col("id")) % entryStride === 0)
      .select(col("id").as("node"))
    val q = Similarity.withQuantized(queries, "embedding")
      .select(col(idCol).cast(LongType).as("q_id"))
    searchSeeded(edges, corpus, queries, idCol, k, beam, hops,
      q.crossJoin(entries))
  }

  /** THE primary search: beam walk from an explicit per-query seed
    * set (q_id, node) — the composition hook. A kNN graph over a
    * many-cluster corpus has no long-range links (each node's top-k
    * stays inside its cluster), so a scattered hash entry set cannot
    * reach clusters it didn't land in (recall ~0 measured; see
    * [[searchStrideEntries]]'s warning). Seed from a cheap coarse
    * router — e.g. an nProbe=1 IVF probe's shortlist as seeds, graph
    * walk as the refinement stage (the two-layer shape the x20
    * run's `frontier_graph_*` rows price). Self-matches are dropped
    * here, so routers may seed carelessly.
    */
  def searchSeeded(edges: DataFrame, corpus: DataFrame, queries: DataFrame,
                   idCol: String, k: Int, beam: Int, hops: Int,
                   seeds: DataFrame): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 0,
      s"bad params (k=$k beam=$beam hops=$hops)")
    val c = prep(corpus, idCol).persist()
    val q = Similarity.withQuantized(queries, "embedding")
      .select(col(idCol).cast(LongType).as("q_id"), col("ei").as("qe"),
        col("nn").as("qn"))
    def score(cand: DataFrame): DataFrame = // (q_id, node) + sim_micro
      cand.join(c.select(col("id").as("node"), col("ei"), col("nn")), "node")
        .join(broadcast(q), "q_id")
        .select(col("q_id"), col("node"),
          simMicro(col("qe"), col("qn"), col("ei"), col("nn")).as("sim_micro"))
    val adj = undirect(edges).persist()
    var pool = score(
      seeds.select(col("q_id").cast(LongType), col("node").cast(LongType))
        .where(col("node") =!= col("q_id")).distinct()).persist()
    pool.count()
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim_micro").desc, col("node"))
    // best-first bookkeeping: a node expanded once must not re-enter
    // the frontier — expanded nodes dominate the pool's top-beam (they
    // ARE the best found), so without the exclusion the frontier
    // re-picks them, their neighbors are all pool-known, and the walk
    // stalls after ~2 hops (measured: single-seed recall stuck at
    // 0.25-0.5 while multi-entry runs papered over it)
    var expanded = pool.select("q_id", "node").limit(0)
    // the hop-i pool stays referenced by hop-i's UNMATERIALIZED lazy
    // `expanded` checkpoint (below) until hop i+1's eager `next` job
    // runs, so each pool is freed one hop LATE — never under a lazy
    // plan that still needs its (lineage-truncated, non-recomputable)
    // blocks
    var stale: Option[DataFrame] = None
    (1 to hops).foreach { _ =>
      // both anti-joins below hit self-derived frames: distinct
      // column names only (see buildGraph's self-join note)
      val ex = expanded.select(col("q_id").as("eq"), col("node").as("en"))
      val frontier = pool
        .join(ex, col("q_id") === col("eq") && col("node") === col("en"),
          "left_anti")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= beam).select(col("q_id"), col("node"))
      val seen = pool.select(col("q_id").as("sq"), col("node").as("sn"))
      val expand = frontier.select(col("q_id"), col("node").as("src"))
        .join(adj, "src")
        .select(col("q_id"), col("dst").as("node"))
        .where(col("node") =!= col("q_id")).distinct()
        .join(seen,
          col("q_id") === col("sq") && col("node") === col("sn"),
          "left_anti")
        .select("q_id", "node")
      // LAZY checkpoint (r16): expanded's first consumer is the NEXT
      // hop's eager `next` job (its frontier anti-joins this frame),
      // which materializes and caches it there for free — the eager
      // version was one extra job per hop, and the LAST hop's expanded
      // (no consumer) never materializes at all. `next` stays EAGER:
      // the walk's sequential dependency has to materialize somewhere,
      // and the one-hop-late pool release above is keyed to it.
      expanded = expanded.unionByName(frontier).distinct()
        .localCheckpoint(false)
      val next = pool.unionByName(score(expand)).localCheckpoint()
      // this eager checkpoint just materialized LAST hop's expanded
      // (via the frontier), so the pool that expanded was built over
      // is now safe to free
      stale.foreach(_.unpersist())
      stale = Some(pool)
      pool = next
    }
    stale.foreach(_.unpersist())
    val out = pool.withColumn("rnk", row_number().over(w).cast(LongType))
      .where(col("rnk") <= k)
      .select(col("q_id"), col("rnk"), col("node").as("vec_id"),
        col("sim_micro"))
    adj.unpersist(); c.unpersist()
    out
  }

  // ---------------------------------------------------------------
  // DuckDB renderings of the identical recurrences (the q171 oracle).
  // Assume the caller's WITH already provides e(vec_id, ei),
  // flat(vec_id, i, v) [i is 1-based], norms(vec_id, nn) — the shared
  // quantization CTEs every vector oracle uses.
  // ---------------------------------------------------------------

  private val H8 =
    "('0x' || substr(md5(CAST(%s AS VARCHAR)), 1, 8))::BIGINT"

  /** Pin every CTE of a rendered oracle to `AS MATERIALIZED`: the
    * build+walk unroll references the graph / `flat` / `norms` CTEs
    * many times, and DuckDB's default CTE inlining re-derives the
    * whole upstream chain per reference — the q172 two-layer oracle
    * goes 1120s -> 2s under this hint (measured, sf0.01). A hint
    * only: results are bit-identical; apply to the FULL statement
    * (the shared quantization CTEs are the hottest re-derived nodes).
    */
  def materializeCtes(sql: String): String =
    sql.replace(" AS (", " AS MATERIALIZED (")

  /** dots+sims CTE pair over a (src, dst) pair CTE `from`. */
  private def simSql(name: String, from: String): String =
    s"""${name}_d AS (SELECT cp.src, cp.dst, SUM(fa.v * fb.v) AS dot
          FROM $from cp
          JOIN flat fa ON fa.vec_id = cp.src
          JOIN flat fb ON fb.vec_id = cp.dst AND fb.i = fa.i
          GROUP BY 1, 2),
        $name AS (SELECT d.src, d.dst,
            CAST(round(CAST(dot AS DOUBLE) /
              (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE)))
              * 1000000) AS BIGINT) AS sim
          FROM ${name}_d d JOIN norms na ON na.vec_id = d.src
            JOIN norms nb ON nb.vec_id = d.dst)"""

  /** CTEs `g0..g<iterations>`; `g<iterations>` is the final edge list
    * (src, dst, sim).
    */
  def buildSql(k: Int, initBuckets: Int, iterations: Int): String = {
    def h8s(j: Int) =
      s"('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#$j'), 1, 8))::BIGINT"
    val init =
      s"""gh0 AS (SELECT vec_id, ${h8s(0)} % $initBuckets AS b FROM e),
          gh1 AS (SELECT vec_id, ${h8s(1)} % $initBuckets AS b FROM e),
          gip AS (SELECT a.vec_id AS src, c.vec_id AS dst
                 FROM gh0 a JOIN gh0 c ON a.b = c.b AND a.vec_id <> c.vec_id
                 UNION
                 SELECT a.vec_id AS src, c.vec_id AS dst
                 FROM gh1 a JOIN gh1 c ON a.b = c.b AND a.vec_id <> c.vec_id),
          ${simSql("gis0", "gip")},
          g0 AS (SELECT src, dst, sim FROM (
                   SELECT src, dst, sim, ROW_NUMBER() OVER (PARTITION BY src
                     ORDER BY sim DESC, dst) AS rn FROM gis0) WHERE rn <= $k)"""
    val steps = (1 to iterations).map { i =>
      s"""gu$i AS (SELECT src, dst FROM g${i - 1}
                  UNION SELECT dst, src FROM g${i - 1}),
          gc$i AS (SELECT x.dst AS src, y.dst AS dst
                  FROM gu$i x JOIN gu$i y ON x.src = y.src AND x.dst <> y.dst
                  EXCEPT SELECT src, dst FROM g${i - 1}),
          ${simSql(s"gs$i", s"gc$i")},
          g$i AS (SELECT src, dst, sim FROM (
                    SELECT src, dst, sim, ROW_NUMBER() OVER (PARTITION BY src
                      ORDER BY sim DESC, dst) AS rn
                    FROM (SELECT * FROM g${i - 1}
                          UNION ALL SELECT * FROM gs$i)) WHERE rn <= $k)"""
    }
    (init +: steps).mkString(",\n")
  }

  /** Hop CTEs + final SELECT shared by both search renderings; the
    * caller's CTEs must already define `ug` (the undirected graph)
    * and `p0` (the scored seed pool: q_id, node, sim).
    */
  private def hopsSql(k: Int, beam: Int, hops: Int): String = {
    val steps = (1 to hops).map { i =>
      // frontier = top-beam UNEXPANDED pool nodes (fall = everything
      // expanded so far — the best-first exclusion, see searchSeeded)
      val notExpanded =
        if (i == 1) ""
        else s"""WHERE NOT EXISTS (SELECT 1 FROM gfall${i - 1} ff
                   WHERE ff.q_id = p.q_id AND ff.node = p.node)"""
      val fall =
        if (i == 1) s"gfall1 AS (SELECT q_id, node FROM gf1)"
        else s"""gfall$i AS (SELECT q_id, node FROM gfall${i - 1}
                  UNION SELECT q_id, node FROM gf$i)"""
      s"""gf$i AS (SELECT q_id, node FROM (
                   SELECT p.q_id, p.node, ROW_NUMBER() OVER (PARTITION BY p.q_id
                     ORDER BY p.sim DESC, p.node) AS rn FROM gp${i - 1} p
                   $notExpanded)
                 WHERE rn <= $beam),
          $fall,
          gx$i AS (SELECT f.q_id AS src, u.dst
                  FROM gf$i f JOIN gug u ON u.src = f.node
                  WHERE u.dst <> f.q_id
                  EXCEPT SELECT q_id, node FROM gp${i - 1}),
          ${simSql(s"gxs$i", s"gx$i")},
          gp$i AS (SELECT * FROM gp${i - 1} UNION ALL
                  SELECT src AS q_id, dst AS node, sim FROM gxs$i)"""
    }
    val fin =
      s"""SELECT q_id, rnk, vec_id, sim_micro FROM (
            SELECT q_id, node AS vec_id, sim AS sim_micro,
              CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                ORDER BY sim DESC, node) AS BIGINT) AS rnk
            FROM gp$hops) WHERE rnk <= $k ORDER BY q_id, rnk"""
    if (steps.isEmpty) fin else steps.mkString(",\n") + "\n" + fin
  }

  private def ugSql(graph: String): String =
    s"""gug AS (SELECT src, dst FROM $graph
               UNION SELECT dst, src FROM $graph)"""

  /** CTEs + final SELECT for the stride-entry beam search over `g<N>`
    * (pass its name as `graph`); `querySel` filters `e` to the query
    * rows. Output (q_id, rnk, vec_id, sim_micro) ordered by
    * (q_id, rnk).
    */
  def searchSql(graph: String, querySel: String, k: Int, beam: Int,
                hops: Int, entryStride: Int): String = {
    val h8 = H8.format("vec_id")
    val init =
      s"""${ugSql(graph)},
          gent AS (SELECT vec_id FROM e WHERE $h8 % $entryStride = 0),
          gqs AS (SELECT vec_id AS q_id FROM e WHERE $querySel),
          gp0c AS (SELECT DISTINCT q.q_id AS src, gent.vec_id AS dst
                  FROM gqs q, gent WHERE gent.vec_id <> q.q_id),
          ${simSql("gp0s", "gp0c")},
          gp0 AS (SELECT src AS q_id, dst AS node, sim FROM gp0s)"""
    init + (if (hops == 0) "\n" else ",\n") + hopsSql(k, beam, hops)
  }

  /** [[searchSeeded]]'s rendering: the seed pool comes from a
    * caller-provided CTE `seedsCte(q_id, node)` — e.g. the q61-style
    * quantized-IVF probe shortlist, giving the two-layer
    * router+refiner an end-to-end SQL replay.
    */
  def searchSqlSeeded(graph: String, seedsCte: String, k: Int, beam: Int,
                      hops: Int): String = {
    val init =
      s"""${ugSql(graph)},
          gp0c AS (SELECT DISTINCT s.q_id AS src, s.node AS dst
                  FROM $seedsCte s WHERE s.node <> s.q_id),
          ${simSql("gp0s", "gp0c")},
          gp0 AS (SELECT src AS q_id, dst AS node, sim FROM gp0s)"""
    init + (if (hops == 0) "\n" else ",\n") + hopsSql(k, beam, hops)
  }
}
