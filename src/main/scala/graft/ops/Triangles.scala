package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting over an undirected simple graph —
  * the standard cohesion/clustering primitive (spam-graph analysis,
  * community strength, clustering coefficients).
  *
  * Algorithm: degree-ordered edge orientation (Schank-Wagner /
  * Suri-Vassilvitskii "MR node-iterator++"). Every edge is oriented
  * from its lower endpoint to its higher endpoint under the total
  * order (degree, node id); a triangle {x,y,z} with x < y < z in that
  * order is then found EXACTLY once, as the wedge x->y, x->z closed
  * by the edge y->z. The orientation is the scale lever: out-degree
  * under degree ordering is O(sqrt(m)), so the wedge join materializes
  * at most m^{3/2} rows regardless of how skewed the raw degree
  * distribution is — a celebrity node with 10^7 neighbors generates
  * no wedges at all from its own adjacency (all its edges point IN).
  * Every step is an equi-join or aggregation on node keys: plain
  * shuffles, no CartesianProduct, AQE-compatible.
  *
  * Results are exact (not sampled) and deterministic.
  */
object Triangles {

  /** Canonical undirected simple edges (lo < hi, loops dropped,
    * duplicates collapsed) from any directed/multi edge list.
    */
  def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .where(col(srcCol) =!= col(dstCol))
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()

  /** Per-node triangle participation counts: (node, n_triangles),
    * nodes in no triangle omitted. Input may be directed / have
    * duplicates or loops — it is canonicalized first.
    */
  def perNode(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val canon = canonical(edges, srcCol, dstCol)
    val deg = canon.select(col("u").as("node"))
      .unionAll(canon.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by k = (deg, node): lo -> hi with k(lo) < k(hi); carry
    // k(hi) so the wedge join can order the two far endpoints
    // the degree attach joins stay SORT-MERGE deliberately (r16 A/B:
    // hinting them shuffle_hash measured ~+1.5 s — the 3x-duplicated
    // orientation subtree is deduped by AQE ReuseExchange, and the
    // hash builds disturb that reuse for no bounded-side win here)
    val oriented = canon
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("id"), col("du").as("d")))
          .otherwise(struct(col("v").as("id"), col("dv").as("d"))).as("lo"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("v").as("id"), col("dv").as("d")))
          .otherwise(struct(col("u").as("id"), col("du").as("d"))).as("hi"))
      .select(col("lo.id").as("lo"), col("hi.id").as("hi"),
        struct(col("hi.d"), col("hi.id")).as("khi"))
    // wedges from a common (oriented) source, far endpoints ordered.
    // SHUFFLE_HASH, not sort-merge (r16, measured -1.7 s at sf0.1 and
    // plan-verified): the wedge join's output is the m^1.5 envelope —
    // sort-merge SORTS both oriented copies and the per-`lo` adjacency
    // lists are O(sqrt m) by the degree orientation, so a per-
    // partition hash build is strictly cheaper than two sorts; the
    // same holds for closing the wedge against the edge list. (The
    // global preferSortMergeJoin=false flip measured 0.85x across the
    // registry — this is the one operator where the hash side is
    // provably bounded, so it is hinted here, not configured.)
    val wedges = oriented.as("e1")
      .join(oriented.as("e2").hint("shuffle_hash"),
        col("e1.lo") === col("e2.lo") && col("e1.khi") < col("e2.khi"))
      .select(col("e1.lo").as("x"), col("e1.hi").as("y"), col("e2.hi").as("z"))
    // close the wedge: the y-z edge, if present, is oriented y -> z
    // because k(y) < k(z) by construction
    val triangles = wedges.join(oriented.select(col("lo").as("y"),
        col("hi").as("z")).hint("shuffle_hash"), Seq("y", "z"))
    triangles
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }
}
