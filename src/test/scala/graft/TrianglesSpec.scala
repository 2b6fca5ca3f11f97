package graft

import graft.ops.Triangles
import org.apache.spark.sql.functions._

/** Triangles: degree-ordered orientation vs a driver-side brute force
  * (every node triple), on hand-built and seeded random graphs; input
  * canonicalization (direction, duplicates, loops) must not change
  * counts.
  */
class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def perNode(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Triangles.perNode(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val counts = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if und((a, b)) && und((a, c)) && und((b, c))
    } { counts(a) += 1; counts(b) += 1; counts(c) += 1 }
    counts.toMap
  }

  test("K4 plus a pendant path: known counts") {
    // K4 on 1..4 (4 triangles, 3 per node); 5-6-7 path adds none
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val edges = k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val got = perNode(edges)
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("canonicalization: loops, duplicates and reversed edges collapse") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (1L, 1L), (3L, 3L))
    assert(perNode(messy) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("matches brute force on seeded random graphs, including skewed degrees") {
    val rnd = new scala.util.Random(42)
    // uniform sparse graph
    val uni = (1 to 150).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    assert(perNode(uni) == brute(uni))
    // hub-heavy graph: node 0 connects to everyone (celebrity skew —
    // the case degree orientation exists for)
    val hub = (1L to 25L).map(n => (0L, n)) ++
      (1 to 80).map(_ => (1L + rnd.nextInt(25).toLong, 1L + rnd.nextInt(25).toLong))
    assert(perNode(hub) == brute(hub))
  }

  test("triangle-free graph returns empty") {
    val bipartite = for { a <- 1L to 4L; b <- 11L to 14L } yield (a, b)
    assert(perNode(bipartite).isEmpty)
  }
}
