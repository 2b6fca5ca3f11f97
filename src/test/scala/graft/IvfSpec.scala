package graft

import graft.ops.{Ivf, Similarity}
import org.apache.spark.sql.functions._

class IvfSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic clustered corpus: 4 well-separated direction clusters
    * in 8 dims, 50 vectors each + small deterministic jitter.
    */
  private def clustered = {
    val base = Seq(
      Array(10f, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 10f, 0f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 10f, 0f, 0f, 0f, 0f, 0f),
      Array(0f, 0f, 0f, 10f, 0f, 0f, 0f, 0f))
    val rows = for {
      c <- 0 until 4
      i <- 0 until 50
    } yield {
      val v = base(c).clone()
      // deterministic jitter from (c, i)
      (0 until 8).foreach { d =>
        v(d) = v(d) + (((c * 1315423911L + i * 2654435761L + d * 97L) % 100) / 100.0f)
      }
      ((c * 50 + i).toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("k-means fit is deterministic and separates the clusters") {
    // far-point init plus Lloyd steps, all in exact integer arithmetic
    def fit() = (0 until 3).foldLeft(
      Ivf.fitQuantized(clustered, "vec_id", nLists = 4))(
      (m, _) => Ivf.lloydStepQuantized(clustered, m))
    val m1 = fit()
    val m2 = fit()
    assert(m1 == m2)

    val assigned = Ivf.assignQuantized(clustered, m1)
    // assignment is a pure map over broadcast centroid literals — the
    // plan must contain no exchange at all
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assign must not shuffle:\n$plan")
    // every true cluster maps to exactly one cell
    val purity = assigned
      .withColumn("true_c", (col("vec_id") / 50).cast("int"))
      .groupBy("true_c").agg(countDistinct("cell").as("cells"))
      .agg(max("cells")).head().getLong(0)
    assert(purity == 1L)
  }

  test("IVF search recall@5 is 1.0 on clustered data with nProbe=1") {
    val corpus = clustered
    val queries = corpus.where($"vec_id" % 50 === 0) // one per cluster
    val model = Ivf.fitQuantized(corpus, "vec_id", nLists = 4)

    val ivf = Ivf.searchQuantized(corpus, queries, "vec_id", model, k = 5,
        nProbe = 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    // ground truth from the float-cosine reference scan
    val brute = Similarity.bruteForceTopKNative(corpus, queries, "vec_id", k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall == 1.0, s"recall $recall")
  }

  test("quantized filtered probe: matchCols parity with per-label slices") {
    // matchCols equality (the q130 oracle path) equals running the
    // unfiltered quantized probe against each label's corpus slice
    // with that label's queries
    val corpus = clustered.withColumn("label", (col("vec_id") % 3).cast("int"))
    val queries = corpus.where($"vec_id" % 50 === 0)
    val qm = Ivf.fitQuantized(corpus, "vec_id", nLists = 4)
    val got = Ivf.searchQuantizedFiltered(corpus, queries, "vec_id", qm,
        k = 5, nProbe = 2, matchCols = Seq("label"))
      .orderBy("q_id", "rnk").collect().toSeq
    val wantQ = (0 until 3).flatMap { l =>
      Ivf.searchQuantized(corpus.where($"label" === l),
          queries.where($"label" === l), "vec_id", qm, k = 5, nProbe = 2)
        .collect().toSeq
    }.sortBy(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && got == wantQ)
    // the match key rides the join: every hit carries its query's label
    val labels = corpus.select("vec_id", "label").as[(Long, Int)].collect().toMap
    got.foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(2)), s"cross-label hit $r")
    }
  }
}
