package graft

import graft.ops.{Pq, Similarity}
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {
  import spark.implicits._

  /** 4 separated direction clusters in 8 dims (IvfSpec's fixture). */
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
      (0 until 8).foreach { d =>
        v(d) = v(d) + (((c * 1315423911L + i * 2654435761L + d * 97L) % 100) / 100.0f)
      }
      ((c * 50 + i).toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  /** The OPQ permutation [[graft.ops.IvfPq.fit]] records in its model. */
  private def opqPerm(d: org.apache.spark.sql.DataFrame, m: Int): Seq[Int] =
    graft.ops.IvfPq.fit(d, "vec_id", nLists = 1, m = m, k = 1, opq = true)
      .perm.get

  test("fit is deterministic; encode is argmin-exact and shuffle-free") {
    val m1 = Pq.fitQuantized(clustered, "vec_id", m = 4, k = 4)
    val m2 = Pq.fitQuantized(clustered, "vec_id", m = 4, k = 4)
    assert(m1 == m2)
    assert(m1.m == 4 && m1.width == 2 && m1.centroids.forall(_.length == 4))

    val enc = Pq.encodeQuantized(clustered, m1)
    // encoding is a pure map over broadcast codebook literals
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode must not shuffle:\n$plan")

    // every code is the true argmin (exact integer d2, tie -> lowest
    // code), replayed in plain Scala
    val rows = enc.select(col("vec_id"), col("ei"), col("codes"))
      .as[(Long, Seq[Long], Seq[Int])].collect()
    def d2(x: Seq[Long], c: Seq[Long]): Long =
      x.lazyZip(c).map((a, b) => (a - b) * (a - b)).sum
    rows.foreach { case (id, ei, codes) =>
      (0 until 4).foreach { s =>
        val sv = ei.slice(s * 2, s * 2 + 2)
        val best = m1.centroids(s).minBy { case (code, cvec) => (d2(sv, cvec), code) }
        assert(codes(s) == best._1, s"vec $id subspace $s")
      }
    }
  }

  test("ADC search: cluster-true shortlist; refined search matches exact L2") {
    val corpus = clustered
    val queries = corpus.where($"vec_id" % 50 === 0)
    val model = Pq.fitQuantized(corpus, "vec_id", m = 4, k = 4)

    // ground truth: exact integer L2 over the quantized vectors (what
    // ADC approximates — NOT cosine)
    val vecs = Similarity.withQuantized(corpus, "embedding")
      .select(col("vec_id"), col("ei")).as[(Long, Seq[Long])].collect().toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum
    def exactTopK(q: Long, k: Int): Seq[Long] =
      vecs.collect { case (id, v) if id != q => (d2(vecs(q), v), id) }
        .toSeq.sorted.take(k).map(_._2)

    // ADC shortlist + exact re-rank (the IVF-PQ deployment shape):
    // recall@10 vs exact L2 must be essentially perfect
    val refined = Pq.searchAdcRefinedQuantized(corpus, queries, "vec_id",
      model, topK = 10, refine = 4)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // the ADC shortlist never leaves the query's cluster on separated
    // data, so neither does its re-ranked head
    assert(refined.forall { case (q, ids) => ids.forall(_ / 50 == q / 50) },
      "ADC must never leave the query's cluster on separated data")
    val hits = refined.map { case (q, ids) => (ids & exactTopK(q, 10).toSet).size }.sum
    assert(hits.toDouble / (10 * refined.size) >= 0.9,
      s"refined recall ${hits.toDouble / (10 * refined.size)}")

    // determinism: a rerun is byte-identical (exact integer ADC)
    def run() = Pq.searchAdcRefinedQuantized(corpus, queries, "vec_id",
      model, topK = 10, refine = 4).orderBy("q_id", "rnk").collect().toSeq
    assert(run() == run())
  }

  test("native encode expression matches the HOF reference bit-for-bit") {
    val model = Pq.fitQuantized(clustered, "vec_id", m = 4, k = 4)
    val q = Similarity.withQuantized(clustered, "embedding")
    val both = q.select(col("vec_id"),
      Pq.codesColumn(col("ei"), model).as("native"),
      Pq.codesColumnHof(col("ei"), model).as("hof"))
      .as[(Long, Seq[Int], Seq[Int])].collect()
    assert(both.length == 200)
    both.foreach { case (id, n, h) => assert(n == h, s"vec $id") }
    // a short vector zero-pads instead of throwing (argmin unchanged
    // up to the shared |x|^2 constant -- scaladoc contract)
    val short = Seq((1L, Seq(1000000L, 2000000L))).toDF("vec_id", "ei")
      .select(Pq.codesColumn(col("ei"), model)).head().getSeq[Int](0)
    assert(short.length == 4 && short.forall(c => c >= 0 && c < 4))
  }

  test("native ADC distance matches the HOF chain, nulls included") {
    val model = Pq.fitQuantized(clustered, "vec_id", m = 4, k = 4)
    val codes = Pq.encodeQuantized(clustered, model)
      .select(col("vec_id"), col("codes"))
    val lut = Similarity.withQuantized(
        clustered.where($"vec_id" % 50 === 0), "embedding")
      .withColumn("lut", Pq.lutColumn(col("ei"), model))
      .select(col("vec_id").as("q_id"), col("lut"))
    val both = codes.crossJoin(lut)
      .select(col("vec_id"), col("q_id"),
        Pq.adcDistance(col("codes"), col("lut")).as("native"),
        Pq.adcDistanceHof(col("codes"), col("lut")).as("hof"))
      .as[(Long, Long, Long, Long)].collect()
    assert(both.length == 800)
    both.foreach { case (id, q, n, h) => assert(n == h, s"($q,$id)") }
    // the HOF's null-producing shapes: length mismatch and an
    // out-of-range code are NULL, not a wrong number
    val bad = Seq(
      (Seq(0, 1), Seq(Seq(10L, 20L))), // codes longer than lut
      (Seq(9), Seq(Seq(10L, 20L)))) // code past the lut row
      .toDF("codes", "lut")
      .select(Pq.adcDistance(col("codes"), col("lut"))).collect()
    assert(bad.forall(_.isNullAt(0)))
  }

  test("native quantize matches the HOF round chain, half-up edges included") {
    // fixture parity over the whole clustered corpus
    val both = clustered.select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("native"),
      Similarity.quantizeHof(col("embedding")).as("hof"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    assert(both.length == 200)
    both.foreach { case (id, n, h) => assert(n == h, s"vec $id") }

    // edge values: near-half points (representation decides the side —
    // parity is the contract), exact integers, negatives, subnormals.
    // Non-finite values are OUT of contract: under ANSI the HOF's
    // long cast throws on NaN/Inf, so they never reached a quantized
    // column anyway (embeddings are finite by contract)
    val edges = Seq((1L, Array(1.5e-6f, -1.5e-6f, 2.5e-6f, -2.5e-6f,
      0.0f, 1.0f, -1.0f, 4.9999997e-7f, Float.MinPositiveValue,
      -Float.MinPositiveValue, 1.0e12f, -1.0e12f)))
      .toDF("vec_id", "embedding")
    val pair = edges.select(
      Similarity.quantize(col("embedding")).as("native"),
      Similarity.quantizeHof(col("embedding")).as("hof"))
      .as[(Seq[Long], Seq[Long])].head()
    assert(pair._1 == pair._2, s"native ${pair._1} vs hof ${pair._2}")
  }

  test("codes compress the index payload: m small ints per vector") {
    val model = Pq.fitQuantized(clustered, "vec_id", m = 4, k = 4)
    val enc = Pq.encodeQuantized(clustered, model)
      .select("vec_id", "codes")
    val codes = enc.as[(Long, Seq[Int])].collect()
    assert(codes.length == 200)
    assert(codes.forall(_._2.length == 4))
    assert(codes.forall(_._2.forall(c => c >= 0 && c < 4)))
    // the codebook really is used: more than one code word occurs
    assert(codes.map(_._2).distinct.length > 1)
  }

  test("OPQ permutation: balanced energy allocation, hand-checked") {
    // one row (10, 9, 1, 1): energies 1e14, 0.81e14, 1e12, 1e12.
    // greedy (E desc, d asc) into 2 bins of 2: d0->bin0, d1->bin1
    // (lighter), d2->bin1 (0.81e14 < 1e14), d3->bin0.
    val d = Seq((0L, Array(10f, 9f, 1f, 1f))).toDF("vec_id", "embedding")
    assert(opqPerm(d, m = 2) == Seq(0, 3, 1, 2))
    // the natural contiguous split would stack 1.81e14 against 2e12;
    // the allocation balances to 1.01e14 vs 0.82e14 — that's the point
  }

  test("OPQ permutation is a valid perm and leaves exact search invariant") {
    val d = clustered
    val perm = opqPerm(d, m = 4)
    assert(perm.sorted == (0 until 8), s"not a permutation: $perm")
    val dp = d.withColumn("embedding",
      array(perm.map(i => element_at(col("embedding"), i + 1)): _*))
    // permutation commutes with quantization and L2/cosine: the
    // brute-force top-k over permuted embeddings is bit-identical —
    // the invariance that makes the OPQ frontier rows comparable
    // against the shared ground truth
    def top(df: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(df, df.where(col("vec_id") < 3), "vec_id",
          k = 5)
        .orderBy("q_id", "rnk").collect().toSeq
    assert(top(dp) == top(d))
  }
}
