package graft

import graft.ops.{IvfPq, Pq, Similarity}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

class IvfPqSpec extends SparkSpec {
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

  private def tmpIdx(tag: String): String =
    SparkBridge.tempDir(s"graft_ivfpq_$tag")
      .resolve("idx").toString

  test("index stores codes only; probe prunes cells statically") {
    val corpus = clustered
    val model = IvfPq.fit(corpus, "vec_id", nLists = 4, m = 4, k = 4)
    val path = tmpIdx("schema")
    IvfPq.writeIndex(corpus, "vec_id", model, path)

    // the compression claim, checked at the storage layer: the on-disk
    // schema is (vec_id, codes) + the cell partition column — no
    // embedding, no quantized vector
    val onDisk = spark.read.parquet(path)
    assert(onDisk.columns.sorted.toSeq == Seq("cell", "codes", "vec_id"),
      onDisk.columns.mkString(","))
    val cellDirs = new java.io.File(path)
      .listFiles().filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length == 4, cellDirs.mkString(","))

    // probe must carry a static cell partition filter (pruned read)
    val queries = corpus.where($"vec_id" % 50 === 0)
    val probe = IvfPq.searchIndex(spark, path, corpus, queries, "vec_id",
      model, topK = 5, nProbe = 1)
    val scanLine = probe.queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("PartitionFilters")).mkString("\n")
    assert(scanLine.contains("cell") &&
      (scanLine.contains(" IN ") || scanLine.contains("INSET")),
      s"expected static cell pruning in scan:\n$scanLine")
  }

  test("all-cells probe over the index equals full-corpus ADC-refined search") {
    val corpus = clustered
    val queries = corpus.where($"vec_id" % 50 === 0)
    val model = IvfPq.fit(corpus, "vec_id", nLists = 4, m = 4, k = 4)
    val path = tmpIdx("equiv")
    IvfPq.writeIndex(corpus, "vec_id", model, path)

    // with every cell probed, the index path is the SAME computation
    // as Pq.searchAdcRefinedQuantized over the whole corpus (the codes
    // and LUT are pure functions of the same model) — byte-identical
    val viaIndex = IvfPq.searchIndex(spark, path, corpus, queries, "vec_id",
      model, topK = 5, nProbe = 4, refine = 4)
      .orderBy("q_id", "rnk").collect().toSeq
    val inMemory = Pq.searchAdcRefinedQuantized(corpus, queries, "vec_id",
      model.pq, topK = 5, refine = 4)
      .orderBy("q_id", "rnk").collect().toSeq
    assert(viaIndex == inMemory)
  }

  test("nProbe=1 probe keeps exact-L2 recall on separated clusters") {
    val corpus = clustered
    val queries = corpus.where($"vec_id" % 50 === 0)
    val model = IvfPq.fit(corpus, "vec_id", nLists = 4, m = 4, k = 4)
    val path = tmpIdx("recall")
    IvfPq.writeIndex(corpus, "vec_id", model, path)

    val vecs = Similarity.withQuantized(corpus, "embedding")
      .select(col("vec_id"), col("ei")).as[(Long, Seq[Long])].collect().toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum
    def exactTopK(q: Long, k: Int): Seq[Long] =
      vecs.collect { case (id, v) if id != q => (d2(vecs(q), v), id) }
        .toSeq.sorted.take(k).map(_._2)

    val got = IvfPq.searchIndex(spark, path, corpus, queries, "vec_id",
      model, topK = 10, nProbe = 1, refine = 4)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // same bound as PqSpec's refined search: the coarse prune must not
    // cost recall when the query's cluster maps to one cell
    val hits = got.map { case (q, ids) => (ids & exactTopK(q, 10).toSet).size }.sum
    assert(hits.toDouble / (10 * got.size) >= 0.9,
      s"recall ${hits.toDouble / (10 * got.size)}")
    // and exact re-rank output is the exact integer distance
    val d2s = IvfPq.searchIndex(spark, path, corpus, queries, "vec_id",
      model, topK = 3, nProbe = 1).select("q_id", "vec_id", "d2")
      .as[(Long, Long, Long)].collect()
    d2s.foreach { case (q, id, d) =>
      assert(d == d2(vecs(q), vecs(id)), s"d2($q,$id)") }
  }

  test("OPQ-permuted pipeline: searchIndex d2 is the raw-space exact distance") {
    // the OPQ model permutes codebooks and probe LUTs internally;
    // cells and the exact re-rank stay in raw space
    val corpus = clustered
    val queries = corpus.where($"vec_id" % 50 === 0)
    val model = IvfPq.fit(corpus, "vec_id", nLists = 4, m = 4, k = 4,
      opq = true)
    assert(model.perm.exists(p => p.sorted == (0 until 8)))
    val path = tmpIdx("opq")
    IvfPq.writeIndex(corpus, "vec_id", model, path)
    val vecs = Similarity.withQuantized(corpus, "embedding")
      .select(col("vec_id"), col("ei")).as[(Long, Seq[Long])].collect().toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.lazyZip(b).map((x, y) => (x - y) * (x - y)).sum
    // the probe's exact re-rank distances must equal RAW-space exact
    // integer distances — permutation invariance, the property that
    // makes OPQ frontier recall comparable against shared ground truth
    val d2s = IvfPq.searchIndex(spark, path, corpus, queries, "vec_id",
        model, topK = 3, nProbe = 4)
      .select("q_id", "vec_id", "d2").as[(Long, Long, Long)].collect()
    assert(d2s.nonEmpty)
    d2s.foreach { case (q, id, d) =>
      assert(d == d2(vecs(q), vecs(id)), s"d2($q,$id)") }
  }

  test("OPQ probe plan carries the permuted query ONCE, not per LUT entry") {
    // Regression pin for the r12 x20 OOM: lutColumn splices its ei
    // argument into all m*k code entries (3 dotLong references each),
    // so passing a derived query TREE duplicates that tree ~m*k*3
    // times, and every copy serializes into the task binary (a
    // ~44 MiB binary OOM'd executors at 2.56M x 64-dim). The probe
    // projects the OPQ-permuted query as its own column (qpe), so the
    // permutation tree (an array of element_at over the query's ei)
    // appears exactly once; inlined it would appear 48 times at
    // m=4/k=4, hundreds at production shapes.
    val corpus = clustered
    val queries = corpus.where($"vec_id" % 50 === 0)
    val model = IvfPq.fit(corpus, "vec_id", nLists = 4, m = 4, k = 4,
      opq = true)
    val path = tmpIdx("plan_opq")
    IvfPq.writeIndex(corpus, "vec_id", model, path)
    val probe = IvfPq.searchIndex(spark, path, corpus, queries,
      "vec_id", model, topK = 5, nProbe = 2)
    import org.apache.spark.sql.catalyst.expressions.{CreateArray, ElementAt}
    val permTrees = probe.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect {
        case a: CreateArray
          if a.children.nonEmpty && a.children.forall(_.isInstanceOf[ElementAt]) => 1
      }.sum).sum
    }.sum
    assert(permTrees == 1,
      s"permuted query tree appears $permTrees times in the OPQ probe plan")
  }
}
