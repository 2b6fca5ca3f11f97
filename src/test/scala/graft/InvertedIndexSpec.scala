package graft

import graft.ops.InvertedIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

class InvertedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat the cat sat"),
    (2L, "cat sat cat sat cat sat"),
    (3L, "the dog barked"),
    (4L, "a a a a"),
    (5L, "sat cat")
  ).toDF("doc_id", "text")

  private def brute(phrase: Seq[String]): Map[Long, Long] =
    docs.as[(Long, String)].collect().flatMap { case (id, text) =>
      val tk = text.toLowerCase.trim.split("\\s+").toSeq
      val n = (0 to tk.length - phrase.length).count(i =>
        phrase.indices.forall(j => tk(i + j) == phrase(j)))
      if (n > 0) Some(id -> n.toLong) else None
    }.toMap

  private def got(phrase: Seq[String]): Map[Long, Long] =
    InvertedIndex.phraseSearch(docs, "doc_id", "text", phrase)
      .as[(Long, Long)].collect().toMap

  test("phrase occurrence counts match a driver scan (2/3-term, repeats, overlaps)") {
    for (p <- Seq(Seq("cat", "sat"), Seq("the", "cat", "sat"),
        Seq("a", "a"), Seq("sat", "cat", "sat"), Seq("dog", "cat"))) {
      assert(got(p) == brute(p), s"phrase=$p: ${got(p)} vs ${brute(p)}")
    }
    // sanity on the interesting cases: "a a" overlaps -> 3 in doc 4;
    // "cat sat" -> 2 in doc 1, 3 in doc 2
    assert(got(Seq("a", "a")) == Map(4L -> 3L))
    assert(got(Seq("cat", "sat")) == Map(1L -> 2L, 2L -> 3L))
  }

  test("materialized index: probe equals in-memory search; prune + pushdown") {
    val path = SparkBridge.tempDir("graft_inv").toString + "/idx"
    InvertedIndex.writeIndex(docs, "doc_id", "text", path)

    // bucketed layout: directory count bounded by nBuckets, never vocab
    val bucketDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("bucket=")).length
    assert(bucketDirs > 0 && bucketDirs <= InvertedIndex.DefaultBuckets)

    val fromIndex = InvertedIndex.phraseSearchIndex(spark, path, Seq("cat", "sat"))
    assert(fromIndex.as[(Long, Long)].collect().toMap == got(Seq("cat", "sat")))

    // the probe must prune to the phrase terms' buckets and push the
    // term filter into the scan — not read the whole index
    val plan = fromIndex.queryExecution.executedPlan.toString
    val scanLines = plan.split("\n").filter(_.contains("PartitionFilters"))
    assert(scanLines.nonEmpty && scanLines.forall(_.contains("bucket")),
      s"expected static bucket pruning:\n$plan")
    val pushed = plan.split("\n").filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("term"),
      s"expected term filter pushed into the postings scan:\n$pushed")
  }

  test("BM25 over the index equals the corpus-scan composition") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val path = SparkBridge.tempDir("graft_inv_bm").toString + "/idx"
    InvertedIndex.writeIndex(d, "doc_id", "text", path)

    val qts = Seq("join", "data", "spark")
    val toks = d.select(col("doc_id"),
      explode(graft.ops.TextAnalysis.tokens(col("text"))).as("term"))
    val dl = d.select(col("doc_id"),
      graft.ops.TextAnalysis.tokenCount(col("text")).as("dl"))
    val stats = d.agg(count(lit(1)).as("n_docs"),
      sum(graft.ops.TextAnalysis.tokenCount(col("text"))).as("total_len"))
    val tf = toks.where(col("term").isin(qts: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scan = InvertedIndex.bm25Score(tf, dfreq, dl, stats, k = 20)
      .collect().toSeq
    val idx = InvertedIndex.bm25SearchIndex(spark, path, qts, k = 20)
      .collect().toSeq
    assert(idx == scan)
  }

  test("postings carry tf and sorted positions") {
    val p = InvertedIndex.build(docs, "doc_id", "text")
      .where(col("term") === "cat" && col("doc") === 2L)
      .select("tf", "positions").collect().head
    assert(p.getLong(0) == 3L)
    assert(p.getSeq[Int](1) == Seq(0, 2, 4))
  }
}
