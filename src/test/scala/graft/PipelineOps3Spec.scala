package graft

import graft.ops.{ChangeCapture, Contamination, Packing, QualitySignals, UrlOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 pipeline operators: repetition signals, decontamination,
  * URL filtering, sequence packing, snapshot diff.
  */
class PipelineOps3Spec extends SparkSpec {
  import spark.implicits._

  test("repetitionMetrics: counts, dominance, and lexicographic tie-break") {
    // grams of "a b a b a": "a b","b a","a b","b a" -> 4 grams,
    // 2 distinct, top run 2, tie between "a b" and "b a" -> "a b"
    val df = Seq((1L, "a b a b a"), (2L, "x y z w"), (3L, "t t t t t")).toDF("id", "text")
    val out = QualitySignals.repetitionMetrics(df, "id", "text", n = 2)
      .orderBy("id").collect()
    assert(out(0).getAs[Long]("n_grams") == 4)
    assert(out(0).getAs[Long]("n_distinct") == 2)
    assert(out(0).getAs[String]("top_gram") == "a b")
    assert(out(0).getAs[Long]("top_c") == 2)
    assert(out(0).getAs[Long]("dup_gram_milli") == 500)
    assert(out(0).getAs[Long]("top_gram_milli") == 500)
    // all-unique doc: zero repetition, every gram is "top" with c=1
    assert(out(1).getAs[Long]("dup_gram_milli") == 0)
    assert(out(1).getAs[Long]("top_c") == 1)
    // degenerate doc: one gram repeated 4x -> fully duplicated
    assert(out(2).getAs[Long]("n_distinct") == 1)
    assert(out(2).getAs[Long]("dup_gram_milli") == 750)
    assert(out(2).getAs[Long]("top_gram_milli") == 1000)
  }

  test("repetitionMetrics excludes docs shorter than n tokens") {
    val df = Seq((1L, "solo"), (2L, "two tokens")).toDF("id", "text")
    val out = QualitySignals.repetitionMetrics(df, "id", "text", n = 2)
    assert(out.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("lexicalEntropy: degenerate, uniform, and mixed distributions") {
    val df = Seq(
      (1L, "same same same same"),         // H = 0
      (2L, "a b c d"),                     // uniform: H = ln(4)
      (3L, "a a b"),                       // 2/3·ln(3/2) + 1/3·ln(3)
      (4L, " ")                            // no tokens -> excluded
    ).toDF("id", "text")
    val out = QualitySignals.lexicalEntropy(df, "id", "text")
      .orderBy("id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("entropy_micro_per_tok") == 0L)
    assert(out(0).getAs[Long]("ttr_milli") == 250L)
    // uniform over 4 types: each term = round(1·ln(4)·1e6) = 1386294;
    // sum 5545176 DIV 4 = 1386294
    assert(out(1).getAs[Long]("entropy_micro_per_tok") == 1386294L)
    assert(out(1).getAs[Long]("ttr_milli") == 1000L)
    // mixed: round(2·ln(3/2)·1e6) + round(1·ln(3)·1e6) = 810930 +
    // 1098612 = 1909542 DIV 3 = 636514
    assert(out(2).getAs[Long]("entropy_micro_per_tok") == 636514L)
    assert(out(2).getAs[Long]("n_distinct") == 2L)
  }

  test("lexicalEntropy plan is narrow: no Exchange") {
    val df = Seq((1L, "a b c")).toDF("id", "text")
    val plan = QualitySignals.lexicalEntropy(df, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("contamination check finds planted overlap and nothing else") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon other words here"), // shares the leading 5-gram
      (2L, "completely different content with no overlap at all")).toDF("id", "text")
    val out = Contamination.check(corpus, bench, "id", "text", n = 5)
      .orderBy("id").collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("id") == 1L)
    assert(out(0).getAs[Long]("n_hit_grams") == 1L)
    assert(out(0).getAs[Long]("n_bench_docs") == 1L)
    assert(out(0).getAs[Long]("first_bench_id") == 100L)
  }

  test("contamination per-doc grams dedupe inside the row") {
    // repeated gram in one corpus doc still counts once
    val bench = Seq((9L, "a b c d e")).toDF("id", "text")
    val corpus = Seq((1L, "a b c d e a b c d e")).toDF("id", "text")
    val out = Contamination.check(corpus, bench, "id", "text", n = 5).collect()
    assert(out.head.getAs[Long]("n_hit_grams") == 1L)
  }

  test("UrlOps host/apex extraction and blocklist") {
    val df = Seq(
      (1L, "https://en.site-3.com/p/1"),
      (2L, "http://deep.sub.site-4.com/x?q=1"),
      (3L, "not a url")).toDF("id", "url")
    val out = UrlOps.filterBlocked(df, "url", Seq("site-3.com")).orderBy("id").collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(2L, 3L))
    assert(out(0).getAs[String]("host") == "deep.sub.site-4.com")
    assert(out(0).getAs[String]("apex") == "site-4.com")
    assert(out(1).getAs[String]("host") == "")
  }

  test("packTokenStream: blocks fill contiguously per group") {
    val df = Seq(
      ("g1", 1L, 600L), ("g1", 2L, 600L), ("g1", 3L, 600L), ("g1", 4L, 600L),
      ("g2", 5L, 2500L)).toDF("grp", "id", "w")
    val out = Packing.packTokenStream(df, "grp", "id", "w", blockTokens = 1000L)
      .orderBy("id").collect()
    // cum: 600,1200,1800,2400 -> starts 0,600,1200,1800 -> blocks 0,0,1,1
    assert(out.map(_.getAs[Long]("start_block")).toSeq == Seq(0L, 0L, 1L, 1L, 0L))
    assert(out.map(_.getAs[Long]("block_offset")).toSeq == Seq(0L, 600L, 200L, 800L, 0L))
  }

  test("chunkTokens: coverage, overlap, short-doc and boundary cases; no Exchange") {
    val tok = "split(lower(trim(text)), '\\\\s+')"
    // 10 tokens, size 4, stride 3 -> 1 + ceil(6/3) = 3 chunks at 0,3,6;
    // the last window reaches token 10, so no extra tail chunk
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = Packing.chunkTokens(df, "doc_id", tok, size = 4, stride = 3)
      .orderBy("chunk_idx").collect()
    assert(out.map(_.getAs[Int]("start_tok")).toSeq == Seq(0, 3, 6))
    assert(out.map(_.getAs[Int]("n_tok_chunk")).toSeq == Seq(4, 4, 4))
    assert(out.head.getAs[String]("chunk_text") == "t1 t2 t3 t4")
    assert(out(1).getAs[String]("chunk_text") == "t4 t5 t6 t7") // 1-token overlap
    assert(out.last.getAs[String]("chunk_text") == "t7 t8 t9 t10")
    // every token index is covered by at least one chunk
    val covered = out.flatMap(r => r.getAs[Int]("start_tok") until
      (r.getAs[Int]("start_tok") + r.getAs[Int]("n_tok_chunk"))).toSet
    assert(covered == (0 until 10).toSet)
    // doc shorter than a window -> exactly one short chunk
    val short = Packing.chunkTokens(Seq((2L, "a b")).toDF("doc_id", "text"),
      "doc_id", tok, size = 4, stride = 3).collect()
    assert(short.length == 1 && short.head.getAs[Int]("n_tok_chunk") == 2)
    // doc landing exactly on a window boundary -> no empty trailing chunk
    val exact = Packing.chunkTokens(Seq((3L, "a b c d")).toDF("doc_id", "text"),
      "doc_id", tok, size = 4, stride = 3).collect()
    assert(exact.length == 1)
    // lossless reassembly: at stride == size (no overlap) the chunks
    // concatenated in chunk_idx order restore the token stream exactly
    val parts = Packing.chunkTokens(df, "doc_id", tok, size = 4, stride = 4)
      .orderBy("chunk_idx").collect().map(_.getAs[String]("chunk_text"))
    assert(parts.mkString(" ") == (1 to 10).map(i => s"t$i").mkString(" "))
    // in-row expansion: no Exchange anywhere in the plan
    val plan = Packing.chunkTokens(df, "doc_id", tok, 4, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    intercept[IllegalArgumentException] {
      Packing.chunkTokens(df, "doc_id", tok, size = 4, stride = 5)
    }
  }

  test("snapshotDiff classifies insert/delete/update and drops unchanged") {
    val oldDf = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val newDf = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "v")
    val out = ChangeCapture.snapshotDiff(oldDf, newDf, Seq("k"), Seq("v"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getAs[Long]("k"), r.getAs[String]("change_type"))).toSeq
      == Seq((2L, "update"), (3L, "delete"), (4L, "insert")))
  }

  test("null and empty text: quality/contamination ops drop the row, never throw") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("")), (3L, Some("a b c")))
      .toDF("id", "text")
    // null text -> null tokens -> size() = -1 -> excluded by the >= n guard
    assert(QualitySignals.repetitionMetrics(df, "id", "text", 2)
      .select("id").as[Long].collect().toSeq == Seq(3L))
    val bench = Seq((9L, "a b c d e")).toDF("id", "text")
    assert(Contamination.check(df, bench, "id", "text", 5).count() == 0)
  }

  test("segment dedup: doc whose every segment duplicates another doc") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
      (2L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")) // == doc 1's first segment
      .toDF("doc_id", "text")
    val out = graft.ops.SegmentDedup.dedupSegments(docs, "doc_id", "text", 10)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_segs") == 2 && out(0).getAs[Long]("n_kept") == 2)
    // doc 2's only segment == doc 1's first segment -> fully deduped
    assert(out(1).getAs[Long]("n_segs") == 1 && out(1).getAs[Long]("n_kept") == 0)
    assert(out(1).isNullAt(out(1).fieldIndex("clean_fp")))
  }

  test("snapshotDiff null-safe compare: null->value and value->null are updates") {
    val oldDf = Seq((1L, Option.empty[String]), (2L, Some("x")), (3L, Option.empty[String]))
      .toDF("k", "v")
    val newDf = Seq((1L, Some("y")), (2L, Option.empty[String]), (3L, Option.empty[String]))
      .toDF("k", "v")
    val out = ChangeCapture.snapshotDiff(oldDf, newDf, Seq("k"), Seq("v"))
    assert(out.select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }
}
