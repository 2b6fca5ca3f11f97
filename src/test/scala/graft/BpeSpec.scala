package graft

import graft.ops.Bpe
import org.apache.spark.sql.graft.SparkBridge

/** BPE trainer: greedy-fold semantics, run parity, deterministic
  * tie-breaks, and the vocab-compaction weighting.
  */
class BpeSpec extends SparkSpec {

  private def vocabOf(rows: (String, Long)*) = {
    import spark.implicits._
    rows.toDF("word", "cnt")
  }

  test("textbook merge: most frequent pair wins, weighted by word count") {
    // "low" x5, "lower" x2 -> pairs: (l,o)=7 (o,w)=7 (w,e)=2 (e,r)=2
    // tie (l,o) vs (o,w) at 7 -> lexicographic: (l,o)
    val (merges, seg) = Bpe.train(spark, vocabOf("low" -> 5L, "lower" -> 2L), 1)
    assert(merges.map(m => (m.s1, m.s2, m.cnt)) == Seq(("l", "o", 7L)))
    val segd = seg.orderBy("word").collect()
      .map(r => r.getString(0) -> r.getSeq[String](2))
    assert(segd.toSeq == Seq("low" -> Seq("lo", "w"), "lower" -> Seq("lo", "w", "e", "r")))
    seg.unpersist()
  }

  test("run parity: aaaa merges to [aa, aa], aaaaa to [aa, aa, a]") {
    val (m1, seg) = Bpe.train(spark, vocabOf("aaaa" -> 1L, "aaaaa" -> 1L), 1)
    assert(m1.head.s1 == "a" && m1.head.s2 == "a" && m1.head.cnt == 7L)
    val segd = seg.orderBy("word").collect()
      .map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(segd("aaaa") == Seq("aa", "aa"))
    assert(segd("aaaaa") == Seq("aa", "aa", "a"))
    seg.unpersist()
  }

  test("merged head never re-merges within the round") {
    // winner (a,b) over "aab": fold must yield [a, ab], not [aab]
    val (_, seg) = Bpe.train(spark, vocabOf("aab" -> 3L, "ab" -> 1L), 1)
    val segd = seg.orderBy("word").collect()
      .map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(segd("aab") == Seq("a", "ab"))
    assert(segd("ab") == Seq("ab"))
    seg.unpersist()
  }

  test("early stop when the vocab is fully merged") {
    val (merges, seg) = Bpe.train(spark, vocabOf("ab" -> 1L), 5)
    assert(merges.map(m => (m.s1, m.s2)) == Seq(("a", "b")))
    seg.unpersist()
  }

  test("multi-round chain builds longer symbols deterministically") {
    val (merges, seg) =
      Bpe.train(spark, vocabOf("abab" -> 4L, "abc" -> 1L), 3)
    // r1: (a,b)=9 ; r2: (ab,ab)=4 ; r3: (ab,c)=1
    assert(merges.map(m => (m.s1, m.s2, m.cnt)) ==
      Seq(("a", "b", 9L), ("ab", "ab", 4L), ("ab", "c", 1L)))
    val segd = seg.orderBy("word").collect()
      .map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(segd("abab") == Seq("abab"))
    assert(segd("abc") == Seq("abc"))
    seg.unpersist()
  }

  test("wordVocab: one corpus shuffle, whitespace-robust, empties dropped") {
    import spark.implicits._
    val docs = Seq((1L, "  the the  cat "), (2L, "the")).toDF("doc_id", "text")
    val v = Bpe.wordVocab(docs, "text").orderBy("word").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(v.toSeq == Seq("cat" -> 1L, "the" -> 3L))
  }

  test("encodeCounts matches the per-word segment algebra") {
    import spark.implicits._
    val docs = Seq((1L, "low low lower"), (2L, "low")).toDF("doc_id", "text")
    val vocab = Bpe.wordVocab(docs, "text")
    val (_, seg) = Bpe.train(spark, vocab, 2)
    // r1 pairs: (l,o)=4 (o,w)=4 (w,e)=1 (e,r)=1 -> (l,o); r2: (lo,w)=4
    val enc = Bpe.encodeCounts(docs, seg, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc1: low->1 seg "low"? r2 merged (lo,w): low => [low]; lower => [low, e, r]
    assert(enc.toSeq == Seq((1L, 3L, 5L), (2L, 1L, 1L)))
    seg.unpersist()
  }

  test("stored-artifact encode is bit-identical to in-memory encode") {
    import spark.implicits._
    val docs = Seq((1L, "low low lower"), (2L, "low lowest"),
      (3L, "newer wider")).toDF("doc_id", "text")
    val (merges, seg) = Bpe.train(spark, Bpe.wordVocab(docs, "text"), 4)
    val mem = Bpe.encodeCounts(docs, seg, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val root = SparkBridge.tempDir("bpe").toString
    Bpe.writeModelVersioned(spark, merges, seg, root)
    seg.unpersist()
    val live = graft.ops.Generations.livePath(spark, root)
    val stored = Bpe.encodeCountsStored(spark, docs, live, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stored == mem && mem.nonEmpty)
    // the merge table round-trips in application order
    assert(Bpe.readMerges(spark, live) == merges)
  }

  test("refresh: counts fold, new words segment under the STORED merges") {
    import spark.implicits._
    val oldDocs = Seq((1L, "low low lower low low")).toDF("doc_id", "text")
    val (merges, seg) = Bpe.train(spark, Bpe.wordVocab(oldDocs, "text"), 2)
    // r1: (l,o); r2: (lo,w) — pinned so the new-word replay is known
    assert(merges.map(m => (m.s1, m.s2)) == Seq(("l", "o"), ("lo", "w")))
    val root = SparkBridge.tempDir("bpe").toString
    Bpe.writeModelVersioned(spark, merges, seg, root)
    seg.unpersist()
    val batch = Seq((9L, "low slow lower")).toDF("doc_id", "text")
    Bpe.refresh(spark, root, batch, "text")
    val vocab = spark.read
      .parquet(s"${graft.ops.Generations.livePath(spark, root)}/vocab")
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2)))
    assert(vocab.toSeq == Seq(
      ("low", 5L, Seq("low")),          // 4 + 1, stored segmentation kept
      ("lower", 2L, Seq("low", "e", "r")),
      ("slow", 1L, Seq("s", "low"))))   // NEW word, replayed merges
    // the merges carry over unchanged: a refresh moves counts only
    val live = graft.ops.Generations.livePath(spark, root)
    assert(Bpe.readMerges(spark, live) == merges)
  }

  test("segmentWords chunked replay equals the trainer's own segmentation") {
    import spark.implicits._
    // enough text to yield 9 merges, then replay them with chunk=2 —
    // 5 chunk boundaries cross merge dependencies (later merges
    // consume earlier merges' symbols), so any boundary bug breaks it
    val docs = Seq((1L, "lower lowest newer wider slow slower low low low"))
      .toDF("doc_id", "text")
    val vocab = Bpe.wordVocab(docs, "text")
    val (merges, seg) = Bpe.train(spark, vocab, 9)
    assert(merges.length == 9)
    val expect = seg.orderBy("word").collect()
      .map(r => (r.getString(0), r.getSeq[String](2))).toSeq
    val replay = Bpe.segmentWords(vocab, merges, chunk = 2)
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getSeq[String](2))).toSeq
    assert(replay == expect)
    seg.unpersist()
  }

  test("train frees superseded checkpoint blocks: net +1 persisted RDD") {
    // a checkpointed frame's .unpersist() is a no-op, so without the
    // explicit freeCheckpoint a 5-round train would leave 5 vocab
    // copies pinned between driver GCs; the loop must net exactly ONE
    // new persisted RDD — the final segmentation it returns
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (merges, seg) = Bpe.train(spark,
      vocabOf("low" -> 5L, "lower" -> 2L, "lowest" -> 3L,
        "newer" -> 4L, "wider" -> 1L), 5)
    assert(merges.length == 5)
    val delta = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(delta.size == 1,
      s"train leaked checkpoint blocks: ${delta.size} new persisted RDDs")
    seg.count() // the survivor is live and readable
  }

  test("oracle unroll guards every round against vocabulary exhaustion") {
    // the relational unroll can't early-stop like the Spark side; it
    // must fail LOUDLY via a per-round error() guard instead of
    // silently emptying CTEs into an opaque hash mismatch
    val sql = Bpe.trainSqlCtes("docs", 3)
    (1 to 3).foreach { r =>
      assert(sql.contains(s"wchk$r"), s"round $r missing its guard CTE")
      assert(sql.contains(s"exhausted before round $r"))
    }
    // the guard participates in each round's application block (a
    // dead CTE would never evaluate), and the refresh oracle inherits
    // the full guarded chain
    assert(sql.contains("CROSS JOIN wchk1"))
    assert(Bpe.refreshSql("old_docs", "new_docs", 2).contains("wchk2"))
  }
}
