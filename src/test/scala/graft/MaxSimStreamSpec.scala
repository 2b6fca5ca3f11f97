package graft

import graft.ops.{Generations, MaxSim}
import graft.streaming.MaxSimStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

/** Streaming MaxSim intake: each micro-batch's scores equal the batch
  * [[MaxSim.scoreLshPruned]] against the corpus as of the previous
  * batch, the index grows by exactly the batch, and the maintenance
  * compaction re-distincts postings and enforces the bucket cap.
  */
class MaxSimStreamSpec extends SparkSpec {

  private def toks(docs: Range) = {
    import spark.implicits._
    docs.flatMap { doc =>
      (0 until 2).map { t =>
        val v = (0 until 8).map(i =>
          (math.sin(doc * 2.7 + t * 1.3 + i) * 10).toFloat)
        (doc.toLong, t.toLong, doc.toLong * 100 + t, v)
      }
    }.toDF("doc_id", "tok", "vec_id", "embedding")
  }

  private val (nP, dms, dB, k) = (3, 8, 4, 8)

  /** Buffered append of `docs` into the index at `path`; `foldBytes`
    * = 1 folds it straight into the partitioned layout.
    */
  private def append(docs: Range, path: String,
                     foldBytes: Long = 64L << 20): Boolean =
    MaxSim.appendIndexBufferedQuantized(MaxSim.quantizeBag(toks(docs)), path,
      nP, dms, dB, foldBytes)

  test("per-batch stream scores equal batch scoreLshPruned over the prior corpus") {
    val root = SparkBridge.tempDir("msroot").toString
    val out = SparkBridge.tempDir("msout").toString + "/out"
    MaxSim.writeIndexVersioned(toks(0 until 8), root, nP, dms, dB)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_doc", "rnk", "doc_id", "score_micro").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet

    MaxSimStream.applyBatch(toks(8 until 12), root, out, k, nP, dms, dB, 0L)
    val after1 = rows(spark.read.parquet(out))
    assert(after1 == rows(MaxSim.scoreLshPruned(toks(0 until 8),
      toks(8 until 12), k, nP, dms)) && after1.nonEmpty)

    // batch 2 scores against corpus 0..11 — batch 1 is already indexed
    MaxSimStream.applyBatch(toks(12 until 16), root, out, k, nP, dms, dB, 1L)
    val batch2 = rows(spark.read.parquet(out)) -- after1
    assert(batch2 == rows(MaxSim.scoreLshPruned(toks(0 until 12),
      toks(12 until 16), k, nP, dms)) && batch2.nonEmpty)
  }

  test("tiny foldBytes folds every batch inside the guard; stream scores unchanged") {
    val root = SparkBridge.tempDir("msroot").toString
    val out = SparkBridge.tempDir("msout").toString + "/out"
    MaxSim.writeIndexVersioned(toks(0 until 8), root, nP, dms, dB)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_doc", "rnk", "doc_id", "score_micro").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    // foldBytes=1: every append crosses the threshold, so batch 2's
    // probe reads batch 1's docs from the FOLDED partitions, not
    // staging — and must still equal the batch path bit-for-bit
    MaxSimStream.applyBatch(toks(8 until 12), root, out, k, nP, dms, dB,
      0L, foldBytes = 1L)
    val live = Generations.livePath(spark, root)
    assert(!graft.ops.Generations.hasData(spark,
      Generations.livePath(spark, s"$live/staging")),
      "fold must leave an empty live staging generation")
    MaxSimStream.applyBatch(toks(12 until 16), root, out, k, nP, dms, dB,
      1L, foldBytes = 1L)
    val batch2 = rows(spark.read.parquet(out)
      .where(col("batch_id") === 1))
    assert(batch2 == rows(MaxSim.scoreLshPruned(toks(0 until 12),
      toks(12 until 16), k, nP, dms)) && batch2.nonEmpty)
  }

  test("a crash-replayed batch REPLACES its sink partition, never appends") {
    val root = SparkBridge.tempDir("msroot").toString
    val out = SparkBridge.tempDir("msout").toString + "/out"
    MaxSim.writeIndexVersioned(toks(0 until 8), root, nP, dms, dB)
    MaxSimStream.applyBatch(toks(8 until 12), root, out, k, nP, dms, dB, 0L)
    assert(spark.read.parquet(out).count() > 0)
    // crash inside the BatchMarkers window -> the SAME batch replays
    // with the SAME id; dynamic partition overwrite must leave exactly
    // one copy of each (q_doc, rnk) in the sink (append mode left two)
    MaxSimStream.applyBatch(toks(8 until 12), root, out, k, nP, dms, dB, 0L)
    val re = spark.read.parquet(out)
    assert(re.groupBy("q_doc", "rnk").count()
      .agg(max("count")).head().getLong(0) == 1L)
    assert(re.select("batch_id").distinct().count() == 1L)
    // the index append DID replay (postings duplicated) — exactly the
    // residue the maintenance cadence owns
    assert(MaxSim.maintain(spark, root, maxBucketDocs = 1000L).compacted)
  }

  test("compactVersioned: postings re-distinct, flooded buckets capped, toks intact") {
    val root = SparkBridge.tempDir("msroot").toString
    MaxSim.writeIndexVersioned(toks(0 until 8), root, nP, dms, dB)
    val gen1 = Generations.livePath(spark, root)
    // re-append doc 3's postings (a replayed ingest without the
    // marker guard): (bucket, doc_id) pairs now duplicated
    append(3 until 4, gen1, foldBytes = 1L)
    val rawPostings = spark.read.parquet(s"$gen1/postings").count()
    val distinctPostings = spark.read.parquet(s"$gen1/postings")
      .distinct().count()
    assert(rawPostings > distinctPostings, "fixture: no duplicates to compact")

    val gen2 = MaxSim.compactVersioned(spark, root, maxBucketDocs = 1000L)
    assert(gen2 != gen1)
    val compacted = spark.read.parquet(s"$gen2/postings")
    assert(compacted.count() == compacted.distinct().count())
    // tokens survive compaction full-row deduped: doc 3's replayed
    // bit-identical copies (score-identical bloat) are collapsed,
    // every distinct token row is carried
    assert(spark.read.parquet(s"$gen2/toks").count() ==
      spark.read.parquet(s"$gen1/toks").dropDuplicates().count())

    // a cap that drops EVERYTHING must refuse loudly, not publish a
    // generation with an unreadable empty postings dir
    val e = intercept[IllegalArgumentException] {
      MaxSim.compactVersioned(spark, root, maxBucketDocs = 0L)
    }
    assert(e.getMessage.contains("drops every posting"))
    assert(Generations.livePath(spark, root) == gen2,
      "failed compaction must not move the pointer")
  }

  test("compactVersioned folds staged rows — a compact never loses buffered docs") {
    val root = SparkBridge.tempDir("msroot").toString
    MaxSim.writeIndexVersioned(toks(0 until 8), root, nP, dms, dB)
    val gen1 = Generations.livePath(spark, root)
    // buffered append stays staged (default threshold)
    assert(!append(8 until 10, gen1))
    val gen2 = MaxSim.compactVersioned(spark, root, maxBucketDocs = 1000L)
    // staged docs landed in the NEW generation's partitions…
    val docs = spark.read.parquet(s"$gen2/toks")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(Set(8L, 9L).subsetOf(docs), s"staged docs lost by compact: $docs")
    // …which starts with no staging at all
    assert(graft.ops.Generations.current(spark, s"$gen2/staging").isEmpty)
    // and the probe against the new live generation finds them
    val got = MaxSim.searchIndex(spark, Generations.livePath(spark, root),
        toks(8 until 9), k, nP, dms, dB)
      .select("q_doc").distinct().count()
    assert(got > 0)
  }

  test("in-tick maintenance: maintainEvery compacts inside the guard, scores untouched") {
    val tmp = SparkBridge.tempDir("msroot_mt").toString
    val root = s"$tmp/root"
    val out = s"$tmp/out"
    val inDir = new java.io.File(s"$tmp/in"); inDir.mkdirs()
    MaxSim.writeIndexVersioned(toks(0 until 8), root, nP, dms, dB)
    val gen1 = Generations.livePath(spark, root)
    // un-guarded replay residue (duplicate postings) — exactly the
    // debris the in-tick cadence exists to own
    append(3 until 4, gen1, foldBytes = 1L)
    def stage(name: String, docs: Range): Unit = {
      val staged = s"$tmp/stage_$name"
      toks(docs).coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(inDir, s"$name.parquet").toPath)
    }
    stage("b1", 8 until 12)
    stage("b2", 12 until 16)
    stage("b3", 16 until 20)
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$tmp/stage_b1").schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = MaxSimStream.start(stream, root, out, k, nP, dms, dB,
      s"$tmp/ckpt", maintainEvery = 2)
    try q.processAllAvailable() finally q.stop()
    // the batch-id-2 tick tripped maintain on the seeded duplicates —
    // a NEW generation, re-distincted, without any caller serialization
    val gen2 = Generations.livePath(spark, root)
    assert(gen2 != gen1, "the in-tick maintain must have compacted")
    val p = spark.read.parquet(s"$gen2/postings")
    assert(p.count() == p.distinct().count())
    // and the maintenance never moved a score bit: every batch equals
    // the batch path over the corpus as of the previous batch (the
    // duplicate doc-3 rows are score-identical under MAX)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_doc", "rnk", "doc_id", "score_micro").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val sink = spark.read.parquet(out)
    Seq((0L, 8, 12), (1L, 12, 16), (2L, 16, 20)).foreach {
      case (id, lo, hi) =>
        val got = rows(sink.where(col("batch_id") === id))
        assert(got == rows(MaxSim.scoreLshPruned(toks(0 until lo),
          toks(lo until hi), k, nP, dms)) && got.nonEmpty,
          s"batch $id diverged from the batch path")
    }
  }

  test("maintain: healthy tick is read-only; duplicate postings trip a compaction") {
    val root = SparkBridge.tempDir("msroot").toString
    MaxSim.writeIndexVersioned(toks(0 until 8), root, nP, dms, dB)
    val gen1 = Generations.livePath(spark, root)
    val healthy = MaxSim.maintain(spark, root, maxBucketDocs = 1000L)
    assert(!healthy.compacted && healthy.dupPostings == 0L)
    assert(Generations.livePath(spark, root) == gen1)
    // a replayed ingest without the marker guard duplicates postings
    append(3 until 4, gen1, foldBytes = 1L)
    val tripped = MaxSim.maintain(spark, root, maxBucketDocs = 1000L)
    assert(tripped.compacted && tripped.dupPostings > 0L)
    val gen2 = Generations.livePath(spark, root)
    assert(gen2 != gen1)
    val p = spark.read.parquet(s"$gen2/postings")
    assert(p.count() == p.distinct().count())
  }
}
