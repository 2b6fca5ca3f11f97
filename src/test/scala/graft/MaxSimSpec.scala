package graft

import graft.ops.MaxSim
import org.apache.spark.sql.functions._

/** Late-interaction MaxSim: golden scores on a hand-checkable corpus,
  * pruning soundness (shortlist scores ≡ exact scores), and the
  * self-doc exclusion.
  */
class MaxSimSpec extends SparkSpec {

  private def toks(rows: (Long, Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toDF("doc_id", "tok", "embedding")
      .withColumn("vec_id", col("doc_id") * 100 + col("tok"))
      .select("doc_id", "tok", "vec_id", "embedding")
  }

  test("golden: sum of per-query-token maxes, exact integer micro") {
    // doc 0 (query): tokens along x and y; doc 1 aligned, doc 2 diagonal
    val d = toks(
      (0L, 0L, Seq(1f, 0f)), (0L, 1L, Seq(0f, 1f)),
      (1L, 0L, Seq(2f, 0f)), (1L, 1L, Seq(0f, 3f)),
      (2L, 0L, Seq(1f, 1f)), (2L, 1L, Seq(1f, 1f)))
    val r = MaxSim.scoreExact(d, d.where(col("doc_id") === 0), k = 5)
      .orderBy("rnk").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // vs doc1: qx·(2,0)=1.0, qy·(0,3)=1.0 -> 2_000_000
    // vs doc2: qx best cos=0.707107, qy best 0.707107 -> 1_414_214
    assert(r.toSeq == Seq((0L, 1L, 1L, 2000000L), (0L, 2L, 2L, 1414214L)))
  }

  test("self doc never scored") {
    val d = toks((0L, 0L, Seq(1f, 0f)), (1L, 0L, Seq(1f, 0f)))
    val r = MaxSim.scoreExact(d, d, k = 3).collect()
    assert(r.forall(x => x.getLong(0) != x.getLong(2)))
  }

  test("pruned shortlist scores are bit-identical to exact on survivors") {
    import spark.implicits._
    val base = (0 until 16).flatMap { doc =>
      (0 until 2).map { t =>
        val v = (0 until 8).map(i =>
          (math.sin(doc * 2.7 + t * 1.3 + i) * 10).toFloat)
        (doc.toLong, t.toLong, v)
      }
    }
    val d = toks(base: _*)
    val q = d.where(col("doc_id") < 2)
    val exact = MaxSim.scoreExact(d, q, k = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val pruned = MaxSim.scoreLshPruned(d, q, k = 16, nPlanes = 3, dims = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3))
    assert(pruned.nonEmpty)
    pruned.foreach { case (key, s) => assert(exact(key) == s) }
  }

  test("multi-probe only ADDS candidates; surviving scores stay exact") {
    val d = corpus16
    val q = d.where(col("doc_id") < 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    // high nPlanes on a tiny corpus: single-probe misses docs
    val single = rows(MaxSim.scoreLshPruned(d, q, k = 16, nPlanes = 8,
      dims = 8))
    val multi = rows(MaxSim.scoreLshPruned(d, q, k = 16, nPlanes = 8,
      dims = 8, multiProbe = 3))
    val exact = rows(MaxSim.scoreExact(d, q, k = 16))
    assert(single.keySet.subsetOf(multi.keySet),
      "multi-probe dropped a single-probe candidate")
    assert(multi.size > single.size,
      "fixture: multi-probe found nothing new at nPlanes=8")
    multi.foreach { case (key, s) => assert(exact(key) == s) }
  }

  test("stored-index multi-probe equals the in-memory multi-probe path") {
    val d = corpus16
    val q = d.where(col("doc_id") < 2)
    val idx = java.nio.file.Files.createTempDirectory("maxsim").toString
    MaxSim.writeIndex(d, idx, nPlanes = 8, dims = 8, dBuckets = 4)
    val stored = MaxSim.searchIndex(spark, idx, q, k = 16, nPlanes = 8,
        dims = 8, dBuckets = 4, multiProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val mem = MaxSim.scoreLshPruned(d, q, k = 16, nPlanes = 8, dims = 8,
        multiProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(stored == mem && mem.nonEmpty)
  }

  test("multiVector splits vec_id into doc and token slots") {
    import spark.implicits._
    val e = Seq((0L, Seq(1f)), (1L, Seq(1f)), (4L, Seq(1f)))
      .toDF("vec_id", "embedding")
    val mv = MaxSim.multiVector(e, "vec_id", 4)
      .select("doc_id", "tok").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mv.toSet == Set((0L, 0L), (0L, 1L), (1L, 0L)))
  }

  /** The pruned-spec corpus: 16 docs x 2 tokens of deterministic
    * 8-dim vectors — shared by the stored-index tests below.
    */
  private def corpus16 = toks((0 until 16).flatMap { doc =>
    (0 until 2).map { t =>
      val v = (0 until 8).map(i =>
        (math.sin(doc * 2.7 + t * 1.3 + i) * 10).toFloat)
      (doc.toLong, t.toLong, v)
    }
  }: _*)

  test("stored index probe equals the in-memory pruned path exactly") {
    val d = corpus16
    val q = d.where(col("doc_id") < 2)
    val idx = java.nio.file.Files.createTempDirectory("maxsim").toString
    MaxSim.writeIndex(d, idx, nPlanes = 3, dims = 8, dBuckets = 4)
    val stored = MaxSim.searchIndex(spark, idx, q, k = 16, nPlanes = 3,
        dims = 8, dBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val mem = MaxSim.scoreLshPruned(d, q, k = 16, nPlanes = 3, dims = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(stored == mem && mem.nonEmpty)
  }

  test("stored index probe prunes both reads to the relevant partitions") {
    val d = corpus16
    val q = d.where(col("doc_id") === 0)
    val idx = java.nio.file.Files.createTempDirectory("maxsim").toString
    MaxSim.writeIndex(d, idx, nPlanes = 3, dims = 8, dBuckets = 4)
    // the postings scan runs eagerly inside the probe (the shortlist
    // materializes once — r14's single-scan discipline), so its plan
    // is only visible through the execution listener; the toks scan
    // stays in the returned plan
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(ql)
    val all =
      try {
        MaxSim.searchIndex(spark, idx, q, k = 4, nPlanes = 3,
          dims = 8, dBuckets = 4).collect()
        org.apache.spark.sql.graft.SparkBridge.drainListenerBus(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        plans.asScala.mkString("\n===\n")
      } finally spark.listenerManager.unregister(ql)
    // both scans carry static partition filters (the bounded
    // bucket/dbucket driver reads) — the probe never lists, let
    // alone reads, unrelated bucket directories
    assert(all.contains("PartitionFilters: [bucket"),
      s"postings read not bucket-pruned:\n$all")
    assert(all.contains("PartitionFilters: [dbucket"),
      s"token read not dbucket-pruned:\n$all")
  }

  test("O(batch) append: new doc becomes findable, old partitions untouched") {
    val d = corpus16
    val idx = java.nio.file.Files.createTempDirectory("maxsim").toString
    MaxSim.writeIndex(d, idx, nPlanes = 3, dims = 8, dBuckets = 4)
    def files(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(idx)).map(_.getPath)
        .filter(_.endsWith(".parquet")).toSet
    }
    val before = files()
    // the appended doc duplicates doc 3's tokens under a new id, so
    // its buckets collide with doc 3's and a doc-3-token query must
    // now surface BOTH
    val batch = d.where(col("doc_id") === 3)
      .select((col("doc_id") + 100L).as("doc_id"), col("tok"),
        (col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    MaxSim.appendIndex(batch, idx, nPlanes = 3, dims = 8, dBuckets = 4)
    assert(before.subsetOf(files()), "append rewrote existing files")
    val got = MaxSim.searchIndex(spark, idx, d.where(col("doc_id") === 3),
        k = 16, nPlanes = 3, dims = 8, dBuckets = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.contains(103L), s"appended doc not found: $got")
  }

  test("buffered append: one staging file, staged doc findable, scores equal the unbuffered twin") {
    val d = corpus16
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    def pq(dir: String): Set[String] =
      walk(new java.io.File(dir)).map(_.getPath)
        .filter(_.endsWith(".parquet")).toSet
    val buf = java.nio.file.Files.createTempDirectory("maxsim_buf").toString
    val unbuf = java.nio.file.Files.createTempDirectory("maxsim_unbuf").toString
    MaxSim.writeIndex(d, buf, nPlanes = 3, dims = 8, dBuckets = 4)
    MaxSim.writeIndex(d, unbuf, nPlanes = 3, dims = 8, dBuckets = 4)
    val batch = d.where(col("doc_id") === 3)
      .select((col("doc_id") + 100L).as("doc_id"), col("tok"),
        (col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    val before = pq(buf)
    val folded = MaxSim.appendIndexBuffered(batch, buf, nPlanes = 3,
      dims = 8, dBuckets = 4) // default foldBytes: stays staged
    assert(!folded)
    val added = pq(buf) -- before
    assert(added.size == 1 && added.forall(_.contains("/staging/")),
      s"buffered append must land as ONE staging file, got $added")
    MaxSim.appendIndex(batch, unbuf, nPlanes = 3, dims = 8, dBuckets = 4)
    def rows(idx: String) =
      MaxSim.searchIndex(spark, idx, d.where(col("doc_id") === 3),
          k = 16, nPlanes = 3, dims = 8, dBuckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    val gotBuf = rows(buf)
    assert(gotBuf.exists(_._3 == 103L), "staged doc must be findable at once")
    assert(gotBuf == rows(unbuf),
      "staged probe must score bit-identically to the unbuffered index")

    // fold: a byte threshold of 1 folds on the next append; staging
    // flips to a fresh empty generation and the probe is unchanged
    val batch2 = d.where(col("doc_id") === 5)
      .select((col("doc_id") + 200L).as("doc_id"), col("tok"),
        (col("vec_id") + 20000L).as("vec_id"), col("embedding"))
    assert(MaxSim.appendIndexBuffered(batch2, buf, nPlanes = 3, dims = 8,
      dBuckets = 4, foldBytes = 1L))
    MaxSim.appendIndex(batch2, unbuf, nPlanes = 3, dims = 8, dBuckets = 4)
    val stagingLive = graft.ops.Generations.livePath(spark, s"$buf/staging")
    assert(!graft.ops.Generations.hasData(spark, stagingLive),
      "post-fold live staging generation must be empty")
    assert(rows(buf) == rows(unbuf),
      "post-fold probe must score bit-identically to the unbuffered index")

    // grace-window duplicates are score-identical: re-stage a doc the
    // fold already moved into the partitions — visible in BOTH places
    val dupBefore = rows(buf)
    assert(!MaxSim.appendIndexBuffered(batch2, buf, nPlanes = 3, dims = 8,
      dBuckets = 4))
    assert(rows(buf) == dupBefore,
      "a doc visible in both staging and partitions must not change a bit")
  }

  test("buffered append on a FRESH path: staged docs retrievable before any fold") {
    val d = corpus16
    val fresh = java.nio.file.Files.createTempDirectory("maxsim_fresh").toString
    val twin = java.nio.file.Files.createTempDirectory("maxsim_twin").toString
    val batch = d.where(col("doc_id") < 4)
    // no writeIndex ever ran on `fresh`: only staging exists, and the
    // probe must still work (the scaladoc's "retrievable the moment
    // the append returns" has no fold precondition)
    assert(!MaxSim.appendIndexBuffered(batch, fresh, nPlanes = 3, dims = 8,
      dBuckets = 4))
    MaxSim.writeIndex(batch, twin, nPlanes = 3, dims = 8, dBuckets = 4)
    def rows(idx: String) =
      MaxSim.searchIndex(spark, idx, d.where(col("doc_id") === 0),
          k = 8, nPlanes = 3, dims = 8, dBuckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    val got = rows(fresh)
    assert(got.nonEmpty && got == rows(twin),
      "staging-only probe must score like a built index over the same docs")
    // probing a path with NO data at all fails loudly, not obscurely
    val none = java.nio.file.Files.createTempDirectory("maxsim_none").toString
    val e = intercept[IllegalArgumentException] {
      MaxSim.searchIndex(spark, none, d.where(col("doc_id") === 0),
        k = 8, nPlanes = 3, dims = 8, dBuckets = 4)
    }
    assert(e.getMessage.contains("no index at"))
  }

  test("versioned index: build under Generations, probe the live path") {
    val d = corpus16
    val root = java.nio.file.Files.createTempDirectory("maxsimroot").toString
    MaxSim.writeIndexVersioned(d, root, nPlanes = 3, dims = 8, dBuckets = 4)
    val live = graft.ops.Generations.livePath(spark, root)
    val got = MaxSim.searchIndex(spark, live, d.where(col("doc_id") < 2),
      k = 4, nPlanes = 3, dims = 8, dBuckets = 4)
    assert(got.count() > 0)
  }

  test("pre-quantized probe and append equal the unquantized entry points") {
    val d = corpus16
    val idx = java.nio.file.Files.createTempDirectory("maxsim_q").toString
    val twin = java.nio.file.Files.createTempDirectory("maxsim_qt").toString
    MaxSim.writeIndex(d, idx, nPlanes = 3, dims = 8, dBuckets = 4)
    MaxSim.writeIndex(d, twin, nPlanes = 3, dims = 8, dBuckets = 4)
    val batch = d.where(col("doc_id") === 3)
      .select((col("doc_id") + 100L).as("doc_id"), col("tok"),
        (col("vec_id") + 10000L).as("vec_id"), col("embedding"))
    // the streaming shape: quantize ONCE, share across append + probe
    val qRows = MaxSim.quantizeBag(batch).localCheckpoint(true)
    assert(!MaxSim.appendIndexBufferedQuantized(qRows, idx, nPlanes = 3,
      dims = 8, dBuckets = 4))
    assert(!MaxSim.appendIndexBuffered(batch, twin, nPlanes = 3, dims = 8,
      dBuckets = 4))
    val q = d.where(col("doc_id") === 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val viaQ = rows(MaxSim.searchIndexQuantized(spark, idx,
      MaxSim.quantizeBag(q).localCheckpoint(true), k = 16, nPlanes = 3,
      dims = 8, dBuckets = 4))
    val viaPlain = rows(MaxSim.searchIndex(spark, twin, q, k = 16,
      nPlanes = 3, dims = 8, dBuckets = 4))
    assert(viaQ.exists(_._3 == 103L), "staged doc must be findable")
    assert(viaQ == viaPlain,
      "pre-quantized path must score bit-identically to the plain one")
  }

  test("a staged file landing after the fold's snapshot survives the flip") {
    val d = corpus16
    val idx = java.nio.file.Files.createTempDirectory("maxsim_race").toString
    MaxSim.writeIndex(d, idx, nPlanes = 3, dims = 8, dBuckets = 4)
    def batchFor(doc: Long, idOff: Long) = d.where(col("doc_id") === doc)
      .select((col("doc_id") + idOff).as("doc_id"), col("tok"),
        (col("vec_id") + idOff * 100L).as("vec_id"), col("embedding"))
    assert(!MaxSim.appendIndexBuffered(batchFor(3L, 100L), idx,
      nPlanes = 3, dims = 8, dBuckets = 4))
    val live = graft.ops.Generations.livePath(spark, s"$idx/staging")
    // snapshot taken NOW — then a racing append lands one more file
    // before the fold flips (the out-of-contract window the
    // foldStaging scaladoc names)
    val snapshot = new java.io.File(live.stripPrefix("file:")).listFiles()
      .toSeq
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => new org.apache.hadoop.fs.Path(f.getAbsolutePath))
    assert(!MaxSim.appendIndexBuffered(batchFor(5L, 200L), idx,
      nPlanes = 3, dims = 8, dBuckets = 4))
    MaxSim.foldStagingSnapshot(spark, idx, live, snapshot)
    // the racing file was carried into the FRESH staging generation —
    // its doc is still retrievable, and the snapshot's doc folded
    val newLive = graft.ops.Generations.livePath(spark, s"$idx/staging")
    assert(newLive != live, "fold must flip to a new staging generation")
    assert(graft.ops.Generations.hasData(spark, newLive),
      "the post-snapshot file must be carried into the new generation")
    def found(doc: Long) =
      MaxSim.searchIndex(spark, idx, d.where(col("doc_id") === doc % 100),
          k = 16, nPlanes = 3, dims = 8, dBuckets = 4)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(found(103L).contains(103L), "folded doc lost")
    assert(found(205L).contains(205L), "racing staged doc stranded by the flip")
  }

  test("plan: query side broadcasts — no sort-merge join anywhere") {
    val d = toks((0L, 0L, Seq(1f, 0f)), (1L, 0L, Seq(0f, 1f)),
      (2L, 0L, Seq(1f, 1f)))
    val plan = MaxSim.scoreExact(d, d.where(col("doc_id") === 0), k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"no broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected SMJ:\n$plan")
  }
}
