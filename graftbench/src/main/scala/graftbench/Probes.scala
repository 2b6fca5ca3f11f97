package graftbench

import java.io.File
import java.time.LocalDateTime
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import graft.ops.Dedup
import graft.pipeline.{CorpusClean, HistoryLoad, PipelineConfig, TableConfig}
import graft.sources.PartitionedSink
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Layer probes of the traced run: each times one public call of one
  * module, from outside, on the interactive input set (the workload's
  * own data on `interactive`, a seeded copy under `probe/` otherwise),
  * so every layer is measured on every workload; a layer the
  * workload's own ops drive is measured on them instead. Timings land
  * as spans; the values returned here are counts and shapes.
  */
object Probes {
  private val reps = 3

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, rec: Recorder, workload: String, data: String,
          work: String): Map[String, Any] = {
    val kit = if (workload == "interactive") data else s"$data/probe"
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    // scheduler floor: a trivial narrow 32-task job
    (1 to 11).foreach { _ =>
      rec.span("spark.floor") {
        spark.range(0L, 1000000L, 1L, 32).selectExpr("sum(id)").collect()
      }
    }

    // Tables: the scan-plan cache returns the identical DataFrame
    InteractiveWorkload.registerTables(spark, kit)
    var hits, calls = 0
    InteractiveWorkload.tables.foreach { t =>
      val first = Tables(spark, kit, t)
      (1 to 20).foreach { _ =>
        val df = rec.span("tables.lookup")(Tables(spark, kit, t))
        calls += 1
        if (df eq first) hits += 1
      }
    }
    out("tables.hit_frac") = hits.toDouble / calls

    // types/ops: HistoryLoad.transform into noop. history_load's own ops
    // write, so its sources figures come from them (the listener's write
    // executions, the files each op left) and the transform runs over its
    // active tables, one each; on the other workloads one table of the
    // probe set also goes through the sink and the whole processTable.
    if (workload == "history_load") {
      val load = new HistoryLoad(spark, PipelineConfig(s"$data/src", s"$work/none", 1L,
        "graftbench", Seq.empty), LocalDateTime.now())
      Workload.elements(Workload.json.readTree(new File(s"$data/tables.json")))
        .filter(_.get("active").asText == "T").map(_.get("name").asText).foreach { t =>
          rec.span("ops.transform")(noop(load.transform(spark.read.parquet(s"$data/src/$t.parquet"))))
        }
    } else {
      val target = s"$work/probe-target"
      val cfg = PipelineConfig(kit, target, 1L, "graftbench",
        Seq(TableConfig("lineitem", "T")))
      val load = new HistoryLoad(spark, cfg, LocalDateTime.now())
      val lineitem = spark.read.parquet(s"$kit/lineitem.parquet")
      val writes = (1 to reps).map { i =>
        rec.span("ops.transform")(noop(load.transform(lineitem)))
        val now = LocalDateTime.of(2024, 1, 1, i, 0)
        val rows = rec.span("sources.write")(
          PartitionedSink.writeDatePartitioned(load.transform(lineitem), target, "lineitem", now))
        val (files, bytes) = Workload.parquetBytes(
          new File(PartitionedSink.datePath(target, "lineitem", now)))
        rec.span("pipeline.table")(load.processTable("lineitem"))
        Workload.rm(new File(target))
        (files, bytes.toDouble / rows)
      }
      out("sources.files_per_table") = writes.map(_._1).sum.toDouble / reps
      out("sources.write_bytes_per_row") = writes.map(_._2).sum / reps
    }

    // curation ops: the dedup stages one by one, on planted duplicates
    val docs = spark.read.parquet(s"$kit/documents.parquet")
    val truth = Workload.json.readTree(new File(s"$kit/documents_truth.json"))
    var pairs: Array[(Long, Long)] = Array.empty
    (1 to reps).foreach { _ =>
      rec.span("dedup.exact")(noop(Dedup.exactDedup(docs, "doc_id", Seq("text"))))
      rec.span("dedup.minhash")(noop(Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3)))
      pairs = rec.span("dedup.lsh_pairs") {
        Dedup.lshCandidatePairs(Dedup.minhashSignatures(docs, "doc_id", "text", 8, 3),
          "doc_id", 4, 2).select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      if (workload != "corpus_dedup") rec.span("pipeline.clean") {
        val res = CorpusClean.clean(docs)
        res.collect()
        CorpusDedupWorkload.free(spark, res)
      }
    }
    out("dedup.candidate_pairs") = pairs.length.toDouble
    out("dedup.pair_precision") = {
      // a pair is planted when both ends share one base document
      val base = scala.collection.mutable.HashMap.empty[Long, Long]
      truth.get("base").elements().asScala.foreach(b => base(b.asLong) = b.asLong)
      truth.get("near").elements().asScala.foreach(p => base(p.get(0).asLong) = p.get(1).asLong)
      val texts = docs.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val byText = texts.filter { case (id, _) => base.contains(id) && base(id) == id }
        .map { case (id, t) => t -> id }
      truth.get("exact").elements().asScala.foreach { e =>
        byText.get(texts(e.asLong)).foreach(b => base(e.asLong) = b)
      }
      val planted = pairs.count { case (x, y) =>
        base.get(x).exists(b => base.get(y).contains(b)) }
      if (pairs.isEmpty) 0.0 else planted.toDouble / pairs.length
    }

    // queries and plans: the deck on the probe set
    val deck = InteractiveWorkload.deck
    val withRewrite = deck.count { case (q, _) =>
      val plan = SparkEntry.queries(q)(spark, kit).queryExecution.executedPlan
      val nodes = plan.collectWithSubqueries { case p => p } ++
        plan.collect { case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan }.flatMap(_.collectWithSubqueries { case p => p })
      nodes.exists(n => n.getClass.getName.startsWith("graft.") ||
        n.expressions.exists(_.exists(_.getClass.getName.startsWith("graft.plans"))))
    }
    out("plans.rewrite_hit_frac") = withRewrite.toDouble / deck.size
    if (workload != "interactive") (0 to reps).foreach { i =>
      deck.foreach { case (q, family) =>
        if (i == 0) SparkEntry.queries(q)(spark, kit).collect()
        else rec.span(s"queries.$family")(SparkEntry.queries(q)(spark, kit).collect())
      }
    }
    out.toMap
  }

  /** Wait until the listener bus has delivered every event posted so far:
    * user listeners share one queue, so once a sentinel job's end
    * arrives, everything before it has been seen.
    */
  def drain(spark: SparkSession): Unit = {
    val done = new CountDownLatch(1)
    val sentinel = new SparkListener {
      @volatile private var job = -1
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "drain"))
          job = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == job) done.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(sentinel)
    sc.setJobGroup("drain", "drain", interruptOnCancel = false)
    spark.range(1).count()
    sc.clearJobGroup()
    done.await(60, TimeUnit.SECONDS)
    sc.removeSparkListener(sentinel)
  }
}
