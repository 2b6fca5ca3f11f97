package graft

import graft.ops.IncrementalAgg
import graft.plans.RollupRewrite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge
import org.scalatest.BeforeAndAfterAll

class RollupRewriteSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private val tmp =
    SparkBridge.tempDir("graft_rr").toString
  private val srcPath = s"$tmp/events_src.parquet"
  private val rollupPath = s"$tmp/mv_store"
  private val keys = Seq("day", "event_type")
  private val ms = Seq(IncrementalAgg.count("n_"),
    IncrementalAgg.sum("v", "sv_"), IncrementalAgg.max("v", "mx_"))

  override def beforeAll(): Unit = {
    super.beforeAll()
    val ev = graft.queries.events(spark, "/root/testdata/sf0.001")
      .select(expr("CAST(to_date(ts) AS STRING)").as("day"),
        col("event_type"), col("user_id"),
        expr("CAST(round(value * 1000.0) AS BIGINT)").as("v"))
    ev.write.mode("overwrite").parquet(srcPath)
    // maintain the rollup over the full source, in two folds
    val src = spark.read.parquet(srcPath)
    IncrementalAgg.updateTable(spark, rollupPath,
      src.where(col("user_id") % 2 === 0), keys, ms, "day")
    IncrementalAgg.updateTable(spark, rollupPath,
      src.where(col("user_id") % 2 === 1), keys, ms, "day")
  }

  override def afterAll(): Unit = {
    RollupRewrite.clear()
    super.afterAll()
  }

  /** Runs `mk` twice — rule off (ground truth) then rule on — and
    * returns (directRows, rewrittenRows, rewrittenPlan). Collection
    * happens under the matching registration state: plans optimize
    * lazily at action time, so the OFF run must fully collect before
    * re-registering.
    */
  private def offOn[T](mk: () => org.apache.spark.sql.Dataset[T])
      : (Seq[T], Seq[T], String) = {
    RollupRewrite.clear()
    val off = mk()
    val offPlan = off.queryExecution.executedPlan.toString
    assert(!offPlan.contains("mv_store"), s"rule off but mv_store scanned:\n$offPlan")
    val direct = off.collect().toSeq
    RollupRewrite.register(RollupRewrite.Target(srcPath, rollupPath, keys, ms))
    val on = mk()
    val onPlan = on.queryExecution.executedPlan.toString
    (direct, on.collect().toSeq, onPlan)
  }

  test("full-key aggregate answers from the rollup, bit-identically") {
    val (direct, rewritten, plan) = offOn(() =>
      spark.read.parquet(srcPath)
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"), max("v").as("mx"))
        .orderBy("day", "event_type")
        .as[(String, String, Long, Long, Long)])
    assert(plan.contains("mv_store"), s"expected rollup scan:\n$plan")
    assert(!plan.contains("events_src"), s"source must not be scanned:\n$plan")
    assert(rewritten == direct && direct.nonEmpty)
  }

  test("subset grouping rides the rollup lattice") {
    val (direct, rewritten, plan) = offOn(() =>
      spark.read.parquet(srcPath)
        .groupBy("day").agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .orderBy("day").as[(String, Long, Long)])
    assert(plan.contains("mv_store"))
    assert(rewritten == direct && direct.nonEmpty)
  }

  test("key-column filters rewrite; non-key filters do not") {
    val someDay = spark.read.parquet(srcPath)
      .select(max(expr("day"))).as[String].head()
    val (direct, rewritten, plan) = offOn(() =>
      spark.read.parquet(srcPath)
        .where(col("day") === someDay)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type").as[(String, Long)])
    assert(plan.contains("mv_store"))
    assert(rewritten == direct && direct.nonEmpty)

    val nonKey = spark.read.parquet(srcPath)
      .where(col("user_id") > 10)
      .groupBy("day").agg(count(lit(1)).as("n"))
    assert(!nonKey.queryExecution.executedPlan.toString.contains("mv_store"),
      "a non-key filter cannot be answered by the rollup")
  }

  test("HAVING and ORDER BY above a rewritten aggregate keep resolving (exprId rebind)") {
    val (direct, rewritten, plan) = offOn(() =>
      spark.read.parquet(srcPath)
        .groupBy("day").agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .where(col("n") >= 3)            // HAVING over the agg output
        .orderBy(col("sv").desc, col("day"))
        .as[(String, Long, Long)])
    assert(plan.contains("mv_store"))
    assert(rewritten == direct && direct.nonEmpty)
  }

  test("a STREAMING-maintained rollup answers batch queries through the rewrite") {
    // the full loop: micro-batches fold into the materialized view
    // (RollupStream, replay-marked), the optimizer answers the raw
    // table's GROUP BY from it — a streaming materialized view
    val dir = SparkBridge.tempDir("graft_rr_stream")
    val src2 = s"$dir/events_src2.parquet"
    val mv2 = s"$dir/mv_store2"
    val ev = graft.queries.events(spark, "/root/testdata/sf0.001")
      .select(expr("CAST(to_date(ts) AS STRING)").as("day"),
        col("event_type"), col("user_id"),
        expr("CAST(round(value * 1000.0) AS BIGINT)").as("v"))
    ev.write.mode("overwrite").parquet(src2)
    // stage the source as two stream files
    val inDir = new java.io.File(s"$dir/in"); inDir.mkdirs()
    Seq(0, 1).foreach { h =>
      val staged = s"$dir/stage_$h"
      spark.read.parquet(src2).where(col("user_id") % 2 === h)
        .coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(inDir, s"b$h.parquet").toPath)
    }
    val stream = spark.readStream
      .schema(spark.read.parquet(src2).schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir.toString)
    val q = graft.streaming.RollupStream.start(stream, mv2, keys,
      Seq(IncrementalAgg.count("n_"), IncrementalAgg.sum("v", "sv_")),
      "day", s"$dir/ckpt")
    try q.processAllAvailable() finally q.stop()

    RollupRewrite.clear()
    val direct = spark.read.parquet(src2)
      .groupBy("day").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("day").as[(String, Long, Long)].collect().toSeq
    RollupRewrite.register(RollupRewrite.Target(src2, mv2, keys,
      Seq(IncrementalAgg.count("n_"), IncrementalAgg.sum("v", "sv_"))))
    val on = spark.read.parquet(src2)
      .groupBy("day").agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("day").as[(String, Long, Long)]
    assert(on.queryExecution.executedPlan.toString.contains("mv_store2"))
    assert(on.collect().toSeq == direct && direct.nonEmpty)
    RollupRewrite.clear()
  }

  test("a multi-root scan containing the source does NOT rewrite") {
    // spark.read.parquet(src, other) covers rows the rollup never
    // folded — answering it from the summary would be wrong results,
    // so any root-path match inside a multi-root scan must bail
    val other = s"$tmp/events_other.parquet"
    spark.read.parquet(srcPath).limit(50)
      .withColumn("v", col("v") + 1)
      .write.mode("overwrite").parquet(other)
    RollupRewrite.register(RollupRewrite.Target(srcPath, rollupPath, keys, ms))
    val multi = spark.read.parquet(srcPath, other)
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    val plan = multi.queryExecution.executedPlan.toString
    assert(!plan.contains("mv_store"),
      s"multi-root scan answered from the rollup:\n$plan")
    // and the values really are the union's, not the rollup's
    val direct = multi.orderBy("day", "event_type")
      .as[(String, String, Long, Long)].collect().toSeq
    RollupRewrite.clear()
    val truth = spark.read.parquet(srcPath, other)
      .groupBy("day", "event_type")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .orderBy("day", "event_type")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(direct == truth && truth.nonEmpty)
  }

  test("unregistered measures and distinct aggregates stay on the source") {
    RollupRewrite.register(RollupRewrite.Target(srcPath, rollupPath, keys, ms))
    val unreg = spark.read.parquet(srcPath)
      .groupBy("day").agg(sum("user_id").as("su"))
    assert(!unreg.queryExecution.executedPlan.toString.contains("mv_store"))
    val dist = spark.read.parquet(srcPath)
      .groupBy("day").agg(countDistinct("user_id").as("du"))
    assert(!dist.queryExecution.executedPlan.toString.contains("mv_store"))
    // and the rewritten path really is cheaper: it reads only the
    // summary rows
    val rewritten = spark.read.parquet(srcPath)
      .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
    val nRollupRows = spark.read.parquet(rollupPath).count()
    val nSrcRows = spark.read.parquet(srcPath).count()
    assert(nRollupRows < nSrcRows / 2,
      s"fixture degenerate: rollup $nRollupRows vs src $nSrcRows")
    assert(rewritten.queryExecution.executedPlan.toString.contains("mv_store"))
  }
}
