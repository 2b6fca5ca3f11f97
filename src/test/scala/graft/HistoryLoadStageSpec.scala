package graft

import java.time.{Instant, LocalDateTime}
import java.time.temporal.ChronoUnit

import graft.functions.RunConstant
import graft.ops.Audit
import graft.pipeline.{HistoryLoad, PipelineConfig, TableConfig}
import graft.sources.PartitionedSink
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, SparkBridge}
import org.apache.spark.sql.types.LongType

/** Every HistoryLoad table whose columns have the same types reuses one
  * compiled write stage: the run constants (`runid`, `updatedby`, the
  * per-table `updated_utc_ts`) are read from the stage's references,
  * not inlined into its source. */
class HistoryLoadStageSpec extends SparkSpec {

  /** Two source tables, same column types, different names and values. */
  private lazy val source: String = {
    val dir = SparkBridge.tempDir("graft_stage").toString
    def table(name: String, prefix: String, from: Long): Unit =
      spark.range(from, from + 200, 1, 2)
        .select(col("id").as(s"${prefix}_id"),
          (col("id") * 37).cast("decimal(12,2)").as(s"${prefix} Amount"),
          date_from_unix_date(col("id").cast("int")).as(s"${prefix}_day"),
          timestamp_seconds(col("id") * 3601L).as(s"${prefix}_at"),
          when(col("id") % 3 === 0, lit(null)).otherwise(col("id").cast("string")).as(s"${prefix}_note"))
        .write.parquet(s"$dir/$name.parquet")
    table("first", "a", 0L)
    table("second", "b", 1000L)
    dir
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("after the first table, no table and no later run compiles generated code") {
    val out = SparkBridge.tempDir("graft_stage_out").toString
    val tables = Seq(TableConfig("first", "T"), TableConfig("second", "T"))
    val now = LocalDateTime.of(2024, 6, 1, 12, 0)
    def load(runId: Long, target: String) =
      new HistoryLoad(spark, PipelineConfig(source, target, runId, s"by$runId", tables), now)

    /** Process `table`, then check its audit values: the configured ones,
      * and one timestamp per table, taken while it ran, in whole ms. */
    def run(l: HistoryLoad, runId: Long, target: String, table: String): Unit = {
      val before = Instant.now().truncatedTo(ChronoUnit.MILLIS)
      assert(l.processTable(table) == 200L)
      val after = Instant.now()
      val audit = spark.read.parquet(PartitionedSink.datePath(target, table, now))
        .select("updatedby", "runid", "updated_utc_ts").distinct().collect()
      assert(audit.length == 1, audit.mkString(", "))
      val Seq(by, id, ts) = audit.head.toSeq
      assert(by == s"by$runId" && id == runId)
      val at = ts.asInstanceOf[java.sql.Timestamp].toInstant
      assert(!at.isBefore(before) && !at.isAfter(after), s"$at not in [$before, $after]")
      assert(at.getNano % 1000000 == 0, s"$at is not whole milliseconds")
    }

    val first = load(1L, s"$out/run1")
    run(first, 1L, s"$out/run1", "first")
    val compiled = compiles
    run(first, 1L, s"$out/run1", "second")
    assert(compiles == compiled, "the second table compiled its own stage")
    val second = load(2L, s"$out/run2")
    run(second, 2L, s"$out/run2", "first")
    run(second, 2L, s"$out/run2", "second")
    assert(compiles == compiled, "a run with another runId compiled its own stage")
  }

  test("transform: normalized source columns, audit columns, then the hash of the source columns") {
    val load = new HistoryLoad(spark, PipelineConfig("/in", "/out", 5L, "me", Seq.empty))
    val df = spark.range(3).selectExpr("id as `Order Id`", "cast(id * 2 as string) as `a-b`")
    val out = load.transform(df)
    assert(out.columns.toSeq ==
      Seq("order_id", "ab", "updatedby", "updated_utc_ts", "runid", "row_hash_code"))
    val hashes = out.orderBy("order_id").select("row_hash_code").collect().map(_.getString(0)).toSeq
    assert(hashes == Audit.addRowHash(df, df.columns.toSeq).orderBy("`Order Id`")
      .select("row_hash_code").collect().map(_.getString(0)).toSeq)
    // a source column named like an audit column is a collision, not overwritten
    val e = intercept[IllegalArgumentException](load.transform(df.withColumnRenamed("a-b", "RunID")))
    assert(e.getMessage.contains("collision") && e.getMessage.contains("runid"), e.getMessage)
  }

  test("RunConstant is not folded, and evaluates the same with and without codegen") {
    val c = RunConstant.long(42L)
    assert(!ColumnBridge.expression(c).foldable)
    val df = spark.range(3).select((col("id") + c).as("v"), RunConstant.string("x").as("s"),
      ColumnBridge.column(RunConstant(null, LongType)).as("n"))
    for (conf <- Seq(Seq("spark.sql.codegen.wholeStage" -> "true"),
                     Seq("spark.sql.codegen.wholeStage" -> "false",
                       "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))) {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSeq
        assert(rows == Seq((42L, "x", true), (43L, "x", true), (44L, "x", true)), conf)
      } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }
}
