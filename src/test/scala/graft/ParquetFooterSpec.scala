package graft

import java.io.File
import java.nio.file.Files
import java.time.LocalDateTime
import java.util.concurrent.atomic.AtomicInteger

import graft.pipeline.{HistoryLoad, PipelineConfig, TableConfig}
import graft.sources.ParquetFooter
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SparkBridge

/** The driver-side footer schema equals what `spark.read.parquet`
  * infers, and with it a HistoryLoad table costs exactly one job. */
class ParquetFooterSpec extends SparkSpec {

  /** A table of three part files, written by Spark, with timestamp,
    * decimal, date, string and non-nullable columns. */
  private lazy val table: String = {
    val dir = Files.createTempDirectory("graft_footer").toString + "/t.parquet"
    spark.range(0, 300, 1, 3)
      .select(col("id"),
        (col("id") * 1000003L).cast("decimal(12,2)").as("amount"),
        (col("id") % 7).cast("decimal(38,6)").as("wide"),
        timestamp_seconds(col("id") * 86399L).as("created"),
        date_from_unix_date(col("id").cast("int")).as("due"),
        when(col("id") % 5 === 0, lit(null)).otherwise(col("id").cast("string")).as("note"))
      .write.parquet(dir)
    dir
  }

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    SparkBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; SparkBridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("footer schema equals spark.read.parquet's on a multi-file table") {
    val parts = new File(table).listFiles().map(_.getName)
    assert(parts.count(_.endsWith(".parquet")) == 3 && parts.contains("_SUCCESS"))
    val inferred = spark.read.parquet(table).schema
    assert(ParquetFooter.schema(spark, table).contains(inferred))
    assert(inferred.map(_.dataType.typeName).toSet ==
      Set("long", "decimal(12,2)", "decimal(38,6)", "timestamp", "date", "string"))
  }

  test("footer schema of a single file, and none for a missing path") {
    val file = new File(table).listFiles().filter(_.getName.endsWith(".parquet")).head.getPath
    assert(ParquetFooter.schema(spark, file).contains(spark.read.parquet(file).schema))
    assert(ParquetFooter.schema(spark, s"$table-missing").isEmpty)
  }

  test("footer read skips _SUCCESS and hidden files, which sort first") {
    val dir = Files.createTempDirectory("graft_footer_hidden").toFile
    new File(table).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, new File(dir, f.getName).toPath))
    // not Parquet: reading either as the first data file would throw
    Files.write(new File(dir, "_SUCCESS").toPath, Array[Byte](1, 2, 3))
    Files.write(new File(dir, ".0000.parquet").toPath, "junk".getBytes)
    Files.write(new File(dir, "_0000.parquet").toPath, "junk".getBytes)
    assert(ParquetFooter.schema(spark, dir.getPath)
      .contains(spark.read.parquet(dir.getPath).schema))
  }

  test("partitioned layouts are left to the reader's own discovery") {
    val dir = Files.createTempDirectory("graft_footer_part").toString + "/t.parquet"
    spark.range(10).withColumn("p", col("id") % 2).write.partitionBy("p").parquet(dir)
    assert(ParquetFooter.schema(spark, dir).isEmpty)
  }

  test("processTable runs one Spark job per table: the write, no schema inference") {
    val src = new File(table).getParent
    val out = Files.createTempDirectory("graft_footer_out").toString
    val load = new HistoryLoad(spark,
      PipelineConfig(src, out, 3L, "tester", Seq(TableConfig("t", "T"))),
      LocalDateTime.of(2024, 6, 1, 12, 0))
    var rows = 0L
    assert(jobsOf { rows = load.processTable("t") } == 1)
    assert(rows == 300L)
    // and the read schema made it to disk unchanged
    val back = spark.read.parquet(s"$out/t/2024/06/01/12")
    assert(back.schema.take(6) == spark.read.parquet(table).schema.fields.toSeq)
    // the old path paid a schema-inference job on top
    assert(jobsOf { spark.read.parquet(table); () } == 1)
  }
}
