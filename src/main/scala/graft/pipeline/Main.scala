package graft.pipeline

import graft.GraftSession

/** Pipeline entry point — the engine's `python3 main.py`
  * (reference main.py:83-87): load typed config, run the per-table
  * HistoryLoad loop, print each table's outcome and wall time and the
  * tally, exit non-zero if any table failed (the reference only logs
  * failures; an exit code is the batch-scheduler-friendly equivalent).
  *
  * Usage: runMain graft.pipeline.Main <config.yaml>
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.pipeline.Main <config.yaml>")
    val config = Config.fromYamlFile(args(0))
    val spark = GraftSession.local()
    val report = new HistoryLoad(spark, config).process()
    report.succeeded.foreach { t =>
      println(s"[ok]   $t rows=${report.rowCounts(t)} ms=${report.wallMs(t)}")
    }
    report.failed.foreach { case (t, err) =>
      println(s"[fail] $t ms=${report.wallMs(t)}: $err")
    }
    println(s"succeeded=${report.successCount} failed=${report.failureCount}")
    spark.stop()
    if (report.failureCount > 0) sys.exit(1)
  }
}
