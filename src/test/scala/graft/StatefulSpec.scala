package graft

import graft.streaming.{EventsStream, StatefulSessions}
import org.apache.spark.sql.functions._

class StatefulSessionsSpec extends SparkSpec {

  test("streaming stateful sessionizer agrees with the batch window sessionizer") {
    // stage events into a streamable dir
    val dir = java.nio.file.Files.createTempDirectory("graft_state")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))

    val stream = EventsStream.readStream(spark, dir.toString)
    val q = StatefulSessions.sessionize(spark, stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      q.processAllAvailable()
      // with the whole fixture in ONE micro-batch, every session except
      // each user's last (still open in state) must match the batch
      // sessionizer's output
      val streamed = spark.table("sessions_out")
      val batch = SparkEntry.queries("q53_sessionize")(spark, "/root/testdata/sf0.001")
      val batchClosed = batch.withColumn("rk",
          org.apache.spark.sql.expressions.Window.partitionBy("user_id") match {
            case w => max("sess").over(w)
          })
        .where(col("sess") < col("rk")) // drop each user's final session
        .select(col("user_id"), col("n_events"))
      val streamedCmp = streamed.select(col("user_id"), col("n_events"))
      assert(streamedCmp.exceptAll(batchClosed).isEmpty &&
        batchClosed.exceptAll(streamedCmp).isEmpty)
      assert(streamed.count() > 0)
    } finally q.stop()
  }
}
