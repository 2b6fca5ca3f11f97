package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One op as measured. `mismatch` is settled by the workload's check,
  * which runs outside the op's timed region; `srcBytes` is the size of
  * the source Parquet the op reads.
  */
final class Sample(val op: Long, val client: Int, val label: String,
                   val family: String, val traced: Boolean,
                   val startNs: Long, val endNs: Long, val items: Long,
                   val srcBytes: Long, val error: Option[String]) {
  @volatile var mismatch: Option[String] = Some("not checked")
  /** where the op's output is left for the harness to check, if anywhere */
  @volatile var output: String = null
  /** Parquet files and bytes the op wrote, for ops that write */
  @volatile var outFiles = 0
  @volatile var outBytes = 0L
  def ok: Boolean = error.isEmpty
  def quality: Boolean = ok && mismatch.isEmpty
}

/** The measurement window shared by a workload's clients. */
final class RunCtx(val spark: SparkSession, val rec: Recorder,
                   val seconds: Double, val trace: Boolean) {
  private val opIds = new AtomicLong(0)
  val samples = new ConcurrentLinkedQueue[Sample]()
  @volatile var startNs: Long = 0L
  @volatile var deadlineNs: Long = Long.MaxValue

  /** Clients start new ops until `seconds` have passed. */
  def open: Boolean = System.nanoTime() < deadlineNs

  def start(): Unit = {
    startNs = System.nanoTime()
    deadlineNs = startNs + (seconds * 1e9).toLong
  }

  /** Time one op. In a traced run every second op is traced (spans,
    * its own job group for the listener) and the others run bare, so
    * `trace.overhead_frac` compares ops of one run with one mix.
    */
  def timed(client: Int, label: String, family: String, srcBytes: Long)(
      body: => Long): Sample = {
    val id = opIds.incrementAndGet()
    val traced = trace && id % 2 == 0
    val sc = spark.sparkContext
    sc.setJobGroup(if (traced) s"op-$id" else "op", label, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val result = rec.inOp(id, traced)(rec.span("op")(Try(body)))
    val t1 = System.nanoTime()
    sc.clearJobGroup()
    val s = new Sample(id, client, label, family, traced, t0, t1,
      result.getOrElse(0L), srcBytes,
      result.failed.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    samples.add(s)
    s
  }
}

object RunCtx {
  /** Run `body(c)` for clients c = 0 until n, each on its own thread;
    * rethrows the first failure once all have ended. */
  def parallel(n: Int)(body: Int => Unit): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = (0 until n).map { c =>
      val t = new Thread(() => try body(c) catch { case e: Throwable => failure.compareAndSet(null, e) },
        s"client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    Option(failure.get).foreach(e => throw e)
  }
}
