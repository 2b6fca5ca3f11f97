package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.time.Instant

import scala.jdk.CollectionConverters._

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: sets up (session, inputs, warm-up), runs the
  * workload's timed window, checks outputs, and writes every raw sample
  * to `--out` as JSON. The harness (run.py) turns samples into metrics.
  *
  *   --workload W --data DIR --work DIR --out FILE --seconds S
  *   --trace 0|1 --clients N --cores C --seed N
  *   --launch-ns EPOCH_NS   (when the harness started this process)
  */
object Main {

  private def loadAvg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def epochNs(): Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder(cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val (data, work) = (a("data"), a("work"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val clients = a("clients").toInt
    val cores = a("cores").toInt
    val launchNs = a("launch-ns").toLong
    val load0 = loadAvg()
    val rec = new Recorder(trace)
    val wl = Workload(workload, data, work, a("seed").toLong, clients)

    // set-up, from process start to the first timed op: JVM start,
    // class loading, session start, input registration and the untimed
    // warm-up that brings the JIT to its steady state
    val spark = rec.span("session.start")(session(cores, work))
    wl.register(spark)
    wl.warmup(spark)
    val setupS = (epochNs() - launchNs) / 1e9

    val listener = new OpListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new RunCtx(spark, rec, seconds, trace)
    ctx.start()
    wl.run(ctx)
    val windowNs = System.nanoTime() - ctx.startNs
    wl.finish(spark)
    val checkNs = System.nanoTime() - ctx.startNs - windowNs
    val probes = if (trace) Probes.run(spark, rec, workload, data, work) else Map.empty[String, Any]
    wl match {
      case i: InteractiveWorkload => i.dumpReference(spark, s"$work/reference")
      case _ =>
    }
    Probes.drain(spark)
    val load1 = loadAvg()

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", workload)
    out.put("setup_s", setupS)
    out.put("window_s", windowNs / 1e9)
    out.put("check_s", checkNs / 1e9)
    out.put("peak_rss_mb", peakRssMb())
    val groups = listener.snapshot
    out.put("written_bytes", groups.collect { case (g, c) if g.startsWith("op") => c.diskBytes }.sum)
    out.put("samples", ctx.samples.asScala.toSeq.sortBy(_.startNs).map { s =>
      Map("op" -> s.op, "client" -> s.client, "label" -> s.label,
        "family" -> s.family, "traced" -> s.traced,
        "start_ns" -> (s.startNs - ctx.startNs), "end_ns" -> (s.endNs - ctx.startNs),
        "items" -> s.items, "src_bytes" -> s.srcBytes, "ok" -> s.ok,
        "quality" -> s.quality, "error" -> s.error.orNull,
        "mismatch" -> s.mismatch.orNull, "output" -> s.output,
        "out_files" -> s.outFiles, "out_bytes" -> s.outBytes).asJava
    }.asJava)
    out.put("env", Map(
      "load_avg_start" -> load0, "load_avg_end" -> load1,
      "hot_start" -> (load0 > 2.0), "cores" -> cores, "clients" -> clients,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filter(_.startsWith("-X")).mkString(" ")).asJava)
    if (trace) {
      out.put("spans", rec.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs).asJava).asJava)
      out.put("ops", groups.map { case (g, c) =>
        g -> Map("jobs" -> c.jobs, "tasks" -> c.tasks,
          "sched_wait_ms" -> c.schedWaitMs, "run_ms" -> c.runMs,
          "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs, "input_bytes" -> c.inputBytes,
          "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "shuffle_read_bytes" -> c.shuffleReadBytes,
          "spill_bytes" -> c.spillBytes, "write_ms" -> c.writeMs.asJava,
          "job_spans_ms" -> c.jobSpans.map { case (x, y) => Seq(x, y).asJava }.asJava
        ).asJava
      }.asJava)
      out.put("probes", probes.asJava)
      out.put("op_epoch_ns", epochNs() - (System.nanoTime() - ctx.startNs))
    }
    spark.stop()
    Workload.json.writeValue(new File(a("out")), out)
  }
}
