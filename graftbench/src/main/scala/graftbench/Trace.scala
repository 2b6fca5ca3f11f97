package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed region. `parent` is the id of the enclosing span on the
  * same thread (-1 at the root); every span of one op carries that
  * op's id (-1 outside ops).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled (untraced run, or an op that a
  * traced run leaves bare), `span` is a plain call: no clock reads, no
  * allocation.
  */
final class Recorder(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val on = ThreadLocal.withInitial[java.lang.Boolean](() => enabled)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[Long](() => -1L)

  /** Run one op's body: its spans carry `op` when `traced`; an op left
    * bare records no spans at all. */
  def inOp[T](op: Long, traced: Boolean)(body: => T): T = {
    val (prevOp, prevOn) = (currentOp.get, on.get)
    currentOp.set(if (traced) op else -1L)
    on.set(enabled && traced)
    try body finally { currentOp.set(prevOp); on.set(prevOn) }
  }

  def span[T](name: String)(body: => T): T =
    if (!on.get) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(-1L), currentOp.get,
          name, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Per-op Spark counters, keyed by the job group each op sets. */
final class OpCounters {
  var jobs = 0L
  var tasks = 0L
  var schedWaitMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** [submit, end] wall intervals of the op's jobs, epoch ms */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** wall time of each file-writing SQL execution of the op, ms */
  val writeMs = mutable.ArrayBuffer.empty[Long]

  /** Bytes the tasks wrote to disk: output files, shuffle files, spill. */
  def diskBytes: Long = outputBytes + shuffleWriteBytes + spillBytes
}

/** Collects job/stage/task and SQL execution events per job group
  * (each op sets one) through Spark's public listener interface. Always
  * registered: `write_amp` needs the ops' disk bytes on untraced runs
  * too. Events arrive on the listener bus thread; `Probes.drain` waits
  * for them before results are read.
  */
final class OpListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, OpCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val writeStart = mutable.HashMap.empty[Long, (String, Long)]

  private def counters(g: String) = byGroup.getOrElseUpdate(g, new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    counters(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) =>
      counters(g).jobSpans += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
  }

  // queueing: from a stage's submission to its first task launch,
  // including the wait behind other clients' tasks for a free core
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stageSubmitted.remove(e.stageId).foreach { t0 =>
      counters(stageGroup.getOrElse(e.stageId, "")).schedWaitMs +=
        math.max(0L, e.taskInfo.launchTime - t0)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
    }
  }

  // a write command's execution, e.g. PartitionedSink's Parquet append
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart
        if x.sparkPlanInfo.nodeName.contains("InsertIntoHadoopFsRelationCommand") =>
      synchronized { writeStart(x.executionId) = (x.jobGroupId.getOrElse(""), x.time) }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      writeStart.remove(x.executionId).foreach { case (g, t0) => counters(g).writeMs += x.time - t0 }
    }
    case _ =>
  }

  def snapshot: Map[String, OpCounters] = synchronized(byGroup.toMap)
}
