package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.SparkBridge
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local()

  /** `body` with the session configs `kv` set, the previous values
    * restored after; a key that was unset is unset again, not pinned
    * to Spark's default (set confs are part of every kept plan's key). */
  protected def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) =>
      k -> (if (spark.sessionState.conf.contains(k)) spark.conf.getOption(k) else None)
    }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The number of Spark jobs `body` starts. */
  protected def jobsOf(body: => Unit): Int = {
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
}
