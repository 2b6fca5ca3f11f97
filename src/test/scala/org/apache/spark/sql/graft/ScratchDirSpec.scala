// In Spark's package tree: ShutdownHookManager is private[spark].
package org.apache.spark.sql.graft

import org.apache.spark.util.ShutdownHookManager

/** Scratch directories a query creates (indexes, stores, checkpoints)
  * are registered for deletion at JVM shutdown, so repeated runs do
  * not pile them up under `java.io.tmpdir`.
  */
class ScratchDirSpec extends graft.SparkSpec {

  test("a query's scratch directory is deleted when the JVM shuts down") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch: Set[java.io.File] =
      tmp.listFiles().filter(_.getName.startsWith("graft_q134")).toSet
    val before = scratch
    // a conf of its own: another suite may have built q134 in this JVM
    // already, and a repeated call reuses that frame and its directory
    withConf("graft.spec.scratchDir" -> System.nanoTime.toString) {
      graft.SparkEntry.queries("q134_phrase_search")(spark,
        "/root/testdata/sf0.001").collect()
    }
    val made = scratch -- before
    assert(made.nonEmpty, "q134 builds its index in a scratch directory")
    made.foreach { d =>
      assert(ShutdownHookManager.hasShutdownDeleteDir(d),
        s"$d is not registered for deletion at shutdown")
    }
  }
}
