package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Source census of the specs' scratch space: every spec directory
  * and scratch file lives under a `SparkBridge.tempDir`, which the JVM
  * deletes when it exits. What java.nio's `createTempDirectory` or
  * `createTempFile` makes is never deleted, so each run of the suite
  * would leave it in `java.io.tmpdir`.
  */
class TempDirCensusSpec extends AnyFunSuite {

  test("no spec creates a temp directory or file that outlives the test JVM") {
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val specs = scalaFiles(new File("src/test"))
    assert(specs.nonEmpty, "src/test has no Scala sources")
    val Leak = """Files\s*\.\s*createTemp(Directory|File)""".r
    val leaks = specs.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toList finally src.close()
      lines.zipWithIndex.collect {
        case (l, i) if Leak.findFirstIn(l).isDefined => s"${f.getPath}:${i + 1}"
      }
    }
    assert(leaks.isEmpty,
      s"use SparkBridge.tempDir instead of a bare temp directory or file: ${leaks.mkString(", ")}")
  }
}
