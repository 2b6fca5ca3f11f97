package graft

import java.io.{File, PrintWriter, StringWriter}
import java.util.spi.ToolProvider

import org.scalatest.funsuite.AnyFunSuite

/** Class-level reachability census of the engine's main classes: every
  * top-level class must be reached from an entry point — `SparkEntry`'s
  * queries, `Verify`, `Explain`, `pipeline.Main`, `GraftSession` (its
  * extensions hang off it) and the engine classes `graftbench` imports —
  * or be named, with its reason, in COVERAGE.md's "kept on purpose"
  * table. `jdeps` (run in-process) lists the class-to-class edges; a
  * nested class (`A$B`) counts as its top-level class `A`.
  *
  * The census is per class: a method only a spec calls, inside a
  * reached class, does not show up here. `tools/method_census.py` is
  * the method-level census over `javap -c -p`. It counts `static {}`
  * of `X$` as a caller (an object's query and oracle maps are built
  * there), does not count the static forwarder `X` beside `X$`, and
  * cannot see calls made only from codegen source strings.
  */
class ReachabilitySpec extends AnyFunSuite {

  private val coverageHeading = "## Code no entry point reaches, kept on purpose"

  private def topLevel(cls: String): String = cls.takeWhile(_ != '$')

  /** (class -> classes it references), both folded to top level, over
    * the main classes the test JVM loaded `SparkEntry` from.
    */
  private def edges(): Map[String, Set[String]] = {
    val classes = new File(
      SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val jdeps = ToolProvider.findFirst("jdeps")
      .orElseThrow(() => new IllegalStateException("no jdeps tool in this JDK"))
    val out = new StringWriter
    val err = new StringWriter
    val rc = jdeps.run(new PrintWriter(out), new PrintWriter(err),
      "-verbose:class", "-filter:none", classes.getPath)
    assert(rc == 0, s"jdeps failed ($rc): $err")
    // "   graft.X$Y    -> graft.Z    classes": an edge inside the
    // analysed directory; edges to the JDK or Spark name their module
    // or "not found" in the last column
    val Edge = """\s+(\S+)\s+->\s+(\S+)\s+(\S+.*?)\s*""".r
    out.toString.linesIterator.collect {
      case Edge(from, to, where) =>
        topLevel(from) -> (if (where == classes.getName) Some(topLevel(to)) else None)
    }.toSeq.groupMapReduce(_._1)(_._2.toSet)(_ ++ _)
  }

  /** The entry points, including every `graft.*` name `graftbench`'s
    * main sources import.
    */
  private def roots(): Set[String] = {
    val Import = """import (graft(?:\.\w+)*)\.(?:\{([^}]*)\}|(\w+))""".r
    def scalaFiles(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val bench = scalaFiles(new File("graftbench/src/main"))
    assert(bench.nonEmpty, "graftbench/src/main has no Scala sources")
    val imported = bench.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }.collect {
      case Import(pkg, group, single) =>
        Option(group).getOrElse(single).split(',').map(_.trim)
          .filter(_.nonEmpty).map(n => s"$pkg.$n").toSeq
    }.flatten
    Set("graft.SparkEntry", "graft.Verify", "graft.Explain",
      "graft.pipeline.Main", "graft.GraftSession") ++ imported
  }

  /** Classes COVERAGE.md keeps on purpose: the backticked names in the
    * first column of the table under [[coverageHeading]]. A name with a
    * directory (`sources/JdbcSource`) sets it for the bare names after
    * it in the same cell (`JdbcDialect`).
    */
  private def keptOnPurpose(): Set[String] = {
    val src = scala.io.Source.fromFile("COVERAGE.md", "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val at = lines.indexOf(coverageHeading)
    assert(at >= 0, s"COVERAGE.md lost its '$coverageHeading' section")
    val rows = lines.drop(at + 1).dropWhile(!_.startsWith("|"))
      .takeWhile(_.startsWith("|")).drop(2) // header and separator
    val Name = """`([\w/]+)`""".r
    rows.flatMap { row =>
      val cell = row.split('|')(1)
      var dir = ""
      Name.findAllMatchIn(cell).map(_.group(1)).map { n =>
        val slash = n.lastIndexOf('/')
        if (slash >= 0) dir = n.take(slash).replace('/', '.')
        s"graft.$dir.${n.drop(slash + 1)}"
      }.toList
    }.toSet
  }

  test("every main class is reached from an entry point or kept on purpose in COVERAGE.md") {
    val graph = edges()
    val engine = graph.keySet.filter(c =>
      c.startsWith("graft.") || c.startsWith("org.apache.spark.sql.graft."))
    val entry = roots()
    val missingRoots = entry -- engine
    assert(missingRoots.isEmpty, s"entry points not among the main classes: $missingRoots")

    var reached = Set.empty[String]
    var frontier = entry.toList
    while (frontier.nonEmpty) {
      val c = frontier.head
      frontier = frontier.tail
      if (!reached(c)) {
        reached += c
        frontier = graph.getOrElse(c, Set.empty).toList ++ frontier
      }
    }
    val unreached = engine -- reached
    val kept = keptOnPurpose()
    assert((unreached -- kept).isEmpty,
      s"unreached and not kept on purpose (delete, or name in COVERAGE.md): " +
        (unreached -- kept).toSeq.sorted.mkString(", "))
    assert((kept & reached).isEmpty,
      s"kept on purpose in COVERAGE.md but reached (drop the row): " +
        (kept & reached).toSeq.sorted.mkString(", "))
    assert((kept -- engine).isEmpty,
      s"kept on purpose in COVERAGE.md but no such main class: " +
        (kept -- engine).toSeq.sorted.mkString(", "))
  }
}
