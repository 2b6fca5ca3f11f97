package graft

import graft.ops.{Generations, MaxSim}
import org.apache.spark.sql.graft.SparkBridge

/** The catalog-pointer generation discipline: pointer lifecycle and
  * atomicity contract, prune's never-delete-live rule, and a versioned
  * index writer (MaxSim's) whose rebuild swaps are one pointer flip
  * while superseded generations stay fully readable for concurrent
  * probes.
  */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  /** A small late-interaction corpus: `docs` x 2 tokens of
    * deterministic 8-dim vectors (MaxSimSpec's corpus).
    */
  private def toks(docs: Range) = docs.flatMap { doc =>
    (0 until 2).map { t =>
      val v = (0 until 8).map(i =>
        (math.sin(doc * 2.7 + t * 1.3 + i) * 10).toFloat)
      (doc.toLong, t.toLong, doc.toLong * 100 + t, v)
    }
  }.toDF("doc_id", "tok", "vec_id", "embedding")

  /** Probe rows of a stored MaxSim index, as a set. */
  private def probe(path: String): Set[(Long, Long, Long, Long)] =
    MaxSim.searchIndex(spark, path, toks(0 until 2), k = 8, nPlanes = 3,
        dims = 8, dBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

  test("pointer lifecycle: absent root, publish, flip, validation") {
    val root = SparkBridge.tempDir("graft_gen").toString
    assert(Generations.current(spark, root).isEmpty)
    intercept[java.io.IOException](Generations.livePath(spark, root))

    val g1 = Generations.nextPath(spark, root)
    assert(g1.endsWith("gen-000001"))
    // publish refuses a generation that was never built
    intercept[IllegalArgumentException](Generations.publish(spark, root, g1))
    new java.io.File(g1).mkdirs()
    Generations.publish(spark, root, g1)
    assert(Generations.livePath(spark, root) == g1)

    val g2 = Generations.nextPath(spark, root)
    assert(g2.endsWith("gen-000002"))
    new java.io.File(g2).mkdirs()
    Generations.publish(spark, root, g2)
    assert(Generations.livePath(spark, root) == g2)
    // the flip is pointer-only: the superseded generation is untouched
    assert(new java.io.File(g1).isDirectory)

    // only gen-* dirs are publishable (the .rebuild suffix discipline
    // does not leak into a generation root)
    val stray = root + "/rebuild"
    new java.io.File(stray).mkdirs()
    intercept[IllegalArgumentException](Generations.publish(spark, root, stray))

    // a NON-CANONICAL generation name is refused up front: publishing
    // 'gen-7' would commit a pointer that livePath reconstructs as
    // 'gen-000007' and cannot serve
    val unpadded = root + "/gen-7"
    new java.io.File(unpadded).mkdirs()
    intercept[IllegalArgumentException](Generations.publish(spark, root, unpadded))

    // a corrupt manifest entry is reported loudly, never skipped
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_ptr", "bogus-entry"), "gen-000001\n")
    intercept[java.io.IOException](Generations.current(spark, root))
  }

  test("a corrupt pointer log is loud: non-canonical, unparseable, missing generation") {
    def ptr(root: String, entry: String) = {
      new java.io.File(root + "/_ptr").mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "_ptr", entry), "")
    }
    // non-canonical generation name in an entry (hand-written 'gen-1'):
    // loud, because livePath would reconstruct 'gen-000001'
    val root = SparkBridge.tempDir("graft_gen_corrupt").toString
    new java.io.File(root + "/gen-000001").mkdirs()
    ptr(root, "ptr-000000000001.gen-1")
    intercept[java.io.IOException](Generations.current(spark, root))

    // an entry whose name does not parse at all: loud, never skipped
    val root2 = SparkBridge.tempDir("graft_gen_corrupt2").toString
    new java.io.File(root2 + "/gen-000001").mkdirs()
    ptr(root2, "ptr-000000000001.gen-bogus")
    intercept[java.io.IOException](Generations.current(spark, root2))

    // an entry naming a generation that does not exist: loud, not absent
    val root3 = SparkBridge.tempDir("graft_gen_corrupt3").toString
    ptr(root3, "ptr-000000000001.gen-000042")
    val e = intercept[java.io.IOException](Generations.current(spark, root3))
    assert(e.getMessage.contains("gen-000042"), e.getMessage)
  }

  test("manifest commit atomicity: every intermediate state resolves old or new, never torn") {
    // Walk the exact filesystem states the manifest-log commit passes
    // through, as a crash/concurrent-reader would observe them on a
    // store with no atomic rename. The commit is ONE new-object
    // creation, and resolution never reads entry content — so there
    // is no state in which a reader sees a missing or torn pointer.
    val root = SparkBridge.tempDir("graft_gen_atom").toString
    new java.io.File(root + "/gen-000001").mkdirs()
    new java.io.File(root + "/gen-000002").mkdirs()
    Generations.publish(spark, root, root + "/gen-000001")
    assert(Generations.livePath(spark, root).endsWith("gen-000001"))

    // state 1: crashed publish left temp debris in the log dir
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_ptr", ".tmp-crashed"), "gen-000002")
    assert(Generations.livePath(spark, root).endsWith("gen-000001"))

    // state 2: the new entry object exists but its CONTENT is torn
    // (zero bytes durable — the worst a non-atomic store can surface).
    // Resolution is name-only, so the flip still reads cleanly.
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(root, "_ptr", "ptr-000000000002.gen-000002"))
    assert(Generations.livePath(spark, root).endsWith("gen-000002"))

    // state 3: prune sweeps the crash debris, head entry survives
    Generations.prune(spark, root, keep = 2)
    assert(!new java.io.File(root + "/_ptr/.tmp-crashed").exists)
    assert(Generations.livePath(spark, root).endsWith("gen-000002"))

    // the old generation stays resolvable-by-path for in-flight readers
    assert(new java.io.File(root + "/gen-000001").isDirectory)
  }

  test("prune trims the manifest log but never its head entry") {
    val root = SparkBridge.tempDir("graft_gen_ptrim").toString
    (1 to 5).foreach { n =>
      new java.io.File(root + f"/gen-$n%06d").mkdirs()
      Generations.publish(spark, root, root + f"/gen-$n%06d")
    }
    Generations.prune(spark, root, keep = 2)
    val entries = new java.io.File(root + "/_ptr").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(entries == Seq(
      "ptr-000000000004.gen-000004", "ptr-000000000005.gen-000005"), entries)
    assert(Generations.livePath(spark, root).endsWith("gen-000005"))
  }

  test("prune keeps the newest window and never the live generation") {
    val root = SparkBridge.tempDir("graft_gen_prune").toString
    (1 to 4).foreach(n => new java.io.File(root + f"/gen-$n%06d").mkdirs())
    Generations.publish(spark, root, root + "/gen-000001") // live = oldest
    Generations.prune(spark, root, keep = 1)
    val left = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("gen-")).sorted.toSeq
    // the newest survives by the keep window; the live one survives
    // unconditionally even though it is outside the window
    assert(left == Seq("gen-000001", "gen-000004"), left.mkString(","))
    assert(Generations.livePath(spark, root).endsWith("gen-000001"))
  }

  test("versioned rebuild lands in a new generation by pointer flip; prune keeps reader grace") {
    val root = SparkBridge.tempDir("graft_gen_ms")
      .resolve("idx").toString
    val gen1 = MaxSim.writeIndexVersioned(toks(0 until 8), root, nPlanes = 3,
      dims = 8, dBuckets = 4)
    assert(Generations.livePath(spark, root) == gen1)
    val before = probe(gen1)
    assert(before.nonEmpty)

    // a rebuild over a grown corpus: new generation, one pointer flip
    val gen2 = MaxSim.writeIndexVersioned(toks(0 until 16), root, nPlanes = 3,
      dims = 8, dBuckets = 4)
    assert(gen2 != gen1 && gen2.endsWith("gen-000002"))
    assert(Generations.livePath(spark, root) == gen2)
    // the live generation serves exactly a from-scratch build
    val scratch = SparkBridge.tempDir("graft_gen_ms_s")
      .resolve("idx").toString
    MaxSim.writeIndex(toks(0 until 16), scratch, nPlanes = 3, dims = 8,
      dBuckets = 4)
    assert(probe(Generations.livePath(spark, root)) == probe(scratch))
    // a reader that resolved gen1 before the flip still reads it whole
    assert(probe(gen1) == before)

    // prune with keep=2 leaves that reader its generation; a third
    // build moves the window past it
    Generations.prune(spark, root, keep = 2)
    assert(new java.io.File(gen1).isDirectory)
    MaxSim.writeIndexVersioned(toks(0 until 16), root, nPlanes = 3, dims = 8,
      dBuckets = 4)
    Generations.prune(spark, root, keep = 2)
    assert(!new java.io.File(gen1).exists)
    assert(Generations.livePath(spark, root).endsWith("gen-000003"))
  }

  test("a crashed versioned build converges: its debris is rebuilt over, never served") {
    val root = SparkBridge.tempDir("graft_gen_crash")
      .resolve("idx").toString
    val gen1 = MaxSim.writeIndexVersioned(toks(0 until 8), root, nPlanes = 3,
      dims = 8, dBuckets = 4)
    // simulate a rebuild that crashed mid-write: the next generation dir
    // holds half an index (postings only) and the pointer never moved
    val crashed = Generations.nextPath(spark, root)
    MaxSim.writeIndex(toks(0 until 16), crashed, nPlanes = 3, dims = 8,
      dBuckets = 4)
    val torn = java.nio.file.Paths.get(crashed, "toks")
    java.nio.file.Files.walk(torn).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    assert(Generations.livePath(spark, root) == gen1)
    assert(probe(Generations.livePath(spark, root)) == probe(gen1))

    // the retry builds into the same slot, overwriting the debris, and
    // only then flips the pointer
    val gen2 = MaxSim.writeIndexVersioned(toks(0 until 16), root, nPlanes = 3,
      dims = 8, dBuckets = 4)
    assert(gen2 == crashed && Generations.livePath(spark, root) == gen2)
    val scratch = SparkBridge.tempDir("graft_gen_crash_s")
      .resolve("idx").toString
    MaxSim.writeIndex(toks(0 until 16), scratch, nPlanes = 3, dims = 8,
      dBuckets = 4)
    assert(probe(gen2) == probe(scratch))
  }
}
