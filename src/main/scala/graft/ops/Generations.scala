package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Catalog-pointer generation discipline for on-disk index roots: a
  * rebuild lands in a new directory and becomes visible by one atomic
  * pointer flip, never by delete+rename over live files. Writers:
  * [[MaxSim.writeIndexVersioned]] (and its staging area and
  * compaction), [[Bpe.writeModelVersioned]] and [[Bpe.refresh]].
  *
  * Layout under one root directory:
  * {{{
  *   root/_ptr/ptr-000000000007.gen-000002   append-only pointer log
  *   root/gen-000001/    superseded generation (immutable)
  *   root/gen-000002/    live generation
  * }}}
  *
  * The commit point is the creation of ONE NEW object in `_ptr/`
  * whose NAME carries both a monotonically increasing commit sequence
  * and the generation it points at. Readers resolve by listing `_ptr/`
  * and taking the highest sequence — they never read pointer file
  * CONTENT, so a torn pointer is impossible by construction: there is
  * no rename, no overwrite, no delete-then-recreate, and nothing
  * half-written that resolution depends on. This holds on S3-class
  * stores (a PUT becomes listable atomically and list-after-write is
  * strongly consistent) as well as on HDFS — the reference's actual
  * store is S3 (`utils/s3_operations.py:49-61`), where rename is
  * copy+delete and a single replaced pointer file can disappear
  * mid-flip.
  *
  * A concurrent reader resolves either the old generation
  * or the new one — never a missing pointer, a torn pointer, or a
  * half-written index — and keeps reading the OLD generation's files
  * safely after the flip, because superseded generations are immutable
  * and [[prune]] never deletes the live one (callers prune with a keep
  * window covering their longest-running reader). The LIVE generation
  * is not fully immutable: a sanctioned lifecycle may append to it
  * (MaxSim's staging fold), and those appends are additive file
  * commits — a reader of the live generation sees a complete index as
  * of some append, never a torn file.
  *
  * A swap by delete+rename has an atomicity gap: a reader that listed
  * files before the swap can hit FileNotFound mid-probe. Under a
  * generation root, a rebuild lands in a NEW dir and the flip is
  * pointer-only.
  *
  * At 100 TB nothing here scales with data: resolve is one small
  * directory listing per query plan (not per task), publish is one
  * object creation, prune deletes directories whose contents no
  * pointer reaches.
  *
  * Concurrency contract: readers unlimited, ONE maintainer at a time
  * — the same single-cadence-owner assumption MaxSim's maintain
  * cadence carries. Two concurrent builders would race
  * the same next-generation directory; serialize rotation through
  * whatever owns the cadence (a scheduler slot, a lock service).
  */
object Generations {
  private val GenPrefix = "gen-"
  private val PtrDir = "_ptr"
  private val PtrEntry = """^ptr-(\d{12})\.gen-(\d{6})$""".r

  private def genName(n: Long): String = f"$GenPrefix$n%06d"

  private def fsOf(p: Path, spark: SparkSession) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Highest-sequence manifest entry, if the pointer log has any.
    * Resolution is name-only — entry content is never read, so a
    * half-written entry body cannot tear resolution. A non-hidden
    * file in `_ptr/` that does not parse as an entry (a non-canonical
    * generation name included) is reported as corruption, never
    * skipped.
    */
  private def manifestHead(spark: SparkSession, root: String): Option[(Long, Long)] = {
    val dir = new Path(new Path(root), PtrDir)
    val fs = fsOf(dir, spark)
    if (!fs.exists(dir)) None
    else {
      val entries = fs.listStatus(dir).toSeq
        .filter(s => !s.isDirectory)
        .map(_.getPath.getName)
        .filterNot(_.startsWith(".")) // crashed-publish temp debris
        .map {
          case PtrEntry(seq, gen) => (seq.toLong, gen.toLong)
          case other => throw new java.io.IOException(
            s"$root/$PtrDir/$other is corrupt: not a pointer entry")
        }
      if (entries.isEmpty) None else Some(entries.maxBy(_._1))
    }
  }

  /** The live generation's number, if a pointer exists. A pointer
    * naming a non-existent dir (never possible through [[publish]],
    * which validates first) is reported as corrupt loudly rather than
    * silently treated as absent.
    */
  def current(spark: SparkSession, root: String): Option[Long] =
    manifestHead(spark, root).map { case (_, n) =>
      if (!fsOf(new Path(root), spark).exists(new Path(root, genName(n))))
        throw new java.io.IOException(
          s"$root pointer names ${genName(n)} but that generation does not exist")
      n
    }

  /** Absolute path of the live generation; error if none published. */
  def livePath(spark: SparkSession, root: String): String =
    current(spark, root) match {
      case Some(n) => new Path(root, genName(n)).toString
      case None => throw new java.io.IOException(
        s"no generation published under $root (missing pointer)")
    }

  /** The directory the NEXT generation should be built into. Does not
    * create or reserve it — the build job's own write commits it, and
    * nothing serves it until [[publish]].
    */
  def nextPath(spark: SparkSession, root: String): String =
    new Path(root, genName(current(spark, root).getOrElse(0L) + 1)).toString

  /** Flip the pointer to a fully-built generation dir under `root`:
    * the commit is the creation of one new entry in the pointer log —
    * no rename, no overwrite, safe on object stores.
    *
    * Only canonical generation names (`gen-` + zero-padded number,
    * exactly as [[nextPath]] hands out) are publishable: a
    * non-canonical dir like `gen-7` would commit a pointer that
    * [[livePath]] reconstructs as `gen-000007` and cannot serve.
    */
  def publish(spark: SparkSession, root: String, genDir: String): Unit = {
    val gen = new Path(genDir)
    val name = gen.getName
    val n =
      try {
        require(name.startsWith(GenPrefix))
        name.stripPrefix(GenPrefix).toLong
      } catch {
        case _: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"publish target must be a generation dir (got $genDir)")
      }
    require(name == genName(n),
      s"publish target must use the canonical generation name" +
        s" ${genName(n)} (got $name): a non-canonical name would" +
        s" commit a pointer livePath cannot resolve")
    val rootP = new Path(root)
    val fs = fsOf(rootP, spark)
    require(fs.exists(gen), s"cannot publish $genDir: does not exist")
    val seq = manifestHead(spark, root).map(_._1).getOrElse(0L) + 1
    val entry = new Path(new Path(rootP, PtrDir), f"ptr-$seq%012d.$name")
    // overwrite=false: a second maintainer racing the same seq
    // fails here instead of silently last-writer-winning
    val out = fs.create(entry, false)
    try out.write((name + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** True iff `path` holds at least one non-hidden entry — i.e. a
    * parquet store that can actually be read. A bare `fs.exists` is
    * the wrong probe for any incrementally-written store: `_applied`
    * batch markers, a `_SUCCESS` flag, or `_temporary` debris from a
    * crashed first append all make the dir EXIST while
    * `spark.read.parquet` on it throws. The canonical probe —
    * [[graft.streaming.BatchMarkers.hasData]] delegates here.
    */
  def hasData(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = fsOf(p, spark)
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Delete generations no pointer can reach, keeping the `keep`
    * newest — a keep window of 2 means one full generation of grace
    * for in-flight readers that resolved just before a flip. The live
    * generation is never deleted regardless of `keep`. Leftover
    * temp files from crashed publishes in `_ptr/` go with them, and
    * the manifest log is trimmed to its `keep` newest entries (the head
    * entry — the one resolution uses — is never deleted).
    *
    * Caveat: the window counts generation NUMBERS, so a generation
    * directory left by a crashed build that was never published
    * occupies one slot until a retry rebuilds over it.
    */
  def prune(spark: SparkSession, root: String, keep: Int = 2): Unit = {
    require(keep >= 1, "keep must be >= 1")
    val rootP = new Path(root)
    val fs = fsOf(rootP, spark)
    if (!fs.exists(rootP)) return
    val live = current(spark, root)
    val gens = fs.listStatus(rootP).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(GenPrefix))
      .map(s => s.getPath.getName.stripPrefix(GenPrefix).toLong)
      .sorted
    gens.dropRight(keep).filterNot(live.contains).foreach { n =>
      fs.delete(new Path(root, genName(n)), true); ()
    }
    val ptrDir = new Path(rootP, PtrDir)
    if (fs.exists(ptrDir)) {
      val entries = fs.listStatus(ptrDir).toSeq.filter(!_.isDirectory)
      val (tmps, named) = entries.partition(_.getPath.getName.startsWith("."))
      tmps.foreach { s => fs.delete(s.getPath, false); () }
      named
        .map(s => (s.getPath.getName match {
          case PtrEntry(seq, _) => seq.toLong
          case _ => Long.MaxValue // corrupt: leave for current() to report
        }, s.getPath))
        .sortBy(_._1)
        .dropRight(keep)
        .foreach { case (_, p) => fs.delete(p, false); () }
    }
  }
}
