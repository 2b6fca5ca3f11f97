package graft.ops

import org.apache.hadoop.fs.{FileContext, Options, Path}
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
  *   root/CURRENT                            legacy single-file pointer
  *   root/gen-000001/    superseded generation (immutable)
  *   root/gen-000002/    live generation
  * }}}
  *
  * Two publish strategies, selected per call:
  *
  *  - [[Generations.ManifestLog]] (default, object-store-safe). The
  *    commit point is the creation of ONE NEW object in `_ptr/` whose
  *    NAME carries both a monotonically increasing commit sequence and
  *    the generation it points at. Readers resolve by listing `_ptr/`
  *    and taking the highest sequence — they never read pointer file
  *    CONTENT, so a torn pointer is impossible by construction: there
  *    is no overwrite, no delete-then-recreate, and nothing
  *    half-written that resolution depends on. This holds on S3-class
  *    stores (a PUT becomes listable atomically and list-after-write
  *    is strongly consistent) as well as on HDFS — the reference's
  *    actual store is S3 (`utils/s3_operations.py:49-61`), where
  *    rename is copy+delete and a single replaced pointer file can
  *    disappear mid-flip.
  *  - [[Generations.RenameOverwrite]] (legacy). The original
  *    write-temp-then-`rename(OVERWRITE)` over a single `CURRENT`
  *    file — atomic ONLY on HDFS-semantics stores, and therefore
  *    refused up front on known object-store schemes. Kept as an
  *    explicit escape hatch for deployments that require the
  *    single-file layout.
  *
  * Either way a concurrent reader resolves either the old generation
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
  private val Pointer = "CURRENT"
  private val GenPrefix = "gen-"
  private val PtrDir = "_ptr"
  private val PtrEntry = """^ptr-(\d{12})\.(gen-\d{6})$""".r

  /** How [[publish]] commits the pointer flip. */
  sealed trait PointerStrategy

  /** Append-only pointer log; commit = one new-object creation. Safe
    * on object stores AND HDFS-semantics stores. The default.
    */
  case object ManifestLog extends PointerStrategy

  /** Single `CURRENT` file replaced via `rename(OVERWRITE)`. Atomic
    * only where rename is a metadata operation (HDFS, local, viewfs);
    * refused on known object-store schemes, where rename is
    * copy+delete and the pointer can vanish mid-flip.
    */
  case object RenameOverwrite extends PointerStrategy

  /** URI schemes whose rename is NOT an atomic metadata operation. */
  private val ObjectStoreSchemes =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "obs", "swift", "wasb", "abfs", "abfss")

  private def genName(n: Long): String = f"$GenPrefix$n%06d"

  private def fcFor(p: Path, spark: SparkSession): FileContext =
    FileContext.getFileContext(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getUri,
      spark.sparkContext.hadoopConfiguration)

  private def fsOf(p: Path, spark: SparkSession) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Parse a canonical generation-dir name or fail loudly. */
  private def parseGen(name: String, where: String): Long = {
    val n =
      try {
        require(name.startsWith(GenPrefix))
        name.stripPrefix(GenPrefix).toLong
      } catch {
        case _: IllegalArgumentException => // bad prefix OR non-numeric
          throw new java.io.IOException(
            s"$where is corrupt: '$name' is not a generation name")
      }
    if (name != genName(n))
      throw new java.io.IOException(
        s"$where is corrupt: non-canonical generation name '$name'" +
          s" (canonical form is ${genName(n)})")
    n
  }

  /** Highest-sequence manifest entry, if the pointer log has any.
    * Resolution is name-only — entry content is never read, so a
    * half-written entry body cannot tear resolution. A non-hidden
    * file in `_ptr/` that does not parse as an entry is reported as
    * corruption, never skipped.
    */
  private def manifestHead(spark: SparkSession, root: String): Option[(Long, String)] = {
    val dir = new Path(new Path(root), PtrDir)
    val fs = fsOf(dir, spark)
    if (!fs.exists(dir)) None
    else {
      val entries = fs.listStatus(dir).toSeq
        .filter(s => !s.isDirectory)
        .map(_.getPath.getName)
        .filterNot(_.startsWith(".")) // crashed-publish temp debris
        .map {
          case PtrEntry(seq, gen) => (seq.toLong, gen)
          case other => throw new java.io.IOException(
            s"$root/$PtrDir/$other is corrupt: not a pointer entry")
        }
      if (entries.isEmpty) None else Some(entries.maxBy(_._1))
    }
  }

  /** The live generation's number, if a pointer exists. The manifest
    * log supersedes the legacy `CURRENT` file when both are present
    * (a root upgraded mid-life keeps flipping through the log). A
    * pointer naming a non-existent dir (never possible through
    * [[publish]], which validates first) is reported as corrupt
    * loudly rather than silently treated as absent.
    */
  def current(spark: SparkSession, root: String): Option[Long] = {
    val fs = fsOf(new Path(root), spark)
    val name: Option[String] = manifestHead(spark, root) match {
      case Some((_, gen)) => Some(gen)
      case None =>
        val ptr = new Path(root, Pointer)
        if (!fs.exists(ptr)) None
        else {
          val in = fs.open(ptr)
          val s =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          Some(s)
        }
    }
    name.map { nm =>
      val n = parseGen(nm, s"$root pointer")
      if (!fs.exists(new Path(root, nm)))
        throw new java.io.IOException(
          s"$root pointer names $nm but that generation does not exist")
      n
    }
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

  /** Flip the pointer to a fully-built generation dir under `root`.
    *
    * With [[ManifestLog]] (default) the commit is the creation of one
    * new entry in the pointer log — no rename, no overwrite, safe on
    * object stores. With [[RenameOverwrite]] the legacy single-file
    * pointer is replaced via write-temp-then-rename(OVERWRITE), which
    * is refused on object-store schemes (rename there is copy+delete
    * and readers can catch the pointer missing mid-flip) and on roots
    * that already flip through the manifest log (the log would
    * silently out-vote the legacy file).
    *
    * Only canonical generation names (`gen-` + zero-padded number,
    * exactly as [[nextPath]] hands out) are publishable: a
    * non-canonical dir like `gen-7` would commit a pointer that
    * [[livePath]] reconstructs as `gen-000007` and cannot serve.
    */
  def publish(spark: SparkSession, root: String, genDir: String,
      strategy: PointerStrategy = ManifestLog): Unit = {
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
    // scheme contract is checked BEFORE any filesystem call so an
    // unsafe store is refused even where no client is installed
    strategy match {
      case RenameOverwrite =>
        val scheme = Option(rootP.toUri.getScheme).getOrElse("file")
        require(!ObjectStoreSchemes.contains(scheme.toLowerCase),
          s"RenameOverwrite is not atomic on '$scheme' (rename is" +
            s" copy+delete there): use ManifestLog for object stores")
      case ManifestLog => ()
    }
    val fs = fsOf(rootP, spark)
    require(fs.exists(gen), s"cannot publish $genDir: does not exist")
    strategy match {
      case ManifestLog =>
        val seq = manifestHead(spark, root).map(_._1).getOrElse(0L) + 1
        val entry = new Path(new Path(rootP, PtrDir), f"ptr-$seq%012d.$name")
        // overwrite=false: a second maintainer racing the same seq
        // fails here instead of silently last-writer-winning
        val out = fs.create(entry, false)
        try out.write((name + "\n").getBytes("UTF-8")) finally out.close()
      case RenameOverwrite =>
        require(manifestHead(spark, root).isEmpty,
          s"$root already publishes through the manifest log; a legacy" +
            s" CURRENT write would be out-voted by the log — use ManifestLog")
        val tmp = new Path(root,
          s".$Pointer.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
        val out = fs.create(tmp, true)
        try out.write((name + "\n").getBytes("UTF-8")) finally out.close()
        fcFor(rootP, spark).rename(tmp, new Path(root, Pointer),
          Options.Rename.OVERWRITE)
    }
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
    * pointer temp files from crashed publishes go with them, and the
    * manifest log is trimmed to its `keep` newest entries (the head
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
    fs.listStatus(rootP).toSeq
      .filter(s => !s.isDirectory && s.getPath.getName.startsWith(s".$Pointer.tmp-"))
      .foreach { s => fs.delete(s.getPath, false); () }
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
