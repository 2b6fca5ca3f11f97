package graft

import java.nio.file.Files

import graft.ops.{Contamination, IncrementalDedup, ShardedBloom, ShardedBloomFiles}
import org.apache.spark.sql.functions._

/** The sharded standing-bloom family: equivalence with the monolithic
  * filter at any shard count, across the in-memory and file-backed
  * probe paths, plus the sharded survivor filter in gramDocFrequency.
  */
class ShardedBloomSpec extends SparkSpec {
  import spark.implicits._

  private def hist = spark.range(5000)
    .select(IncrementalDedup.fp60(concat(lit("h"), col("id"))).as("fp"))

  private def batch = spark.range(1000)
    .select(
      when(col("id") % 10 === 0, concat(lit("h"), col("id") * 3))
        .otherwise(concat(lit("new"), col("id"))).as("key"))
    .select(col("key"), IncrementalDedup.fp60(col("key")).as("fp"))

  test("sharded family has no false negatives at any shard count") {
    val fps = hist.as[Long].collect()
    for (n <- Seq(1, 3, 8)) {
      val family = ShardedBloom.build(hist, "fp", fps.length.toLong,
        0.01, n)
      assert(fps.forall(family.mightContainLong),
        s"numShards=$n missed a built fingerprint")
    }
  }

  test("file-backed family: buildToPath + path probe equal the anti-join") {
    val dir = Files.createTempDirectory("sharded_bloom").toString + "/epoch1"
    ShardedBloom.buildToPath(hist, "fp", 5000L, dir, 0.01, numShards = 4)
    val expected = batch.join(hist, Seq("fp"), "left_anti")
      .select("key", "fp").orderBy("fp").collect().toSeq
    val got = IncrementalDedup.dedupAgainstShardedPath(batch, hist, "fp",
      dir, numShards = 4).select("key", "fp").orderBy("fp").collect().toSeq
    assert(got == expected)
    ShardedBloomFiles.invalidate(dir)
  }

  test("save/load round-trips probe decisions exactly") {
    val dir = Files.createTempDirectory("sharded_bloom").toString + "/epoch1"
    val family = ShardedBloom.build(hist, "fp", 5000L, 0.01, numShards = 4)
    family.save(dir)
    val loaded = ShardedBloom.load(dir)
    assert(loaded.numShards == 4 && loaded.perShardItems == family.perShardItems)
    val probes = (hist.as[Long].collect() ++ (1L to 2000L))
    assert(probes.forall(fp =>
      family.mightContainLong(fp) == loaded.mightContainLong(fp)))
  }

  test("saturation cadence: healthy tick touches nothing; a saturated family rotates to an epoch that equals a fresh build") {
    import java.nio.file.{Files => JFiles, Paths}
    val root = JFiles.createTempDirectory("sharded_epoch").toString
    val dir = root + "/epoch1"

    // correctly-sized family: realized fpp stays at/below target, the
    // cadence must not rotate, the serving dir must be unchanged, and
    // no next-epoch directory may appear
    ShardedBloom.buildToPath(hist, "fp", 5000L, dir, 0.01, numShards = 4)
    val healthy = ShardedBloom.maintainEpoch(spark, hist, "fp", dir)
    assert(!healthy.rotated && healthy.dir == dir)
    assert(healthy.realizedFpp <= 4.0 * 0.01,
      s"healthy family reads saturated: ${healthy.realizedFpp}")
    assert(!JFiles.exists(Paths.get(root + "/epoch2")))

    // grossly undersized family (50 expected, 5000 admitted): realized
    // fpp ~1, the cadence must rotate into epoch2, and the rebuilt
    // epoch must be BYTE-identical to a fresh buildToPath over the same
    // history with the same sizing (deterministic build)
    val sat = root + "/sat1"
    ShardedBloom.buildToPath(hist, "fp", 50L, sat, 0.01, numShards = 4)
    val report = ShardedBloom.maintainEpoch(spark, hist, "fp", sat)
    assert(report.rotated && report.dir == root + "/sat2")
    assert(report.realizedFpp > 0.5, s"expected saturation: $report")

    val fresh = root + "/fresh"
    val expected = math.ceil(hist.count() * 1.3).toLong
    ShardedBloom.buildToPath(hist, "fp", expected, fresh, 0.01, numShards = 4)
    (0 until 4).foreach { s =>
      val a = JFiles.readAllBytes(Paths.get(
        s"${report.dir}/shard-${"%05d".format(s)}.bloom"))
      val b = JFiles.readAllBytes(Paths.get(
        s"$fresh/shard-${"%05d".format(s)}.bloom"))
      assert(java.util.Arrays.equals(a, b), s"shard $s differs from fresh build")
    }
    assert(ShardedBloom.meta(report.dir) == ShardedBloom.meta(fresh))

    // the rotated epoch probes exactly like the anti-join (dedup
    // equivalence carries over to the new dir)
    val want = batch.join(hist, Seq("fp"), "left_anti")
      .select("key", "fp").orderBy("fp").collect().toSeq
    val got = IncrementalDedup.dedupAgainstShardedPath(batch, hist, "fp",
      report.dir).select("key", "fp").orderBy("fp").collect().toSeq
    assert(got == want)

    // the old epoch dir is untouched (immutable-epoch contract):
    // concurrent probes keep working against it
    assert(JFiles.exists(Paths.get(sat + "/_meta")))
    Seq(dir, sat, report.dir, fresh).foreach(ShardedBloomFiles.invalidate)
  }

  test("crashed-rotation recovery: debris cleared, committed epochs never rebuilt over") {
    import java.nio.file.{Files => JFiles, Paths}
    val root = JFiles.createTempDirectory("sharded_recover").toString
    // saturated epoch1 (50 expected, 5000 admitted) so every tick rotates
    ShardedBloom.buildToPath(hist, "fp", 50L, s"$root/epoch1", 0.01,
      numShards = 4)

    // simulate a rotation that died mid-build: epoch2 exists with a
    // stale shard file and NO _meta. The rename-loser-discard path
    // would keep that stale shard if the retry did not clear it first
    JFiles.createDirectories(Paths.get(s"$root/epoch2"))
    JFiles.write(Paths.get(s"$root/epoch2/shard-00000.bloom"),
      Array[Byte](1, 2, 3, 4))
    val rep = ShardedBloom.maintainEpoch(spark, hist, "fp", s"$root/epoch1")
    assert(rep.rotated && rep.dir == s"$root/epoch2")
    // the rebuilt epoch equals a fresh build byte-for-byte — the
    // planted debris did NOT survive into the committed family
    val fresh = s"$root/fresh"
    ShardedBloom.buildToPath(hist, "fp",
      math.ceil(hist.count() * 1.3).toLong, fresh, 0.01, numShards = 4)
    (0 until 4).foreach { s =>
      val f = f"shard-$s%05d.bloom"
      assert(java.util.Arrays.equals(
        JFiles.readAllBytes(Paths.get(s"${rep.dir}/$f")),
        JFiles.readAllBytes(Paths.get(s"$fresh/$f"))), s"shard $s")
    }

    // a COMMITTED epoch is never rebuilt over: another tick from the
    // still-saturated epoch1 must skip epoch2 and build epoch3...
    val rep2 = ShardedBloom.maintainEpoch(spark, hist, "fp", s"$root/epoch1")
    assert(rep2.rotated && rep2.dir == s"$root/epoch3")
    // ...and buildToPath refuses an in-place rebuild of one outright
    val ex = intercept[java.io.IOException] {
      ShardedBloom.buildToPath(hist, "fp", 100L, s"$root/epoch2", 0.01,
        numShards = 4)
    }
    assert(ex.getMessage.contains("committed epoch"))
    Seq("epoch1", "epoch2", "epoch3", "fresh").foreach(e =>
      ShardedBloomFiles.invalidate(s"$root/$e"))
  }

  test("buildToPath is byte-deterministic: the rename-commit loser-discard assumption") {
    // the attempt-unique temp + rename commit discards a losing
    // attempt's file on the grounds that a retry/speculative attempt
    // of the same shard task produced IDENTICAL bytes; pin that
    // assumption — two independent builds over the same history must
    // emit byte-identical shard files (bloom bitsets are insertion-
    // order-independent ORs, and the shard shuffle is value-routed)
    import java.nio.file.{Files => JFiles, Paths}
    val root = JFiles.createTempDirectory("sharded_determ").toString
    ShardedBloom.buildToPath(hist, "fp", 5000L, s"$root/a", 0.01, numShards = 4)
    ShardedBloom.buildToPath(
      hist.repartition(7), // different upstream partitioning on purpose
      "fp", 5000L, s"$root/b", 0.01, numShards = 4)
    (0 until 4).foreach { s =>
      val f = f"shard-$s%05d.bloom"
      assert(java.util.Arrays.equals(
        JFiles.readAllBytes(Paths.get(s"$root/a/$f")),
        JFiles.readAllBytes(Paths.get(s"$root/b/$f"))), s"shard $s differs")
    }
    assert(ShardedBloom.meta(s"$root/a") == ShardedBloom.meta(s"$root/b"))
    Seq(s"$root/a", s"$root/b").foreach(ShardedBloomFiles.invalidate)
  }

  test("nextEpochDir increments a trailing integer, appends 2 otherwise") {
    assert(ShardedBloom.nextEpochDir("/a/b/epoch1") == "/a/b/epoch2")
    assert(ShardedBloom.nextEpochDir("/a/b/epoch9/") == "/a/b/epoch10")
    assert(ShardedBloom.nextEpochDir("/a/b/epoch199") == "/a/b/epoch200")
    assert(ShardedBloom.nextEpochDir("/a/b/blooms") == "/a/b/blooms2")
    assert(ShardedBloom.nextEpochDir("epoch3") == "epoch4")
  }

  test("copy() is a deep clone: mutating the copy leaves the original intact") {
    val family = ShardedBloom.create(1000L, 0.01, numShards = 3)
    val clone = family.copy()
    (1L to 500L).foreach(clone.putLong)
    assert((1L to 500L).forall(clone.mightContainLong))
    assert(!(1L to 500L).forall(family.mightContainLong))
  }

  test("gramDocFrequency: sharded survivor filter equals monolithic and single-pass") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown cat sits under the lazy dog"),
      (3L, "a completely different document with no shared grams"),
      (4L, "the quick brown fox runs past the lazy dog")
    ).toDF("doc_id", "text")
    for (minDf <- Seq(1L, 2L)) {
      val mono = Contamination.gramDocFrequency(docs, "doc_id", "text",
        n = 3, minDf = minDf).orderBy("sh").collect().toSeq
      val sharded = Contamination.gramDocFrequency(docs, "doc_id", "text",
        n = 3, minDf = minDf, survivorShards = 4).orderBy("sh").collect().toSeq
      val one = Contamination.gramDocFrequency(docs, "doc_id", "text",
        n = 3, minDf = minDf, twoPass = false).orderBy("sh").collect().toSeq
      assert(sharded == mono, s"minDf=$minDf sharded vs mono")
      assert(sharded == one, s"minDf=$minDf sharded vs single-pass")
    }
  }
}
