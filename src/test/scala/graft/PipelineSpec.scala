package graft

import java.nio.file.Files
import java.time.LocalDateTime

import graft.pipeline.{Config, HistoryLoad, PipelineConfig, TableConfig}
import graft.sources.{JdbcSource, PartitionedSink}

class ConfigSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("yaml config parses into typed case classes") {
    val cfg = Config.fromYaml(
      """source_dir: /in
        |target_dir: /out
        |run_id: 42
        |updated_by: loader
        |tables:
        |  lineitem: {active_flag: "T"}
        |  orders: {active_flag: "F"}
        |""".stripMargin)
    assert(cfg.sourceDir == "/in" && cfg.targetDir == "/out")
    assert(cfg.runId == 42L && cfg.updatedBy == "loader")
    assert(cfg.tables.toSet == Set(
      TableConfig("lineitem", "T"), TableConfig("orders", "F")))
  }

  test("missing required field fails at load time") {
    assertThrows[IllegalArgumentException](Config.fromYaml("target_dir: /out"))
  }

  test("an active_flag other than T or F fails at load time, naming table and value") {
    def load(flag: String) = Config.fromYaml(
      s"source_dir: /in\ntarget_dir: /out\ntables:\n  lineitem: {active_flag: \"T\"}\n" +
        s"  orders: {$flag}\n")
    assert(load("active_flag: \"F\"").tables.last == TableConfig("orders", "F"))
    assert(load("").tables.last == TableConfig("orders", "F"))
    for (bad <- Seq("Y", "t", "true", "")) {
      val e = intercept[IllegalArgumentException](load(s"active_flag: \"$bad\""))
      assert(e.getMessage.contains("'orders'") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }

  test("unknown keys, wrong shapes and a non-integer run_id fail at load time, named") {
    val base = "source_dir: /in\ntarget_dir: /out\n"
    def fails(yaml: String, mentions: String*): Unit = {
      val e = intercept[IllegalArgumentException](Config.fromYaml(yaml))
      mentions.foreach(m => assert(e.getMessage.contains(m), e.getMessage))
    }
    // a misspelled per-table key used to make the table silently inactive
    fails(base + "tables:\n  lineitem: {activeflag: \"T\"}\n", "'lineitem'", "'activeflag'")
    fails(base + "tables:\n  lineitem: {active_flag: \"T\", chunk: 5}\n", "'lineitem'", "'chunk'")
    fails(base + "updatedby: me\ntables:\n  lineitem: {active_flag: \"T\"}\n", "'updatedby'")
    // Jackson's asLong read this as run 0
    fails(base + "run_id: abc\ntables:\n  lineitem: {active_flag: \"T\"}\n", "run_id", "'abc'")
    fails(base + "run_id: 1.5\ntables:\n  lineitem: {active_flag: \"T\"}\n", "run_id", "'1.5'")
    fails(base + "tables:\n  lineitem: T\n", "'lineitem'")
    fails(base + "tables: [lineitem]\n", "'tables'")
    fails("source_dir: [/a, /b]\ntarget_dir: /out\ntables: {}\n", "'source_dir'")
    assert(Config.fromYaml(base + "run_id: -3\ntables: {}\n").runId == -3L)
    assert(Config.fromYaml(base + "tables: {}\n").runId == -1L)
  }

  test("secret resolution order: env wins, then config file, fail-fast on miss") {
    import graft.sources.SecretProvider
    val env = SecretProvider.fromEnv(Map("PG_PASSWORD" -> "from-env"))
    val file = SecretProvider.fromYaml(
      """pg.password: from-file
        |pg.user: loader
        |pg.url: jdbc:postgresql://h/db
        |""".stripMargin)
    val chain = env.orElse(file)
    assert(chain.require("pg.password") == "from-env")  // env shadows file
    assert(chain.require("pg.user") == "loader")        // file fills the gap
    assertThrows[NoSuchElementException](chain.require("pg.missing"))

    // wired into the scan config: no credentials in code
    val cfg = JdbcSource.ScanConfig.fromSecrets(chain, "pg", "dbo", "t1")
    assert(cfg.url == "jdbc:postgresql://h/db" && cfg.user == "loader"
      && cfg.password == "from-env")
  }

  test("config loads through Hadoop FS: file:// URI and bare path") {
    val f = Files.createTempFile("graft_cfg", ".yaml")
    Files.write(f, "source_dir: /in\ntarget_dir: /out\ntables:\n  nation: {active_flag: \"T\"}\n".getBytes)
    val viaUri = Config.fromYamlFile("file://" + f.toAbsolutePath)
    val viaPath = Config.fromYamlFile(f.toAbsolutePath.toString)
    assert(viaUri == viaPath && viaUri.sourceDir == "/in")
    assert(viaUri.tables == Seq(TableConfig("nation", "T")))
  }

  test("jdbc option construction (O-1 partitioned scan config)") {
    val opts = JdbcSource.options(JdbcSource.ScanConfig(
      url = "jdbc:postgresql://h/db", schema = "dbo", table = "t1",
      user = "u", password = "p", partitionColumn = Some("id"),
      lowerBound = Some(0), upperBound = Some(1000), numPartitions = 16))
    assert(opts("dbtable") == "dbo.t1")
    assert(opts("partitionColumn") == "id" && opts("numPartitions") == "16")
    assert(opts("fetchsize") == "100000")
  }
}

class PipelineSpec extends SparkSpec {

  private def cfg(src: String, tgt: String, tables: Seq[TableConfig]) =
    PipelineConfig(src, tgt, runId = 7L, updatedBy = "tester", tables = tables)

  test("end-to-end: scan -> audit -> normalize -> hash -> partitioned sink -> reconcile") {
    val out = Files.createTempDirectory("graft_pipe").toString
    val now = LocalDateTime.of(2024, 6, 1, 12, 0)
    val hl = new HistoryLoad(spark,
      cfg("/root/testdata/sf0.001",
        out,
        Seq(TableConfig("nation", "T"), TableConfig("region", "T"),
          TableConfig("orders", "F"))), now)
    val report = hl.process()
    assert(report.succeeded == Seq("nation", "region"))
    assert(report.failed.isEmpty)
    assert(report.rowCounts("nation") == 25L && report.rowCounts("region") == 5L)

    // date-partitioned layout exists and is re-readable
    val path = PartitionedSink.datePath(out, "nation", now)
    assert(path.endsWith("nation/2024/06/01/12"))
    val back = spark.read.parquet(path)
    assert(back.count() == 25)
    assert(back.columns.contains("row_hash_code"))
    assert(back.columns.contains("updatedby"))

    // orders gated off by active_flag
    assert(!new java.io.File(s"$out/orders").exists())
  }

  test("per-table failure isolation: one bad table doesn't abort the run") {
    val out = Files.createTempDirectory("graft_pipe2").toString
    val hl = new HistoryLoad(spark,
      cfg("/root/testdata/sf0.001", out,
        Seq(TableConfig("nosuchtable", "T"), TableConfig("nation", "T"))))
    val report = hl.process()
    assert(report.succeeded == Seq("nation"))
    assert(report.failed.map(_._1) == Seq("nosuchtable"))
    // every active table is timed, the failed one too
    assert(report.wallMs.keySet == Set("nosuchtable", "nation"))
    assert(report.wallMs.values.forall(_ >= 0) && report.wallMs("nation") > 0)
  }

  test("sink reconcile counts this write only, not every run at the path") {
    val out = Files.createTempDirectory("graft_sink").toString
    val ts = LocalDateTime.of(2024, 6, 1, 9, 0)
    val df = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    assert(PartitionedSink.writeDatePartitioned(df, out, "region", ts) == 5)
    // append into the SAME hour: reconcile reports this write (5), the
    // path accumulates both
    assert(PartitionedSink.writeDatePartitioned(df, out, "region", ts) == 5)
    assert(spark.read.parquet(PartitionedSink.datePath(out, "region", ts)).count() == 10)
  }

  test("re-run appends under a new date path, leaving prior runs intact") {
    val out = Files.createTempDirectory("graft_pipe3").toString
    val t1 = LocalDateTime.of(2024, 6, 1, 10, 0)
    val t2 = LocalDateTime.of(2024, 6, 1, 11, 0)
    val tables = Seq(TableConfig("region", "T"))
    new HistoryLoad(spark, cfg("/root/testdata/sf0.001", out, tables), t1).process()
    new HistoryLoad(spark, cfg("/root/testdata/sf0.001", out, tables), t2).process()
    assert(spark.read.parquet(s"$out/region/2024/06/01/10").count() == 5)
    assert(spark.read.parquet(s"$out/region/2024/06/01/11").count() == 5)
  }
}

class MultimodalSpec extends SparkSpec {
  import graft.ops.Multimodal
  import Multimodal.MediaRecord

  test("typed media pipeline: deterministic fallback features over opaque payloads") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val ds = Multimodal.fromBinaryFrame(spark, docs.limit(10), "doc_id", "text", "doc")
    val feats = Multimodal.extractFeatures(ds).collect()
    assert(feats.length == 10)
    assert(feats.forall(f => f.codec == "opaque" && f.fingerprint.length == 32))
    assert(feats.forall(f => f.width == (f.size_bytes % 640).toInt))
    // determinism: same input -> same features
    val again = Multimodal.extractFeatures(ds).collect()
    assert(feats.map(_.fingerprint).toSeq == again.map(_.fingerprint).toSeq)
  }

  /** Minimal valid mono 16-bit PCM WAV: `samples` at `rate` Hz. */
  private def wavBytes(samples: Seq[Short], rate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(36 + dataLen); buf.put("WAVE".getBytes)
    buf.put("fmt ".getBytes); buf.putInt(16)
    buf.putShort(1); buf.putShort(1)            // PCM, mono
    buf.putInt(rate); buf.putInt(rate * 2)      // byte rate
    buf.putShort(2); buf.putShort(16)           // block align, bits
    buf.put("data".getBytes); buf.putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** Minimal 24bpp BMP with the given pixel bytes (BGR rows). */
  private def bmpBytes(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(54 + pixels.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("BM".getBytes); buf.putInt(54 + pixels.length)
    buf.putInt(0); buf.putInt(54)               // reserved, pixel offset
    buf.putInt(40); buf.putInt(w); buf.putInt(h) // DIB v3 header
    buf.putShort(1); buf.putShort(24)
    buf.putInt(0); buf.putInt(pixels.length); buf.putInt(2835); buf.putInt(2835)
    buf.putInt(0); buf.putInt(0)
    buf.put(pixels)
    buf.array()
  }

  test("real WAV/PCM decode: rate, frames, duration, RMS from raw bytes") {
    import spark.implicits._
    // constant full-scale-half samples -> RMS = 500 milli exactly
    val wav = wavBytes(Seq.fill(8000)(16384.toShort), rate = 8000)
    val ds = Seq(MediaRecord(1L, "audio", wav)).toDS()
    val f = Multimodal.extractFeatures(ds).head()
    assert(f.codec == "wav/pcm")
    assert(f.sample_rate == 8000 && f.channels == 1)
    assert(f.n_frames == 8000 && f.duration_ms == 1000L)
    assert(f.level_milli == 500L, s"rms was ${f.level_milli}")
  }

  test("real BMP decode: dimensions and mean luminance from raw bytes") {
    import spark.implicits._
    // 2x2 x 24bpp, all channels 51 -> luminance 51/255 = 200 milli
    val bmp = bmpBytes(2, 2, Array.fill(12)(51.toByte))
    val ds = Seq(MediaRecord(2L, "image", bmp)).toDS()
    val f = Multimodal.extractFeatures(ds).head()
    assert(f.codec == "bmp")
    assert(f.width == 2 && f.height == 2 && f.n_frames == 1)
    assert(f.level_milli == 200L, s"luminance was ${f.level_milli}")
  }

  test("real PNG decode: inflate + unfilter against the JDK encoder") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // RGB image with a gradient (exercises Sub/Paeth filters the
    // encoder may choose), encoded by the JDK's own PNG writer
    val w = 16; val h = 8
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    var sum = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 16) % 256; val g = (y * 32) % 256; val b = 51
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
      sum += r + g + b
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val expected = sum * 1000L / (255L * w * h * 3)

    val f = Multimodal.extractFeatures(
      Seq(MediaRecord(3L, "image", bos.toByteArray)).toDS()).head()
    assert(f.codec == "png")
    assert(f.width == w && f.height == h)
    assert(f.level_milli == expected,
      s"luminance ${f.level_milli} != $expected")
  }

  test("real PNG decode: 8-bit grayscale") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    val img = new BufferedImage(4, 4, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 4; x <- 0 until 4)
      img.getRaster.setSample(x, y, 0, 102) // raw gray 102/255 = 400 milli
      // (setRGB would colorspace-convert sRGB -> linear and store ~34)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val f = Multimodal.extractFeatures(
      Seq(MediaRecord(4L, "image", bos.toByteArray)).toDS()).head()
    assert(f.codec == "png" && f.width == 4 && f.height == 4)
    assert(f.level_milli == 400L, s"luminance was ${f.level_milli}")
  }

  test("perceptual hash is format-independent: same pixels, BMP == PNG") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // 8x8: left half dark (20), right half bright (200); y-symmetric
    // so BMP's bottom-up row order cannot mask a bug
    def gray(x: Int): Int = if (x < 4) 20 else 200
    val bmpPixels = Array.tabulate(8 * 8 * 3) { i =>
      gray((i / 3) % 8).toByte // stride 24 = 8*3, no row padding
    }
    val bmp = bmpBytes(8, 8, bmpPixels)
    val img = new BufferedImage(8, 8, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 8; x <- 0 until 8) {
      val v = gray(x); img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))

    val hashes = Multimodal.imageHashes(Seq(
      MediaRecord(1L, "image", bmp),
      MediaRecord(2L, "image", bos.toByteArray)).toDS())
      .collect().sortBy(_.id)
    assert(hashes(0).codec == "bmp" && hashes(1).codec == "png")
    // bright columns 4..7 of every row -> per-row nibble 0xF0
    val expected = (0 until 8).foldLeft(0L)((acc, row) => acc | (0xF0L << (row * 8)))
    assert(hashes(0).thumb_hash == expected,
      f"bmp hash ${hashes(0).thumb_hash}%016x != $expected%016x")
    assert(hashes(0).thumb_hash == hashes(1).thumb_hash,
      "same pixels must hash identically from BMP and PNG bytes")
  }

  test("pHash: format-independent, invariant under uniform brightness, separates images") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    def pngOf(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val v = gray(x, y); img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    // a 32x32 scene with a rich spectrum (no near-tie coefficient
    // clusters), kept in [50, 190] so a +30 brightness shift cannot clamp
    def scene(x: Int, y: Int): Int = 50 + (x * 37 + y * 101 + x * y) % 140
    val base = Multimodal.pHash64(
      MediaRecord(1L, "image", pngOf(32, 32, scene))).get
    // same pixels through the BMP path (stored rows are bottom-up)
    val bmpPixels = Array.tabulate(32 * 32 * 3)(i =>
      scene((i / 3) % 32, 31 - i / (3 * 32)).toByte)
    val viaBmp = Multimodal.pHash64(
      MediaRecord(2L, "image", bmpBytes(32, 32, bmpPixels))).get
    assert(base == viaBmp, "same pixels must pHash identically from PNG and BMP")
    // uniform brightness shift moves only the DC coefficient
    val brighter = Multimodal.pHash64(
      MediaRecord(3L, "image", pngOf(32, 32, (x, y) => scene(x, y) + 30))).get
    assert(base == brighter, "pHash must be invariant under uniform brightness")
    // a structurally different image lands far away in Hamming space
    val other = Multimodal.pHash64(MediaRecord(4L, "image",
      pngOf(32, 32, (x, y) => if ((x / 8 + y / 8) % 2 == 0) 50 else 200))).get
    assert(java.lang.Long.bitCount(base ^ other) > 10,
      s"distinct scenes too close: ${java.lang.Long.bitCount(base ^ other)}")
    // DC bit is pinned 0; non-image payloads take the opaque fallback
    assert((base & 1L) == 0L)
    val ph = Multimodal.perceptualHashes(Seq(
      MediaRecord(5L, "doc", "text".getBytes)).toDS()).head()
    assert(ph.codec == "opaque")
  }

  test("frame sampling: k evenly spaced WAV samples") {
    import spark.implicits._
    val wav = wavBytes((0 until 8000).map(_.toShort), rate = 8000)
    val fs = Multimodal.sampleFrames(
      Seq(MediaRecord(5L, "audio", wav)).toDS(), k = 4).head()
    assert(fs.n_frames == 8000)
    assert(fs.samples.toSeq == Seq(0, 2000, 4000, 6000))
    // non-media payload: no frames, empty samples
    val none = Multimodal.sampleFrames(
      Seq(MediaRecord(6L, "doc", "plain text".getBytes)).toDS(), k = 4).head()
    assert(none.n_frames == 0 && none.samples.isEmpty)
  }

  test("audio windows: exact energy/zero-crossing/peak math, boundary rules") {
    import spark.implicits._
    // 20 samples, window 8 -> windows of 8, 8, 4; hand-checkable values
    val s = Array[Short](3, -2, 5, 0, -1, 1, 4, -4,   // win 0
                         2, 2, -3, 3, -3, 3, -3, 3,   // win 1
                         -5, 5, -5, 5)                 // win 2 (short)
    val wav = Multimodal.buildWav(s, rate = 8000)
    val w = Multimodal.audioWindows(
        Seq(MediaRecord(1L, "audio", wav)).toDS(), windowFrames = 8)
      .collect().sortBy(_.win).toSeq
    assert(w.map(_.n_samp) == Seq(8, 8, 4))
    assert(w.map(_.sum_sq) == Seq(
      s.slice(0, 8).map(v => v * v).sum.toLong,
      s.slice(8, 16).map(v => v * v).sum.toLong,
      s.slice(16, 20).map(v => v * v).sum.toLong))
    // strict sign flips: zeros break a crossing (3,-2),(  -2,5),(-1,1),(4,-4)=4;
    // win1: (2,-3)(-3,3)(3,-3)(-3,3)(3,-3)(-3,3)=6; win2: 3. The
    // win0->win1 boundary pair (-4,2) is NOT counted by either window.
    assert(w.map(_.zero_crossings) == Seq(4, 6, 3))
    assert(w.map(_.peak) == Seq(5, 3, 5))
    // round-trip: the muxer's bytes decode to the samples we fed in
    val back = Multimodal.sampleFrames(
      Seq(MediaRecord(2L, "audio", wav)).toDS(), k = 20).head()
    assert(back.n_frames == 20 && back.samples.toSeq == s.map(_.toInt).toSeq)
    // non-WAV payloads contribute no windows
    assert(Multimodal.audioWindows(
      Seq(MediaRecord(3L, "doc", "text".getBytes)).toDS(), 8).isEmpty)
  }

  test("malformed WAV: negative chunk length terminates the walk, no hang") {
    import spark.implicits._
    // "RIFF....WAVE" then a chunk whose length field is -8: the old walk
    // computed pos += 8 + (-8) = 0 and spun forever
    val buf = java.nio.ByteBuffer.allocate(24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes); buf.putInt(16); buf.put("WAVE".getBytes)
    buf.put("junk".getBytes); buf.putInt(-8); buf.putInt(0)
    val ds = Seq(MediaRecord(7L, "audio", buf.array())).toDS()
    val f = Multimodal.extractFeatures(ds).head()
    assert(f.codec == "wav/pcm" && f.n_frames == 0)
    val fs = Multimodal.sampleFrames(ds, k = 4).head()
    assert(fs.n_frames == 0 && fs.samples.isEmpty)
  }

  test("truncated WAV: header overstates data length, frames clamp to payload") {
    import spark.implicits._
    // 4000 samples declared, payload truncated to 1000 samples' worth:
    // frame offsets must come from bytes present, not the header claim
    val wav = wavBytes((0 until 4000).map(_.toShort), rate = 8000).take(44 + 2000)
    val ds = Seq(MediaRecord(8L, "audio", wav)).toDS()
    val f = Multimodal.extractFeatures(ds).head()
    assert(f.codec == "wav/pcm" && f.n_frames == 1000)
    val fs = Multimodal.sampleFrames(ds, k = 4).head()
    assert(fs.n_frames == 1000)
    assert(fs.samples.toSeq == Seq(0, 250, 500, 750))
  }

  /** JPEG-encode a BufferedImage via the JDK's own writer. */
  private def jpegBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    bos.toByteArray
  }

  test("real JPEG decode: grayscale luma matches the encoder input") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // flat gray 102: the DC-only image — IDCT must reproduce it almost
    // exactly (quantized DC rounds within ±1)
    val img = new BufferedImage(16, 16, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 16) img.getRaster.setSample(x, y, 0, 102)
    val f = Multimodal.extractFeatures(
      Seq(MediaRecord(20L, "image", jpegBytes(img))).toDS()).head()
    assert(f.codec == "jpeg")
    assert(f.width == 16 && f.height == 16 && f.n_frames == 1)
    assert(math.abs(f.level_milli - 400L) <= 8L, s"luma was ${f.level_milli}")
  }

  test("real JPEG decode: color 4:2:0 layout, luma mean within lossy tolerance") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // gray-content color image (r=g=b): BT.601 luma == pixel value, so
    // the expected mean is exact up to quantization loss. 3-channel
    // BGR makes the JDK encoder emit subsampled YCbCr — the MCU
    // interleave path (odd dims exercise the partial-MCU crop too)
    val (w, h) = (37, 21)
    var sum = 0L
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 5 + y * 3) % 200 + 20
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
      sum += v
    }
    val expected = sum * 1000L / (255L * w * h)
    val f = Multimodal.extractFeatures(
      Seq(MediaRecord(21L, "image", jpegBytes(img))).toDS()).head()
    assert(f.codec == "jpeg" && f.width == w && f.height == h)
    assert(math.abs(f.level_milli - expected) <= 15L,
      s"luma ${f.level_milli} != $expected ±15")
  }

  test("perceptual hash parity: same pixels hash identically from JPEG and BMP") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // the BMP==PNG pattern, now through the lossy codec: high contrast
    // (20 vs 200) so ±2 quantization noise cannot flip a bit vs the mean
    def gray(x: Int): Int = if (x < 4) 20 else 200
    val bmp = bmpBytes(8, 8, Array.tabulate(8 * 8 * 3)(i => gray((i / 3) % 8).toByte))
    val img = new BufferedImage(8, 8, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 8; x <- 0 until 8) {
      val v = gray(x); img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val hashes = Multimodal.imageHashes(Seq(
      MediaRecord(1L, "image", bmp),
      MediaRecord(2L, "image", jpegBytes(img))).toDS())
      .collect().sortBy(_.id)
    assert(hashes(0).codec == "bmp" && hashes(1).codec == "jpeg")
    assert(hashes(0).thumb_hash == hashes(1).thumb_hash,
      f"bmp ${hashes(0).thumb_hash}%016x != jpeg ${hashes(1).thumb_hash}%016x")
  }

  test("WebP header decode: dims from VP8 / VP8L / VP8X without a codec") {
    import spark.implicits._
    def riff(tag: String, payload: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(20 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put("RIFF".getBytes); buf.putInt(12 + payload.length)
      buf.put("WEBP".getBytes); buf.put(tag.getBytes); buf.putInt(payload.length)
      buf.put(payload)
      buf.array()
    }
    // lossy VP8: 3-byte frame tag, start code, 14-bit dims 320x240
    val vp8 = java.nio.ByteBuffer.allocate(10).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vp8.put(Array[Byte](0, 0, 0)); vp8.put(0x9d.toByte); vp8.put(0x01.toByte)
    vp8.put(0x2a.toByte); vp8.putShort(320.toShort); vp8.putShort(240.toShort)
    // lossless VP8L: 0x2f then packed (w-1, h-1) = (99, 49)
    val vp8l = java.nio.ByteBuffer.allocate(5).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vp8l.put(0x2f.toByte); vp8l.putInt(99 | (49 << 14))
    val feats = Multimodal.extractFeatures(Seq(
      MediaRecord(40L, "image", riff("VP8 ", vp8.array())),
      MediaRecord(41L, "image", riff("VP8L", vp8l.array()))).toDS())
      .collect().sortBy(_.id)
    assert(feats(0).codec == "webp/vp8" && feats(0).width == 320 && feats(0).height == 240)
    assert(feats(1).codec == "webp/vp8l" && feats(1).width == 100 && feats(1).height == 50)
  }

  /** Progressive-encode (SOF2) via the JDK writer's scan script. */
  private def jpegProgressiveBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = writer.getDefaultWriteParam
    p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  private def hasMarker(d: Array[Byte], m: Int): Boolean =
    d.sliding(2).exists(p => (p(0) & 0xff) == 0xff && (p(1) & 0xff) == m)

  test("progressive JPEG lumas match baseline bit-for-bit (color 4:2:0 + grayscale)") {
    import graft.ops.Jpeg
    import java.awt.image.BufferedImage
    // same pixels through both entropy organizations: progressive is a
    // lossless reorganization of the same quantized coefficients, so
    // the decoded luma planes must be IDENTICAL, not merely close
    val (w, h) = (37, 21) // odd dims: partial MCUs + padding blocks
    val color = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 7 + y * 11) % 220 + 10
      color.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val gray = new BufferedImage(24, 17, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 17; x <- 0 until 24)
      gray.getRaster.setSample(x, y, 0, (x * 13 + y * 5) % 256)

    for (img <- Seq(color, gray)) {
      val base = jpegBytes(img)
      val prog = jpegProgressiveBytes(img)
      assert(hasMarker(prog, 0xc2) && !hasMarker(base, 0xc2),
        "fixture must actually be progressive (SOF2) vs baseline")
      val lb = Jpeg.decodeLuma(base).get
      val lp = Jpeg.decodeLuma(prog).get
      assert(lp.width == lb.width && lp.height == lb.height)
      assert(lp.yW == lb.yW && lp.yH == lb.yH)
      assert(lp.y.toSeq == lb.y.toSeq, "luma rasters must be identical")
    }
  }

  test("malformed progressive JPEG: truncated scans decode safely") {
    import graft.ops.Jpeg
    import java.awt.image.BufferedImage
    val img = new BufferedImage(16, 16, BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 16; x <- 0 until 16)
      img.setRGB(x, y, ((x * 16) << 16) | ((y * 16) << 8) | 128)
    val good = jpegProgressiveBytes(img)
    // cut inside the scan chain at many points: None or a partial-but-
    // safe decode, never a throw (partial coefficient planes are the
    // FORMAT's own rendering model for truncated progressive files)
    (4 until good.length by 37).foreach { cut =>
      Jpeg.decodeLuma(java.util.Arrays.copyOfRange(good, 0, cut))
    }
    assert(Jpeg.decodeLuma(good).isDefined)
  }

  test("malformed JPEG: truncated scans and lying lengths decode safely") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    val img = new BufferedImage(16, 16, BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 16; x <- 0 until 16) img.getRaster.setSample(x, y, 0, x * 16)
    val good = jpegBytes(img)
    // truncate mid-scan, and corrupt a segment length
    val cut = good.take(good.length / 2)
    val lied = good.clone(); lied(4) = 0x7f.toByte // APP0 length hi-byte
    val feats = Multimodal.extractFeatures(Seq(
      MediaRecord(30L, "image", cut),
      MediaRecord(31L, "image", lied)).toDS()).collect().sortBy(_.id)
    // no crash, no hang; dims still recovered from the intact header
    assert(feats(0).codec == "jpeg" && feats(0).width == 16)
    assert(feats(1).codec == "jpeg" || feats(1).codec == "corrupt")
    assert(feats.forall(_.level_milli == 0L))
  }

  test("malformed PNG: negative chunk length and overflow dims decode safely") {
    import spark.implicits._
    // negative chunk length: the old walk looped forever on pos += 12 + len
    val neg = java.nio.ByteBuffer.allocate(40).order(java.nio.ByteOrder.BIG_ENDIAN)
    neg.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    neg.putInt(-12); neg.put("IHDR".getBytes)
    val f1 = Multimodal.extractFeatures(
      Seq(MediaRecord(9L, "image", neg.array())).toDS()).head()
    assert(f1.codec == "png" || f1.codec == "corrupt")
    assert(f1.level_milli == 0L)

    // crafted IHDR dims: 65536x65536 overflowed (stride+1)*height into a
    // NegativeArraySizeException; now capped at MaxPixels -> header-only
    val big = java.nio.ByteBuffer.allocate(8 + 25).order(java.nio.ByteOrder.BIG_ENDIAN)
    big.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    big.putInt(13); big.put("IHDR".getBytes)
    big.putInt(65536); big.putInt(65536)
    big.put(8.toByte); big.put(2.toByte) // 8-bit RGB
    big.put(0.toByte); big.put(0.toByte); big.put(0.toByte)
    val f2 = Multimodal.extractFeatures(
      Seq(MediaRecord(10L, "image", big.array())).toDS()).head()
    assert(f2.codec == "png" && f2.width == 65536 && f2.height == 65536)
    assert(f2.level_milli == 0L)
    // and the raster/hash path must also survive it
    assert(Multimodal.imageHashes(
      Seq(MediaRecord(11L, "image", big.array())).toDS()).head().codec == "opaque")
  }
}
