package graft.ops

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Multimodal column plumbing: image/audio/video as opaque binary
  * columns with typed metadata, processed via typed-Dataset
  * mapPartitions (the Scala analogue of mapInPandas batch UDFs).
  *
  * The codec layer is a real dispatcher over the payload's magic
  * bytes, with REAL pure-JDK decoders for the formats a web corpus is
  * made of: WAV/PCM audio (RIFF chunk walk: sample rate, channels,
  * frame count, duration, RMS level), BMP (DIB header + pixel array),
  * PNG (zlib inflate + per-spec scanline unfiltering), baseline JPEG
  * ([[Jpeg]]: Huffman entropy decode + dequant + IDCT of the luma
  * plane), WebP header dims, and MP4 ([[Mp4]]: ISO BMFF box walk —
  * dims, duration, codec fourcc, and per-keyframe byte ranges from
  * the stss/stsc/stsz/stco tables). Only the entropy-coded VIDEO
  * sample payloads still need an external codec: every distributed
  * step before it (schema, partitioning, keyframe location/slicing,
  * batch shape) is real. A production build adds JNI/codec calls as
  * new `case`s in `decode` without touching any distributed plumbing.
  *
  * Scale notes: mapPartitions keeps per-record overhead amortized over
  * a whole partition (one codec context per partition, not per row);
  * binary payloads never pass through a shuffle here — features are
  * extracted before any aggregation, so only the (tiny) feature rows
  * move.
  */
object Multimodal {

  /** An opaque media payload + metadata. */
  case class MediaRecord(id: Long, kind: String, data: Array[Byte])

  /** Extracted features (decode output). `level_milli` is the audio
    * RMS (milli of full scale) or image mean luminance (milli of 255);
    * 0 on the opaque fallback path.
    */
  case class MediaFeatures(id: Long, kind: String, codec: String,
                           size_bytes: Long, width: Int, height: Int,
                           n_frames: Int, sample_rate: Int, channels: Int,
                           duration_ms: Long, level_milli: Long,
                           fingerprint: String)

  private def md5Hex(data: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(data).map("%02x".format(_)).mkString

  /** Largest raster the PNG path will materialize (64M px ≈ a 8192²
    * RGBA image, ~256 MB unfiltered). Beyond that a crafted IHDR could
    * allocate unbounded executor memory, so such images decode header
    * metadata only.
    */
  private val MaxPixels = 64L * 1024 * 1024

  /** Codec dispatch on magic bytes. A malformed payload of a
    * recognized format (truncated chunk walk, lying length fields,
    * overflowing dims) must never kill or hang the task: every format
    * branch is wrapped, and a decode failure falls back to the opaque
    * features with codec = "corrupt" so bad records stay observable.
    */
  def decode(r: MediaRecord): MediaFeatures =
    try {
      val d = r.data
      if (d.length >= 12 && d(0) == 'R' && d(1) == 'I' && d(2) == 'F' && d(3) == 'F'
          && d(8) == 'W' && d(9) == 'A' && d(10) == 'V' && d(11) == 'E') decodeWav(r)
      else if (d.length >= 30 && d(0) == 'B' && d(1) == 'M') decodeBmp(r)
      else if (d.length >= 33 && (d(0) & 0xff) == 0x89 && d(1) == 'P' && d(2) == 'N'
          && d(3) == 'G') decodePng(r)
      else if (isJpeg(d)) decodeJpeg(r)
      else if (isWebp(d)) decodeWebp(r)
      else if (Mp4.isMp4(d)) decodeMp4(r)
      else decodeOpaque(r)
    } catch {
      case scala.util.control.NonFatal(_) => decodeOpaque(r).copy(codec = "corrupt")
    }

  /** WAV/PCM: walk RIFF chunks for "fmt " and "data"; all features are
    * exact integer byte arithmetic except one final RMS sqrt.
    */
  private def decodeWav(r: MediaRecord): MediaFeatures = {
    val buf = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var rate = 0; var channels = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    var walking = true
    while (walking && pos + 8 <= r.data.length) {
      val id = new String(r.data, pos, 4, "US-ASCII")
      val len = buf.getInt(pos + 4)
      if (len < 0) walking = false // lying length field: stop, don't loop/underflow
      else {
        if (id == "fmt " && pos + 24 <= r.data.length) {
          channels = buf.getShort(pos + 10).toInt
          rate = buf.getInt(pos + 12)
          bits = buf.getShort(pos + 22).toInt
        } else if (id == "data") {
          dataOff = pos + 8
          // clamp to the bytes actually present: a header may overstate
          dataLen = math.max(0, math.min(len, r.data.length - dataOff))
        }
        // chunks are word-aligned; long arithmetic so a huge len can't
        // overflow into a negative pos and restart the walk
        val next = pos.toLong + 8L + len + (len & 1)
        if (next > r.data.length) walking = false else pos = next.toInt
      }
    }
    val bytesPerFrame = math.max(channels * (bits / 8), 1)
    val frames = if (dataOff < 0) 0 else dataLen / bytesPerFrame
    val durationMs = if (rate > 0) frames.toLong * 1000L / rate else 0L
    // RMS over 16-bit samples, milli of full scale
    val level =
      if (bits == 16 && dataOff >= 0 && dataLen >= 2) {
        var sumSq = 0.0; var i = dataOff; var n = 0
        val end = math.min(dataOff + dataLen, r.data.length) - 1
        while (i < end) { val s = buf.getShort(i).toDouble; sumSq += s * s; n += 1; i += 2 }
        if (n == 0) 0L else math.round(math.sqrt(sumSq / n) / 32768.0 * 1000.0)
      } else 0L
    MediaFeatures(r.id, r.kind, "wav/pcm", r.data.length.toLong, 0, 0,
      frames, rate, channels, durationMs, level, md5Hex(r.data))
  }

  /** BMP: DIB header dims + mean luminance over the pixel array. */
  private def decodeBmp(r: MediaRecord): MediaFeatures = {
    val buf = ByteBuffer.wrap(r.data).order(ByteOrder.LITTLE_ENDIAN)
    val dataOff = buf.getInt(10)
    val width = buf.getInt(18)
    val height = math.abs(buf.getInt(22)) // negative = top-down rows
    var i = math.max(dataOff, 0); var sum = 0L; var n = 0L
    while (i < r.data.length) { sum += (r.data(i) & 0xff); n += 1; i += 1 }
    val level = if (n == 0) 0L else sum * 1000L / (255L * n)
    MediaFeatures(r.id, r.kind, "bmp", r.data.length.toLong, width, height,
      1, 0, 0, 0L, level, md5Hex(r.data))
  }

  /** PNG: real decode in pure JDK code — chunk walk for IHDR/IDAT,
    * zlib inflate (`java.util.zip.Inflater`), per-spec scanline
    * unfiltering (None/Sub/Up/Average/Paeth), mean luminance over the
    * color channels (alpha excluded). Covers the 8-bit-depth,
    * non-interlaced gray / gray+alpha / RGB / RGBA layouts (what JDK
    * and most encoders emit); palette or interlaced images decode
    * header metadata only (level 0).
    */
  private def decodePng(r: MediaRecord): MediaFeatures = {
    val d = r.data
    val (width, height) = pngHeader(d)
    val level = pngPixels(d) match {
      case Some((w, h, bpp, colorCh, px)) =>
        var sum = 0L; var n = 0L; var i = 0
        while (i < px.length) {
          var ch = 0
          while (ch < colorCh) { sum += px(i + ch) & 0xff; n += 1; ch += 1 }
          i += bpp
        }
        if (n == 0) 0L else sum * 1000L / (255L * n)
      case None => 0L
    }
    MediaFeatures(r.id, r.kind, "png", d.length.toLong, width, height,
      1, 0, 0, 0L, level, md5Hex(d))
  }

  private def pngHeader(d: Array[Byte]): (Int, Int) =
    if (d.length >= 24) {
      val buf = ByteBuffer.wrap(d).order(ByteOrder.BIG_ENDIAN)
      (buf.getInt(16), buf.getInt(20)) // IHDR is always the first chunk
    } else (0, 0)

  /** Unfiltered PNG pixel array: (width, height, bytesPerPixel,
    * colorChannels, pixels). None for palette/interlaced/non-8-bit
    * layouts, for rasters over [[MaxPixels]], and for any payload
    * whose chunk structure is malformed (negative or overflowing
    * length fields) — decode never throws or loops on hostile bytes.
    */
  private def pngPixels(d: Array[Byte]): Option[(Int, Int, Int, Int, Array[Byte])] =
    try pngPixelsUnsafe(d)
    catch { case scala.util.control.NonFatal(_) => None }

  private def pngPixelsUnsafe(d: Array[Byte]): Option[(Int, Int, Int, Int, Array[Byte])] = {
    val buf = ByteBuffer.wrap(d).order(ByteOrder.BIG_ENDIAN)
    var pos = 8
    var width = 0; var height = 0; var bitDepth = 0; var colorType = 0
    var interlace = 0
    val idat = new java.io.ByteArrayOutputStream()
    var walking = true
    while (walking && pos + 8 <= d.length) {
      val len = buf.getInt(pos)
      if (len < 0) { walking = false } // lying length: stop the walk
      else {
        val typ = new String(d, pos + 4, 4, "US-ASCII")
        if (typ == "IHDR" && pos + 21 <= d.length) {
          width = buf.getInt(pos + 8); height = buf.getInt(pos + 12)
          bitDepth = d(pos + 16) & 0xff; colorType = d(pos + 17) & 0xff
          interlace = d(pos + 20) & 0xff
        } else if (typ == "IDAT" && pos + 8 + len <= d.length) {
          idat.write(d, pos + 8, len)
        }
        // len + type + data + crc; long arithmetic so pos stays monotone
        val next = pos.toLong + 12L + len
        if (next > d.length) walking = false else pos = next.toInt
      }
    }
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 4 => 2; case 6 => 4; case _ => 0
    }
    if (bitDepth != 8 || interlace != 0 || channels == 0
        || width <= 0 || height <= 0
        || width.toLong * height > MaxPixels) return None
    val bpp = channels
    val stride = width * bpp
    val rawLen = (stride.toLong + 1L) * height
    if (rawLen > Int.MaxValue - 8) return None
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    var off = 0
    var stalled = false
    while (!inf.finished() && !stalled && off < raw.length) {
      val k = inf.inflate(raw, off, raw.length - off)
      if (k == 0 && (inf.needsInput() || inf.needsDictionary())) stalled = true
      else off += k
    }
    inf.end()
    val px = new Array[Byte](stride * height)
    var y = 0
    while (y < height) {
      val f = raw(y * (stride + 1)) & 0xff
      val rowIn = y * (stride + 1) + 1
      val rowOut = y * stride
      var x = 0
      while (x < stride) {
        val cur = raw(rowIn + x) & 0xff
        val a = if (x >= bpp) px(rowOut + x - bpp) & 0xff else 0
        val b = if (y > 0) px(rowOut - stride + x) & 0xff else 0
        val c = if (x >= bpp && y > 0) px(rowOut - stride + x - bpp) & 0xff else 0
        val v = f match {
          case 0 => cur
          case 1 => cur + a
          case 2 => cur + b
          case 3 => cur + (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          case _ => cur
        }
        px(rowOut + x) = (v & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val colorCh = colorType match { case 4 => 1; case 6 => 3; case _ => channels }
    Some((width, height, bpp, colorCh, px))
  }

  private def isJpeg(d: Array[Byte]): Boolean =
    d.length >= 4 && (d(0) & 0xff) == 0xff && (d(1) & 0xff) == 0xd8 &&
      (d(2) & 0xff) == 0xff

  private def isWebp(d: Array[Byte]): Boolean =
    d.length >= 16 && d(0) == 'R' && d(1) == 'I' && d(2) == 'F' && d(3) == 'F' &&
      d(8) == 'W' && d(9) == 'E' && d(10) == 'B' && d(11) == 'P'

  /** WebP: dimensions from the VP8/VP8L/VP8X headers (pure byte
    * arithmetic — the entropy-coded payload needs a real codec, so
    * pixels stay undecoded; codec name records which flavor).
    */
  private def decodeWebp(r: MediaRecord): MediaFeatures = {
    val d = r.data
    val buf = ByteBuffer.wrap(d).order(ByteOrder.LITTLE_ENDIAN)
    val tag = new String(d, 12, 4, "US-ASCII")
    val (w, h) = tag match {
      case "VP8 " if d.length >= 30 =>
        // lossy: 3-byte frame tag + 3-byte start code, then 16-bit dims
        ((buf.getShort(26) & 0x3fff).toInt, (buf.getShort(28) & 0x3fff).toInt)
      case "VP8L" if d.length >= 25 =>
        // lossless: 14-bit fields packed after the 0x2f signature
        val b = buf.getInt(21)
        ((b & 0x3fff) + 1, ((b >> 14) & 0x3fff) + 1)
      case "VP8X" if d.length >= 30 =>
        // extended: 24-bit canvas dims minus one
        (((buf.getInt(24) << 8) >>> 8) + 1,
          ((d(27) & 0xff) | ((d(28) & 0xff) << 8) | ((d(29) & 0xff) << 16)) + 1)
      case _ => (0, 0)
    }
    MediaFeatures(r.id, r.kind, s"webp/${tag.trim.toLowerCase}", d.length.toLong,
      w, h, 1, 0, 0, 0L, 0L, md5Hex(d))
  }

  /** JPEG: real baseline decode in pure JDK code ([[Jpeg]] — marker
    * parse, Huffman entropy decode, dequant + IDCT of the luma plane).
    * `level_milli` is the mean LUMA (the BT.601 Y the encoder wrote),
    * not the mean of RGB channels like the BMP/PNG paths — identical
    * for grayscale content, the standard brightness feature for color.
    * Non-baseline layouts (progressive, 12-bit, arithmetic) decode
    * header dimensions only, mirroring the PNG palette/interlace
    * stance.
    */
  private def decodeJpeg(r: MediaRecord): MediaFeatures = {
    val d = r.data
    Jpeg.decodeLuma(d) match {
      case Some(l) =>
        var sum = 0L; var i = 0
        while (i < l.y.length) { sum += l.y(i); i += 1 }
        val level = if (l.y.length == 0) 0L else sum * 1000L / (255L * l.y.length)
        MediaFeatures(r.id, r.kind, "jpeg", d.length.toLong, l.width, l.height,
          1, 0, 0, 0L, level, md5Hex(d))
      case None =>
        val (w, h) = Jpeg.header(d).getOrElse((0, 0))
        MediaFeatures(r.id, r.kind, "jpeg", d.length.toLong, w, h,
          1, 0, 0, 0L, 0L, md5Hex(d))
    }
  }

  /** MP4: [[Mp4]] box-tree walk — canvas dims (tkhd 16.16 fixed),
    * movie duration (mvhd), sample count (stsz), and codec fourcc.
    * `n_frames` is the media sample count; keyframe byte ranges are
    * exposed through [[sampleKeyframes]].
    */
  private def decodeMp4(r: MediaRecord): MediaFeatures =
    Mp4.parse(r.data) match {
      case Some(info) =>
        val codec = ("mp4/" + (if (info.videoCodec.trim.nonEmpty)
          info.videoCodec.trim else info.majorBrand.trim)).toLowerCase
        MediaFeatures(r.id, r.kind, codec, r.data.length.toLong,
          info.width, info.height, info.nSamples, 0, 0, info.durationMs,
          0L, md5Hex(r.data))
      case None => decodeOpaque(r).copy(codec = "corrupt")
    }

  /** Fallback for formats needing external codec libraries:
    * deterministic pseudo-features (documented stub branch).
    */
  private def decodeOpaque(r: MediaRecord): MediaFeatures = {
    val n = r.data.length
    MediaFeatures(r.id, r.kind, "opaque", n.toLong, n % 640, (n * 7) % 480,
      n / 100, 0, 0, 0L, 0L, md5Hex(r.data))
  }

  // ---- raster access (resize / perceptual hash) --------------------

  /** Full 8-bit grayscale raster for formats we decode completely:
    * 24bpp BMP (bottom-up or top-down, row padding honored) and 8-bit
    * non-interlaced PNG. Returns (width, height, row-major gray).
    */
  def grayRaster(r: MediaRecord): Option[(Int, Int, Array[Int])] = {
    val d = r.data
    if (d.length >= 30 && d(0) == 'B' && d(1) == 'M') bmpGray(d)
    else if (d.length >= 33 && (d(0) & 0xff) == 0x89 && d(1) == 'P'
        && d(2) == 'N' && d(3) == 'G') pngGray(d)
    else if (isJpeg(d))
      // luma plane as the gray raster (== gray for grayscale content,
      // perceptual luma for color — exactly what a perceptual hash wants)
      Jpeg.decodeLuma(d).map(l => (l.yW, l.yH, l.y))
    else None
  }

  private def bmpGray(d: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    val buf = ByteBuffer.wrap(d).order(ByteOrder.LITTLE_ENDIAN)
    val dataOff = buf.getInt(10)
    val width = buf.getInt(18)
    val rawH = buf.getInt(22)
    val height = math.abs(rawH)
    val bits = buf.getShort(28).toInt
    if (bits != 24 || width <= 0 || height <= 0 || dataOff < 0
        || width.toLong * height > MaxPixels) return None
    val stride = ((width * 3 + 3) / 4) * 4 // rows pad to 4 bytes
    if (dataOff + stride.toLong * height > d.length) return None
    val g = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      // positive height = bottom-up storage
      val srcRow = if (rawH > 0) height - 1 - y else y
      var x = 0
      while (x < width) {
        val p = dataOff + srcRow * stride + x * 3
        g(y * width + x) =
          ((d(p) & 0xff) + (d(p + 1) & 0xff) + (d(p + 2) & 0xff)) / 3
        x += 1
      }
      y += 1
    }
    Some((width, height, g))
  }

  private def pngGray(d: Array[Byte]): Option[(Int, Int, Array[Int])] =
    pngPixels(d).map { case (w, h, bpp, colorCh, px) =>
      val g = new Array[Int](w * h)
      var i = 0
      while (i < g.length) {
        var sum = 0; var ch = 0
        while (ch < colorCh) { sum += px(i * bpp + ch) & 0xff; ch += 1 }
        g(i) = sum / colorCh
        i += 1
      }
      (w, h, g)
    }

  /** Nearest-neighbor resize of the decoded raster to `side`x`side`
    * gray — the "resize" step of an image feature pipeline (and the
    * input to [[aHash64]]). None for formats without a full decode.
    */
  def thumbnail(r: MediaRecord, side: Int): Option[Array[Int]] =
    grayRaster(r).map { case (w, h, g) =>
      Array.tabulate(side * side) { i =>
        val ty = i / side; val tx = i % side
        g((ty * h / side) * w + (tx * w / side))
      }
    }

  /** 64-bit average-hash over the 8x8 thumbnail: bit i set iff pixel i
    * is above the thumbnail mean. Format-independent (the same pixel
    * content hashes identically from BMP or PNG bytes), cheap enough
    * to compute at scan time, and Hamming-comparable for image
    * near-dup — LSH-bucket it exactly like SimHash.
    */
  def aHash64(r: MediaRecord): Option[Long] =
    thumbnail(r, 8).map { t =>
      val mean = t.sum / 64
      t.zipWithIndex.foldLeft(0L) { case (acc, (v, i)) =>
        if (v > mean) acc | (1L << i) else acc
      }
    }

  /** The pHash DCT basis as EXACT integers: Q(u,x) =
    * rint(cos((2x+1)·u·π/64) · 2^14). Every non-DC row sums to
    * exactly zero (asserted below — the exact-math sum is zero and
    * the rounded values inherit it through the basis' mirror
    * antisymmetry), which is what makes [[pHash64]]'s brightness
    * invariance EXACT rather than approximate: a uniform pixel shift
    * contributes shift·ΣQ(u,·) = 0 to every non-DC coefficient.
    * 2^14 scaling keeps the full 2-D transform inside 2^53
    * (32·255·2^14 per row sum, ×32·2^14 in the column pass ≈ 7·10^13),
    * so the whole hash is order-independent integer math — exactly
    * replayable in any engine from the rendered table
    * ([[phashTableSql]]).
    */
  val phashCosTable: Array[Array[Long]] = {
    val t = Array.tabulate(8, 32)((u, x) =>
      math.rint(math.cos((2 * x + 1) * u * math.Pi / 64.0) * 16384.0).toLong)
    (1 until 8).foreach(u => require(t(u).sum == 0L,
      s"pHash cos table row $u sums to ${t(u).sum}, not 0 — " +
        "brightness invariance broken on this platform"))
    t
  }

  /** DCT perceptual hash (pHash): 32×32 gray thumbnail → 2-D DCT-II
    * over the scaled-INTEGER basis [[phashCosTable]] → top-left 8×8
    * low-frequency block → threshold at the median of the 63 non-DC
    * coefficients (bit 0, the DC slot, is always 0 — excluding DC is
    * what buys uniform-brightness invariance: with zero-sum basis
    * rows, adding a constant to every pixel moves ONLY the DC
    * coefficient, exactly). The median compare is `2c > lo + hi`
    * (the two middle order statistics), so no division ever leaves
    * integers. Every value is an exact Long ⇒ the hash is
    * bit-identical in any engine and under any summation order —
    * the q152/q175 integer-parity discipline applied to image
    * fingerprints. Hamming-comparable, so image near-dup rides the
    * SimHash banding machinery unchanged ([[Dedup.hashNearDupPairs]]).
    */
  def pHash64(r: MediaRecord): Option[Long] =
    thumbnail(r, 32).map { t =>
      val n = 32
      val cosTab = phashCosTable
      val rows = Array.ofDim[Long](n, 8) // per row: first 8 freqs
      var y = 0
      while (y < n) {
        var u = 0
        while (u < 8) {
          var s = 0L; var x = 0
          while (x < n) { s += t(y * n + x) * cosTab(u)(x); x += 1 }
          rows(y)(u) = s; u += 1
        }
        y += 1
      }
      val c = Array.ofDim[Long](64)
      var v = 0
      while (v < 8) {
        var u = 0
        while (u < 8) {
          var s = 0L; var yy = 0
          while (yy < n) { s += rows(yy)(u) * cosTab(v)(yy); yy += 1 }
          c(v * 8 + u) = s; u += 1
        }
        v += 1
      }
      val ac = c.drop(1).sorted
      val (lo, hi) = (ac(30), ac(31))
      var h = 0L; var i = 1
      while (i < 64) { if (2 * c(i) > lo + hi) h |= (1L << i); i += 1 }
      h
    }

  /** Image AVERAGE hashes for a media Dataset; opaque formats fall
    * back to a deterministic md5-derived pseudo-hash (flagged by
    * codec = "opaque"). Contract gated by q188 (arithmetic replay of
    * thumbnail + mean threshold). aHash is the cheap scan-time
    * fingerprint; the image NEAR-DUP key is [[perceptualHashes]]
    * (pHash, q185) — its exact brightness invariance and DCT
    * structure tolerance make it strictly better for banded-Hamming
    * pairing, so use ONE near-dup key and keep this one for cheap
    * exact-fingerprint use (manifests, dedup pre-filters on exact
    * re-encodes).
    */
  case class MediaHash(id: Long, codec: String, thumb_hash: Long)
  def imageHashes(ds: Dataset[MediaRecord]): Dataset[MediaHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      aHash64(r) match {
        case Some(h) => MediaHash(r.id, decode(r).codec, h)
        case None =>
          MediaHash(r.id, "opaque",
            java.lang.Long.parseUnsignedLong(md5Hex(r.data).take(15), 16))
      }
    })
  }

  /** pHash for a media Dataset, opaque fallback as [[imageHashes]]. */
  case class MediaPHash(id: Long, codec: String, phash: Long)
  def perceptualHashes(ds: Dataset[MediaRecord]): Dataset[MediaPHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      pHash64(r) match {
        case Some(h) => MediaPHash(r.id, decode(r).codec, h)
        case None =>
          MediaPHash(r.id, "opaque",
            java.lang.Long.parseUnsignedLong(md5Hex(r.data).take(15), 16))
      }
    })
  }

  /** Deterministic 24bpp bottom-up BMP from a row-major gray raster —
    * the image twin of [[buildWav]]/[[Mp4.build]]: fixture media the
    * oracle can regenerate arithmetically, run through the REAL
    * decode path ([[grayRaster]] honors the bottom-up rows and 4-byte
    * row padding this writes).
    */
  def buildBmp(width: Int, height: Int, gray: Array[Int]): Array[Byte] = {
    require(gray.length == width * height,
      s"gray raster ${gray.length} != $width x $height")
    val stride = ((width * 3 + 3) / 4) * 4
    val out = new Array[Byte](54 + stride * height)
    val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
    bb.putInt(out.length)
    bb.putInt(0)
    bb.putInt(54) // pixel data offset
    bb.putInt(40) // BITMAPINFOHEADER
    bb.putInt(width)
    bb.putInt(height) // positive height = bottom-up rows
    bb.putShort(1)
    bb.putShort(24)
    // compression/raw-size/ppm/palette fields stay zero
    var y = 0
    while (y < height) {
      val srcRow = height - 1 - y // file row y holds image row h-1-y
      var x = 0
      while (x < width) {
        val v = (gray(srcRow * width + x) & 0xff).toByte
        val p = 54 + y * stride + x * 3
        out(p) = v; out(p + 1) = v; out(p + 2) = v
        x += 1
      }
      y += 1
    }
    out
  }

  // ---- DuckDB oracle rendering for the pHash pipeline ---------------

  /** [[phashCosTable]] rendered as a VALUES relation `tab(u, x, q)` —
    * the basis ships as literals, so the replay involves no
    * cross-engine transcendental functions at all.
    */
  def phashTableSql: String = {
    val rows = (for {
      u <- 0 until 8
      x <- 0 until 32
    } yield s"($u,$x,${phashCosTable(u)(x)})").mkString(",")
    s"tab(u, x, q) AS (SELECT * FROM (VALUES $rows))"
  }

  /** CTE chain replaying [[pHash64]] + [[Dedup.hashNearDupPairs]] over
    * a `pixels` CTE of (id, x, y, px) rows (0-based 32×32 raster, px
    * the 8-bit gray value the BMP round-trip yields). Row pass, column
    * pass, non-DC median threshold (`2c > lo + hi`, the two middle
    * order statistics), then 4×16-bit band buckets with exact
    * bit_count(xor) Hamming verify. Emits (doc_a, doc_b, hamming)
    * ordered.
    */
  def phashNearDupSql(maxHamming: Int, maxBucketSize: Int): String =
    s"""$phashTableSql,
       rowp AS (SELECT p.id, p.y, t.u, SUM(p.px * t.q) AS s
                FROM pixels p JOIN tab t ON t.x = p.x GROUP BY 1, 2, 3),
       coef AS (SELECT r.id, t.u * 8 + r.u AS i, SUM(r.s * t.q) AS c
                FROM rowp r JOIN tab t ON t.x = r.y GROUP BY 1, 2),
       med AS (SELECT id,
                 MAX(CASE WHEN rnk = 31 THEN c END) AS lo,
                 MAX(CASE WHEN rnk = 32 THEN c END) AS hi
               FROM (SELECT id, c,
                       ROW_NUMBER() OVER (PARTITION BY id ORDER BY c, i) AS rnk
                     FROM coef WHERE i >= 1)
               GROUP BY 1),
       ph AS (SELECT f.id,
                CAST(SUM(CASE WHEN 2 * f.c > m.lo + m.hi THEN
                      -- bit 63 is the sign bit: DuckDB rejects the
                      -- overflowing 1<<63, so it ships as min-long
                      -- (the exact two's-complement value 1L<<63 is)
                      CASE WHEN f.i = 63 THEN -9223372036854775807 - 1
                           ELSE (1::BIGINT << f.i) END
                    ELSE 0 END) AS BIGINT) AS h
              FROM coef f JOIN med m ON m.id = f.id
              WHERE f.i >= 1 GROUP BY 1),
       keys AS (SELECT id, h, b, (h >> (b * 16)) & 65535 AS bandval
                FROM ph, (SELECT unnest(range(0, 4)) AS b) bb),
       bkt AS (SELECT b, bandval FROM keys GROUP BY 1, 2
               HAVING COUNT(*) BETWEEN 2 AND $maxBucketSize),
       cand AS (SELECT DISTINCT a.id AS doc_a, b.id AS doc_b,
                  a.h AS ha, b.h AS hb
                FROM keys a JOIN keys b ON a.b = b.b AND a.bandval = b.bandval
                  AND a.id < b.id
                JOIN bkt ON bkt.b = a.b AND bkt.bandval = a.bandval)
       SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       FROM cand WHERE bit_count(xor(ha, hb)) <= $maxHamming
       ORDER BY doc_a, doc_b"""

  // ---- keyframe sampling -------------------------------------------

  /** `k` evenly spaced KEYFRAMES from an MP4 payload: 1-based sample
    * number, byte offset, byte size, decode time (ms), and the md5 of
    * the keyframe's bytes (the deterministic stand-in for handing that
    * slice to a codec) — the "frame-sample" step of a video
    * pipeline. The selection, slicing, and batch shape are the real
    * pipeline; only the per-slice pixel decode awaits a codec. Empty for non-MP4
    * payloads and for headers without resolvable sample tables.
    *
    * Spacing is even in TIME when the header carries `stts` decode
    * times (pick the first keyframe at or past each of `k` equal
    * time-quantile targets, duplicates collapsed — a burst of
    * keyframes in one scene no longer eats the whole budget), and even
    * in INDEX otherwise. When `k >= n_keyframes` both rules pick every
    * keyframe (q107 exercises that boundary; Mp4Spec the divergence).
    */
  case class KeyframeSample(id: Long, n_samples: Int, n_keyframes: Int,
                            samples: Array[Int], offsets: Array[Long],
                            sizes: Array[Int], times_ms: Array[Long],
                            slice_md5: Array[String])
  def sampleKeyframes(ds: Dataset[MediaRecord], k: Int): Dataset[KeyframeSample] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.map { r =>
      Mp4.parse(r.data).filter(_.keyframeOffsets.nonEmpty) match {
        case Some(info) =>
          val nk = info.keyframeOffsets.length
          val take = math.min(k, nk)
          val times = info.keyframeTimesMs
          val picked: Array[Int] =
            if (take >= nk) {
              // full budget: every keyframe, under either rule — the
              // quantile scan could short-count here when timestamps
              // repeat mid-array (first-at-or-past skips over
              // duplicate-time frames), so the contract case is exact
              Array.tabulate(nk)(identity)
            } else if (times.length == nk && take > 0) {
              val t0 = times(0)
              val span = times(nk - 1) - t0
              // time-quantile targets; first-at-or-past, deduped while
              // staying sorted (times are non-decreasing)
              val sel = Array.newBuilder[Int]
              var last = -1
              var j = 0
              while (j < take) {
                val target = t0 + span * j / take
                var i = math.max(last + 1, 0)
                while (i < nk - 1 && times(i) < target) i += 1
                // i == nk when the last keyframe is already picked and
                // targets remain (duplicate timestamps collapse picks);
                // the budget just goes unspent — never index past nk-1
                if (i < nk && i > last) { sel += i; last = i }
                j += 1
              }
              sel.result()
            } else Array.tabulate(take)(i => i * nk / take)
          val md5s = picked.map { i =>
            val off = info.keyframeOffsets(i); val sz = info.keyframeSizes(i)
            if (off >= 0 && sz > 0 && off + sz <= r.data.length)
              md5Hex(java.util.Arrays.copyOfRange(r.data, off.toInt, (off + sz).toInt))
            else "" // header points outside the payload: observable, not fatal
          }
          KeyframeSample(r.id, info.nSamples, nk,
            picked.map(info.keyframeSamples(_)),
            picked.map(info.keyframeOffsets(_)),
            picked.map(info.keyframeSizes(_)),
            if (times.length == nk) picked.map(times(_)) else Array.empty,
            md5s)
        case None =>
          KeyframeSample(r.id, 0, 0, Array.empty, Array.empty, Array.empty,
            Array.empty, Array.empty)
      }
    })
  }

  // ---- audio feature extraction ------------------------------------

  /** Deterministic mono 16-bit PCM WAV muxer — the audio analogue of
    * [[Mp4.build]]: fixture/oracle generator whose byte layout is
    * fully predictable (44-byte canonical header, little-endian
    * samples), so feature queries over REAL decoded bytes can be
    * replayed arithmetically by the oracle (q142).
    */
  def buildWav(samples: Array[Short], rate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** First-channel 16-bit samples of a WAV payload (RIFF walk shared
    * with [[decodeWav]]'s hostile-input rules: lying/negative lengths
    * stop the walk, data length clamps to bytes present). None for
    * non-WAV or non-16-bit payloads.
    */
  private def pcm16(d: Array[Byte]): Option[Array[Short]] = {
    val isWav = d.length >= 12 && d(0) == 'R' && d(1) == 'I' && d(2) == 'F' &&
      d(3) == 'F' && d(8) == 'W' && d(9) == 'A' && d(10) == 'V' && d(11) == 'E'
    if (!isWav) None
    else {
      val buf = ByteBuffer.wrap(d).order(ByteOrder.LITTLE_ENDIAN)
      var pos = 12
      var channels = 1; var bits = 16; var dataOff = -1; var dataLen = 0
      var walking = true
      while (walking && pos + 8 <= d.length) {
        val id = new String(d, pos, 4, "US-ASCII")
        val len = buf.getInt(pos + 4)
        if (len < 0) walking = false
        else {
          if (id == "fmt " && pos + 24 <= d.length) {
            channels = math.max(buf.getShort(pos + 10).toInt, 1)
            bits = buf.getShort(pos + 22).toInt
          } else if (id == "data") {
            dataOff = pos + 8
            dataLen = math.max(0, math.min(len, d.length - dataOff))
          }
          val next = pos.toLong + 8L + len + (len & 1)
          if (next > d.length) walking = false else pos = next.toInt
        }
      }
      if (dataOff < 0 || bits != 16) None
      else {
        val bytesPerFrame = math.max(channels * 2, 2)
        val frames = dataLen / bytesPerFrame
        Some(Array.tabulate(frames)(i => buf.getShort(dataOff + i * bytesPerFrame)))
      }
    }
  }

  /** Fixed-length window features over decoded PCM: exact-integer
    * energy (sum of squares), zero crossings (strict sign flips
    * BETWEEN CONSECUTIVE SAMPLES WITHIN the window), and peak |s| —
    * the silence-trim / voice-activity / clipping signals of an audio
    * curation pipeline, all in the integer domain so the oracle
    * replays them exactly. Narrow per-row work (a payload's windows
    * never cross rows); non-WAV payloads contribute no windows.
    */
  case class AudioWindow(id: Long, win: Int, n_samp: Int, sum_sq: Long,
                         zero_crossings: Int, peak: Int)
  def audioWindows(ds: Dataset[MediaRecord], windowFrames: Int): Dataset[AudioWindow] = {
    require(windowFrames > 0)
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap { r =>
      pcm16(r.data) match {
        case None => Iterator.empty
        case Some(s) =>
          val nWin = (s.length + windowFrames - 1) / windowFrames
          Iterator.tabulate(nWin) { w =>
            val start = w * windowFrames
            val end = math.min(start + windowFrames, s.length)
            var i = start; var sq = 0L; var zc = 0; var peak = 0
            while (i < end) {
              val v = s(i).toInt
              sq += v.toLong * v
              if (i > start && s(i - 1).toInt * v < 0) zc += 1
              if (math.abs(v) > peak) peak = math.abs(v)
              i += 1
            }
            AudioWindow(r.id, w, end - start, sq, zc, peak)
          }
      }
    })
  }

  /** Partition-batched feature extraction over typed records. One
    * decoder instance per partition (the mapPartitions body is where a
    * real codec context would be opened once).
    */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it => it.map(decode) }
  }

  /** Lift a (id, binary) frame into the typed pipeline. */
  def fromBinaryFrame(spark: SparkSession, df: DataFrame, idCol: String,
                      dataCol: String, kind: String): Dataset[MediaRecord] = {
    import spark.implicits._
    df.selectExpr(s"CAST($idCol AS BIGINT) AS id", s"'$kind' AS kind",
        s"CAST($dataCol AS BINARY) AS data")
      .as[MediaRecord]
  }
}
