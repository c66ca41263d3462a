package graft.ops

import java.awt.image.Raster
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO
import javax.imageio.stream.MemoryCacheImageInputStream
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media assets are opaque `binary` columns with typed metadata — the
  * pattern every large-scale multimodal corpus uses (the bytes travel
  * as parquet BINARY; schema + partitioning + batch shape are what the
  * engine owns). [[decodeMeta]] REALLY decodes all six formats —
  * their metadata is codec-free even where the PAYLOAD needs a codec:
  * BMP (width/height from the BITMAPINFOHEADER), RIFF/WAVE (duration
  * from byte rate × data size), PNG (big-endian IHDR dims), GIF
  * (little-endian logical-screen dims), JPEG (segment-marker walk to
  * the SOFn frame header), and MP4 (ISO BMFF box walk to mvhd/tkhd).
  * Malformed or unknown inputs fall back to a DETERMINISTIC STUB
  * (first/last byte + length pseudo-dimensions).
  *
  * Scale notes: media rows are fat (MBs), so ops here must (a) never
  * collect, (b) keep per-partition byte volume bounded — callers size
  * `spark.sql.files.maxPartitionBytes` down for media tables — and
  * (c) push metadata-only predicates (width/duration filters) BEFORE
  * any decode, which Catalyst does for free since metadata are plain
  * columns.
  */
object Multimodal {

  /** Typed metadata record for a decoded media asset. */
  final case class MediaMeta(
      id: Long,
      mediaType: String, // "image" | "audio" | "video"
      nBytes: Long,
      width: Int,
      height: Int,
      durationMs: Long)

  /** Wrap a text/id frame as a media frame: bytes + sidecar metadata
    * columns. In production the binary column comes straight off
    * parquet; here any string column can stand in as payload.
    */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String, mediaType: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      encode(col(payloadCol), "UTF-8").as("bytes"),
      lit(mediaType).as("media_type"),
      octet_length(encode(col(payloadCol), "UTF-8")).cast("long").as("n_bytes"))

  /** Unsigned little- and big-endian 16/32-bit reads: the primitives
    * of every header walk here (BMP/WAV/GIF fields are little-endian,
    * PNG/JPEG/MP4 big-endian, Exif's TIFF either way).
    */
  private def le4(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def be4(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def le2(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def be2(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)

  private def be8(b: Array[Byte], off: Int): Long =
    (be4(b, off) << 32) | be4(b, off + 4)

  /** MP4 / ISO BMFF (width, height, durationMs) via the box walk —
    * like JPEG, the metadata needs no demuxer: boxes are
    * [size:be32][type:4cc] (size 1 → 64-bit largesize follows, size 0
    * → to end); descend into the `moov`/`trak` containers, read
    * duration/timescale from `mvhd` (version 0: offsets 12/16 into the
    * body; version 1: 20/24 with a 64-bit duration) and each track's
    * 16.16 fixed-point width/height from the last 8 bytes of `tkhd`,
    * keeping the largest track (audio tracks are 0×0). None when no
    * parseable `mvhd` exists — the caller falls back to the stub.
    */
  private def mp4Meta(b: Array[Byte]): Option[(Int, Int, Long)] = {
    var durMs = Option.empty[Long]
    var w = 0
    var h = 0
    def walk(start: Int, end: Int): Unit = {
      var i = start
      var ok = true
      while (ok && i + 8 <= end) {
        var size = be4(b, i)
        var hdr = 8
        if (size == 1L && i + 16 <= end) { size = be8(b, i + 8); hdr = 16 }
        else if (size == 0L) size = (end - i).toLong
        if (size < hdr || size > (end - i).toLong) ok = false // malformed
        else {
          val tpe = new String(b, i + 4, 4, "ISO-8859-1")
          val bodyStart = i + hdr
          val bodyEnd = i + size.toInt
          tpe match {
            case "moov" | "trak" => walk(bodyStart, bodyEnd)
            case "mvhd" if durMs.isEmpty =>
              val v = if (bodyStart < bodyEnd) b(bodyStart) & 0xff else -1
              if (v == 0 && bodyStart + 20 <= bodyEnd) {
                val ts = be4(b, bodyStart + 12)
                if (ts > 0) durMs = Some(be4(b, bodyStart + 16) * 1000L / ts)
              } else if (v == 1 && bodyStart + 32 <= bodyEnd) {
                val ts = be4(b, bodyStart + 20)
                if (ts > 0) durMs = Some(be8(b, bodyStart + 24) * 1000L / ts)
              }
            case "tkhd" if bodyEnd - bodyStart >= 8 =>
              val tw = (be4(b, bodyEnd - 8) >> 16).toInt
              val th = (be4(b, bodyEnd - 4) >> 16).toInt
              if (tw.toLong * th > w.toLong * h) { w = tw; h = th }
            case _ => ()
          }
          i = bodyEnd
        }
      }
    }
    walk(0, b.length)
    durMs.map(d => (w, h, d))
  }

  /** JPEG (width, height) via the segment-marker walk — the one
    * codec-bound-looking format whose dimensions ARE codec-free: skip
    * FF fill bytes, step over length-prefixed segments until an SOFn
    * frame header (C0–CF minus the non-frame C4/C8/CC), read the
    * big-endian height/width at payload offsets 1/3 (ITU T.81 §B.2.2).
    * None on desync, EOI, or start-of-scan before any SOF — the caller
    * falls back to the stub rather than fabricating dimensions.
    */
  private def jpegDims(b: Array[Byte]): Option[(Int, Int)] = {
    var i = 2 // past FF D8 (SOI)
    while (i + 1 < b.length) {
      if ((b(i) & 0xff) != 0xff) return None // marker desync
      var j = i
      while (j < b.length && (b(j) & 0xff) == 0xff) j += 1 // fill bytes
      if (j >= b.length) return None
      val marker = b(j) & 0xff
      if (marker == 0x01 || marker == 0xd8 ||
          (marker >= 0xd0 && marker <= 0xd7)) {
        i = j + 1 // standalone marker, no length field
      } else if (marker == 0xd9 || marker == 0xda) {
        return None // EOI / SOS reached without a frame header
      } else {
        if (j + 2 >= b.length) return None
        val len = be2(b, j + 1)
        if (len < 2) return None
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (j + 7 >= b.length) return None
          return Some((be2(b, j + 6), be2(b, j + 4))) // (width, height)
        }
        i = j + 1 + len
      }
    }
    None
  }

  /** The deterministic fallback for formats that genuinely need a
    * codec library (MP4, malformed inputs): first/last byte + length
    * pseudo-dimensions. A real deployment swaps this body.
    */
  private def stubMeta(
      id: Long, mt: String, bytes: Array[Byte]): MediaMeta = {
    val h = if (bytes.isEmpty) 0 else (bytes.head & 0xff)
    val t = if (bytes.isEmpty) 0 else (bytes.last & 0xff)
    MediaMeta(id, mt, bytes.length.toLong,
      width = 64 + h % 64, height = 64 + t % 64,
      durationMs = bytes.length.toLong * 10)
  }

  /** Decode typed metadata from the payload bytes.
    *
    * REAL paths (fixed-offset header reads, no codec library needed):
    *  - BMP ("BM" magic, 40-byte BITMAPINFOHEADER): width at offset 18,
    *    height at 22 (absolute value — negative means top-down rows);
    *    images get durationMs = 0.
    *  - WAV ("RIFF"+"WAVE" magic, canonical 44-byte header): byte rate
    *    at offset 28, data-chunk size at 40; durationMs = dataBytes ×
    *    1000 / byteRate (integral); audio gets width = height = 0.
    *
    * Everything else falls back to the deterministic STUB (first/last
    * byte + length pseudo-dimensions) — a real deployment swaps that
    * branch for codec calls. The signature — one partition of byte
    * arrays in, one iterator of typed metadata out, no driver-side
    * traffic — is the production shape either way.
    */
  def decodeMeta(spark: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    media.select("id", "bytes", "media_type").as[(Long, Array[Byte], String)]
      .mapPartitions { it =>
        it.map { case (id, bytes, mt) =>
          val n = bytes.length.toLong
          if (bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M' &&
              le4(bytes, 14) == 40L) {
            // real BMP header math
            MediaMeta(id, mt, n,
              width = le4(bytes, 18).toInt,
              height = math.abs(le4(bytes, 22).toInt),
              durationMs = 0L)
          } else if (bytes.length >= 44 &&
              bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
              bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
              bytes(10) == 'V' && bytes(11) == 'E') {
            // real WAV header math
            val byteRate = le4(bytes, 28)
            val dataSize = le4(bytes, 40)
            val dur = if (byteRate > 0) dataSize * 1000L / byteRate else 0L
            MediaMeta(id, mt, n, width = 0, height = 0, durationMs = dur)
          } else if (bytes.length >= 24 && (bytes(0) & 0xff) == 0x89 &&
              bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G' &&
              bytes(12) == 'I' && bytes(13) == 'H' && bytes(14) == 'D' &&
              bytes(15) == 'R') {
            // real PNG header math: IHDR width/height are big-endian
            MediaMeta(id, mt, n,
              width = be4(bytes, 16).toInt,
              height = be4(bytes, 20).toInt,
              durationMs = 0L)
          } else if (bytes.length >= 10 && bytes(0) == 'G' &&
              bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == '8' &&
              (bytes(4) == '7' || bytes(4) == '9') && bytes(5) == 'a') {
            // real GIF header math: logical screen size, little-endian
            MediaMeta(id, mt, n,
              width = le2(bytes, 6), height = le2(bytes, 8),
              durationMs = 0L)
          } else if (bytes.length >= 4 && (bytes(0) & 0xff) == 0xff &&
              (bytes(1) & 0xff) == 0xd8) {
            // real JPEG header math: marker walk to the SOFn segment
            jpegDims(bytes) match {
              case Some((w, h)) => MediaMeta(id, mt, n, w, h, durationMs = 0L)
              case None => stubMeta(id, mt, bytes)
            }
          } else if (bytes.length >= 12 && bytes(4) == 'f' &&
              bytes(5) == 't' && bytes(6) == 'y' && bytes(7) == 'p') {
            // real MP4 header math: box walk to mvhd / tkhd
            mp4Meta(bytes) match {
              case Some((w, h, dur)) => MediaMeta(id, mt, n, w, h, dur)
              case None => stubMeta(id, mt, bytes)
            }
          } else {
            stubMeta(id, mt, bytes)
          }
        }
      }
  }

  /** STUB feature extraction: fixed-size float vector per asset,
    * derived from byte histogram moments (deterministic fake of an
    * embedding-model call). Batch shape (mapPartitions, bounded output
    * width) is the real contract.
    */
  def extractFeatures(spark: SparkSession, media: DataFrame, dim: Int = 8): DataFrame = {
    import spark.implicits._
    media.select("id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          // Accumulate in DOUBLE, round to float once at the end — the
          // arithmetic any SQL engine reproduces exactly (float-by-float
          // accumulation would drift from the oracle's double sums).
          val v = Array.tabulate(dim) { i =>
            if (bytes.isEmpty) 0f
            else {
              var s = 0.0
              var j = i
              while (j < bytes.length) { s += (bytes(j) & 0xff); j += dim }
              (s / bytes.length).toFloat
            }
          }
          (id, v)
        }
      }.toDF("id", "features")
  }

  /** REAL content features for the JDK-decodable payload formats — no
    * external codec anywhere, yet the PIXELS/SAMPLES are genuinely
    * recovered:
    *
    *  - 24-bit BMP → per-channel pixel means (B, G, R), honoring the
    *    `bfOffBits` pixel-array offset and 4-byte row padding;
    *  - 16-bit PCM RIFF/WAVE (canonical 44-byte header, [[wavPcm]]) →
    *    RMS amplitude, peak |sample|, sample count;
    *  - PNG (8-bit gray/RGB/RGBA, non-interlaced; [[pngPixels]]), GIF
    *    (87a/89a, first frame; [[gifPixels]]) and JPEG (baseline) →
    *    per-channel means (R, G, B) of the decoded pixels — PNG and
    *    JPEG through the JDK's own `javax.imageio` readers, GIF through
    *    a pure-Scala LZW decoder; gray fills all three lanes, RGBA's
    *    alpha is layout-only and not averaged. (JPEG oracle
    *    checkability comes from the fixture side: constant-per-8×8-block
    *    gray images round-trip the lossy codec exactly — see
    *    `MediaFixtures.jpegBytes`.)
    *
    * Anything else falls back to the deterministic byte-histogram
    * stub moments of [[extractFeatures]] (kind `other`) — the one
    * codec-bound format left (MP4 payload) stays honestly stubbed.
    * All accumulation is exact integer arithmetic in double
    * (sums < 2^53), so an external oracle reproduces every statistic
    * bit-for-bit.
    *
    * @return `id`, `kind` (bmp|wav|png|gif|jpeg|other), `f1`, `f2`,
    *         `f3` — (mean_b, mean_g, mean_r) / (rms, peak, n_samples)
    *         / (mean_r, mean_g, mean_b) / (first three stub moments),
    *         each rounded to 4
    */
  def contentFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select("id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          if (b.length >= 54 && b(0) == 'B' && b(1) == 'M' &&
              le4(b, 14) == 40L && le2(b, 28) == 24) {
            val off = le4(b, 10).toInt
            val w = le4(b, 18).toInt
            val h = math.abs(le4(b, 22).toInt)
            val rowSize = ((w * 3 + 3) / 4) * 4
            if (w > 0 && h > 0 && off + h * rowSize <= b.length) {
              var (sb, sg, sr) = (0.0, 0.0, 0.0)
              var row = 0
              while (row < h) {
                var px = 0
                while (px < w) {
                  val base = off + row * rowSize + px * 3
                  sb += (b(base) & 0xff)
                  sg += (b(base + 1) & 0xff)
                  sr += (b(base + 2) & 0xff)
                  px += 1
                }
                row += 1
              }
              val n = (w * h).toDouble
              (id, "bmp", r4(sb / n), r4(sg / n), r4(sr / n))
            } else stubFeatureRow(id, b)
          } else wavPcm(b) match {
            case Some(s) =>
              val ss = s.foldLeft(0.0)((acc, v) => acc + v.toDouble * v)
              (id, "wav", r4(math.sqrt(ss / s.length)),
                r4(s.map(v => math.abs(v)).max.toDouble), r4(s.length.toDouble))
            case None => imagePixels(b) match {
              case Some((kind, ch, px)) =>
                var (s0, s1, s2) = (0L, 0L, 0L)
                var o = 0
                while (o < px.length) { // gray fills all three lanes
                  s0 += px(o) & 0xff
                  s1 += px(o + math.min(1, ch - 1)) & 0xff
                  s2 += px(o + math.min(2, ch - 1)) & 0xff
                  o += ch
                }
                val n = (px.length / ch).toDouble
                (id, kind, r4(s0 / n), r4(s1 / n), r4(s2 / n))
              case None => stubFeatureRow(id, b)
            }
          }
        }
      }.toDF("id", "kind", "f1", "f2", "f3")
  }

  /** Canonical-header WAV (44-byte fmt/data layout, 16-bit PCM)
    * sample extraction: the signed samples of the data chunk (its
    * declared size capped at the payload), or None for any other
    * layout or an empty chunk. [[contentFeatures]]' audio branch and
    * [[wavPeriodicity]] both read through it.
    */
  private[graft] def wavPcm(b: Array[Byte]): Option[Array[Int]] = {
    if (b.length >= 44 &&
        b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E' &&
        b(36) == 'd' && b(37) == 'a' && b(38) == 't' && b(39) == 'a' &&
        le2(b, 34) == 16) {
      val dataSize = math.min(le4(b, 40).toInt, b.length - 44)
      val n = dataSize / 2
      if (n > 0)
        Some(Array.tabulate(n)(k => le2(b, 44 + 2 * k).toShort.toInt))
      else None
    } else None
  }

  /** Pitch/periodicity detection by EXACT integer autocorrelation —
    * the audio feature that needs no codec and no floating transform:
    * R(L) = Σ s_k·s_{k+L} over int16 samples (products < 2^31, sums
    * < 2^53 — exact in both engines), best lag = argmax over
    * L ∈ [2, maxLag] with ties to the SMALLEST lag, reported with its
    * R(best)/R(0) normalization. A strongly periodic signal (voiced
    * speech, tones, loops) peaks at its period; noise stays near 0.
    * Silent or non-WAV payloads report kind `other`.
    *
    * Scale shape: one narrow mapPartitions pass (the contentFeatures
    * codec discipline) — no shuffle, no state.
    *
    * @return `id`, `kind` (wav|other), `best_lag`, `periodicity`
    *         (round 4)
    */
  def wavPeriodicity(
      spark: SparkSession, media: DataFrame, maxLag: Int = 16): DataFrame = {
    import spark.implicits._
    media.select("id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, b) =>
          wavPcm(b) match {
            case Some(s) if s.length > maxLag =>
              var r0 = 0L
              var k = 0
              while (k < s.length) { r0 += s(k).toLong * s(k); k += 1 }
              if (r0 == 0L) (id, "other", 0, 0.0)
              else {
                var bestLag = 0
                var bestR = Long.MinValue
                var l = 2
                while (l <= maxLag) {
                  var r = 0L
                  var j = 0
                  while (j < s.length - l) {
                    r += s(j).toLong * s(j + l); j += 1
                  }
                  if (r > bestR) { bestR = r; bestLag = l }
                  l += 1
                }
                (id, "wav", bestLag, r4(bestR.toDouble / r0.toDouble))
              }
            case _ => (id, "other", 0, 0.0)
          }
        }
      }.toDF("id", "kind", "best_lag", "periodicity")
  }

  /** Pixels of a PNG, GIF or JPEG payload as (kind, channels, pixel
    * bytes row-major): PNG through [[pngPixels]], GIF through
    * [[gifPixels]] (3 channels), JPEG straight from the reader (gray →
    * 1 channel, else its first three bands). None for anything else,
    * for an undecodable payload, and for a 2-band JPEG raster.
    */
  private def imagePixels(b: Array[Byte]): Option[(String, Int, Array[Byte])] =
    if (b.length >= 8 && (b(0) & 0xff) == 0x89 &&
        b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      pngPixels(b).map { case (_, _, ch, px) => ("png", ch, px) }
    else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' &&
        b(2) == 'F' && b(3) == '8')
      gifPixels(b).map { case (_, _, px) => ("gif", 3, px) }
    else if (b.length >= 3 && (b(0) & 0xff) == 0xff &&
        (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff)
      readRaster(b, "jpeg").filter(_.getNumBands != 2).map { ras =>
        val ch = math.min(ras.getNumBands, 3)
        ("jpeg", ch, bandBytes(ras, ch))
      }
    else None

  /** The first image of `b`, decoded by the JDK's `javax.imageio`
    * reader for `format` (png | jpeg) and read through a memory cache
    * (never a temp file). None when the reader throws.
    */
  private def readRaster(b: Array[Byte], format: String): Option[Raster] = {
    val reader = ImageIO.getImageReadersByFormatName(format).next()
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b))
    try {
      reader.setInput(in, true, true)
      Some(reader.read(0).getRaster)
    } catch {
      case NonFatal(_) => None
    } finally {
      reader.dispose()
      in.close()
    }
  }

  /** The first `ch` bands of a raster, interleaved per pixel. */
  private def bandBytes(ras: Raster, ch: Int): Array[Byte] = {
    val nb = ras.getNumBands
    val all = ras.getPixels(0, 0, ras.getWidth, ras.getHeight,
      null: Array[Int])
    val out = new Array[Byte](all.length / nb * ch)
    var i = 0
    while (i < out.length) {
      out(i) = all(i / ch * nb + i % ch).toByte
      i += 1
    }
    out
  }

  /** PNG pixel decode through the JDK reader, behind the checks the
    * reader does not make (RFC 2083): signature and IHDR first, bit
    * depth 8, color type 0 (gray), 2 (RGB) or 6 (RGBA) — palette
    * images are out — and no interlace (Adam7 → None); then a chunk
    * walk from offset 8 ([len be4][type][data][crc be4]) that verifies
    * every chunk's CRC-32 (type bytes + data, §3.4) and requires IEND.
    * Returns (width, height, channels, pixel bytes row-major) or None
    * for anything malformed — CRC mismatch, truncation, a zlib stream
    * or filter byte the reader rejects — so the caller falls back to
    * the stub instead of fabricating pixels.
    */
  private[graft] def pngPixels(
      b: Array[Byte]): Option[(Int, Int, Int, Array[Byte])] = {
    if (b.length < 33 || (b(0) & 0xff) != 0x89 || b(1) != 'P' ||
        b(2) != 'N' || b(3) != 'G') return None
    if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'))
      return None
    val channels = b(25) & 0xff match {
      case 0 => 1
      case 2 => 3
      case 6 => 4
      case _ => return None
    }
    if (be4(b, 16).toInt <= 0 || be4(b, 20).toInt <= 0 ||
        (b(24) & 0xff) != 8 || (b(28) & 0xff) != 0) return None
    var i = 8
    var sawEnd = false
    while (!sawEnd && i + 12 <= b.length) {
      val len = be4(b, i).toInt
      if (len < 0 || i + 12 + len > b.length) return None
      val crc = new java.util.zip.CRC32()
      crc.update(b, i + 4, 4 + len)
      if (crc.getValue != be4(b, i + 8 + len)) return None
      sawEnd = new String(b, i + 4, 4, "ISO-8859-1") == "IEND"
      i += 12 + len
    }
    if (!sawEnd) return None // IEND is mandatory
    readRaster(b, "png").map(ras =>
      (ras.getWidth, ras.getHeight, channels, bandBytes(ras, channels)))
  }

  /** GIF pixel decode — REAL, pure-Scala LZW (the GIF89a spec's
    * variable-width LZW, appendix F): logical-screen walk, global /
    * local color table, extension-block skip, first image descriptor's
    * sub-blocks concatenated and LZW-decoded (code width grows at
    * table sizes 2^n, Clear resets to the initial width, 12-bit max),
    * palette-mapped to RGB triples. Interlaced images and index
    * overruns → None (stub fallback), never fabricated pixels.
    */
  private[graft] def gifPixels(
      b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (b.length < 14 || b(0) != 'G' || b(1) != 'I' || b(2) != 'F' ||
        b(3) != '8' || (b(4) != '7' && b(4) != '9') || b(5) != 'a')
      return None
    val packed = b(10) & 0xff
    val hasGct = (packed & 0x80) != 0
    val gctLen = if (hasGct) 3 * (1 << ((packed & 7) + 1)) else 0
    var i = 13 + gctLen
    if (i > b.length) return None
    val gct = if (hasGct) b.slice(13, 13 + gctLen) else Array.empty[Byte]
    while (i < b.length) {
      (b(i) & 0xff) match {
        case 0x3b => return None // trailer before any image
        case 0x21 => // extension: label + sub-blocks
          i += 2
          while (i < b.length && (b(i) & 0xff) != 0) i += 1 + (b(i) & 0xff)
          i += 1
        case 0x2c => // image descriptor
          if (i + 10 > b.length) return None
          val iw = le2(b, i + 5)
          val ih = le2(b, i + 7)
          val ipk = b(i + 9) & 0xff
          if ((ipk & 0x40) != 0) return None // interlaced
          val lctLen = if ((ipk & 0x80) != 0) 3 * (1 << ((ipk & 7) + 1)) else 0
          val ct = if (lctLen > 0) b.slice(i + 10, i + 10 + lctLen) else gct
          if (ct.isEmpty || iw <= 0 || ih <= 0) return None
          i += 10 + lctLen
          if (i >= b.length) return None
          val minCode = b(i) & 0xff
          i += 1
          // concatenate the LZW sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          while (i < b.length && (b(i) & 0xff) != 0) {
            val n = b(i) & 0xff
            if (i + 1 + n > b.length) return None
            data.write(b, i + 1, n)
            i += 1 + n
          }
          val idx = lzwDecode(data.toByteArray, minCode, iw * ih)
            .getOrElse(return None)
          val nColors = ct.length / 3
          val rgb = new Array[Byte](iw * ih * 3)
          var p = 0
          while (p < iw * ih) {
            val ci = idx(p) & 0xff
            if (ci >= nColors) return None
            rgb(3 * p) = ct(3 * ci)
            rgb(3 * p + 1) = ct(3 * ci + 1)
            rgb(3 * p + 2) = ct(3 * ci + 2)
            p += 1
          }
          return Some((iw, ih, rgb))
        case _ => return None
      }
    }
    None
  }

  /** GIF-flavor LZW decode (appendix F): initial width minCode+1,
    * Clear = 2^minCode, EOI = Clear+1, dictionary entries stored as
    * (prefix code, appended byte) pairs, width +1 at sizes 2^n up to
    * the 12-bit cap, KwKwK first-byte rule. Returns exactly `nPixels`
    * indices or None.
    */
  private def lzwDecode(
      data: Array[Byte], minCode: Int, nPixels: Int): Option[Array[Byte]] = {
    if (minCode < 2 || minCode > 11) return None
    val clear = 1 << minCode
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val append = new Array[Byte](4096)
    var tableSize = eoi + 1
    var width = minCode + 1
    val out = new Array[Byte](nPixels)
    var outN = 0
    var bitPos = 0
    var prev = -1
    def emit(code: Int): Boolean = { // expand one code, false on overflow
      var stack = List.empty[Byte]
      var c = code
      while (c >= clear) { stack = append(c) :: stack; c = prefix(c) }
      stack = c.toByte :: stack
      if (outN + stack.length > nPixels) return false
      stack.foreach { v => out(outN) = v; outN += 1 }
      true
    }
    def firstByte(code: Int): Byte = {
      var c = code
      while (c >= clear) c = prefix(c)
      c.toByte
    }
    while (outN < nPixels) {
      if (bitPos + width > data.length * 8) return None
      var code = 0
      var k = 0
      while (k < width) { // LSB-first bit packing
        val bit = (data((bitPos + k) / 8) >> ((bitPos + k) % 8)) & 1
        code |= bit << k
        k += 1
      }
      bitPos += width
      if (code == clear) {
        tableSize = eoi + 1
        width = minCode + 1
        prev = -1
      } else if (code == eoi) {
        return if (outN == nPixels) Some(out) else None
      } else if (prev == -1) {
        if (code >= clear) return None // first code must be a literal
        if (!emit(code)) return None
        prev = code
      } else {
        if (code > tableSize || (code == tableSize && tableSize >= 4096))
          return None
        val newEntry = code == tableSize // KwKwK
        if (tableSize < 4096) {
          prefix(tableSize) = prev
          append(tableSize) =
            if (newEntry) firstByte(prev) else firstByte(code)
          tableSize += 1
          if (tableSize == (1 << width) && width < 12) width += 1
        }
        if (!emit(code)) return None
        prev = code
      }
    }
    Some(out)
  }

  /** Half-up rounding to 4 decimals; a negative zero comes out 0.0. */
  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  /** The [[extractFeatures]] stride-moment stub, first three lanes. */
  private def stubFeatureRow(
      id: Long, b: Array[Byte]): (Long, String, Double, Double, Double) = {
    def lane(i: Int): Double =
      if (b.isEmpty) 0.0
      else {
        var s = 0.0
        var j = i
        while (j < b.length) { s += (b(j) & 0xff); j += 3 }
        r4(s / b.length)
      }
    (id, "other", lane(0), lane(1), lane(2))
  }

  /** Frame sampling plan for video-typed rows: every `everyMs`
    * milliseconds up to the (stub-decoded) duration — the row explosion
    * is expressed relationally (explode of a sequence), so Catalyst
    * sees it and the decode stub runs once per asset, not per frame.
    */
  def sampleFrames(meta: Dataset[MediaMeta], everyMs: Long): DataFrame =
    meta.toDF()
      .filter(col("mediaType") === "video")
      .withColumn("frame_ts_ms",
        explode(sequence(lit(0L), col("durationMs"), lit(everyMs))))
      .select(col("id"), col("frame_ts_ms"))

  // --------------------------------------------------------------
  // EXIF GPS: the multimodal face of the PII/governance tier. Photos
  // crawled into a training corpus routinely carry precise device
  // coordinates in their Exif APP1 segment; a release pipeline must
  // FIND them (audit) and STRIP them (scrub), at corpus scale,
  // without shipping bytes to the driver. Same mapPartitions shape
  // as decodeMeta: real byte walks, no codec dependency.
  //
  // Format walked (Exif 2.x over TIFF 6.0): JPEG segment stream →
  // APP1 with the "Exif\0\0" preamble → TIFF header (II/MM byte
  // order, magic 42, IFD0 offset) → IFD0 entries → GPS IFD pointer
  // (tag 0x8825, LONG) → GPS IFD → GPSLatitude (0x0002) /
  // GPSLongitude (0x0004), each three RATIONALs (deg, min, sec).
  // --------------------------------------------------------------

  final case class ExifGps(
      id: Long, nBytes: Long, hasExif: Boolean, hasGps: Boolean,
      latArcMs: Long, lonArcMs: Long,
      strippedBytes: Long, gpsAfterStrip: Boolean)

  /** (latArcMs, lonArcMs) from the first APP1 Exif segment, or None.
    * Arc-milliseconds = deg·3 600 000 + min·60 000 + sec·1000, kept in
    * exact integer math (each rational is divided AFTER scaling, so
    * the deg/1, min/1, sec/1000 layout every camera writes stays
    * lossless).
    */
  def exifGpsArcMs(bytes: Array[Byte]): Option[(Long, Long)] =
    app1Range(bytes).flatMap { case (segStart, segLen) =>
      val t = segStart + 4 + 6 // past marker+len+"Exif\0\0": TIFF start
      if (t + 8 > segStart + 2 + segLen) None
      else {
        // TIFF byte order: "II" little-endian, "MM" big-endian
        val le = bytes(t) == 'I' && bytes(t + 1) == 'I'
        val u16: Int => Int = if (le) le2(bytes, _) else be2(bytes, _)
        val u32: Int => Long = if (le) le4(bytes, _) else be4(bytes, _)
        val ifd0 = t + u32(t + 4).toInt
        val n0 = u16(ifd0)
        val gpsOff = (0 until n0).iterator.map(i => ifd0 + 2 + i * 12)
          .find(e => u16(e) == 0x8825)
          .map(e => t + u32(e + 8).toInt)
        gpsOff.flatMap { g =>
          val ng = u16(g)
          def rational3(valOff: Int): Long = {
            def r(k: Int): (Long, Long) =
              (u32(valOff + k * 8), u32(valOff + k * 8 + 4))
            val (dn, dd) = r(0); val (mn, md) = r(1); val (sn, sd) = r(2)
            dn * 3600000L / math.max(dd, 1L) +
              mn * 60000L / math.max(md, 1L) +
              sn * 1000L / math.max(sd, 1L)
          }
          def tagVal(tag: Int): Option[Long] =
            (0 until ng).iterator.map(i => g + 2 + i * 12)
              .find(e => u16(e) == tag)
              .map(e => rational3(t + u32(e + 8).toInt))
          for (la <- tagVal(0x0002); lo <- tagVal(0x0004))
            yield (la, lo)
        }
      }
    }

  /** Byte range (start, payloadLen) of the first APP1 Exif segment. */
  private def app1Range(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff ||
        (bytes(1) & 0xff) != 0xd8) return None
    var off = 2
    while (off + 4 <= bytes.length && (bytes(off) & 0xff) == 0xff) {
      val marker = bytes(off + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) return None // EOI / SOS
      val len = be2(bytes, off + 2)
      if (marker == 0xe1 && off + 2 + len <= bytes.length &&
          len >= 8 && bytes(off + 4) == 'E' && bytes(off + 5) == 'x' &&
          bytes(off + 6) == 'i' && bytes(off + 7) == 'f')
        return Some((off, len))
      off += 2 + len
    }
    None
  }

  /** The scrub: the JPEG minus every APP1 segment (Exif, XMP — the
    * whole metadata class, the conservative release posture). Segment
    * stream is walked up to SOS; from SOS on, entropy-coded data is
    * copied verbatim. Non-JPEG bytes pass through untouched.
    */
  def stripApp1(bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 4 || (bytes(0) & 0xff) != 0xff ||
        (bytes(1) & 0xff) != 0xd8) return bytes
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    out.write(bytes, 0, 2)
    var off = 2
    var copying = false
    while (off < bytes.length) {
      if (copying) { out.write(bytes, off, bytes.length - off); off = bytes.length }
      else if (off + 2 <= bytes.length && (bytes(off) & 0xff) == 0xff &&
          (bytes(off + 1) & 0xff) == 0xd9) {
        out.write(bytes, off, 2); off += 2 // EOI
      } else if (off + 4 <= bytes.length && (bytes(off) & 0xff) == 0xff) {
        val marker = bytes(off + 1) & 0xff
        val len = be2(bytes, off + 2)
        if (marker == 0xda) { copying = true } // SOS: rest is verbatim
        else {
          if (marker != 0xe1) out.write(bytes, off, 2 + len)
          off += 2 + len
        }
      } else { out.write(bytes, off, bytes.length - off); off = bytes.length }
    }
    out.toByteArray
  }

  /** Deterministic Exif fixture: a structurally valid JPEG segment
    * stream (SOI, optional APP1 Exif+GPS, COM carrying the text
    * payload, EOI). GPS present iff `id % 3 == 0`, with
    * lat = (id%90, id%60, (id·7)%60000) and
    * lon = (id%180, (id·3)%60, (id·11)%60000) as (deg, min, sec_ms) —
    * the arithmetic an oracle replays without parsing a byte.
    */
  def syntheticExifJpeg(id: Long, payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8)
    if (id % 3 == 0) {
      val tiff = new java.io.ByteArrayOutputStream()
      def w16(v: Int): Unit = { tiff.write(v & 0xff); tiff.write((v >> 8) & 0xff) }
      def w32(v: Long): Unit = (0 until 4).foreach(i => tiff.write(((v >> (8 * i)) & 0xff).toInt))
      // TIFF header: II, 42, IFD0 at 8
      tiff.write('I'); tiff.write('I'); w16(42); w32(8L)
      // IFD0: 1 entry (GPS pointer), next-IFD = 0. GPS IFD at 8+2+12+4=26.
      w16(1); w16(0x8825); w16(4); w32(1L); w32(26L); w32(0L)
      // GPS IFD: 2 entries, next = 0. Rationals at 26+2+24+4=56 and 80.
      w16(2)
      w16(0x0002); w16(5); w32(3L); w32(56L)
      w16(0x0004); w16(5); w32(3L); w32(80L)
      w32(0L)
      def rat(n: Long, d: Long): Unit = { w32(n); w32(d) }
      rat(id % 90, 1L); rat(id % 60, 1L); rat((id * 7) % 60000, 1000L)
      rat(id % 180, 1L); rat((id * 3) % 60, 1L); rat((id * 11) % 60000, 1000L)
      val t = tiff.toByteArray
      val seg = 2 + 6 + t.length // len field + "Exif\0\0" + tiff
      out.write(0xff); out.write(0xe1)
      out.write((seg >> 8) & 0xff); out.write(seg & 0xff)
      out.write('E'); out.write('x'); out.write('i'); out.write('f')
      out.write(0); out.write(0)
      out.write(t, 0, t.length)
    }
    val com = payload.take(200)
    val comLen = 2 + com.length
    out.write(0xff); out.write(0xfe)
    out.write((comLen >> 8) & 0xff); out.write(comLen & 0xff)
    out.write(com, 0, com.length)
    out.write(0xff); out.write(0xd9)
    out.toByteArray
  }

  /** The audit+scrub pass over a text-seeded fixture corpus: build
    * the Exif JPEG per row, parse its GPS, strip APP1, re-parse the
    * stripped bytes (the closed-loop proof rows q365 set the pattern
    * for). One mapPartitions, no driver traffic.
    */
  def exifScan(spark: SparkSession, df: DataFrame, idCol: String,
      textCol: String): Dataset[ExifGps] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val jpeg = syntheticExifJpeg(id,
            Option(text).getOrElse("").getBytes("UTF-8"))
          val gps = exifGpsArcMs(jpeg)
          val stripped = stripApp1(jpeg)
          ExifGps(id, jpeg.length.toLong,
            hasExif = app1Range(jpeg).nonEmpty,
            hasGps = gps.nonEmpty,
            latArcMs = gps.map(_._1).getOrElse(-1L),
            lonArcMs = gps.map(_._2).getOrElse(-1L),
            strippedBytes = stripped.length.toLong,
            gpsAfterStrip = exifGpsArcMs(stripped).nonEmpty)
        }
      }
  }
}
