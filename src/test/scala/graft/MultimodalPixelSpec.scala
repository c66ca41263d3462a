package graft

import graft.ops.Multimodal
import graft.queries.MediaFixtures

/** Pixel-exact round-trips for the real PNG / GIF decode paths.
  * Encoder ([[MediaFixtures]]) and decoder ([[Multimodal]]) share no
  * code; every assertion compares decoded bytes against the closed
  * pixel formula, not against the encoder's output.
  */
class MultimodalPixelSpec extends SparkSpec {

  private def pngFormula(id: Long, w: Int, h: Int): Array[Byte] = {
    val px = new Array[Byte](w * h * 3)
    for (y <- 0 until h; x <- 0 until w; c <- 0 until 3)
      px((y * w + x) * 3 + c) =
        ((id * (c + 3) + 3L * x + 7L * y) % 256).toByte
    px
  }

  test("pngPixels inverts all five filters, any geometry") {
    // heights > 4 cycle through every filter type; w=1 exercises the
    // no-left-neighbor edge of Sub/Average/Paeth, h=1 the no-up edge
    for ((id, w, h) <- Seq((0L, 8, 6), (3L, 1, 7), (7L, 5, 1),
        (11L, 13, 9), (255L, 2, 2))) {
      val Some((gw, gh, ch, px)) =
        Multimodal.pngPixels(MediaFixtures.pngBytes(id, w, h))
      assert((gw, gh, ch) === ((w, h, 3)))
      assert(px === pngFormula(id, w, h))
    }
  }

  test("pngPixels handles gray and RGBA layouts") {
    val gray = Array.tabulate(6 * 4)(i => ((i * 37 + 5) % 256).toByte)
    val Some((_, _, c1, p1)) = Multimodal.pngPixels(
      MediaFixtures.pngFromPixels(6, 4, 1, gray, y => y % 5))
    assert(c1 === 1)
    assert(p1 === gray)
    val rgba = Array.tabulate(3 * 5 * 4)(i => ((i * 53 + 9) % 256).toByte)
    val Some((_, _, c2, p2)) = Multimodal.pngPixels(
      MediaFixtures.pngFromPixels(3, 5, 4, rgba, y => (y + 2) % 5))
    assert(c2 === 4)
    assert(p2 === rgba)
  }

  test("pngPixels rejects corruption instead of fabricating pixels") {
    val good = MediaFixtures.pngBytes(5L, 8, 6)
    assert(Multimodal.pngPixels(good).isDefined)
    // flip one IDAT payload byte: CRC check must fail. Layout is
    // fixed: 8-byte signature + 25-byte IHDR chunk, so the IDAT
    // chunk's payload starts at 8 + 25 + 8 = 41.
    assert(new String(good, 37, 4, "ISO-8859-1") === "IDAT")
    val flipped = good.clone()
    flipped(42) = (flipped(42) ^ 0x40).toByte
    assert(Multimodal.pngPixels(flipped).isEmpty)
    // truncation mid-chunk
    assert(Multimodal.pngPixels(good.take(good.length - 9)).isEmpty)
    // interlaced flag: honest None, not a garbled image
    val inter = good.clone()
    inter(28) = 1
    assert(Multimodal.pngPixels(inter).isEmpty)
  }

  /** The JDK's own PNG writer, progressive (Adam7) when asked. */
  private def jdkPng(img: java.awt.image.BufferedImage,
      interlaced: Boolean): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val param = writer.getDefaultWriteParam
    if (interlaced)
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    ios.close()
    writer.dispose()
    out.toByteArray
  }

  /** True when the bare JDK reader decodes the payload. */
  private def jdkDecodes(bytes: Array[Byte]): Boolean =
    javax.imageio.ImageIO.read(new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))) != null

  private def kindOf(bytes: Array[Byte]): String = {
    import spark.implicits._
    Multimodal.contentFeatures(spark,
        Seq((1L, bytes, "image")).toDF("id", "bytes", "media_type"))
      .collect()(0).getString(1)
  }

  // Each payload below is one the JDK reader decodes on its own; the
  // contract still rejects it, so the explicit checks must.
  test("a PNG with one CRC byte flipped is rejected though its zlib is intact") {
    val good = MediaFixtures.pngBytes(5L, 8, 6)
    val idatLen = ((good(33) & 0xff) << 24) | ((good(34) & 0xff) << 16) |
      ((good(35) & 0xff) << 8) | (good(36) & 0xff)
    val bad = good.clone()
    val crcAt = 41 + idatLen // IDAT payload starts at 41, CRC follows
    bad(crcAt) = (bad(crcAt) ^ 0x01).toByte
    assert(jdkDecodes(bad))
    assert(Multimodal.pngPixels(bad).isEmpty)
    assert(kindOf(bad) === "other")
    assert(kindOf(good) === "png")
  }

  test("a genuinely interlaced (Adam7) PNG is rejected") {
    val img = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, 0x102030 * (x + y))
    val adam7 = jdkPng(img, interlaced = true)
    assert(adam7(28) === 1) // IHDR interlace method: Adam7
    assert(jdkDecodes(adam7))
    assert(Multimodal.pngPixels(adam7).isEmpty)
    assert(kindOf(adam7) === "other")
    assert(Multimodal.pngPixels(jdkPng(img, interlaced = false)).isDefined)
  }

  test("a palette (color type 3) PNG is rejected") {
    val img = new java.awt.image.BufferedImage(8, 6,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, 0x330000 * (x % 4))
    val palette = jdkPng(img, interlaced = false)
    assert(palette(25) === 3) // IHDR color type: indexed
    assert(jdkDecodes(palette))
    assert(Multimodal.pngPixels(palette).isEmpty)
    assert(kindOf(palette) === "other")
  }

  /** A GIF89a with a 4-color table and LZW minimum code size 2
    * (Clear = 4, EOI = 5) whose image data is `codes`, each packed
    * LSB-first at its given bit width.
    */
  private def gifOfCodes(w: Int, h: Int, codes: Seq[(Int, Int)]): Array[Byte] = {
    var acc = BigInt(0)
    var nBits = 0
    for ((c, width) <- codes) { acc |= BigInt(c) << nBits; nBits += width }
    val data = Array.tabulate((nBits + 7) / 8)(k => (acc >> (8 * k)).toByte)
    "GIF89a".getBytes("ISO-8859-1") ++
      Array[Byte](w.toByte, 0, h.toByte, 0, 0x81.toByte, 0, 0) ++
      MediaFixtures.gifPalette(4) ++
      Array[Byte](0x2c, 0, 0, 0, 0, w.toByte, 0, h.toByte, 0, 0,
        2, data.length.toByte) ++
      data ++ Array[Byte](0, 0x3b)
  }

  // The two GIFs below are single-row images, which the JDK reader
  // decodes without complaint: it drops any pixels past the last row.
  test("a GIF whose LZW data runs past the last pixel is rejected") {
    // index 0 throughout: the codes expand to 1 + 2 + 3 pixels, and the
    // code width grows to 4 bits once the table holds 8 entries
    val codes = Seq(4 -> 3, 0 -> 3, 6 -> 3, 7 -> 3, 5 -> 4)
    val Some((_, _, rgb)) = Multimodal.gifPixels(gifOfCodes(6, 1, codes))
    assert(rgb.toSeq === Seq.fill(18)(0.toByte))
    val over = gifOfCodes(4, 1, codes) // 6 pixels for a 4x1 image
    assert(jdkDecodes(over))
    assert(Multimodal.gifPixels(over).isEmpty)
    assert(kindOf(over) === "other")
  }

  test("a GIF with a Clear followed by a non-literal code is rejected") {
    // 0, 1, then code 6 = "0 1" from the table: pixels 0 1 0 1
    val ok = gifOfCodes(4, 1, Seq(4 -> 3, 0 -> 3, 1 -> 3, 6 -> 3, 5 -> 4))
    val Some((_, _, rgb)) = Multimodal.gifPixels(ok)
    assert(rgb.grouped(3).map(_.head).toSeq === Seq(0, 3, 0, 3).map(_.toByte))
    // a Clear before the 6, which then names an entry the reset table
    // no longer holds; a final 0 fills the row
    val bad = gifOfCodes(4, 1,
      Seq(4 -> 3, 0 -> 3, 1 -> 3, 4 -> 3, 6 -> 3, 0 -> 3, 5 -> 3))
    assert(jdkDecodes(bad))
    assert(Multimodal.gifPixels(bad).isEmpty)
    assert(kindOf(bad) === "other")
  }

  test("gifPixels round-trips the formula image") {
    for ((id, w, h) <- Seq((0L, 7, 5), (1L, 1, 1), (9L, 16, 11))) {
      val Some((gw, gh, rgb)) =
        Multimodal.gifPixels(MediaFixtures.gifBytes(id, w, h))
      assert((gw, gh) === ((w, h)))
      for (p <- 0 until w * h) {
        val j = ((id + 5L * (p % w) + 11L * (p / w)) % 64).toInt
        assert(rgb(3 * p) === (3 * j % 256).toByte, s"r at $p")
        assert(rgb(3 * p + 1) === (5 * j % 256).toByte, s"g at $p")
        assert(rgb(3 * p + 2) === (7 * j % 256).toByte, s"b at $p")
      }
    }
  }

  test("gifPixels survives code-width growth and KwKwK runs") {
    // 64x40 formula image: 2560 pixels push the dictionary past 512
    // entries (width 7 -> 8 -> 9 -> 10)
    val big = MediaFixtures.gifBytes(21L, 64, 40)
    val Some((_, _, rgb)) = Multimodal.gifPixels(big)
    assert(rgb.length === 64 * 40 * 3)
    val jLast = ((21L + 5L * 63 + 11L * 39) % 64).toInt
    assert(rgb.last === (7 * jLast % 256).toByte)
    // constant-color image is wall-to-wall KwKwK codes
    val flat = MediaFixtures.gifFromIndices(10, 10,
      Array.fill(100)(17), MediaFixtures.gifPalette(64))
    val Some((_, _, frgb)) = Multimodal.gifPixels(flat)
    assert(frgb.toSeq === Seq.fill(100)(
      Seq((3 * 17).toByte, (5 * 17).toByte, (7 * 17 % 256).toByte))
      .flatten)
  }

  test("gifPixels rejects malformed streams") {
    val good = MediaFixtures.gifBytes(4L, 7, 5)
    assert(Multimodal.gifPixels(good).isDefined)
    // truncated LZW data
    assert(Multimodal.gifPixels(good.take(good.length - 6)).isEmpty)
    // no color table at all
    val bare = "GIF89a".getBytes("ISO-8859-1") ++
      Array[Byte](2, 0, 2, 0, 0, 0, 0, 0x2c, 0, 0, 0, 0, 2, 0, 2, 0, 0,
        2, 1, 0x04, 0, 0x3b)
    assert(Multimodal.gifPixels(bare).isEmpty)
  }

  test("contentFeatures routes png/gif to real means, junk to the stub") {
    import spark.implicits._
    val media = Seq(
      (1L, MediaFixtures.pngBytes(10L, 8, 6), "image"),
      (2L, MediaFixtures.gifBytes(11L, 7, 5), "image"),
      (3L, "not an image at all".getBytes("UTF-8"), "image"))
      .toDF("id", "bytes", "media_type")
    val got = Multimodal.contentFeatures(spark, media)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "png", 2L -> "gif", 3L -> "other"))
    // png mean_r for id=10: mean over 8x6 of (30 + 3x + 7y) % 256
    val f1 = Multimodal.contentFeatures(spark, media)
      .filter($"id" === 1L).collect()(0).getDouble(2)
    val want = (for (y <- 0 until 6; x <- 0 until 8)
      yield (30 + 3 * x + 7 * y) % 256).sum / 48.0
    assert(math.abs(f1 - want) < 1e-9)
  }

  test("contentFeatures decodes baseline JPEG exactly on DC-only fixtures") {
    import spark.implicits._
    val media = (0L until 20L).map(id =>
      (id, MediaFixtures.jpegBytes(id, 16, 16), "image"))
      .toDF("id", "bytes", "media_type")
    val got = Multimodal.contentFeatures(spark, media)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    got.foreach { case (id, kind, a, b, c) =>
      // constant-per-block formula: mean over the 4 blocks of
      // (id*7 + 13bx + 29by) mod 256 — the lossy codec must round-trip
      // DC-only blocks bit-exactly (gray fills all three lanes)
      val want = (for (by <- 0 to 1; bx <- 0 to 1)
        yield (id * 7 + 13 * bx + 29 * by) % 256).sum / 4.0
      assert(kind == "jpeg" && a == b && b == c &&
        math.abs(a - want) < 1e-9, s"id=$id got=$a want=$want")
    }
    // truncated JPEG bytes must fall to the stub, not throw
    val broken = Seq((99L,
      MediaFixtures.jpegBytes(1L, 16, 16).take(40), "image"))
      .toDF("id", "bytes", "media_type")
    assert(Multimodal.contentFeatures(spark, broken)
      .collect()(0).getString(1) == "other")
  }
}
