package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.multimodal.Multimodal
import graft.multimodal.Multimodal._
import graft.operators.Similarity

class MultimodalSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic synthetic corpus: payload derived from the id. */
  private def corpus(n: Int) = spark.range(n).as[Long].map { i =>
    val payload = Array.tabulate(256)(j => ((i * 31 + j * 7) % 251).toByte)
    MediaRecord(i, Codec.encode(64 + i.toInt, 48, 3, payload))
  }

  test("decodeMeta extracts typed metadata distributed; bad payloads drop") {
    val good = corpus(8)
    val bad = Seq(MediaRecord(99L, Array[Byte](1, 2, 3))).toDS()
    val out = decodeMeta(good.union(bad)).collect()
    assert(out.length == 8)
    val m = out.find(_.media_id == 3L).get.meta
    assert(m == MediaMeta(67, 48, 3, 256 + 13, "grft"))
  }

  test("feature extraction feeds similarity search end-to-end") {
    val feats = extractFeatures(corpus(20))
      .withColumnRenamed("media_id", "vec_id")
      .withColumnRenamed("features", "embedding")
    val top = Similarity.bruteForceTopK(feats, feats.filter($"vec_id" === 0),
      "vec_id", "embedding", 3).collect()
    assert(top.length == 3)
    assert(top.forall(_.getAs[Double]("cos") > 0.5)) // histograms are similar-ish
  }

  test("frame sampling emits every stride-th fixed-size frame") {
    val frames = sampleFrames(corpus(2), frameBytes = 64, stride = 2).collect()
    // 256-byte payload → 4 frames of 64 → keep idx 0, 2 → 2 frames per media
    assert(frames.length == 4)
    assert(frames.forall(_.frame.length == 64))
    assert(frames.map(_.frame_idx).toSet == Set(0, 2))
  }

  test("stub resize halves dimensions and payload") {
    val out = resizeAll(corpus(1), 2).collect().head
    val m = Codec.decodeMeta(out.content).get
    assert(m.width == 32 && m.height == 24)
    assert(Codec.payload(out.content).length == 128)
  }

  // ---- real formats: hand-authored fixtures, decoded by the real
  // pure-JVM BMP/PNM codecs (not round-tripped through our encoder) ----

  /** 2x2 24-bit BMP authored from the format spec: BITMAPFILEHEADER +
    * BITMAPINFOHEADER, bottom-up rows padded to 4 bytes, BGR samples.
    * Top-down RGB pixels: (255,0,0) (0,255,0) / (0,0,255) (255,255,255). */
  private def bmpFixture: Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(70).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(70).putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24)
      .putInt(0).putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    // bottom row first (bottom-up): (0,0,255)->BGR(255,0,0), (255,255,255)
    bb.put(Array[Byte](-1, 0, 0, -1, -1, -1, 0, 0))
    // top row: (255,0,0)->BGR(0,0,255), (0,255,0)->BGR(0,-1,0)
    bb.put(Array[Byte](0, 0, -1, 0, -1, 0, 0, 0))
    bb.array()
  }

  /** 2x2 binary PPM (P6) with a header comment; raster is top-down RGB. */
  private def ppmFixture: Array[Byte] =
    "P6\n# fixture\n2 2\n255\n".getBytes ++
      Array[Byte](-1, 0, 0, 0, -1, 0, 0, 0, -1, -1, -1, -1)

  private val expectedRgb = Array[Byte](
    -1, 0, 0, 0, -1, 0, // (255,0,0) (0,255,0)
    0, 0, -1, -1, -1, -1) // (0,0,255) (255,255,255)

  test("real BMP decode: header meta and unpadded top-down RGB pixels") {
    val m = Codec.decodeMeta(bmpFixture).get
    assert(m == MediaMeta(2, 2, 3, 70, "bmp"))
    assert(Codec.payload(bmpFixture).sameElements(expectedRgb))
  }

  test("real PPM decode: comment-tolerant header, raster verbatim") {
    val m = Codec.decodeMeta(ppmFixture).get
    assert(m.width == 2 && m.height == 2 && m.channels == 3 && m.format == "ppm")
    assert(Codec.payload(ppmFixture).sameElements(expectedRgb))
  }

  test("real resize: nearest-neighbor downscale re-encodes in-format") {
    for (fixture <- Seq(bmpFixture, ppmFixture)) {
      val out = Codec.resize(fixture, 2).get
      val m = Codec.decodeMeta(out).get
      assert(m.width == 1 && m.height == 1)
      assert(m.format == Codec.decodeMeta(fixture).get.format)
      // the surviving pixel is the top-left sample
      assert(Codec.payload(out).sameElements(Array[Byte](-1, 0, 0)))
    }
  }

  /** 2x2 RGB PNG authored from the spec with its OWN chunk writer
    * (not our encoder): row 0 uses the Sub filter, row 1 uses Up —
    * exercising the unfiltering paths a filter-0-only writer never
    * produces. Same expected pixels as the other fixtures. */
  private def pngFixture: Array[Byte] = {
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
      java.nio.ByteBuffer.allocate(12 + data.length)
        .putInt(data.length).put(t).put(data).putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(2).putInt(2).put(8.toByte).put(2.toByte) // 8-bit RGB
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    // filtered scanlines: Sub(1): [255,0,0] then deltas [1,255,0];
    // Up(2): deltas vs row 0: [1,0,255], [255,0,255]
    val raw = Array[Byte](1, -1, 0, 0, 1, -1, 0,
      2, 1, 0, -1, -1, 0, -1)
    val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
    val buf = new Array[Byte](64); val z = new java.io.ByteArrayOutputStream()
    while (!d.finished()) z.write(buf, 0, d.deflate(buf))
    d.end()
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      chunk("IHDR", ihdr) ++ chunk("IDAT", z.toByteArray) ++
      chunk("IEND", Array.empty)
  }

  test("real PNG decode: IHDR meta, inflate, Sub/Up unfiltering") {
    val m = Codec.decodeMeta(pngFixture).get
    assert(m.width == 2 && m.height == 2 && m.channels == 3 && m.format == "png")
    assert(Codec.payload(pngFixture).sameElements(expectedRgb))
  }

  test("PNG encode/decode round-trips RGB, RGBA and gray") {
    for (ch <- Seq(1, 3, 4)) {
      val px = Array.tabulate(5 * 4 * ch)(i => ((i * 37 + 11) % 256).toByte)
      val png = Multimodal.Png.encode(5, 4, ch, px)
      val m = Codec.decodeMeta(png).get
      assert(m.width == 5 && m.height == 4 && m.channels == ch && m.format == "png")
      assert(Codec.payload(png).sameElements(px))
    }
  }

  test("PNG resize: nearest-neighbor, re-encoded as PNG") {
    val out = Codec.resize(pngFixture, 2).get
    val m = Codec.decodeMeta(out).get
    assert(m.width == 1 && m.height == 1 && m.format == "png")
    assert(Codec.payload(out).sameElements(Array[Byte](-1, 0, 0)))
  }

  test("PNG palette/interlaced variants report meta but refuse pixel decode") {
    // flip the IHDR color type to 3 (palette) and re-CRC — meta should
    // still parse (channels=1 per spec) while pixels return None
    val palette = pngFixture.clone()
    palette(8 + 8 + 9) = 3.toByte // IHDR data byte 9 = color type
    val crc = new java.util.zip.CRC32()
    crc.update(palette, 12, 4 + 13)
    val bb = java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
    System.arraycopy(bb, 0, palette, 8 + 8 + 13, 4)
    val m = Codec.decodeMeta(palette).get
    assert(m.format == "png" && m.channels == 1)
    assert(Codec.payload(palette).isEmpty)
    // a bitten-off IDAT stream refuses cleanly rather than throwing
    // (IEND is 12 bytes; cutting 30 reaches into the deflate data)
    val truncated = pngFixture.take(pngFixture.length - 30)
    assert(Multimodal.Png.pixels(truncated).isEmpty)
  }

  // minimal JFIF: SOI, APP0, SOF0 (8-bit, 7x5, 3 components)
  private def jpegFixture(sofMarker: Int = 0xc0): Array[Byte] = {
    val app0 = Array[Int](0xff, 0xe0, 0x00, 0x10) ++
      "JFIF".getBytes("US-ASCII").map(_.toInt) ++
      Array[Int](0, 1, 1, 0, 0, 1, 0, 1, 0, 0)
    val sof = Array[Int](0xff, sofMarker, 0x00, 0x11, // len 17 = 8 + 3*3
      8, 0, 7, 0, 5, 3, // precision, height 7, width 5, 3 components
      1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    (Array[Int](0xff, 0xd8) ++ app0 ++ sof ++ Array[Int](0xff, 0xd9))
      .map(_.toByte)
  }

  test("JPEG metadata decodes via the SOF marker walk; skeleton refuses pixels") {
    val m = Codec.decodeMeta(jpegFixture()).get
    assert(m == Multimodal.MediaMeta(5, 7, 3, jpegFixture().length.toLong, "jpeg"))
    // progressive (SOF2) and arithmetic (SOF9) frames parse identically
    assert(Codec.decodeMeta(jpegFixture(0xc2)).get.width == 5)
    assert(Codec.decodeMeta(jpegFixture(0xc9)).get.height == 7)
    // fill bytes (0xFF padding) before a marker are legal and skipped
    val fix = jpegFixture()
    val padded = fix.take(2) ++ Array(0xff.toByte, 0xff.toByte) ++ fix.drop(3)
    assert(Codec.decodeMeta(padded).get.width == 5)
    // structural damage refuses: truncated mid-SOF, DHT-only (no SOF),
    // and a stray non-marker byte where a marker must start
    assert(Codec.decodeMeta(fix.take(fix.length - 8)).isEmpty)
    val noSof = fix.take(2 + 18) ++ Array(0xff.toByte, 0xd9.toByte)
    assert(Codec.decodeMeta(noSof).isEmpty)
    val stray = fix.clone(); stray(2) = 0x00
    assert(Codec.decodeMeta(stray).isEmpty)
    // the metadata-only skeleton has no DQT/DHT/SOS: the pixel
    // decoder refuses it even though the meta walk succeeds
    assert(Codec.payload(fix).isEmpty)
    assert(Codec.resize(fix, 2).isEmpty)
  }

  /** JPEG encode via the JDK's ImageIO — an independent reference
    * implementation living in java.desktop, used here as both fixture
    * generator and decode oracle for the native decoder. */
  private def imageioJpeg(img: java.awt.image.BufferedImage, quality: Float,
                          progressive: Boolean = false): Array[Byte] = {
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    if (progressive)
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    w.setOutput(ios)
    w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    ios.close(); w.dispose()
    bos.toByteArray
  }

  test("native JPEG decode matches the JDK decoder: grayscale, edge MCUs") {
    val (gw, gh) = (23, 17) // not multiples of 8: right/bottom partial MCUs
    val img = new java.awt.image.BufferedImage(
      gw, gh, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until gh; x <- 0 until gw)
      img.getRaster.setSample(x, y, 0, (x * 11 + y * 5) % 256)
    val bytes = imageioJpeg(img, 0.9f)
    val m = Codec.decodeMeta(bytes).get
    assert((m.width, m.height, m.channels) == ((gw, gh, 1)))
    val px = Multimodal.Jpeg.pixels(bytes).get
    assert(px.length == gw * gh)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val maxDiff = (for (y <- 0 until gh; x <- 0 until gw) yield
      math.abs((px(y * gw + x) & 0xff) - ref.getRaster.getSample(x, y, 0))).max
    // same entropy data through two IDCT implementations: ±2
    assert(maxDiff <= 2, s"max per-pixel diff $maxDiff")
  }

  test("native JPEG decode matches the JDK decoder: 4:2:0 color") {
    val (cw, ch) = (37, 29)
    val img = new java.awt.image.BufferedImage(
      cw, ch, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until ch; x <- 0 until cw) // smooth, mild chroma slope
      img.setRGB(x, y, ((100 + x * 2) << 16) | ((100 + y * 2) << 8) | 120)
    val bytes = imageioJpeg(img, 0.85f)
    val m = Codec.decodeMeta(bytes).get
    assert((m.width, m.height, m.channels) == ((cw, ch, 3)))
    val px = Multimodal.Jpeg.pixels(bytes).get
    assert(px.length == cw * ch * 3)
    val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val diffs = for (y <- 0 until ch; x <- 0 until cw; c <- 0 until 3) yield {
      val rgb = ref.getRGB(x, y)
      val refC = (rgb >> (16 - 8 * c)) & 0xff
      math.abs((px((y * cw + x) * 3 + c) & 0xff) - refC)
    }
    // replicate vs the JDK's triangular chroma upsampling: small but
    // nonzero disagreement on a smooth gradient
    assert(diffs.max <= 8, s"max diff ${diffs.max}")
    assert(diffs.sum.toDouble / diffs.size <= 2.0, s"mean diff ${diffs.sum.toDouble / diffs.size}")
    // resize decodes natively and re-encodes lossless as PNG
    val resized = Codec.resize(bytes, 2).get
    val rm = Codec.decodeMeta(resized).get
    assert((rm.format, rm.width, rm.height, rm.channels) == (("png", 18, 14, 3)))
  }

  test("native JPEG refuses progressive and truncated streams") {
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, x * 16 + y)
    val prog = imageioJpeg(img, 0.9f, progressive = true)
    assert(Codec.decodeMeta(prog).isDefined) // meta still reads SOF2
    assert(Multimodal.Jpeg.pixels(prog).isEmpty) // pixels refuse
    val base = imageioJpeg(img, 0.9f)
    assert(Multimodal.Jpeg.pixels(base).isDefined)
    assert(Multimodal.Jpeg.pixels(base.take(base.length / 2)).isEmpty)
  }

  /** Hand-authored minimal 4:4:4 JPEG: own Huffman tables in the DHT
    * (2-bit DC codes for categories 0 and 6, 1-bit AC EOB), flat
    * quant 16, DC-only blocks — every decoded sample is exactly
    * 40·16/8 + 128 = 208 gray. Optionally two MCUs split by a RST0
    * restart marker with interval 1. */
  private def miniJpeg444(twoMcusWithRestart: Boolean): Array[Byte] = {
    val w = if (twoMcusWithRestart) 16 else 8
    val dqt = Array[Int](0xff, 0xdb, 0x00, 0x43, 0x00) ++ Array.fill(64)(16)
    val dhtDc = Array[Int](0xff, 0xc4, 0x00, 0x15, 0x00,
      0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++ Array[Int](0, 6)
    val dhtAc = Array[Int](0xff, 0xc4, 0x00, 0x14, 0x10,
      1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++ Array[Int](0x00)
    val sof = Array[Int](0xff, 0xc0, 0x00, 0x11, 8, 0, 8, 0, w, 3,
      1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0)
    val dri = if (twoMcusWithRestart)
      Array[Int](0xff, 0xdd, 0x00, 0x04, 0x00, 0x01) else Array[Int]()
    val sos = Array[Int](0xff, 0xda, 0x00, 0x0c, 3,
      1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0)
    // per MCU: Y "01"+101000(40)+EOB"0", Cb "00"+"0", Cr "00"+"0"
    // = 15 bits, padded with one 1 -> 0x68 0x01
    val mcu = Array[Int](0x68, 0x01)
    val scan = if (twoMcusWithRestart) mcu ++ Array[Int](0xff, 0xd0) ++ mcu else mcu
    (Array[Int](0xff, 0xd8) ++ dqt ++ dhtDc ++ dhtAc ++ sof ++ dri ++ sos ++
      scan ++ Array[Int](0xff, 0xd9)).map(_.toByte)
  }

  test("native JPEG decodes hand-authored 4:4:4 exactly, incl. restart markers") {
    for (restart <- Seq(false, true)) {
      val bytes = miniJpeg444(restart)
      val m = Codec.decodeMeta(bytes).get
      assert((m.width, m.height, m.channels) == ((if (restart) 16 else 8, 8, 3)))
      val px = Multimodal.Jpeg.pixels(bytes).get
      assert(px.length == m.width * 8 * 3)
      assert(px.forall(b => (b & 0xff) == 208),
        s"restart=$restart: ${px.take(12).map(_ & 0xff).mkString(",")}")
    }
    // out-of-order restart marker refuses
    val bad = miniJpeg444(true)
    val idx = bad.indexOfSlice(Seq(0xff.toByte, 0xd0.toByte))
    bad(idx + 1) = 0xd3.toByte
    assert(Multimodal.Jpeg.pixels(bad).isEmpty)
  }

  test("mixed-format landing dir decodes distributed via the same pipeline") {
    val dir = java.nio.file.Paths.get(tempDir("mixed"))
    java.nio.file.Files.write(dir.resolve("m0.bmp"), bmpFixture)
    java.nio.file.Files.write(dir.resolve("m1.ppm"), ppmFixture)
    java.nio.file.Files.write(dir.resolve("m2.grft"),
      Codec.encode(4, 4, 3, Array.fill(48)(7.toByte)))
    java.nio.file.Files.write(dir.resolve("m3.png"), pngFixture)
    java.nio.file.Files.write(dir.resolve("m4.jpg"), jpegFixture())
    val ds = Multimodal.readBinaryDir(spark, dir.toString).select(
      regexp_extract(col("path"), "m(\\d+)\\.", 1).cast("long").as("media_id"),
      col("content")).as[MediaRecord]
    val metas = decodeMeta(ds).collect().map(r => r.media_id -> r.meta.format).toMap
    assert(metas == Map(0L -> "bmp", 1L -> "ppm", 2L -> "grft", 3L -> "png",
      4L -> "jpeg"))
  }

  test("binaryFile ingest reads a media landing dir on executors") {
    val dir = java.nio.file.Paths.get(tempDir("media"))
    corpus(3).collect().foreach { r =>
      java.nio.file.Files.write(dir.resolve(s"m${r.media_id}.grft"), r.content)
    }
    val df = Multimodal.readBinaryDir(spark, dir.toString)
    assert(df.count() == 3)
    val ds = df.select(
      regexp_extract(col("path"), "m(\\d+)\\.grft", 1).cast("long").as("media_id"),
      col("content")).as[MediaRecord]
    assert(decodeMeta(ds).count() == 3)
  }

  // ---- MJPEG-in-AVI container ----

  private def testFrames(w: Int, h: Int, n: Int): Seq[Array[Byte]] =
    (0 until n).map { f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, ((x * 5 + f * 40) << 16) | ((y * 9) << 8) | (x + y))
      imageioJpeg(img, 0.9f)
    }

  test("AVI mux/demux round-trips JPEG frames byte-identically") {
    val frames = testFrames(16, 12, 3)
    val avi = graft.multimodal.Avi.encodeMjpeg(16, 12, 10, frames)
    val back = graft.multimodal.Avi.frames(avi)
    assert(back.length == 3)
    back.zip(frames).foreach { case (b, f) =>
      assert(java.util.Arrays.equals(b, f)) // mux adds nothing, loses nothing
    }
    // odd-sized payloads exercise the RIFF word-alignment padding:
    // the pad byte must not leak into the next frame or its payload
    val odd = Seq(Array[Byte](1, 2, 3), Array[Byte](4), Array[Byte](5, 6))
    val oddBack = graft.multimodal.Avi.frames(
      graft.multimodal.Avi.encodeMjpeg(2, 2, 10, odd))
    assert(oddBack.map(_.toSeq) == odd.map(_.toSeq))
  }

  test("walked frames pixel-decode natively and match the JDK decoder") {
    val frames = testFrames(21, 13, 2) // partial MCUs at both edges
    val avi = graft.multimodal.Avi.encodeMjpeg(21, 13, 10, frames)
    graft.multimodal.Avi.frames(avi).foreach { jpeg =>
      val m = Codec.decodeMeta(jpeg).get
      assert((m.width, m.height, m.channels) == ((21, 13, 3)))
      val px = Multimodal.Jpeg.pixels(jpeg).get
      val (w, h) = (21, 13)
      assert(px.length == w * h * 3)
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
      val diffs = for (y <- 0 until h; x <- 0 until w; ch <- 0 until 3) yield {
        val refC = (ref.getRGB(x, y) >> (16 - 8 * ch)) & 0xff
        math.abs((px((y * w + x) * 3 + ch) & 0xff) - refC)
      }
      assert(diffs.max <= 8, s"max per-pixel diff ${diffs.max}")
    }
  }

  test("video near-dup: a real JPEG re-encode (generation loss + extra " +
    "outro frame) groups with its original; distinct content stays apart") {
    import graft.multimodal.{Avi, VideoDedup}
    // Frame content = a 4-bit block pattern (binary of fc, 4-pixel
    // blocks across the dHash window) rendered with channel gaps
    // ≥95 — far above JPEG quantization error, so the hash survives a
    // quality-0.7 re-encode; distinct patterns differ in ≥8 hash bits,
    // far above the hamming tolerance.
    def frame(fc: Int, q: Float): Array[Byte] = {
      val (w, h) = (16, 12)
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val bit = (fc >> (x / 4)) & 1
        val r = if (bit == 1) 235 else 25
        val b = if (bit == 1) 10 else 220
        img.setRGB(x, y, (r << 16) | (125 << 8) | b)
      }
      imageioJpeg(img, q)
    }
    val aF = Seq(1, 2, 3).map(frame(_, 0.9f))
    // B: A's frames DECODED and RE-ENCODED at a lower quality
    // (generation loss — different bytes, same perceptual content),
    // plus an extra outro frame: containment must still score it 1.0
    val bF = aF.map { j =>
      imageioJpeg(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(j)), 0.7f)
    } :+ frame(9, 0.7f)
    val cF = Seq(12, 13, 14).map(frame(_, 0.9f))
    val media = Seq(
      MediaRecord(1L, Avi.encodeMjpeg(16, 12, 10, aF)),
      MediaRecord(2L, Avi.encodeMjpeg(16, 12, 10, bF)),
      MediaRecord(3L, Avi.encodeMjpeg(16, 12, 10, cF))).toDS()
    val sigs = VideoDedup.frameSignatures(media)
    // per-frame robustness: each re-encoded frame within hamming 6 of
    // its original (the JPEG decode ran — this is pixel-level, not
    // byte-level, identity)
    val h = sigs.collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    (0 until 3).foreach { f =>
      val d = java.lang.Long.bitCount(h((1L, f.toLong)) ^ h((2L, f.toLong)))
      assert(d <= 6, s"frame $f drifted $d bits under re-encode")
    }
    val groups = VideoDedup.nearDupGroups(sigs, hammingMax = 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(groups(1L) == ((3L, 1L, true)))
    assert(groups(2L)._1 == 4L && groups(2L)._2 == 1L && !groups(2L)._3,
      groups(2L).toString) // the re-encode deduped against its original
    assert(groups(3L) == ((3L, 3L, true))) // distinct content is a keeper
  }

  test("foldBatch trusts standing labels: a component merged by a since-" +
      "deleted bridge survives the fold — old-side CC is NOT recomputed") {
    import graft.multimodal.VideoDedup
    def sigRows(id: Long, hs: Seq[Long]) =
      hs.zipWithIndex.map { case (h, i) => (id, i.toLong, h) }
    // videos 1 and 3: disjoint hash sets, pairwise hamming > 3 — no
    // current pair connects them
    val hA = Seq(0L, 0x2000L, 0x4000000L)
    val hB = Seq(0xFFL, 0xFF000L, 0xFF000000L)
    val oldSigs = (sigRows(1L, hA) ++ sigRows(3L, hB))
      .toDF("media_id", "frame_idx", "fhash")
    val st0 = VideoDedup.dedupState(oldSigs)
    // history: a since-deleted bridge video once merged {1, 3}; the
    // standing state carries that label even though recomputing CC
    // over today's pairs could never reproduce it
    val st = st0.withColumn("keep_id",
        when(col("media_id") === 3L, 1L).otherwise(col("keep_id")))
      .localCheckpoint(true)
    val reps = VideoDedup.repSignatures(st, oldSigs)
    // batch: 10 = exact re-upload of 3's hash set (known class);
    // 11 = 1's hashes plus one extra (a NEW class that near-dups 1 —
    // and whose matched count exceeds min(|A|,|B|), exercising the
    // containment cap)
    val batch = (sigRows(10L, hB) ++ sigRows(11L, hA :+ (7L << 36)))
      .toDF("media_id", "frame_idx", "fhash")
    val (st2, reps2) = VideoDedup.foldBatch(st, reps, batch)
    val out = VideoDedup.groupsFromState(st2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((1L, true)))
    // the severed-bridge label survived: state was trusted, not rebuilt
    assert(out(3L) == ((1L, false)), out.toString)
    assert(out(10L) == ((1L, false))) // adopted 3's class -> 3's label
    assert(out(11L) == ((1L, false))) // fresh class, banded against reps
    // repSigs' gains the new representative only (10 is a class member)
    val repIds = reps2.select("media_id").distinct().as[Long].collect().toSet
    assert(repIds == Set(1L, 3L, 11L))
  }

  test("MediaStore keep-one: only flagged buckets rewritten — untouched " +
      "buckets byte-identical and mtime-pinned, emptied buckets deleted, " +
      "survivor bytes exact") {
    import graft.multimodal.MediaStore
    val media = Seq.tabulate(12) { i =>
      (i.toLong, Array.tabulate[Byte](16)(j => ((i * 7 + j) % 127).toByte))
    }.toDF("media_id", "content")
    val path = tempDir("graft_store_spec") + "/store"
    MediaStore.writeAll(media, "media_id", path, buckets = 4)
    def snap(b: Int): Map[String, (Long, Long, String)] = {
      val dir = new java.io.File(s"$path/bucket=$b")
      dir.listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        f.getName -> ((f.length(), f.lastModified(),
          java.util.Base64.getEncoder.encodeToString(
            java.security.MessageDigest.getInstance("MD5").digest(bytes))))
      }.toMap
    }
    val before0 = snap(0); val before3 = snap(3)
    // delete ALL of bucket 1 (ids 1,5,9) and part of bucket 2 (id 2);
    // buckets 0 and 3 contain no deleted row and must not be opened
    MediaStore.applyKeepOne(spark, path,
      Seq(1L, 5L, 9L, 2L).toDF("media_id"), "media_id")
    assert(!new java.io.File(s"$path/bucket=1").exists(),
      "emptied bucket dir must be deleted")
    assert(snap(0) == before0 && snap(3) == before3,
      "untouched buckets must keep identical files (bytes AND mtime)")
    // survivors: exact row set, exact content bytes
    val back = spark.read.parquet(path)
      .select(col("media_id"), col("content")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val expect = Set(0L, 3L, 4L, 6L, 7L, 8L, 10L, 11L)
    assert(back.keySet == expect, back.keySet.toString)
    expect.foreach { id =>
      assert(back(id).sameElements(
        Array.tabulate[Byte](16)(j => ((id * 7 + j) % 127).toByte)),
        s"content of $id not byte-identical after repair")
    }
    // a verdict touching nothing is a no-op (no dirs rewritten)
    val all0 = snap(0)
    MediaStore.applyKeepOne(spark, path,
      Seq(999L).toDF("media_id"), "media_id")
    assert(snap(0) == all0)
  }

  test("AVI walker skips junk, survives truncation, rejects non-AVI") {
    import graft.multimodal.Avi
    val frames = testFrames(16, 12, 2)
    val avi = Avi.encodeMjpeg(16, 12, 10, frames)
    // splice a JUNK chunk between RIFF header and the first list
    val junkBody = Array.fill[Byte](10)(0x55)
    val junk = "JUNK".getBytes("US-ASCII") ++
      java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(10).array() ++ junkBody
    val spliced = avi.take(12) ++ junk ++ avi.drop(12)
    // outer RIFF size is now stale-short; the walker reads to the
    // buffer end, so both frames still surface
    assert(Avi.frames(spliced).length == 2)
    // truncation mid-movi: no partial frame emitted, no crash
    val cut = avi.take(avi.length - frames.last.length / 2)
    assert(Avi.frames(cut).length <= 1)
    assert(Avi.frames("RIFFxxxxWAVE".getBytes("US-ASCII")) == Nil)
    assert(Avi.frames(Array[Byte](1, 2, 3)) == Nil)
  }
}
