package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("parseMeta reads a golden hand-assembled PNG header (spec bytes, not encodeMedia)") {
    // PNG signature + IHDR for a 3x2 image, CRC computed independently
    // (python zlib.crc32 over b'IHDR' + data = 0x5b2cca00 for these bytes).
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val ihdrData = Array[Byte](0, 0, 0, 3, 0, 0, 0, 2, 8, 2, 0, 0, 0)
    val crc = new java.util.zip.CRC32
    crc.update("IHDR".getBytes("US-ASCII")); crc.update(ihdrData)
    val bb = java.nio.ByteBuffer.allocate(33)
    bb.put(sig).putInt(13).put("IHDR".getBytes("US-ASCII")).put(ihdrData)
      .putInt(crc.getValue.toInt)
    assert(Multimodal.parseMeta(bb.array()) == (("png", 3, 2)))
  }

  test("parseMeta rejects corrupt PNG CRC and unknown magic") {
    val good = Multimodal.pngBytes(10, 20, Array[Byte](1, 2, 3))
    val bad = good.clone(); bad(30) = (bad(30) ^ 0x7f).toByte // flip a CRC byte
    intercept[IllegalArgumentException](Multimodal.parseMeta(bad))
    intercept[IllegalArgumentException](Multimodal.parseMeta("not an image".getBytes))
  }

  test("encode/parse round-trip for all three container formats") {
    val payload = "hello media".getBytes("UTF-8")
    assert(Multimodal.parseMeta(Multimodal.pngBytes(640, 480, payload)) == (("png", 640, 480)))
    assert(Multimodal.parseMeta(Multimodal.bmpBytes(1920, 1080, payload)) == (("bmp", 1920, 1080)))
    assert(Multimodal.parseMeta(Multimodal.gifBytes(320, 200, payload)) == (("gif", 320, 200)))
    // payload sits immediately after the fixed-size header
    val png = Multimodal.pngBytes(1, 1, payload)
    assert(png.slice(Multimodal.PngHeaderLen, png.length).sameElements(payload))
  }

  test("attachMedia + decodeMeta recover format and dimensions from real bytes") {
    val df = Seq((0L, "hello"), (1L, "worldly"), (2L, "x")).toDF("doc_id", "text")
    val meta = Multimodal.decodeMeta(spark, Multimodal.attachMedia(spark, df, "doc_id", "text"))
      .collect().sortBy(_.id)
    assert(meta.map(_.format).toSeq == Seq("png", "bmp", "gif"))
    // id=0: payload "hello" (5 bytes) -> png, 33-byte header
    assert(meta(0).n_bytes == 33L + 5L)
    assert(meta(0).width == 64 + (5L * 7919) % 509)
    assert(meta(0).height == 64 + (5L * 104729) % 509)
    assert(meta(1).n_bytes == 54L + 7L)
    assert(meta(2).n_bytes == 13L + 1L)
  }

  test("frameFeatures emits one scalar row per sampled payload byte") {
    val df = Seq((1L, "abcdef")).toDF("doc_id", "text") // id=1 -> bmp
    val rows = Multimodal.frameFeatures(
        Multimodal.attachMedia(spark, df, "doc_id", "text"), stride = 2)
      .orderBy($"pos").collect()
    // payload bytes 1,3,5 of "abcdef" = 'a','c','e' -> hex 61, 63, 65
    assert(rows.map(r => (r.getAs[Long]("pos"), r.getAs[String]("feature"))).toSeq ==
      Seq((1L, "61"), (3L, "63"), (5L, "65")))
  }

  test("decodeMeta over the documents fixture parses every row") {
    val docs = graft.core.Tables.documents(spark, sf).limit(100)
    val meta = Multimodal.decodeMeta(spark, Multimodal.attachMedia(spark, docs, "doc_id", "text"))
    assert(meta.count() == 100)
    assert(meta.filter(_.width >= 64).count() == 100)
  }

  test("resizeBmp: exact nearest-neighbor pixels, padding respected, malformed input throws") {
    // 2x2 BMP, 24bpp: row stride = ((3*2+3)/4)*4 = 8 bytes (2 pad bytes).
    // Storage is bottom-up but nearest-neighbor sampling is storage-order
    // symmetric, so we reason directly in storage rows.
    def px(b: Int, g: Int, r: Int) = Array(b.toByte, g.toByte, r.toByte)
    val row0 = px(1, 2, 3) ++ px(4, 5, 6) ++ Array[Byte](0, 0)
    val row1 = px(7, 8, 9) ++ px(10, 11, 12) ++ Array[Byte](0, 0)
    val src = Multimodal.bmpBytes(2, 2, row0 ++ row1)

    // downsample to 1x1: picks storage (0, 0) -> pixel (1,2,3); row pads to 4
    val one = Multimodal.resizeBmp(src, 1, 1)
    val (fmt, w, h) = Multimodal.parseMeta(one)
    assert((fmt, w, h) == (("bmp", 1, 1)))
    assert(one.slice(54, 57).toSeq == Seq[Byte](1, 2, 3))

    // identity resize reproduces the pixel array byte-for-byte
    val same = Multimodal.resizeBmp(src, 2, 2)
    assert(same.drop(54).toSeq == (row0 ++ row1).toSeq)

    // upsample 2x2 -> 4x2 repeats each pixel horizontally
    val wide = Multimodal.resizeBmp(src, 4, 2)
    assert(wide.slice(54, 66).toSeq ==
      (px(1, 2, 3) ++ px(1, 2, 3) ++ px(4, 5, 6) ++ px(4, 5, 6)).toSeq)

    // malformed inputs surface as errors, never fabricated pixels
    intercept[IllegalArgumentException](
      Multimodal.resizeBmp(Multimodal.gifBytes(2, 2, row0), 1, 1))
    intercept[IllegalArgumentException](
      Multimodal.resizeBmp(Multimodal.bmpBytes(64, 64, row0), 1, 1)) // truncated
    // a zero-width BMP must throw, not degenerate every length check and
    // fabricate pixels from header bytes
    intercept[IllegalArgumentException](
      Multimodal.resizeBmp(Multimodal.bmpBytes(0, 2, row0), 1, 1))
  }

  test("dHash: identical images collide, perturbed twins stay near, hash matches the closed form") {
    import spark.implicits._
    // ids 0 and 707 share (id % 101, id % 7) -> identical fixture images;
    // id 101 shares the group (101 % 101 = 0) but not the perturbation level
    val imgs = Multimodal.attachImageFixture(spark,
      Seq(0L, 707L, 101L).toDF("doc_id"), "doc_id")
    val h = Multimodal.imageDHash(spark, imgs)
      .as[(Long, Long)].collect().toMap
    assert(h(0L) == h(707L), "identical images must hash equal")
    assert(h.values.forall(v => v >= 0L && v < (1L << 56)), h.toString)
    val hamming = java.lang.Long.bitCount(h(0L) ^ h(101L))
    assert(hamming > 0 && hamming <= 8,
      s"same-group perturbed pair should differ only in left-column bits, got $hamming")

    // the engine hash equals the oracle's closed-form arithmetic for id 0
    def gray(rx: Int, ry: Int): Int =
      (0 until 3).map(c => (ry * 4 * 97 + rx * 4 * 11 + c * 7) % 256).sum
    var want = 0L
    for (ry <- 0 until 8; rx <- 0 until 7)
      if (gray(rx + 1, ry) > gray(rx, ry)) want |= 1L << (ry * 7 + rx)
    assert(h(0L) == want, f"engine ${h(0L)}%x vs closed form $want%x")
  }

  test("videoTemporalHash: identical videos collide, perturbed twins differ by <= 1 bit, closed form matches") {
    import spark.implicits._
    // ids 0 and 707 share (id % 101, id % 7) -> identical fixture videos;
    // id 101 shares the group but not the perturbation level (101 % 7 = 3)
    val vids = Multimodal.attachVideoFixture(spark,
      Seq(0L, 707L, 101L).toDF("doc_id"), "doc_id")
    val h = Multimodal.videoHash(spark, vids)
      .as[(Long, Long)].collect().toMap
    assert(h(0L) == h(707L), "identical videos must hash equal")
    assert(h.values.forall(v => v >= 0L && v < (1L << 48)), h.toString)
    val hamming = java.lang.Long.bitCount(h(0L) ^ h(101L))
    assert(hamming <= 1,
      s"one perturbed pixel in frame 0 flips at most temporal bit 0, got $hamming")

    // the engine hash equals the oracle's closed-form arithmetic for id 0
    def pix(f: Int, x: Int): Int = (f * 11 + x * 97) % 256
    def spatial(f: Int): Long =
      (0 until 7).foldLeft(0L)((v, x) =>
        if (pix(f, x + 1) > pix(f, x)) v | (1L << x) else v)
    var want = 0L
    for (f <- 0 until 48) if (spatial(f + 1) > spatial(f)) want |= 1L << f
    assert(h(0L) == want, f"engine ${h(0L)}%x vs closed form $want%x")

    // fail-loud contract: a payload that does not split evenly into
    // dwTotalFrames frames is malformed, not silently mis-framed
    intercept[IllegalArgumentException](
      Multimodal.videoTemporalHash(Multimodal.aviBytes(24, 48, new Array[Byte](49 * 8 - 1))))
  }

  test("parseJpeg: SOF dims, progressive flag, EXIF orientation both byte orders, fail-loud") {
    val payload = "entropy-coded stand-in".getBytes("US-ASCII")
    // baseline, no EXIF -> orientation None
    assert(Multimodal.parseJpeg(
      Multimodal.jpegBytes(640, 480, progressive = false, None, payload)) ==
      ((640, 480, false, None)))
    // progressive with orientation 6 (the common rotated-phone-photo value)
    assert(Multimodal.parseJpeg(
      Multimodal.jpegBytes(33, 9999, progressive = true, Some(6), payload)) ==
      ((33, 9999, true, Some(6))))
    // big-endian (MM) TIFF block: hand-flip the generator's little-endian one
    val le = Multimodal.jpegBytes(10, 20, progressive = false, Some(3), payload)
    val exifAt = 2 + 18 + 4 // SOI + APP0 + APP1 marker/len -> "Exif"
    assert(new String(le, exifAt, 4, "US-ASCII") == "Exif")
    val mm = le.clone()
    val t = exifAt + 6 // TIFF header
    mm(t) = 'M'.toByte; mm(t + 1) = 'M'.toByte
    // shorts/ints byte-swap: magic 42, ifd offset 8, count 1, tag, type,
    // count 1, value at entry+8
    def swapShort(at: Int): Unit = { val a = mm(at); mm(at) = mm(at + 1); mm(at + 1) = a }
    def swapInt(at: Int): Unit = {
      val a = mm(at); val b = mm(at + 1)
      mm(at) = mm(at + 3); mm(at + 1) = mm(at + 2); mm(at + 2) = b; mm(at + 3) = a
    }
    swapShort(t + 2); swapInt(t + 4)        // magic, IFD offset
    swapShort(t + 8)                        // entry count
    swapShort(t + 10); swapShort(t + 12)    // tag, type
    swapInt(t + 14)                         // value count
    swapShort(t + 18)                       // orientation value
    swapInt(t + 22)                         // next IFD
    assert(Multimodal.parseJpeg(mm) == ((10, 20, false, Some(3))))
    // fail-loud: truncated before any SOF, and a length overrunning the file
    val noSof = le.take(2 + 18) // SOI + APP0 only
    intercept[IllegalArgumentException](Multimodal.parseJpeg(noSof))
    val overrun = le.take(24) // cuts inside the APP1 segment body
    intercept[IllegalArgumentException](Multimodal.parseJpeg(overrun))
    // a scan with no frame header (SOS before SOF) is malformed, not 0x0
    val sosFirst = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xDA.toByte,
      0, 12, 3, 1, 0, 2, 0, 3, 0, 0, 63, 0)
    intercept[IllegalArgumentException](Multimodal.parseJpeg(sosFirst))
  }

  test("parseMp4: mvhd v0 + v1, trak count, truncated-box fail-loud") {
    val payload = "mdat stand-in".getBytes("US-ASCII")
    val v0 = Multimodal.mp4Bytes(timescale = 1000, durationUnits = 4500,
      nTraks = 2, payload)
    assert(Multimodal.parseMp4(v0) == ((1000, 4500L, 4500000L, 2)))
    // version-1 mvhd: splice ver=1 and 64-bit times/duration by hand
    // (the generator emits v0; real files from 64-bit muxers are v1)
    val moovAt = 16
    val mvhdAt = moovAt + 8
    val grow = 12 // v1 adds 4+4+4 bytes (two 8-byte times, 8-byte duration)
    val v1 = new Array[Byte](v0.length + grow)
    System.arraycopy(v0, 0, v1, 0, mvhdAt)
    val bb = java.nio.ByteBuffer.wrap(v1).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.position(mvhdAt)
    bb.putInt(120).put("mvhd".getBytes("US-ASCII"))
    bb.putInt(0x01000000)           // version 1
    bb.putLong(0L).putLong(0L)      // 64-bit ctime/mtime
    bb.putInt(7000)                 // timescale
    bb.putLong(21000L)              // 64-bit duration
    // copy the rest of v0's mvhd tail (rate..next_track = 76 bytes) + rest
    System.arraycopy(v0, mvhdAt + 32, v1, mvhdAt + 44, v0.length - mvhdAt - 32)
    // fix the sizes that grew
    bb.putInt(moovAt, bb.getInt(moovAt) + grow)
    assert(Multimodal.parseMp4(v1) == ((7000, 21000L, 3000000L, 2)))
    // fail-loud: a child box claiming to overrun moov, and a missing moov
    val bad = v0.clone()
    java.nio.ByteBuffer.wrap(bad).putInt(mvhdAt, 100000) // mvhd size overruns
    intercept[IllegalArgumentException](Multimodal.parseMp4(bad))
    intercept[IllegalArgumentException](Multimodal.parseMp4(v0.take(16))) // ftyp only
  }

  test("parseWebp: VP8/VP8L/VP8X layouts, odd-payload pad, fail-loud") {
    val odd = "odd-length payload!".getBytes("US-ASCII")
    assert(odd.length % 2 == 1) // forces the RIFF even-alignment pad
    // lossy: LE14 dims behind the start code; no alpha possible
    assert(Multimodal.parseWebp(
      Multimodal.webpBytes(640, 480, "vp8", alpha = false, odd)) ==
      ((640, 480, "lossy", false, false)))
    // lossless: packed bitfield, alpha bit 28, 14-bit max dims
    assert(Multimodal.parseWebp(
      Multimodal.webpBytes(16383, 1, "vp8l", alpha = true, odd)) ==
      ((16383, 1, "lossless", false, true)))
    assert(Multimodal.parseWebp(
      Multimodal.webpBytes(33, 9999, "vp8l", alpha = false, odd)) ==
      ((33, 9999, "lossless", false, false)))
    // extended: VP8X canvas + flags, inner lossy chunk skipped over the pad
    assert(Multimodal.parseWebp(
      Multimodal.webpBytes(572, 64, "vp8x", alpha = true, odd)) ==
      ((572, 64, "lossy", true, true)))
    assert(Multimodal.parseWebp(
      Multimodal.webpBytes(1, 1, "vp8x", alpha = false, odd)) ==
      ((1, 1, "lossy", true, false)))
    // fail-loud: bad magic, truncation inside a chunk, no image chunk,
    // VP8X canvas disagreeing with the coded size
    val ok = Multimodal.webpBytes(10, 20, "vp8", alpha = false, odd)
    val badMagic = ok.clone(); badMagic(8) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.parseWebp(badMagic))
    intercept[IllegalArgumentException](Multimodal.parseWebp(ok.take(20)))
    val x = Multimodal.webpBytes(10, 20, "vp8x", alpha = false, odd)
    val headerOnly = x.take(12 + 18) // RIFF header + VP8X chunk only
    java.nio.ByteBuffer.wrap(headerOnly).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, headerOnly.length - 8) // make the RIFF size self-consistent
    intercept[IllegalArgumentException](Multimodal.parseWebp(headerOnly))
    val drift = x.clone(); drift(12 + 8 + 4) = 99.toByte // canvas width-1 LE24 low byte
    intercept[IllegalArgumentException](Multimodal.parseWebp(drift))
  }

  test("parsePdf: version/count/box walk, count cross-check, fail-loud") {
    val payload = "BT /F1 12 Tf (hi) Tj ET".getBytes("US-ASCII")
    assert(Multimodal.parsePdf(
      Multimodal.pdfBytes("1.7", 3, 612, 792, payload)) ==
      (("1.7", 3, 612, 792)))
    assert(Multimodal.parsePdf(
      Multimodal.pdfBytes("1.4", 1, 595, 842, Array.emptyByteArray)) ==
      (("1.4", 1, 595, 842)))
    // fail-loud: bad magic, truncation (no %%EOF), /Count disagreeing with
    // the /Type /Page objects
    val ok = Multimodal.pdfBytes("1.5", 2, 612, 792, payload)
    intercept[IllegalArgumentException](Multimodal.parsePdf(
      "%FDP-1.5\nnot a pdf\n%%EOF\n".getBytes("US-ASCII")))
    intercept[IllegalArgumentException](
      Multimodal.parsePdf(ok.take(ok.length - 8))) // cuts %%EOF
    val drift = new String(ok, "ISO-8859-1")
      .replaceFirst("/Count 2", "/Count 3").getBytes("ISO-8859-1")
    intercept[IllegalArgumentException](Multimodal.parsePdf(drift))
  }

  test("parseTiff: IFD walk both byte orders, fail-loud") {
    val payload = "strip data stand-in".getBytes("US-ASCII")
    assert(Multimodal.parseTiff(
      Multimodal.tiffBytes(640, 480, 6, bigEndian = false, payload)) ==
      ((640, 480, 6, false)))
    assert(Multimodal.parseTiff(
      Multimodal.tiffBytes(33, 9999, 1, bigEndian = true, payload)) ==
      ((33, 9999, 1, true)))
    // fail-loud: bad BOM, bad magic, IFD offset past the buffer
    val ok = Multimodal.tiffBytes(10, 20, 3, bigEndian = false, payload)
    val badBom = ok.clone(); badBom(0) = 'X'.toByte
    intercept[IllegalArgumentException](Multimodal.parseTiff(badBom))
    val badMagic = ok.clone(); badMagic(2) = 43.toByte
    intercept[IllegalArgumentException](Multimodal.parseTiff(badMagic))
    val farIfd = ok.clone()
    java.nio.ByteBuffer.wrap(farIfd)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(4, 100000)
    intercept[IllegalArgumentException](Multimodal.parseTiff(farIfd))
  }
}
