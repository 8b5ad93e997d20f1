package graft.pipeline

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, Inflater}

/** Pure-JVM codec for PNG (8-bit truecolor) — the image rung of the
  * multimodal family's "real format, pure JVM, provable offline" rule,
  * and its first COMPRESSED image container: PNG's IDAT stream is real
  * DEFLATE (RFC 1950/1951 via `java.util.zip`), so this proves a
  * compressed image codec end-to-end offline the way MJPEG-AVI proved
  * compressed video. PNG is lossless, so an encode→decode round trip is
  * BIT-EXACT — which is what lets `mm_image_features` push its feature
  * math through REAL container bytes and still hash-match a DuckDB
  * oracle that never saw them.
  *
  * Format (public spec: PNG, RFC 2083 / ISO 15948): the 8-byte
  * signature, an IHDR chunk (width, height, bit depth 8, color type 2 =
  * truecolor), IDAT chunks holding the zlib-compressed filtered
  * scanlines, IEND; every chunk CRC32-guarded. The WRITER emits the
  * canonical minimal layout — filter 0 on every row, one IDAT. The
  * READER handles what other writers legally emit: all five scanline
  * filters (None/Sub/Up/Average/Paeth), color types 2 and 6 (alpha
  * dropped), multiple IDAT chunks, ancillary chunks skipped, every CRC
  * verified. PngCodecSpec cross-validates BOTH directions against
  * `javax.imageio` (every JRE ships a PNG reader/writer) — the
  * Npy-vs-numpy / WavCodec discipline.
  */
object PngCodec {

  private val Signature =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  /** True iff `bytes` starts with the PNG signature. */
  def sniff(bytes: Array[Byte]): Boolean =
    bytes != null && bytes.length >= 8 &&
      (0 until 8).forall(i => bytes(i) == Signature(i))

  /** Row-major packed RGB (one Int per pixel, 0xRRGGBB) → PNG bytes. */
  def encode(width: Int, height: Int, rgb: Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
    require(rgb.length == width * height,
      s"${rgb.length} pixels for ${width}x$height")
    // filter 0 scanlines: each row prefixed with its filter byte
    val raw = new Array[Byte](height * (1 + 3 * width))
    var i = 0
    var p = 0
    for (_ <- 0 until height) {
      raw(p) = 0 // filter: None
      p += 1
      for (_ <- 0 until width) {
        val v = rgb(i); i += 1
        raw(p) = ((v >> 16) & 0xff).toByte
        raw(p + 1) = ((v >> 8) & 0xff).toByte
        raw(p + 2) = (v & 0xff).toByte
        p += 3
      }
    }
    val deflater = new Deflater()
    deflater.setInput(raw)
    deflater.finish()
    val zout = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
    deflater.end()

    val out = new ByteArrayOutputStream()
    out.write(Signature)
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(width).putInt(height)
    ihdr.put(8.toByte) // bit depth
    ihdr.put(2.toByte) // color type: truecolor
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/none
    writeChunk(out, "IHDR", ihdr.array())
    writeChunk(out, "IDAT", zout.toByteArray)
    writeChunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def writeChunk(out: ByteArrayOutputStream, tag: String,
      data: Array[Byte]): Unit = {
    val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
    out.write(len)
    val tagBytes = tag.getBytes("US-ASCII")
    out.write(tagBytes)
    out.write(data)
    val crc = new CRC32()
    crc.update(tagBytes)
    crc.update(data)
    out.write(java.nio.ByteBuffer.allocate(4)
      .putInt(crc.getValue.toInt).array())
  }

  /** Default decode byte budget: 1 GiB of reconstructed scanlines
    * (≈ 256M RGB / 192M RGBA pixels — a 16000×16000 crawl photograph
    * decodes; a hostile gigapixel IHDR still fails typed). Overridable
    * per call site because "too big to decode" is a POLICY, not a
    * format property: a thumbnailing pass wants a small budget, an
    * archival re-encode a large one.
    */
  val DefaultMaxDecodeBytes: Long = 1L << 30

  /** PNG bytes → (width, height, row-major packed 0xRRGGBB). Fails
    * loudly on anything outside 8-bit color type 2/6 (no silent pixel
    * fabrication — the AutoFrameDecoder observability rule), and on
    * images whose reconstructed pixel buffer would exceed
    * `maxDecodeBytes` (the rejection class is the BUFFER, not a pixel
    * count: an RGBA image hits the budget earlier than an RGB one).
    */
  def decode(bytes: Array[Byte],
      maxDecodeBytes: Long = DefaultMaxDecodeBytes)
      : (Int, Int, Array[Int]) = {
    require(sniff(bytes), "not a PNG stream (bad signature)")
    var pos = 8
    var width = 0
    var height = 0
    var colorType = -1
    val idat = new ByteArrayOutputStream()
    var seenEnd = false
    while (!seenEnd) {
      require(pos + 8 <= bytes.length, "truncated PNG: chunk header")
      val len = readInt(bytes, pos)
      val tag = new String(bytes, pos + 4, 4, "US-ASCII")
      require(len >= 0 && pos + 12 + len <= bytes.length,
        s"truncated PNG: $tag chunk")
      val crc = new CRC32()
      crc.update(bytes, pos + 4, 4 + len)
      require(crc.getValue.toInt == readInt(bytes, pos + 8 + len),
        s"PNG CRC mismatch in $tag chunk")
      tag match {
        case "IHDR" =>
          width = readInt(bytes, pos + 8)
          height = readInt(bytes, pos + 12)
          val depth = bytes(pos + 16)
          colorType = bytes(pos + 17)
          val interlace = bytes(pos + 20)
          require(depth == 8, s"unsupported PNG bit depth $depth")
          require(colorType == 2 || colorType == 6,
            s"unsupported PNG color type $colorType")
          require(interlace == 0, "interlaced PNG unsupported")
        case "IDAT" => idat.write(bytes, pos + 8, len)
        case "IEND" => seenEnd = true
        case _ => () // ancillary chunks (tEXt, pHYs, …) skip fine
      }
      pos += 12 + len
    }
    require(width > 0 && height > 0 && colorType >= 0, "PNG missing IHDR")
    // totality bound (r14 fuzz discipline): an IHDR with a valid CRC
    // can still CLAIM gigapixel dimensions, and the scanline buffer is
    // allocated before the inflater produces a byte — bound the
    // allocation by a BYTE budget computed in Long (both the filtered
    // scanline buffer and the packed-pixel output), so a hostile
    // header fails typed instead of attempting a multi-GiB allocation
    // or overflowing Int. The budget is a caller policy (r14 advice:
    // a fixed 64M-pixel cap silently rejected legitimate large crawl
    // photographs); the default admits ~256M RGB pixels.
    val bpp = if (colorType == 6) 4 else 3
    val budget = math.min(maxDecodeBytes, Int.MaxValue.toLong)
    val needed = math.max(
      height.toLong * (1L + bpp.toLong * width), // filtered scanlines
      4L * width * height) // packed 0xRRGGBB output
    require(needed <= budget,
      s"PNG claims ${width}x$height (type $colorType): needs $needed " +
        s"bytes, beyond the $budget-byte decode budget")
    val stride = bpp * width
    val inflater = new Inflater()
    inflater.setInput(idat.toByteArray)
    val raw = new Array[Byte]((height.toLong * (1 + stride)).toInt)
    var off = 0
    while (!inflater.finished() && off < raw.length) {
      val n = inflater.inflate(raw, off, raw.length - off)
      require(n > 0 || inflater.finished(),
        "truncated PNG: IDAT ran dry mid-image")
      off += n
    }
    inflater.end()
    require(off == raw.length,
      s"PNG pixel payload $off bytes, expected ${raw.length}")

    // unfilter: prev = reconstructed previous row (all-zero for row 0)
    val rgb = new Array[Int](width * height)
    val prev = new Array[Byte](stride)
    val cur = new Array[Byte](stride)
    var y = 0
    while (y < height) {
      val rowStart = y * (1 + stride)
      val filter = raw(rowStart) & 0xff
      var x = 0
      while (x < stride) {
        val rawv = raw(rowStart + 1 + x) & 0xff
        val a = if (x >= bpp) cur(x - bpp) & 0xff else 0 // left
        val b = prev(x) & 0xff // up
        val c = if (x >= bpp) prev(x - bpp) & 0xff else 0 // up-left
        val recon = filter match {
          case 0 => rawv
          case 1 => rawv + a
          case 2 => rawv + b
          case 3 => rawv + (a + b) / 2
          case 4 => rawv + paeth(a, b, c)
          case f =>
            throw new IllegalArgumentException(s"bad PNG filter $f in row $y")
        }
        cur(x) = (recon & 0xff).toByte
        x += 1
      }
      var px = 0
      while (px < width) {
        val o = px * bpp
        rgb(y * width + px) = ((cur(o) & 0xff) << 16) |
          ((cur(o + 1) & 0xff) << 8) | (cur(o + 2) & 0xff)
        px += 1 // alpha (colorType 6) intentionally dropped
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    (width, height, rgb)
  }

  /** The Paeth predictor (PNG spec §6.6, exact integer form). */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a)
    val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def readInt(bytes: Array[Byte], at: Int): Int =
    ((bytes(at) & 0xff) << 24) | ((bytes(at + 1) & 0xff) << 16) |
      ((bytes(at + 2) & 0xff) << 8) | (bytes(at + 3) & 0xff)

  /** IHDR dimensions WITHOUT decompressing pixel data — the
    * metadata-only path ([[PngFrameDecoder.decodeMeta]]): header CRC
    * still verified, IDAT never inflated.
    */
  def dimensions(bytes: Array[Byte]): (Int, Int) = {
    require(sniff(bytes), "not a PNG stream (bad signature)")
    require(bytes.length >= 33, "truncated PNG: no room for IHDR")
    require(new String(bytes, 12, 4, "US-ASCII") == "IHDR",
      "PNG first chunk is not IHDR")
    val crc = new CRC32()
    crc.update(bytes, 12, 4 + 13)
    require(crc.getValue.toInt == readInt(bytes, 29), "PNG IHDR CRC mismatch")
    (readInt(bytes, 16), readInt(bytes, 20))
  }
}

/** An image corpus flows through the SAME O7→O20 pipeline as video: a
  * PNG is a one-frame "video" (frame 0 at t=0), so listing → filter →
  * decode → embed → assemble → TFRecord needs no image-specific branch
  * anywhere downstream — the reference's single-frame mode
  * (preprocess.py single_frame) generalized to real image bytes.
  * Pixel layout and normalization match the other real decoders
  * (interleaved RGB floats in [0,1]); the metadata path parses the IHDR
  * only and never inflates the DEFLATE stream, so the DSv2 source's
  * column pruning keeps paying on image corpora too.
  */
final class PngFrameDecoder extends FrameDecoder {

  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    val (w, h, rgb) = PngCodec.decode(FrameSampler.bytesOf(filename, content))
    val px = new Array[Float](w * h * 3)
    var i = 0
    while (i < rgb.length) {
      val v = rgb(i)
      px(3 * i) = ((v >> 16) & 0xff) / 255.0f
      px(3 * i + 1) = ((v >> 8) & 0xff) / 255.0f
      px(3 * i + 2) = (v & 0xff) / 255.0f
      i += 1
    }
    Iterator.single(DecodedFrame(0L,
      FrameDecoder.effectiveFps(sampleRateMs), 1.0, h, w, px))
  }

  override def decodeMeta(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    val (w, h) = PngCodec.dimensions(
      FrameSampler.bytesOf(filename, content))
    Iterator.single(DecodedFrame(0L,
      FrameDecoder.effectiveFps(sampleRateMs), 1.0, h, w,
      Array.emptyFloatArray))
  }
}
