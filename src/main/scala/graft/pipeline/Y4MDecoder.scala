package graft.pipeline

/** Pure-JVM decoder for the YUV4MPEG2 ("y4m") raw video container — the
  * uncompressed interchange format every ffmpeg build can write
  * (`ffmpeg -i in.mp4 out.y4m`). Unlike [[FfmpegFrameDecoder]] this has
  * ZERO native dependencies, so real pixel decoding is provable in an
  * offline sandbox: Y4MDecodeSpec generates a y4m fixture in-test and
  * golden-checks the RGB floats this produces, and the O7→O20 e2e runs
  * the whole pipeline on real decoded bytes (the reference's decode loop,
  * preprocess.py:156-189, is only testable there with codecs installed).
  *
  * Format (public spec, shipped as yuv4mpeg.h with mjpegtools): one ASCII
  * stream header `YUV4MPEG2 W<w> H<h> F<num>:<den> [Ip] [A..] [C<cs>]\n`,
  * then per frame an ASCII `FRAME[ params]\n` line followed by raw planar
  * YUV bytes. Supported colorspaces: C420 / C420mpeg2 / C420paldv
  * (limited-range BT.601, 2×2 chroma subsampling — siting differences
  * only affect interpolating upsamplers; this decoder uses the co-sited
  * nearest sample), C420jpeg (full-range), C422, C444, and Cmono.
  *
  * Frame sampling is [[FrameSampler]]'s; this file only parses.
  */
final class Y4MFrameDecoder
    extends ContainerFrameDecoder(Y4MFrameDecoder.parse)

object Y4MFrameDecoder {

  val Magic: Array[Byte] = "YUV4MPEG2".getBytes("US-ASCII")

  /** True iff `content` starts with the y4m stream magic. */
  def sniff(content: Array[Byte]): Boolean =
    content != null && content.length > Magic.length &&
      Magic.indices.forall(i => content(i) == Magic(i))

  // private[pipeline]: the Matroska V_UNCOMPRESSED path reuses the same
  // planar-YUV→RGB conversion (an mkv "I420" frame IS a y4m C420 frame
  // body), so the colorspace math lives in exactly one place
  private[pipeline] final case class Header(w: Int, h: Int, fpsNum: Long,
      fpsDen: Long, colorspace: String, bodyStart: Int) {
    val ySize: Int = w * h
    val cSize: Int = colorspace match {
      case "mono" => 0
      case "444" => w * h
      case "422" => (w / 2) * h
      case _ => (w / 2) * (h / 2) // 420 family
    }
    def frameBytes: Int = ySize + 2 * cSize
    def fullRange: Boolean = colorspace == "420jpeg"
  }

  private def parseHeader(filename: String, content: Array[Byte]): Header = {
    require(sniff(content), s"$filename: not a YUV4MPEG2 stream")
    val eol = content.indexOf('\n'.toByte)
    require(eol > 0, s"$filename: unterminated y4m stream header")
    val tokens = new String(content, 0, eol, "US-ASCII").split(' ')
    var w = -1; var h = -1; var num = -1L; var den = -1L
    var cs = "420" // spec default when no C tag is present
    tokens.drop(1).filter(_.nonEmpty).foreach { t =>
      (t.charAt(0), t.substring(1)) match {
        case ('W', v) => w = v.toInt
        case ('H', v) => h = v.toInt
        case ('F', v) => v.split(':') match {
          // typed failure on a malformed tag (fuzz finding r14: the
          // destructuring bind threw an untyped MatchError on 'F21')
          case Array(n, d) => num = n.toLong; den = d.toLong
          case _ => throw new IllegalArgumentException(
            s"$filename: malformed y4m frame-rate tag 'F$v'")
        }
        case ('C', v) => cs = v
        case _ => // I (interlace), A (aspect), X (extensions): ignored
      }
    }
    require(w > 0 && h > 0, s"$filename: y4m header missing W/H")
    require(num > 0 && den > 0, s"$filename: y4m header missing F<num>:<den>")
    val supported = Set("420", "420jpeg", "420mpeg2", "420paldv", "422",
      "444", "mono")
    require(supported.contains(cs),
      s"$filename: unsupported y4m colorspace C$cs (supported: " +
        supported.toSeq.sorted.mkString(", ") + ")")
    if (cs.startsWith("420"))
      require(w % 2 == 0 && h % 2 == 0,
        s"$filename: C$cs needs even dimensions, got ${w}x$h")
    if (cs == "422")
      require(w % 2 == 0, s"$filename: C422 needs even width, got $w")
    Header(w, h, num, den, cs, eol + 1)
  }

  /** Offsets of each frame's pixel payload (past its FRAME line). */
  private def frameOffsets(filename: String, content: Array[Byte],
      hdr: Header): Array[Int] = {
    val marker = "FRAME".getBytes("US-ASCII")
    val out = Array.newBuilder[Int]
    var pos = hdr.bodyStart
    while (pos < content.length) {
      require(pos + marker.length <= content.length &&
        marker.indices.forall(i => content(pos + i) == marker(i)),
        s"$filename: bad FRAME marker at byte $pos")
      var eol = pos + marker.length
      while (eol < content.length && content(eol) != '\n'.toByte) eol += 1
      require(eol < content.length, s"$filename: unterminated FRAME line")
      out += eol + 1
      require(eol + 1 + hdr.frameBytes <= content.length,
        s"$filename: truncated frame payload at byte ${eol + 1}")
      pos = eol + 1 + hdr.frameBytes
    }
    out.result()
  }

  private def clamp01(v: Double): Float =
    if (v <= 0) 0f else if (v >= 1) 1f else v.toFloat

  /** One frame's planar YUV → interleaved normalized RGB floats.
    * BT.601; limited range (16-235 luma) except the jpeg variant.
    */
  private[pipeline] def toRgb(content: Array[Byte], off: Int,
      hdr: Header): Array[Float] = {
    val w = hdr.w; val h = hdr.h
    val px = new Array[Float](w * h * 3)
    val uOff = off + hdr.ySize
    val vOff = uOff + hdr.cSize
    // chroma index for (x, y) by subsampling mode; -1 = achromatic
    val cw = hdr.colorspace match {
      case "mono" => -1
      case "444" => w
      case _ => w / 2 // 420 and 422 both halve horizontally
    }
    val halveY = hdr.colorspace.startsWith("420")
    var p = 0
    var y = 0
    while (y < h) {
      val cy = if (halveY) y / 2 else y
      var x = 0
      while (x < w) {
        val yv = (content(off + y * w + x) & 0xff).toDouble
        var r = 0d; var g = 0d; var b = 0d
        if (cw < 0) { // mono: limited-range luma only
          val c = 1.164383 * (yv - 16)
          r = c; g = c; b = c
        } else {
          val ci = cy * cw + (if (cw == w) x else x / 2)
          val u = (content(uOff + ci) & 0xff) - 128.0
          val v = (content(vOff + ci) & 0xff) - 128.0
          if (hdr.fullRange) {
            r = yv + 1.402 * v
            g = yv - 0.344136 * u - 0.714136 * v
            b = yv + 1.772 * u
          } else {
            val c = 1.164383 * (yv - 16)
            r = c + 1.596027 * v
            g = c - 0.391762 * u - 0.812968 * v
            b = c + 2.017232 * u
          }
        }
        px(p) = clamp01(r / 255.0)
        px(p + 1) = clamp01(g / 255.0)
        px(p + 2) = clamp01(b / 255.0)
        p += 3
        x += 1
      }
      y += 1
    }
    px
  }

  /** Frame i spans [i, i+1) · fpsDen/fpsNum s, so the frame covering
    * tick time t ms is floor(t · fpsNum / (1000 · fpsDen)).
    */
  private def parse(filename: String, bytes: Array[Byte]): ParsedVideo = {
    val hdr = parseHeader(filename, bytes)
    val offsets = frameOffsets(filename, bytes, hdr)
    ParsedVideo(hdr.h, hdr.w, offsets.length,
      BigInt(offsets.length) * hdr.fpsDen, hdr.fpsNum,
      tsMs => tsMs * hdr.fpsNum / (1000L * hdr.fpsDen),
      Some(i => toRgb(bytes, offsets(i), hdr)))
  }

  /** Minimal y4m writer — the test-fixture companion (also handy for
    * dumping debug clips). Planes are the caller's raw bytes.
    */
  def write(w: Int, h: Int, fpsNum: Long, fpsDen: Long, colorspace: String,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F$fpsNum:$fpsDen Ip A1:1 C$colorspace\n"
      .getBytes("US-ASCII"))
    frames.foreach { f =>
      out.write("FRAME\n".getBytes("US-ASCII"))
      out.write(f)
    }
    out.toByteArray
  }
}

/** The deployment seam, one level up from
  * [[FfmpegFrameDecoder.orSynthetic]]: dispatch per FILE by content
  * magic, not by classpath alone — y4m streams (raw planar), MJPEG
  * AVIs (compressed, decoded by the JVM's own JPEG reader), and PNGs
  * (compressed stills as 1-frame videos, [[PngFrameDecoder]]) take the
  * pure-JVM paths everywhere (extensions lie; ffmpeg also sniffs
  * content), and everything else takes the best decoder this JVM
  * offers (JavaCV when present, deterministic synthetic otherwise).
  */
object AutoFrameDecoder {
  /** Files whose on-disk head probe threw (per-JVM, test-visible): each
    * is logged to stderr and counted here before falling through to the
    * fallback decoder, so a synthetic-pixel substitution can never
    * happen without a trace. In-memory content and missing-file fixture
    * paths that never open a stream successfully land here too — by
    * design the fallback still owns the decode decision; this counter
    * only guarantees observability.
    */
  val probeFailures = new java.util.concurrent.atomic.LongAdder
}

final class AutoFrameDecoder(
    fallback: FrameDecoder = FfmpegFrameDecoder.orSynthetic())
    extends FrameDecoder {

  private val y4m = new Y4MFrameDecoder
  private val avi = new AviMjpegFrameDecoder
  private val png = new PngFrameDecoder
  // mp4 and mkv share the SAME fallback: an ISO-BMFF container routes
  // here on its ftyp magic (Matroska/WebM on the EBML magic), and a
  // non-JPEG codec inside then delegates codec-level, keeping the
  // env-gated JavaCV/synthetic boundary at the narrowest possible seam
  private val mp4 = new Mp4FrameDecoder(fallback)
  private val mkv = new MkvFrameDecoder(fallback)

  /** File-path decode (content == null, the DSv2 source's shape) sniffs
    * the stream head FROM DISK — same magic rules as in-memory content,
    * so extensions lie harmlessly on both paths. The probe is a
    * readNBytes LOOP, not a single read(): a stream may legally return
    * fewer than 16 bytes per read, and a short probe would misroute a
    * real y4m/AVI to the fallback — which, without JavaCV, fabricates
    * deterministic synthetic pixels, i.e. real corpus data silently
    * replaced by fake frames. An unreadable path still falls through to
    * the fallback (it owns the error/synthetic decision, as it always
    * has) but is now logged and counted, never swallowed silently.
    */
  private def headBytes(filename: String): Array[Byte] =
    try {
      val in = java.nio.file.Files.newInputStream(
        java.nio.file.Paths.get(filename.stripPrefix("file:")))
      try in.readNBytes(16)
      finally in.close()
    } catch {
      case e: Exception =>
        AutoFrameDecoder.probeFailures.increment()
        System.err.println(
          s"[videoframes] head probe failed for $filename — " +
            s"routing to fallback decoder: $e")
        Array.emptyByteArray
    }

  private def route(filename: String, content: Array[Byte]): FrameDecoder = {
    val probe = if (content != null) content else headBytes(filename)
    if (Y4MFrameDecoder.sniff(probe)) y4m
    else if (AviMjpegFrameDecoder.sniff(probe)) avi
    else if (Mp4FrameDecoder.sniff(probe)) mp4 // ftyp at bytes 4-7
    else if (MkvFrameDecoder.sniff(probe)) mkv // EBML magic 1A45DFA3
    else if (PngCodec.sniff(probe)) png // an image is a 1-frame video
    else fallback
  }

  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] =
    route(filename, content).decode(filename, content, sampleRateMs)

  override def decodeMeta(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] =
    route(filename, content).decodeMeta(filename, content, sampleRateMs)
}
