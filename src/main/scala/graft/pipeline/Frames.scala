package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}

/** O7 — the frame-extraction UDTF (reference: preprocess.py:156-189).
  *
  * The decode itself sits behind [[FrameDecoder]]: [[FfmpegFrameDecoder]]
  * binds JavaCV reflectively (load-if-present — the offline container has
  * no codec jars), and [[SyntheticFrameDecoder]] provides a deterministic
  * fallback that exercises every downstream stage (batching, grouping,
  * pivot, sink) with real Spark plumbing. The flatMap is the Spark-native
  * shape of a 1→N generator: no shuffle, decode parallelism = input file
  * partitioning.
  */
trait FrameDecoder extends Serializable {

  /** Decode one file's bytes, emitting a frame every `sampleRateMs`
    * milliseconds of video time (reference default 500 ms,
    * run_preprocess.py:88-91). `content` may be null for metadata-only
    * decoders (synthetic).
    */
  def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame]

  /** Metadata-only decode: same frames, `image` empty, pixel work
    * skipped. The hook the column-pruning DataSource V2 path
    * (sources.VideoFrameSource) pushes into — a real decoder reads
    * container headers only. Default falls back to the full decode.
    */
  def decodeMeta(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] =
    decode(filename, content, sampleRateMs)
}

object FrameDecoder {

  /** Effective fps of the emitted frame stream: one frame per
    * `sampleRateMs` of video time. EXACT division, no rounding — the
    * downstream window-validity rule divides by this
    * (`video_length = 1000 * frame_total / frame_per_sec`,
    * preprocess.py:293), so round(1000/2500)=0 would make every window
    * length infinite and round(1000/667)=1 would misstate the video
    * length by 33%. One definition shared by every decoder.
    */
  def effectiveFps(sampleRateMs: Long): Double = {
    require(sampleRateMs > 0, s"frame sample rate must be positive ms," +
      s" got $sampleRateMs")
    1000.0 / sampleRateMs
  }
}

/** One video stream as a container parser hands it to [[FrameSampler]]:
  * the frame size, the native frame count, the media end
  * (`endUnits / unitsPerSec` seconds, `unitsPerSec` > 0), the
  * container's own tick→frame arithmetic (`covering`: tick time in ms →
  * native frame index) and a per-index pixel converter — `None` when the
  * codec has no pure-JVM path and pixels must come from the fallback
  * decoder.
  */
private[pipeline] final case class ParsedVideo(height: Int, width: Int,
    frames: Int, endUnits: BigInt, unitsPerSec: Long,
    covering: Long => Long, pixels: Option[Int => Array[Float]])

/** A decoder that is only a container parser: [[FrameSampler]] turns the
  * parsed stream into frames. `fallback` decodes the pixels of a codec
  * the parser has no pure-JVM path for.
  */
abstract class ContainerFrameDecoder private[pipeline] (
    parse: (String, Array[Byte]) => ParsedVideo,
    fallback: FrameDecoder = null) extends FrameDecoder {

  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] =
    FrameSampler.sample(filename, content, sampleRateMs, withPixels = true,
      fallback)(parse)

  override def decodeMeta(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] =
    FrameSampler.sample(filename, content, sampleRateMs, withPixels = false,
      fallback)(parse)
}

/** The frame sampler behind the y4m, AVI, MP4 and Matroska decoders
  * (reference: preprocess.py:156-189, the JavaCV grab loop in
  * [[FfmpegFrameDecoder.grabFrames]]): one tick every `sampleRateMs` of
  * video time, `tsMs = i · sampleRateMs`, stopping at the first tick at
  * or past the media end; each tick emits the native frame whose interval
  * covers it, and a frame that covers several ticks is decoded once.
  * `frame_per_sec` is the emitted cadence ([[FrameDecoder.effectiveFps]])
  * and `frame_total` the emitted count, as with [[SyntheticFrameDecoder]].
  * `decodeMeta` runs the same ticks without touching pixels.
  */
private[pipeline] object FrameSampler {

  /** Ticks per file, at most. 10M ticks at the default 500 ms is ~58 days
    * of video, far past any real clip: a header that claims more is
    * corrupt, and fails typed before anything is allocated instead of
    * exhausting the heap.
    */
  val MaxTicks = 10000000L

  /** The file's bytes: `content` when given, else read from the path. */
  def bytesOf(filename: String, content: Array[Byte]): Array[Byte] =
    if (content != null) content
    else java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      filename.stripPrefix("file:")))

  def sample(filename: String, content: Array[Byte], sampleRateMs: Long,
      withPixels: Boolean, fallback: FrameDecoder)(
      parse: (String, Array[Byte]) => ParsedVideo): Iterator[DecodedFrame] = {
    val video = parse(filename, bytesOf(filename, content))
    if (withPixels && video.pixels.isEmpty)
      return fallback.decode(filename, content, sampleRateMs)
    val fps = FrameDecoder.effectiveFps(sampleRateMs)
    // tick i is inside the video iff i·sampleRateMs·unitsPerSec <
    // endUnits·1000; exact arithmetic, so no header can wrap the count
    val step = BigInt(sampleRateMs) * video.unitsPerSec
    val ticks = (video.endUnits.max(0) * 1000 + step - 1) / step
    require(ticks <= MaxTicks && ticks * sampleRateMs <= Long.MaxValue,
      s"$filename: $ticks sample ticks at $sampleRateMs ms exceed the " +
        s"$MaxTicks-tick bound (media end ${video.endUnits} units at " +
        s"${video.unitsPerSec}/s)")
    val total = ticks.toDouble
    val pixels = video.pixels.filter(_ => withPixels)
    var cachedIdx = -1L
    var cached = Array.emptyFloatArray
    Iterator.range(0, ticks.toInt).map { i =>
      val tsMs = i * sampleRateMs
      val idx = video.covering(tsMs)
      require(idx >= 0 && idx < video.frames, s"$filename: the tick at " +
        s"$tsMs ms falls on frame $idx of ${video.frames}")
      pixels.foreach { px =>
        if (idx != cachedIdx) { cached = px(idx.toInt); cachedIdx = idx }
      }
      DecodedFrame(tsMs, fps, total, video.height, video.width, cached)
    }
  }

  /** Index of the frame whose [start, next start) interval covers `t`,
    * given non-decreasing frame start times.
    */
  def covering(starts: Array[Long], t: Long): Long = {
    var lo = 0
    var hi = starts.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) >>> 1
      if (starts(mid) <= t) lo = mid else hi = mid - 1
    }
    lo
  }

  /** One JPEG → interleaved normalized RGB floats via the JVM's own
    * ImageIO reader (present in every JRE). The offset is file content,
    * so it is bounds-checked before any read, and the decoded size must
    * match the container header — a lying header fails loudly rather
    * than emitting misshapen tensors.
    */
  def jpegToRgb(filename: String, b: Array[Byte], off: Long, len: Int,
      w: Int, h: Int): Array[Float] = {
    // subtraction form, NOT `off + len <= b.length`: a near-Long.Max
    // offset would overflow the sum negative and sail through
    require(off >= 0 && len >= 0 && off <= b.length - len,
      s"$filename: frame [$off, +$len) overruns the ${b.length}-byte file")
    val o = off.toInt
    require(len >= 2 && (b(o) & 0xff) == 0xff && (b(o + 1) & 0xff) == 0xd8,
      s"$filename: frame at byte $off is not a JPEG")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(b, o, len))
    require(img != null,
      s"$filename: ImageIO failed to decode the JPEG at byte $off")
    require(img.getWidth == w && img.getHeight == h,
      s"$filename: frame is ${img.getWidth}x${img.getHeight} but the " +
        s"container header says ${w}x$h")
    val px = new Array[Float](w * h * 3)
    val row = new Array[Int](w)
    var p = 0
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val rgb = row(x)
        px(p) = ((rgb >> 16) & 0xff) / 255.0f
        px(p + 1) = ((rgb >> 8) & 0xff) / 255.0f
        px(p + 2) = (rgb & 0xff) / 255.0f
        p += 3
        x += 1
      }
      y += 1
    }
    px
  }
}

/** Deterministic fake decoder: frame count, fps, and pixels derive from a
  * hash of the filename, so every run (and every engine re-running a lost
  * partition) produces identical frames. Pixels are normalized [0,1] floats
  * like the reference's (preprocess.py:178-180).
  */
final class SyntheticFrameDecoder(height: Int = 8, width: Int = 8,
    maxFrames: Int = 7) extends FrameDecoder {

  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    val h0 = filename.hashCode
    val nFrames = 1 + java.lang.Math.floorMod(h0, maxFrames)
    val fps = FrameDecoder.effectiveFps(sampleRateMs)
    Iterator.tabulate(nFrames) { i =>
      val image = new Array[Float](height * width * 3)
      var x = h0 * 31 + i
      var p = 0
      while (p < image.length) {
        // xorshift — cheap deterministic pseudo-pixels in [0,1)
        x ^= x << 13; x ^= x >>> 17; x ^= x << 5
        image(p) = ((x >>> 8) & 0xffff) / 65536.0f
        p += 1
      }
      DecodedFrame(i * sampleRateMs, fps, nFrames.toDouble, height, width,
        image)
    }
  }

  override def decodeMeta(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    val h0 = filename.hashCode
    val nFrames = 1 + java.lang.Math.floorMod(h0, maxFrames)
    val fps = FrameDecoder.effectiveFps(sampleRateMs)
    Iterator.tabulate(nFrames)(i => DecodedFrame(i * sampleRateMs, fps,
      nFrames.toDouble, height, width, Array.emptyFloatArray))
  }
}

/** Production video decoder over JavaCV's FFmpegFrameGrabber, bound
  * reflectively so the library compiles and runs without the (absent
  * offline) codec jars. [[FfmpegFrameDecoder.orSynthetic]] is the
  * deployment seam: real FFmpeg when `org.bytedeco.javacv` is on the
  * executor classpath, the deterministic synthetic decoder otherwise. The
  * Spark-side contract (schema, flatMap shape, partitioning) is identical
  * either way, so swapping changes no plan.
  *
  * Mirrors the reference's decode loop (preprocess.py:156-189): open the
  * container, seek to each sampleRateMs-spaced timestamp, grab one image
  * frame, normalize pixels to [0,1] floats.
  */
final class FfmpegFrameDecoder extends FrameDecoder {
  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    require(FfmpegFrameDecoder.available,
      "FFmpeg decode requested but org.bytedeco.javacv is not on the " +
        "classpath — add the JavaCV jars, or take the graceful seam " +
        "FfmpegFrameDecoder.orSynthetic()")
    FfmpegFrameDecoder.grabFrames(filename, content, sampleRateMs)
  }
}

object FfmpegFrameDecoder {

  /** True iff the JavaCV FFmpeg binding is loadable in this JVM. */
  lazy val available: Boolean =
    try {
      Class.forName("org.bytedeco.javacv.FFmpegFrameGrabber"); true
    } catch { case _: ClassNotFoundException | _: LinkageError => false }

  /** The best decoder this JVM can offer — the load-if-present seam.
    * Logged once so a cluster silently missing the codec jars is visible
    * in the driver log rather than only in the (synthetic) output.
    */
  def orSynthetic(): FrameDecoder =
    if (available) new FfmpegFrameDecoder
    else {
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn("JavaCV not on classpath — using SyntheticFrameDecoder")
      new SyntheticFrameDecoder()
    }

  /** Reflective decode loop; only reachable when [[available]]. Frames
    * are materialized before the grabber closes (the reference holds the
    * full sampled-frame list in memory too — at 2 fps this is small
    * relative to the container bytes already held in `content`).
    */
  private[pipeline] def grabFrames(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    val grabberCls = Class.forName("org.bytedeco.javacv.FFmpegFrameGrabber")
    val frameCls = Class.forName("org.bytedeco.javacv.Frame")
    val convCls = Class.forName("org.bytedeco.javacv.Java2DFrameConverter")
    val grabber =
      if (content != null)
        grabberCls.getConstructor(classOf[java.io.InputStream])
          .newInstance(new java.io.ByteArrayInputStream(content))
      else grabberCls.getConstructor(classOf[String]).newInstance(filename)
    val start = grabberCls.getMethod("start")
    val stop = grabberCls.getMethod("stop")
    val setTs = grabberCls.getMethod("setTimestamp", classOf[Long])
    val grabImage = grabberCls.getMethod("grabImage")
    val lengthInTime = grabberCls.getMethod("getLengthInTime")
    val converter = convCls.getConstructor().newInstance()
    val convert = convCls.getMethod("convert", frameCls)
    start.invoke(grabber)
    try {
      val durationUs = lengthInTime.invoke(grabber).asInstanceOf[Long]
      val n = math.max(1L, durationUs / 1000L / sampleRateMs + 1L).toInt
      val fps = FrameDecoder.effectiveFps(sampleRateMs)
      val frames = (0 until n).flatMap { i =>
        val tsMs = i.toLong * sampleRateMs
        setTs.invoke(grabber, java.lang.Long.valueOf(tsMs * 1000L))
        Option(grabImage.invoke(grabber)).map { frame =>
          val img = convert.invoke(converter, frame)
            .asInstanceOf[java.awt.image.BufferedImage]
          val (h, w) = (img.getHeight, img.getWidth)
          val px = new Array[Float](h * w * 3)
          var p = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              px(p) = ((rgb >> 16) & 0xff) / 255.0f
              px(p + 1) = ((rgb >> 8) & 0xff) / 255.0f
              px(p + 2) = (rgb & 0xff) / 255.0f
              p += 3
              x += 1
            }
            y += 1
          }
          DecodedFrame(tsMs, fps, n.toDouble, h, w, px)
        }
      }
      frames.iterator
    } finally stop.invoke(grabber)
  }
}

object Frames {

  /** Expand each file row into frame rows. Input needs columns
    * (filename, label, dataset[, content]); output is the fixed
    * [[FrameRow]] schema. Decode state is per-task; no shuffle introduced.
    */
  def extract(files: DataFrame, decoder: FrameDecoder,
      sampleRateMs: Long): Dataset[FrameRow] = {
    val spark = files.sparkSession
    import spark.implicits._
    val hasContent = files.columns.contains("content")
    val cols = Seq("filename", "label", "dataset") ++
      (if (hasContent) Seq("content") else Nil)
    files.selectExpr(cols: _*).flatMap { row =>
      val content =
        if (hasContent) row.getAs[Array[Byte]]("content") else null
      decoder.decode(row.getString(0), content, sampleRateMs).map { f =>
        FrameRow(row.getString(0), row.getString(1), row.getString(2),
          f.timestampMs, f.framePerSec, f.frameTotal, f.height, f.width,
          f.image)
      }
    }
  }
}
