package perfbench

import graft.pipeline.{AviMjpegFrameDecoder, MkvFrameDecoder, Mp4FrameDecoder}
import java.nio.file.{Files, Path}

/** Seeded input generation and the record counts it implies.
  *
  * Video clips are real container bytes made with the engine's own
  * writers (MJPEG in AVI, MP4 and Matroska; raw I420 in Matroska), laid
  * out as `videos/<label>/<source>/clip_<i>.<ext>` so the pipeline's
  * label rule (third path segment from the end) yields real labels. The
  * same seed gives the same bytes; only the seed changes content, names
  * and labels, never the number of files or frames, so every seed of a
  * workload does the same amount of work.
  */
object Corpus {

  /** Shape of one workload's clip corpus. `containers` are cycled over
    * the clips; `raw` selects I420 frames in Matroska instead of MJPEG.
    */
  final case class Shape(clips: Int, containers: Seq[String], raw: Boolean,
      width: Int, height: Int, fps: Int, seconds: Int, decoys: Int)

  final case class Clip(rel: String, container: String, nativeFrames: Int,
      fps: Int, bytes: Long)

  final case class Generated(root: Path, clips: Seq[Clip], decoys: Int,
      decoyBytes: Long) {
    def videoBytes: Long = clips.map(_.bytes).sum

    /** Frames the pipeline decodes from the whole corpus at `rateMs`. */
    def frames(rateMs: Long): Long =
      clips.map(c => sampledFrames(c.nativeFrames, c.fps, rateMs).toLong).sum
  }

  val Labels: Seq[String] = Seq("Animation", "Gaming", "Music", "Sports")
  val Sources: Seq[String] = Seq("360P", "480P", "720P")

  /** Writes the corpus under `root/videos` and returns what it wrote. */
  def generate(root: Path, shape: Shape, seed: Long, threads: Int): Generated = {
    val rng = new java.util.SplittableRandom(seed)
    // names and per-clip generators are drawn in order, so the bytes do
    // not depend on how the clips are spread over threads
    val plan = (0 until shape.clips).map { i =>
      val container = shape.containers(i % shape.containers.size)
      val rel = s"videos/${Labels(rng.nextInt(Labels.size))}/" +
        s"${Sources(rng.nextInt(Sources.size))}/clip_$i.$container"
      (rel, container, rng.split())
    }
    val clips = parallel(plan, threads) { case (rel, container, r) =>
      val n = shape.fps * shape.seconds
      val bytes = clipBytes(shape, container, n, r)
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
      Clip(rel, container, n, shape.fps, bytes.length.toLong)
    }
    // decoys: names the extension filter must drop (a .txt and a .webm —
    // the latter a real container type the pipeline does not list)
    val decoyBytes = (0 until shape.decoys).map { i =>
      val ext = if (i % 2 == 0) "txt" else "webm"
      val p = root.resolve(s"videos/${Labels(i % Labels.size)}/misc/" +
        s"decoy_$i.$ext")
      Files.createDirectories(p.getParent)
      val b = Array.fill(256 + rng.nextInt(1024))(
        ('a' + rng.nextInt(26)).toByte)
      Files.write(p, b)
      b.length.toLong
    }.sum
    Generated(root, clips, shape.decoys, decoyBytes)
  }

  /** `xs.map(f)` on a pool of `threads`, results in input order. */
  def parallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      futures.map(_.get())
    } finally pool.shutdownNow()
  }

  /** Native frame index shown at each sampling tick: the decoders pick
    * frame `floor(t * rate * fps / 1000)` for tick t while that index is
    * in range.
    */
  def tickFrames(nativeFrames: Int, fps: Int, rateMs: Long): Array[Int] =
    Array.tabulate(sampledFrames(nativeFrames, fps, rateMs))(t =>
      (t.toLong * rateMs * fps / 1000L).toInt)

  /** Frames the decoders emit for a clip: ticks t >= 0 with
    * t * rate * fps < 1000 * nativeFrames.
    */
  def sampledFrames(nativeFrames: Int, fps: Int, rateMs: Long): Int = {
    val limit = 1000L * nativeFrames
    val step = rateMs * fps
    ((limit + step - 1) / step).toInt
  }

  private def clipBytes(shape: Shape, container: String, n: Int,
      rng: java.util.SplittableRandom): Array[Byte] = {
    import shape.{width => w, height => h}
    // one distinct picture per sampling tick of the coarsest rate any
    // workload uses (500 ms); frames between ticks repeat the picture
    // bytes, which keeps generation cheap without changing container size
    val ticks = tickFrames(n, shape.fps, 500L)
    val pictures = ticks.indices.map { t =>
      val rgb = picture(w, h, t, rng.nextLong())
      if (shape.raw) i420(rgb, w, h)
      else AviMjpegFrameDecoder.encodeJpeg(rgb, w, h)
    }
    var t = 0
    val frames = (0 until n).map { i =>
      while (t + 1 < ticks.length && ticks(t + 1) <= i) t += 1
      pictures(t)
    }
    (container, shape.raw) match {
      case ("mkv", true) => MkvFrameDecoder.write(w, h, shape.fps, 1L, frames,
        codecId = "V_UNCOMPRESSED", colourSpace = "I420")
      case (_, true) => throw new IllegalArgumentException(
        s"raw frames need the mkv container, got $container")
      case ("avi", _) => AviMjpegFrameDecoder.write(w, h, shape.fps, 1L, frames)
      case ("mp4", _) => Mp4FrameDecoder.write(w, h, shape.fps, 1L, frames)
      case ("mkv", _) => MkvFrameDecoder.write(w, h, shape.fps, 1L, frames)
      case (other, _) => throw new IllegalArgumentException(
        s"unknown container $other")
    }
  }

  /** Interleaved RGB floats in [0, 1]: per-channel tent waves of a seeded
    * linear ramp that drifts with the tick, plus a little hash noise, so
    * JPEG sees real edges and texture.
    */
  private def picture(w: Int, h: Int, tick: Int, seed: Long): Array[Float] = {
    val r = new java.util.SplittableRandom(seed)
    val ax = Array.fill(3)(r.nextDouble(0.002, 0.03))
    val ay = Array.fill(3)(r.nextDouble(0.002, 0.03))
    val ph = Array.fill(3)(r.nextDouble() + tick * 0.07)
    val out = new Array[Float](w * h * 3)
    var x0 = seed
    var p = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) {
          val v = ax(c) * x + ay(c) * y + ph(c)
          val tent = math.abs((v - math.floor(v)) * 2 - 1)
          x0 ^= x0 << 13; x0 ^= x0 >>> 7; x0 ^= x0 << 17
          val noise = ((x0 >>> 40) & 0xff) / 255.0 * 0.08
          out(p) = math.min(1.0, tent * 0.92 + noise).toFloat
          p += 1
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** RGB floats → one I420 frame (BT.601 limited range, 2×2 chroma). */
  private def i420(rgb: Array[Float], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h + 2 * (w / 2) * (h / 2))
    def px(x: Int, y: Int, c: Int): Double = rgb((y * w + x) * 3 + c) * 255.0
    def clamp(v: Double): Byte = math.max(0, math.min(255,
      math.round(v).toInt)).toByte
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = (px(x, y, 0), px(x, y, 1), px(x, y, 2))
      out(y * w + x) = clamp(16 + 0.257 * r + 0.504 * g + 0.098 * b)
    }
    val cw = w / 2
    for (y <- 0 until h / 2; x <- 0 until cw) {
      val (r, g, b) = (px(2 * x, 2 * y, 0), px(2 * x, 2 * y, 1),
        px(2 * x, 2 * y, 2))
      out(w * h + y * cw + x) = clamp(128 - 0.148 * r - 0.291 * g + 0.439 * b)
      out(w * h + cw * (h / 2) + y * cw + x) =
        clamp(128 + 0.439 * r - 0.368 * g - 0.071 * b)
    }
    out
  }

  // ---- the documents table of the query workload ------------------------

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** A `documents` table with the engine fixtures' shape: 10-100 words
    * from a 30-word vocabulary, 20 round-robin sources, five languages
    * (English-heavy), 5% near-duplicates (another document plus " dup")
    * and a few exact duplicates, so the LSH queries find real clusters.
    */
  def documents(n: Int, seed: Long): Seq[Doc] = {
    val rng = new java.util.SplittableRandom(seed)
    val base = Array.fill(n)(Seq.fill(10 + rng.nextInt(91))(
      Vocab(rng.nextInt(Vocab.size))).mkString(" "))
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    (0 until n).map { i =>
      val roll = rng.nextInt(1000)
      val text =
        if (roll < 50) base(rng.nextInt(n)) + " dup"
        else if (roll < 52) base(rng.nextInt(n))
        else base(i)
      Doc(i.toLong, text, langs(rng.nextInt(langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
  }
}
