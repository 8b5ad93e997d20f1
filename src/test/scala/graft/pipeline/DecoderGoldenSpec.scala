package graft.pipeline

import java.nio.file.Files
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact output of every pure-JVM container decoder: a fixed
  * corpus (y4m in four colorspaces, MJPEG AVI, progressive and
  * fragmented MP4, laced V_MJPEG and raw I420 Matroska, PNG) decoded at
  * six sample rates through both `decode` and `decodeMeta`, hashed down
  * to the bits of every float. Frame choice, `frame_total`,
  * `frame_per_sec`, dimensions and pixels must not drift when the
  * decoders are refactored; the perfbench digest cannot catch that,
  * because its reference runs these same decoders.
  */
class DecoderGoldenSpec extends AnyFunSuite {

  private val Rates = Seq(40L, 100L, 250L, 333L, 500L, 2500L)

  private def y4m(cs: String, w: Int, h: Int, num: Long, den: Long,
      n: Int, seed: Int): Array[Byte] = {
    val c = cs match {
      case "mono" => 0
      case "444" => w * h
      case _ => (w / 2) * (h / 2)
    }
    val rnd = new scala.util.Random(seed)
    Y4MFrameDecoder.write(w, h, num, den, cs,
      Seq.fill(n) { val f = new Array[Byte](w * h + 2 * c); rnd.nextBytes(f); f })
  }

  private def jpegs(w: Int, h: Int, n: Int): Seq[Array[Byte]] =
    (0 until n).map { k =>
      AviMjpegFrameDecoder.encodeJpeg(Array.tabulate(w * h * 3) { p =>
        val px = p / 3
        ((px % w) * 13 + (px / w) * 7 + k * 29 + (p % 3) * 71) % 256 / 255f
      }, w, h)
    }

  private def corpus: Seq[(String, Array[Byte])] = {
    val i420 = {
      val rnd = new scala.util.Random(7)
      Seq.fill(9) { val f = new Array[Byte](8 * 6 * 3 / 2); rnd.nextBytes(f); f }
    }
    Seq(
      "c420.y4m" -> y4m("420", 8, 6, 25, 1, 12, 1),
      "c420jpeg.y4m" -> y4m("420jpeg", 6, 4, 30000, 1001, 10, 2),
      "c444.y4m" -> y4m("444", 4, 4, 7, 2, 5, 3),
      "cmono.y4m" -> y4m("mono", 6, 2, 1, 1, 3, 4),
      "mjpeg.avi" -> AviMjpegFrameDecoder.write(16, 8, 25, 1, jpegs(16, 8, 12)),
      "progressive.mp4" -> Mp4FrameDecoder.write(16, 8, 30000, 1001,
        jpegs(16, 8, 10), samplesPerChunk = 3),
      "fragmented.mp4" -> Mp4FrameDecoder.writeFragmented(8, 16, 24, 1,
        jpegs(8, 16, 9), framesPerFragment = 4),
      "laced.mkv" -> MkvFrameDecoder.write(16, 8, 25, 1, jpegs(16, 8, 11),
        framesPerCluster = 3, lacing = 1),
      "i420.mkv" -> MkvFrameDecoder.write(8, 6, 12, 1, i420,
        codecId = "V_UNCOMPRESSED", colourSpace = "I420"),
      "still.png" -> PngCodec.encode(5, 3,
        Array.tabulate(15)(i => (i * 53 % 256) * 65793)))
  }

  private def digest(frames: Seq[DecodedFrame], md: MessageDigest): Unit = {
    val buf = java.nio.ByteBuffer.allocate(40)
    frames.foreach { f =>
      buf.clear()
      buf.putLong(f.timestampMs)
        .putLong(java.lang.Double.doubleToLongBits(f.framePerSec))
        .putLong(java.lang.Double.doubleToLongBits(f.frameTotal))
        .putInt(f.height).putInt(f.width).putInt(f.image.length)
      md.update(buf.array(), 0, buf.position())
      val px = java.nio.ByteBuffer.allocate(4 * f.image.length)
      f.image.foreach(v => px.putInt(java.lang.Float.floatToIntBits(v)))
      md.update(px.array())
    }
  }

  /** Per file: sha-256 over (rate, mode, every frame) in a fixed order. */
  private def fileDigests(): Map[String, String] = {
    val dec = new AutoFrameDecoder(new FrameDecoder {
      def decode(filename: String, content: Array[Byte],
          sampleRateMs: Long): Iterator[DecodedFrame] =
        throw new IllegalStateException(s"$filename reached the fallback")
    })
    val dir = Files.createTempDirectory("decoder-golden")
    try corpus.map { case (name, bytes) =>
      val path = dir.resolve(name)
      Files.write(path, bytes)
      val md = MessageDigest.getInstance("SHA-256")
      for (rate <- Rates; meta <- Seq(false, true)) {
        def run(content: Array[Byte], file: String) =
          (if (meta) dec.decodeMeta(file, content, rate)
           else dec.decode(file, content, rate)).toSeq
        val frames = run(bytes, name)
        assert(frames.nonEmpty, s"$name @ $rate")
        // the path read (content == null) must yield the same frames
        val fromDisk = run(null, path.toString)
        assert(fromDisk.map(f => (f.timestampMs, f.image.toSeq)) ===
          frames.map(f => (f.timestampMs, f.image.toSeq)), s"$name @ $rate")
        md.update(s"$rate/$meta/${frames.size};".getBytes("US-ASCII"))
        digest(frames, md)
      }
      name -> md.digest().map("%02x".format(_)).mkString
    }.toMap
    finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }

  private val Pinned: Map[String, String] = Map(
    "c420.y4m" -> "03f92cf3c4ca1c22b22516e39c79aa6c2e607548ed17294527e2226014f7374d",
    "c420jpeg.y4m" -> "ea6ca37a08faa182818ab5cb396d756fbde9b8718779ffcf55967fb9435e04e4",
    "c444.y4m" -> "37cb0bf6910d960f1ffabfd1d05ce164288cf4aefe3a10fa5e097175b1312f2f",
    "cmono.y4m" -> "6bb5cc3941638b15cc5db5a7103c3725f0658d81c37ad8edd080deb775daf3c0",
    "fragmented.mp4" -> "a65bba268e8478dc043eec2ff2fd7f924f8af48862a902df74b2fd6f934d0b07",
    "i420.mkv" -> "7e3826d06514aa5ea63785b4b5e114c58cc19842815eb301921c28f032ecb159",
    "laced.mkv" -> "0cdd98e69fa1ff8a9442604dadb4d9e86d24f2ac711aab68cef57da88b4f6563",
    "mjpeg.avi" -> "0c8337ecf0e601c530ecb9d8c181579a40335a72fcfd9a6f7d45a3bfa4e58dc2",
    "progressive.mp4" -> "a9b9095add618f0c17e55af29f40a8ed987f40c38f5967b1b77983ae5742edb4",
    "still.png" -> "b50db9423ec1981521586b70f8426bc9f77f490a43a696dfc6a7acba21dae6a7")

  test("every container decodes to the pinned frames at every rate, " +
      "pixels and metadata alike") {
    val got = fileDigests()
    assert(got === Pinned, got.toSeq.sorted
      .map { case (k, v) => s"\"$k\" -> \"$v\"" }.mkString(",\n"))
  }
}
