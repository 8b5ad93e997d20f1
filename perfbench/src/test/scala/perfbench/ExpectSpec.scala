package perfbench

import graft.pipeline._
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own helpers: the digest, the percentile, and the
  * corpus predictions its correctness gate compares the pipeline with.
  */
class ExpectSpec extends AnyFunSuite {

  private def rec(i: Int, logit: Float = 0.5f) = Expect.Rec("train",
    s"videos/A/B/clip_$i.mkv", "A", 2.0f, 20f, -1, -1, Array(i * 500L),
    Array(Array(logit, i.toFloat)))

  test("digest ignores order and sees every record") {
    val hs = (0 until 50).map(i => Expect.recordHash(rec(i)))
    val d = Expect.digest(hs)
    assert(Expect.digest(scala.util.Random.shuffle(hs)) == d)
    assert(d.startsWith("50:"))
    assert(Expect.digest(hs.init) != d)
    assert(Expect.digest(hs :+ hs.head) != d) // duplicates count
  }

  test("record hash covers the logits, the window and the split") {
    val h = Expect.recordHash(rec(3))
    assert(Expect.recordHash(rec(3, logit = 0.25f)) != h)
    assert(Expect.recordHash(rec(3).copy(windowStart = 0)) != h)
    assert(Expect.recordHash(rec(3).copy(dataset = "val")) != h)
    assert(Expect.recordHash(rec(3)) == h)
  }

  test("percentile interpolates between closest ranks") {
    assert(Expect.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(Expect.percentile(Seq(7.0), 90) == 7.0)
    val xs = (1 to 10).map(_.toDouble)
    assert(Expect.percentile(xs, 0) == 1.0)
    assert(Expect.percentile(xs, 100) == 10.0)
    assert(math.abs(Expect.percentile(xs, 90) - 9.1) < 1e-12)
    assert(Expect.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("predicted frame counts match what each container decoder emits") {
    val root = Files.createTempDirectory("perfbench_corpus")
    val fb = new SyntheticFrameDecoder()
    for ((shape, rate) <- Seq(
        Corpus.Shape(3, Seq("avi", "mp4", "mkv"), raw = false, 32, 24, 25, 3, 2) -> 500L,
        Corpus.Shape(3, Seq("avi", "mp4", "mkv"), raw = false, 32, 24, 25, 3, 0) -> 333L,
        Corpus.Shape(2, Seq("mkv"), raw = true, 16, 12, 10, 4, 0) -> 500L)) {
      val gen = Corpus.generate(root.resolve(s"${shape.raw}-$rate"), shape, 7L, 2)
      gen.clips.foreach { c =>
        val bytes = Files.readAllBytes(gen.root.resolve(c.rel))
        val frames = new AutoFrameDecoder(fb).decode(c.rel, bytes, rate).toSeq
        assert(frames.size == Corpus.sampledFrames(c.nativeFrames, c.fps, rate),
          s"${c.rel} at $rate ms")
        assert(frames.forall(_.image.length == shape.width * shape.height * 3))
      }
      assert(gen.frames(rate) ==
        gen.clips.map(c => Corpus.sampledFrames(c.nativeFrames, c.fps, rate)).sum)
    }
  }

  test("generation is a function of the seed") {
    val shape = Corpus.Shape(3, Seq("avi", "mkv"), raw = false, 16, 16, 5, 2, 2)
    def bytes(seed: Long, threads: Int) = {
      val g = Corpus.generate(Files.createTempDirectory("perfbench_seed"),
        shape, seed, threads)
      g.clips.map(c => (c.rel, Files.readAllBytes(g.root.resolve(c.rel)).toSeq))
    }
    assert(bytes(3L, 1) == bytes(3L, 3))
    assert(bytes(3L, 1) != bytes(4L, 1))
    assert(Corpus.documents(50, 9L) == Corpus.documents(50, 9L))
    assert(Corpus.documents(50, 9L).map(_.n_chars) ==
      Corpus.documents(50, 9L).map(_.text.length.toLong))
  }

  test("crop windows and splits agree with the pipeline's Spark stages") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      import spark.implicits._
      val rate = 500L
      // lengths around one window (30 frames of 500 ms = 15 s) and longer
      val lengths = Seq(1, 29, 30, 31, 45, 120)
      val frames = lengths.flatMap { n =>
        (0 until n).map(i => EmbeddedFrame(s"f$n", "A", "train", i * rate,
          1000.0 / rate, n.toDouble, Array(i.toFloat)))
      }.toDS().toDF()
      val got = Samples.cropVideo(frames, Seq("timestamp_ms", "logits"),
        15000L, 1000L)
        .select(col("filename"), col("window_start"), col("window_end"),
          col("timestamp_ms")).as[(String, Long, Long, Seq[Long])]
        .collect().toSet
      val want = lengths.flatMap { n =>
        Expect.cropWindows(n, rate, 15000L, 1000L).map { case (s, e, idx) =>
          (s"f$n", s, e, idx.map(_ * rate))
        }
      }.toSet
      assert(got == want)

      val names = (0 until 200).map(i => s"file:/data/videos/A/B/clip_$i.avi")
      val split = Ingest.splitByHash(names.toDF("filename"), 0.70, 0.15, 0.15)
        .as[(String, String)].collect().toMap
      assert(names.forall(n => split(n) == Expect.split(n)))
      assert(split.values.toSet == Set("train", "val", "test"))
    } finally spark.stop()
  }
}
