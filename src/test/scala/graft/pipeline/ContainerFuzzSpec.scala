package graft.pipeline

import java.io.ByteArrayInputStream

import graft.warc.WarcIO
import org.scalatest.funsuite.AnyFunSuite

/** Totality of every pure-JVM container parser under hostile bytes —
  * the Mp4FrameSpec fuzz discipline applied to the rest of the decode
  * surface. A 100 TB crawl's file population includes every mutation
  * and truncation of every format; a parser in that path must be
  * TOTAL: bounded time, bounded memory, typed failure. Seeded and
  * deterministic. (The mp4 twin lives in Mp4FrameSpec.)
  */
class ContainerFuzzSpec extends AnyFunSuite {

  private def totalOrTyped(body: => Unit): Boolean =
    try { body; true }
    catch {
      case _: IllegalArgumentException | _: java.io.IOException |
          _: java.lang.IndexOutOfBoundsException |
          _: java.lang.NegativeArraySizeException |
          _: NumberFormatException => false
    }

  private def fuzz(name: String, good: Array[Byte])(
      parse: Array[Byte] => Unit): Unit = {
    val rnd = new scala.util.Random(4242)
    var ok = 0; var rejected = 0
    for (_ <- 1 to 200) {
      val bytes = good.clone()
      for (_ <- 1 to 1 + rnd.nextInt(4))
        bytes(rnd.nextInt(bytes.length)) = rnd.nextInt(256).toByte
      if (totalOrTyped(parse(bytes))) ok += 1 else rejected += 1
    }
    assert(ok + rejected === 200, name)
    for (n <- 1 until good.length by 61)
      totalOrTyped(parse(good.take(n)))
  }

  test("AVI: mutations and truncations are total; hostile rec-nesting " +
      "fails typed, not with a blown stack") {
    val gray = Array.fill(4 * 4 * 3)(0.5f)
    val jpeg = AviMjpegFrameDecoder.encodeJpeg(gray, 4, 4)
    val good = AviMjpegFrameDecoder.write(4, 4, 2, 1, Seq(jpeg, jpeg))
    val dec = new AviMjpegFrameDecoder()
    fuzz("avi", good)(b => dec.decode("f.avi", b, 500).foreach(_ => ()))

    // deep 'rec ' nesting: craft movi payload nesting 64 levels
    def list(lt: String, payload: Array[Byte]): Array[Byte] = {
      val sz = payload.length + 4
      Array[Byte]('L', 'I', 'S', 'T',
        (sz & 0xff).toByte, ((sz >> 8) & 0xff).toByte,
        ((sz >> 16) & 0xff).toByte, ((sz >> 24) & 0xff).toByte) ++
        lt.getBytes("US-ASCII") ++ payload
    }
    var inner = Array.emptyByteArray
    for (_ <- 1 to 64) inner = list("rec ", inner)
    val moviList = list("movi", inner)
    // rebuild a minimal RIFF with the original hdrl + the evil movi
    val s = new String(good, "ISO-8859-1")
    val hdrlStart = s.indexOf("LIST")
    // the movi LIST header starts 8 bytes before its type tag (hdrl
    // itself nests a "LIST strl", so "second LIST" would cut hdrl short)
    val moviStart = s.indexOf("movi") - 8
    val hdrl = good.slice(hdrlStart, moviStart)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ moviList
    val sz = body.length
    val evil = "RIFF".getBytes("US-ASCII") ++ Array[Byte](
      (sz & 0xff).toByte, ((sz >> 8) & 0xff).toByte,
      ((sz >> 16) & 0xff).toByte, ((sz >> 24) & 0xff).toByte) ++ body
    val e = intercept[IllegalArgumentException](
      dec.decode("evil.avi", evil, 500).foreach(_ => ()))
    assert(e.getMessage.contains("depth"))
  }

  test("MKV: mutations and truncations are total, with the TIGHT bound " +
      "(typed IllegalArgument/IO only — every EBML read is guarded, so " +
      "no raw IndexOutOfBounds tolerance like the legacy decoders)") {
    val gray = Array.fill(4 * 4 * 3)(0.5f)
    val jpeg = AviMjpegFrameDecoder.encodeJpeg(gray, 4, 4)
    val dec = new MkvFrameDecoder(fallback = new SyntheticFrameDecoder())
    // both a plain and a laced+grouped layout, so mutations exercise the
    // lace-size and BlockGroup walks too
    for ((good, seed) <- Seq(
        (MkvFrameDecoder.write(4, 4, 2, 1, Seq(jpeg, jpeg, jpeg)), 99),
        (MkvFrameDecoder.write(4, 4, 2, 1, Seq(jpeg, jpeg, jpeg),
          framesPerCluster = 3, lacing = 1, blockGroups = true), 100),
        // r17: the live-capture layout — unknown-size Clusters bounded
        // by their next sibling, so mutations also exercise the
        // boundUnknownCluster scan (id-class checks, lying child sizes)
        (MkvFrameDecoder.write(4, 4, 2, 1, Seq(jpeg, jpeg, jpeg, jpeg),
          framesPerCluster = 2, unknownSizeClusters = true), 101))) {
      val rnd = new scala.util.Random(seed)
      for (_ <- 1 to 200) {
        val bytes = good.clone()
        for (_ <- 1 to 1 + rnd.nextInt(4))
          bytes(rnd.nextInt(bytes.length)) = rnd.nextInt(256).toByte
        try { dec.decode("fz.mkv", bytes, 500).foreach(_ => ()) }
        catch {
          case _: IllegalArgumentException | _: java.io.IOException => ()
        }
        try { dec.decodeMeta("fz.mkv", bytes, 500).foreach(_ => ()) }
        catch {
          case _: IllegalArgumentException | _: java.io.IOException => ()
        }
      }
      for (n <- 1 until good.length by 53) {
        try { dec.decode("t.mkv", good.take(n), 500).toSeq; () }
        catch {
          case _: IllegalArgumentException | _: java.io.IOException => ()
        }
      }
    }
  }

  test("Y4M: mutations and truncations are total") {
    val frame = new Array[Byte](2 * 2 + 2 * 1)
    java.util.Arrays.fill(frame, 0, 4, 100.toByte)
    frame(4) = 128.toByte; frame(5) = 128.toByte
    val good = Y4MFrameDecoder.write(2, 2, 2, 1, "420mpeg2",
      Seq(frame, frame))
    val dec = new Y4MFrameDecoder()
    fuzz("y4m", good)(b => dec.decode("f.y4m", b, 500).foreach(_ => ()))
  }

  test("a header that claims months of video fails typed at the tick " +
      "bound, on decode and decodeMeta alike, not at heap death") {
    val frame = Array.fill[Byte](6)(100.toByte)
    val jpeg = AviMjpegFrameDecoder.encodeJpeg(Array.fill(4 * 4 * 3)(0.5f),
      4, 4)
    val days100 = 86400L * 100 // one frame lasting 100 days
    val cases = Seq(
      // 1000 · 0xFFFFFFFF ms of video: 8.6e9 ticks at 500 ms
      ("y4m F1:4294967295", new Y4MFrameDecoder(),
        Y4MFrameDecoder.write(2, 2, 1, 0xffffffffL, "420mpeg2", Seq(frame))),
      // 1000L · fpsDen overflows a Long
      ("y4m F1:9223372036854775807", new Y4MFrameDecoder(),
        Y4MFrameDecoder.write(2, 2, 1, Long.MaxValue, "420mpeg2",
          Seq(frame))),
      ("AVI dwRate=1 dwScale=0xFFFFFFFF", new AviMjpegFrameDecoder(),
        AviMjpegFrameDecoder.write(4, 4, 1, 0xffffffffL, Seq(jpeg))),
      ("MP4 stts delta of 100 days",
        new Mp4FrameDecoder(new SyntheticFrameDecoder()),
        Mp4FrameDecoder.write(4, 4, 1, days100, Seq(jpeg))),
      ("Matroska Duration of 100 days",
        new MkvFrameDecoder(new SyntheticFrameDecoder()),
        MkvFrameDecoder.write(4, 4, 1, days100, Seq(jpeg))))
    for ((name, dec, bytes) <- cases; meta <- Seq(false, true)) {
      val t0 = System.nanoTime()
      val e = intercept[IllegalArgumentException] {
        (if (meta) dec.decodeMeta("t", bytes, 500)
         else dec.decode("t", bytes, 500)).foreach(_ => ())
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(seconds < 5.0, s"$name (meta = $meta) took $seconds s")
      assert(e.getMessage.contains("tick bound"), s"$name: ${e.getMessage}")
    }
  }

  test("PNG: mutations and truncations are total; a valid-CRC gigapixel " +
      "IHDR fails typed at the pixel bound, not at a multi-GiB alloc") {
    val px = Array.tabulate(6 * 5)(i => (i * 41 % 256) * 65793)
    val good = PngCodec.encode(6, 5, px)
    fuzz("png", good)(b => { PngCodec.decode(b); () })
    // craft: rewrite IHDR width/height to 60000x60000 and FIX the CRC —
    // the mutation fuzz can't reach this (chunk CRCs reject it)
    val evil = good.clone()
    def be(v: Int, at: Int): Unit = {
      evil(at) = (v >> 24).toByte; evil(at + 1) = (v >> 16).toByte
      evil(at + 2) = (v >> 8).toByte; evil(at + 3) = v.toByte
    }
    be(60000, 16); be(60000, 20) // IHDR data starts at byte 16
    def fixCrc(): Unit = {
      val crc = new java.util.zip.CRC32()
      crc.update(evil, 12, 4 + 13) // type + IHDR payload
      be(crc.getValue.toInt, 12 + 4 + 13)
    }
    fixCrc()
    val e = intercept[IllegalArgumentException](PngCodec.decode(evil))
    assert(e.getMessage.contains("decode budget"))
    // the budget is a caller POLICY (r14 advice: the old fixed 64M-pixel
    // cap silently rejected legitimate large crawl photographs): a
    // 9000x8000 = 72M-pixel claim now clears the default budget — the
    // decode proceeds past the allocation gate and fails on the (tiny)
    // IDAT instead of being rejected at the header
    be(9000, 16); be(8000, 20); fixCrc()
    val big = intercept[IllegalArgumentException](PngCodec.decode(evil))
    assert(!big.getMessage.contains("decode budget"))
    // ... while a thumbnailing caller can still pin a tight budget
    val tight = intercept[IllegalArgumentException](
      PngCodec.decode(good, maxDecodeBytes = 64))
    assert(tight.getMessage.contains("decode budget"))
  }

  test("WAV: mutations and truncations are total") {
    val good = WavCodec.encode(
      Array.tabulate[Short](64)(i => (i * 321 - 9000).toShort), 8000)
    fuzz("wav", good)(b => { WavCodec.decode(b); () })
  }

  test("TFRecord: mutations and truncations are total (CRC validates " +
      "the length BEFORE any allocation)") {
    val bos = new java.io.ByteArrayOutputStream()
    for (i <- 0 until 4)
      graft.tfrecord.TFRecordIO.writeRecord(bos,
        Array.tabulate[Byte](40 + i)(j => (j * 7 + i).toByte))
    val good = bos.toByteArray
    fuzz("tfrecord", good) { b =>
      graft.tfrecord.TFRecordIO.readRecords(new ByteArrayInputStream(b))
        .foreach(_ => ())
    }
  }

  test("protobuf (SequenceExample): mutations and truncations are total; " +
      "oversized varint lengths fail typed instead of mis-framing") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val schema = StructType(Seq(
      StructField("filename", StringType),
      StructField("frame_total", DoubleType),
      StructField("timestamp_ms", ArrayType(LongType))))
    val codec = new graft.tfrecord.ExampleCodec(schema,
      sequenceMode = true)
    val good = codec.encode(new GenericInternalRow(Array[Any](
      UTF8String.fromString("gs://corpus/a.mp4"), 7.5,
      new GenericArrayData(Array(0L, 500L, 1000L)))))
    val rnd = new scala.util.Random(777)
    for (_ <- 1 to 300) {
      val bytes = good.clone()
      for (_ <- 1 to 1 + rnd.nextInt(3))
        bytes(rnd.nextInt(bytes.length)) = rnd.nextInt(256).toByte
      totalOrTyped { codec.decode(bytes); () }
    }
    for (n <- 0 until good.length)
      totalOrTyped { codec.decode(good.take(n)); () }
    // the specific hole the Long-validated length prefix closes: a
    // 2^33+2 varint length used to NARROW to 2 and silently mis-frame
    val evil = Array[Byte](0x0a.toByte, // field 1, wire type 2
      0x82.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte,
      0x20.toByte, // varint 2^33 + 2
      1, 2)
    val e = intercept[java.io.EOFException](codec.decode(evil))
    assert(e.getMessage.contains("length"))
  }

  test("WARC: mutations and truncations are total; an unterminated " +
      "header fails typed at the 64 KiB bound, not at heap death") {
    val bos = new java.io.ByteArrayOutputStream()
    for (i <- 0 until 3) {
      val p = s"payload $i".getBytes
      WarcIO.writeRecord(bos, WarcIO.WarcRecord("resource",
        s"http://t.local/$i", "2026-01-01T00:00:00Z", "text/plain",
        p.length.toLong, p))
    }
    val good = bos.toByteArray
    fuzz("warc", good) { b =>
      WarcIO.readStream(new ByteArrayInputStream(b),
        materializePayload = true).foreach(_ => ())
    }
    // CR-free garbage: must stop at the documented bound
    val noCr = ("WARC/1.1\r\n" + "x" * 100000).getBytes
    val e = intercept[java.io.IOException](
      WarcIO.readStream(new ByteArrayInputStream(noCr),
        materializePayload = true).foreach(_ => ()))
    assert(e.getMessage.contains("64 KiB"))
  }
}
