package perfbench

import graft.Main
import graft.pipeline._
import graft.tfrecord.{ExampleCodec, TFRecordIO, TFRecords}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A pipeline workload: the corpus it generates, the pipeline settings
  * and the ConvEmbedder geometry.
  */
final case class PipelineSpec(shape: Corpus.Shape, cfg: Main.Config,
    filters: Int, hidden: Int, dim: Int)

/** Drives the paper's pipeline (`Main.run`: listing → extension filter →
  * label → hash split → AutoFrameDecoder → Embed.run with ConvEmbedder →
  * Samples → TFRecords.write) over a generated corpus, and checks what it
  * wrote against [[Expect]].
  */
final class PipelineBench(spark: SparkSession, spec: PipelineSpec,
    gen: Corpus.Generated, work: Path, weights: String, threads: Int) {

  import PipelineBench._

  private val cfg = spec.cfg
  private val glob = gen.root.resolve("videos").toString + "/*/*/*"
  private val crop = cfg.mode == Main.CropVideo

  def decoder: FrameDecoder = new AutoFrameDecoder(new RefusingFallback)
  def embedder: Embedder = new ConvEmbedder(weights, spec.dim)

  def files: Int = gen.clips.size
  def filename(c: Corpus.Clip): String =
    "file:" + gen.root.resolve(c.rel).toAbsolutePath.toString

  /** Frames one run decodes and embeds. */
  def frames: Long = gen.frames(cfg.sampleRateMs)

  private var outs = 0
  def freshOut(): Path = { outs += 1; work.resolve(s"out_$outs") }

  /** One run, listing to committed TFRecords, exactly as the CLI does it. */
  def runOnce(out: Path, emb: Embedder = embedder): Unit =
    Main.run(Ingest.listFilesWithContent(spark, glob), out.toString, cfg,
      decoder, Some(emb))

  // ---- expectations ------------------------------------------------------

  /** Record counts per split, from the corpus shape alone. */
  lazy val expectedSplits: Map[String, Long] = gen.clips.map { c =>
    val n = Corpus.sampledFrames(c.nativeFrames, c.fps, cfg.sampleRateMs)
    val records = cfg.mode match {
      case Main.SingleFrame => n
      case Main.FullVideo => 1
      case Main.CropVideo => Expect.cropWindows(n, cfg.sampleRateMs,
        cfg.sequenceLengthMs, cfg.periodMs).size
    }
    Expect.split(filename(c)) -> records.toLong
  }.groupMapReduce(_._1)(_._2)(_ + _)

  /** Digest of the records the run must write, computed without Spark:
    * each clip through its container's decoder, one ConvEmbedder call,
    * and the mode's assembly in plain Scala (clips spread over threads).
    */
  lazy val expectedDigest: String = {
    val emb = embedder
    emb.setup()
    val fb = new RefusingFallback
    val hashes = Corpus.parallel(gen.clips, threads) { c =>
      val fname = filename(c)
      val bytes = Files.readAllBytes(gen.root.resolve(c.rel))
      val dec: FrameDecoder = c.container match {
        case "avi" => new AviMjpegFrameDecoder
        case "mp4" => new Mp4FrameDecoder(fb)
        case _ => new MkvFrameDecoder(fb)
      }
      val fr = dec.decode(fname, bytes, cfg.sampleRateMs).toArray
      require(fr.length ==
        Corpus.sampledFrames(c.nativeFrames, c.fps, cfg.sampleRateMs),
        s"${c.rel}: decoded ${fr.length} frames")
      val logits = emb.embed(fr.map(_.image).toSeq, fr.head.height,
        fr.head.width).toArray
      val ts = fr.map(_.timestampMs)
      def rec(ws: Long, we: Long, idx: Seq[Int]): Expect.Rec =
        Expect.Rec(Expect.split(fname), c.rel, c.rel.split("/")(1),
          fr.head.framePerSec.toFloat, fr.head.frameTotal.toFloat, ws, we,
          idx.map(ts).toArray, idx.map(logits).toArray)
      val recs = cfg.mode match {
        case Main.SingleFrame => fr.indices.map(i => rec(-1, -1, Seq(i)))
        case Main.FullVideo => Seq(rec(-1, -1, fr.indices))
        case Main.CropVideo => Expect.cropWindows(fr.length,
          cfg.sampleRateMs, cfg.sequenceLengthMs, cfg.periodMs).map {
            case (s, e, idx) => rec(s, e, idx)
          }
      }
      recs.map(Expect.recordHash)
    }
    Expect.digest(hashes.flatten)
  }

  /** Reads a run's output back through `TFRecords.read`. */
  def readBack(out: Path): ReadBack = {
    val df = TFRecords.read(spark, out.toString, Main.sampleSchema(cfg.mode))
    val sel = df.select(col("dataset"), col("filename"), col("label"),
      col("frame_per_sec"), col("frame_total"),
      if (crop) col("window_start") else lit(-1L),
      if (crop) col("window_end") else lit(-1L),
      col("timestamp_ms"), col("logits"))
    val rows = sel.queryExecution.toRdd.mapPartitions(_.map(hashRow)).collect()
    val sizes = outputSizes(out)
    ReadBack(rows.groupMapReduce(_._1)(_ => 1L)(_ + _),
      Expect.digest(rows.map(_._2)), rows.map(_._3.toLong).sum, rows.length,
      sizes.sum, sizes.size)
  }

  /** Every mismatch between a read-back and the expectations. */
  def check(rb: ReadBack): Seq[String] =
    (if (rb.perSplit != expectedSplits)
       Seq(s"records per split ${rb.perSplit} != expected $expectedSplits")
     else Nil) ++
      (if (rb.digest != expectedDigest)
         Seq(s"record digest ${rb.digest} != expected $expectedDigest")
       else Nil) ++
      (if (Counts.fallback.sum() != 0)
         Seq(s"fallback decoder reached ${Counts.fallback.sum()} times")
       else Nil)

  /** The sample rows of a written run in the encoder's input form. */
  def sampleRows(out: Path): (org.apache.spark.sql.types.StructType,
      Array[org.apache.spark.sql.catalyst.InternalRow]) = {
    val schema = Main.sampleSchema(cfg.mode)
    val df = TFRecords.read(spark, out.toString, schema).drop("dataset")
    (schema, df.queryExecution.toRdd.map(_.copy()).collect())
  }

  // ---- the traced run ----------------------------------------------------

  /** Layer-by-layer run. Each stage is timed as the difference between
    * noop-sink runs of successive prefixes of the pipeline (ingest, +decode,
    * +embed, +samples, +write); layer throughput comes from direct
    * single-thread calls of the layer's public functions.
    */
  def traced(tracer: Tracer, counters: SparkCounters, untracedRunS: Double,
      m: mutable.Map[String, Double]): Seq[String] = {
    val sc = spark.sparkContext
    def listing(): DataFrame = Ingest.listFilesWithContent(spark, glob)
    def prepared(files: DataFrame): DataFrame = Ingest.splitByHash(
      Ingest.withLabel(Ingest.filterVideos(files)), 0.70, 0.15, 0.15)
    def framesOf(p: DataFrame): Dataset[FrameRow] =
      Frames.extract(p, decoder, cfg.sampleRateMs)
    def embeddedOf(f: Dataset[FrameRow], e: Embedder): DataFrame =
      Embed.run(f, e, cfg.batchSize).toDF()
    val listCols = Seq("timestamp_ms", "logits")
    def samplesOf(e: DataFrame): DataFrame = cfg.mode match {
      case Main.SingleFrame => Samples.singleFrame(e, listCols)
      case Main.FullVideo => Samples.fullVideo(e, listCols)
      case Main.CropVideo => Samples.cropVideo(e, listCols,
        cfg.sequenceLengthMs, cfg.periodMs)
    }
    // fastest of PrefixRuns runs of a prefix; counters from the first
    def prefix(tag: String)(run: => Unit): (Double, SparkCounters#Tally) = {
      val times = (1 to PrefixRuns).map { i =>
        tracer.span(s"$tag.$i") {
          counters.tagged(sc, s"$tag.$i") {
            val t0 = System.nanoTime()
            run
            (System.nanoTime() - t0) / 1e9
          }
        }
      }
      (times.min, counters.get(s"$tag.1"))
    }
    def noop(tag: String)(df: => DataFrame) =
      prefix(tag)(df.write.format("noop").mode("overwrite").save())

    // full traced run: a span around each layer call, Spark counters on
    Counts.reset()
    val out = freshOut()
    val countingEmb = new CountingEmbedder(embedder)
    val tracedS = tracer.span("pipeline") {
      counters.tagged(sc, "pipeline") {
        val t0 = System.nanoTime()
        val files = tracer.span("ingest")(prepared(listing()))
        val fr = tracer.span("decode")(framesOf(files))
        val emb = tracer.span("embed")(embeddedOf(fr, countingEmb))
        val smp = tracer.span("samples")(samplesOf(emb))
        tracer.span("write")(
          TFRecords.write(smp, out.toString, cfg.numShards, cfg.seed))
        (System.nanoTime() - t0) / 1e9
      }
    }
    m("trace.overhead_s") = tracedS - untracedRunS
    m("embed.frames") = Counts.embedded.sum().toDouble
    m("embed.batches") = Counts.batches.sum().toDouble
    m("embed.batch_fill") = Counts.embedded.sum().toDouble /
      math.max(1L, Counts.batches.sum() * cfg.batchSize)
    val whole = counters.get("pipeline")
    SparkCounters.report(m, Seq(whole))

    // stage times by prefix difference
    val (pIngest, _) = noop("prefix.ingest")(prepared(listing()))
    val (pDecode, _) = noop("prefix.decode")(
      framesOf(prepared(listing())).toDF())
    val (pEmbed, shE) = noop("prefix.embed")(
      embeddedOf(framesOf(prepared(listing())), embedder))
    val (pSamples, shS) = noop("prefix.samples")(
      samplesOf(embeddedOf(framesOf(prepared(listing())), embedder)))
    val (pWrite, _) = prefix("prefix.write") {
      val o = freshOut()
      runOnce(o)
      Bench.deleteTree(o)
    }
    m("ingest.s") = pIngest
    m("decode.stage_s") = pDecode - pIngest
    m("embed.stage_s") = pEmbed - pDecode
    m("samples.stage_s") = pSamples - pEmbed
    m("write.stage_s") = math.min(pWrite, tracedS) - pSamples
    m("samples.shuffle_write_mb") = (shS.shuffleWrite - shE.shuffleWrite) / MB
    m("samples.spill_mb") = (shS.spill - shE.spill) / MB
    m("write.shuffle_write_mb") = (whole.shuffleWrite - shS.shuffleWrite) / MB

    // ingest counts
    counters.tagged(sc, "ingest.count") {
      m("ingest.files_listed") = Ingest.listFiles(spark, glob).count().toDouble
      m("ingest.files_kept") =
        Ingest.filterVideos(Ingest.listFiles(spark, glob)).count().toDouble
    }

    // read-back: the correctness check of the traced run, timed
    val rb = tracer.span("read")(counters.tagged(sc, "read")(readBack(out)))
    m("read.s") = tracer.seconds("read")
    m("read.records") = rb.records.toDouble
    m("samples.records") = rb.records.toDouble
    m("samples.frame_slots") = rb.frameSlots.toDouble
    m("write.files") = rb.files.toDouble
    m("output_mb") = rb.bytes / MB

    // direct single-thread decode over >= 100 file decodes
    val routeCounts = mutable.Map("avi" -> 0, "mp4" -> 0, "mkv" -> 0,
      "fallback" -> 0)
    val fileMs = mutable.ArrayBuffer.empty[Double]
    val keep = mutable.ArrayBuffer.empty[DecodedFrame]
    var decodedFrames, failed = 0L
    var decodeNs = 0L
    Counts.fallback.reset()
    tracer.span("direct.decode") {
      val dec = decoder
      val calls = math.max(MinDirectDecodes, gen.clips.size)
      (0 until calls).foreach { i =>
        val c = gen.clips(i % gen.clips.size)
        val bytes = Files.readAllBytes(gen.root.resolve(c.rel))
        if (i < gen.clips.size) routeCounts(route(bytes)) += 1
        val t0 = System.nanoTime()
        val fr = try dec.decode(filename(c), bytes, cfg.sampleRateMs).toArray
          catch { case _: Exception => failed += 1; Array.empty[DecodedFrame] }
        val dt = System.nanoTime() - t0
        decodeNs += dt
        fileMs += dt / 1e6
        decodedFrames += fr.length
        if (keep.size < KeepFrames) keep ++= fr.take(KeepFrames - keep.size)
      }
    }
    m("decode.files") = files.toDouble
    m("decode.frames") = frames.toDouble
    m("decode.input_mb") = gen.videoBytes / MB
    m("decode.failed") = failed.toDouble
    routeCounts.foreach { case (r, n) => m(s"decode.route.$r") = n.toDouble }
    m("decode.route.fallback") += Counts.fallback.sum().toDouble
    m("decode.file_ms.p50") = Expect.percentile(fileMs.toSeq, 50)
    m("decode.file_ms.p90") = Expect.percentile(fileMs.toSeq, 90)
    m("decode.frames_per_s") = decodedFrames / (decodeNs / 1e9)
    m("samples.copies_per_frame") = rb.frameSlots.toDouble / frames

    // direct single-thread embed, batches of the pipeline's batch size
    val batchMs = mutable.ArrayBuffer.empty[Double]
    var embedNs = 0L
    var embeddedN = 0L
    tracer.span("direct.embed") {
      val e = embedder
      e.setup()
      val imgs = keep.map(_.image).toSeq
      val (h, w) = (keep.head.height, keep.head.width)
      var i = 0
      while (batchMs.size < MinBatches || embedNs < MinDirectNs) {
        val b = (0 until cfg.batchSize).map(j => imgs((i + j) % imgs.size))
        i += cfg.batchSize
        val t0 = System.nanoTime()
        e.embed(b, h, w)
        val dt = System.nanoTime() - t0
        embedNs += dt
        embeddedN += b.size
        batchMs += dt / 1e6 / b.size
      }
    }
    m("embed.frame_ms.p50") = Expect.median(batchMs.toSeq)
    m("embed.frames_per_s") = embeddedN / (embedNs / 1e9)

    // direct single-thread encode of this run's own sample rows, then
    // record framing + masked CRC into a discarding stream
    val (schema, rows) = sampleRows(out)
    val codec = new ExampleCodec(schema, sequenceMode = true)
    val encoded = rows.map(codec.encode)
    val recUs = mutable.ArrayBuffer.empty[Double]
    var encNs, encBytes = 0L
    tracer.span("direct.encode") {
      while (encNs < MinDirectNs) rows.foreach { r =>
        val t0 = System.nanoTime()
        val b = codec.encode(r)
        val dt = System.nanoTime() - t0
        encNs += dt
        encBytes += b.length
        recUs += dt / 1e3
      }
    }
    m("encode.mb_per_s") = encBytes / MB / (encNs / 1e9)
    m("encode.record_us.p50") = Expect.median(recUs.toSeq)
    var frNs, frBytes = 0L
    tracer.span("direct.frame") {
      val sink = java.io.OutputStream.nullOutputStream()
      while (frNs < MinDirectNs) {
        val t0 = System.nanoTime()
        encoded.foreach(TFRecordIO.writeRecord(sink, _))
        frNs += System.nanoTime() - t0
        frBytes += encoded.map(_.length.toLong + 16).sum
      }
    }
    m("frame.mb_per_s") = frBytes / MB / (frNs / 1e9)

    val framed = encoded.map(_.length.toLong + 16).sum
    check(rb) ++ (if (framed != rb.bytes)
      Seq(s"re-encoding the read-back gives $framed framed bytes, " +
        s"the run wrote ${rb.bytes}") else Nil) ++
      (if (m("embed.frames") != frames)
        Seq(s"embedded ${m("embed.frames")} frames, expected $frames") else Nil)
  }

  /** The router's first matching sniff, in its order. */
  private def route(bytes: Array[Byte]): String =
    if (Y4MFrameDecoder.sniff(bytes)) "fallback"
    else if (AviMjpegFrameDecoder.sniff(bytes)) "avi"
    else if (Mp4FrameDecoder.sniff(bytes)) "mp4"
    else if (MkvFrameDecoder.sniff(bytes)) "mkv"
    else "fallback"
}

object PipelineBench {

  val MB: Double = 1024.0 * 1024.0
  val MinDirectDecodes = 100
  val PrefixRuns = 2
  val KeepFrames = 64
  val MinBatches = 3
  val MinDirectNs: Long = 300L * 1000000L

  final case class ReadBack(perSplit: Map[String, Long], digest: String,
      frameSlots: Long, records: Long, bytes: Long, files: Int)

  /** (dataset, record hash, frames in the record) of one read-back row. */
  private def hashRow(r: org.apache.spark.sql.catalyst.InternalRow)
      : (String, Long, Int) = {
    val fname = r.getUTF8String(1).toString
    val lg = r.getArray(8)
    val rec = Expect.Rec(r.getUTF8String(0).toString,
      fname.substring(fname.indexOf("/videos/") + 1),
      r.getUTF8String(2).toString, r.getDouble(3).toFloat,
      r.getDouble(4).toFloat, r.getLong(5), r.getLong(6),
      r.getArray(7).toLongArray(),
      Array.tabulate(lg.numElements())(i => lg.getArray(i).toFloatArray()))
    (rec.dataset, Expect.recordHash(rec), rec.timestamps.length)
  }

  /** Sizes of the TFRecord files under `out`. */
  def outputSizes(out: Path): Seq[Long] = {
    val all = Files.walk(out)
    try all.iterator().asScala.filter { p =>
      Files.isRegularFile(p) && p.getFileName.toString.endsWith(".tfrecord")
    }.map(p => Files.size(p)).toSeq
    finally all.close()
  }
}
