package graft

import graft.pipeline._
import graft.tfrecord.TFRecords
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end pipeline composition — the Spark-native `build_pipeline`
  * (reference: preprocess.py:371-416): listing → extension filter → label →
  * split → frame decode → batched embedding → sample assembly → shuffled
  * sharded TFRecord sink with per-split directories.
  *
  * The stages are the library pieces (Ingest/Frames/Embed/Samples/
  * TFRecords) glued in one lineage; Catalyst sees a single plan, so column
  * pruning reaches the decode (the wide `image` column dies inside
  * Embed.run, before the sample-assembly shuffle).
  */
object Main {

  sealed trait Mode
  case object SingleFrame extends Mode
  case object FullVideo extends Mode
  case object CropVideo extends Mode

  /** Pipeline knobs, defaults matching the reference driver's
    * (run_preprocess.py:86-109: mode single_frame, frame_sample_rate 500,
    * sequence_length 15000, period 1000). One deliberate divergence:
    * `batchSize` defaults to 16 (reference: 1, a conservative
    * remote-inference default) so the shape-keyed batching path is on by
    * default. `mode` previously defaulted to FullVideo so the flagship
    * entry() smoke exercised sequence assembly; entry() now passes its
    * mode explicitly, and the CLI default matches the reference
    * flag-for-flag.
    */
  final case class Config(
      mode: Mode = SingleFrame,
      sampleRateMs: Long = 500,
      batchSize: Int = 16,
      embeddingDim: Int = 64,
      sequenceLengthMs: Long = 15000,
      periodMs: Long = 1000,
      numShards: Int = 4,
      seed: Long = 42L)

  /** Parsed command line: fixture dir + output dir (positional,
    * back-compatible), an optional real-file input glob, and the Config.
    */
  final case class CliArgs(
      sfDir: String = "/root/testdata/sf0.001",
      outDir: Option[String] = None,
      inputDir: Option[String] = None,
      cfg: Config = Config())

  /** CLI parity with the reference driver (run_preprocess.py:28-111).
    * Both the reference's snake_case spellings and kebab-case are
    * accepted. The Dataflow-only flags (--cloud, --project_id, --job_dir,
    * --job_name, --machine_type, --setup_file,
    * --service_account_key_file, --log_level) have no Spark-local analog —
    * cluster sizing and credentials belong to spark-submit — and are
    * rejected with a pointer rather than silently ignored.
    */
  def parseArgs(args: Array[String]): CliArgs = {
    val dataflowOnly = Set("cloud", "project_id", "job_dir", "job_name",
      "machine_type", "setup_file", "service_account_key_file", "log_level")
    def modeOf(v: String): Mode = v match {
      case "single_frame" => SingleFrame
      case "full_video"   => FullVideo
      case "crop_video"   => CropVideo
      case other => throw new IllegalArgumentException(
        s"--mode must be one of single_frame|full_video|crop_video, got $other")
    }
    @annotation.tailrec
    def loop(rest: List[String], acc: CliArgs, nPos: Int): CliArgs =
      rest match {
        case Nil => acc
        case flag :: tail if flag.startsWith("--") =>
          val key = flag.drop(2).replace('-', '_')
          if (dataflowOnly(key)) throw new IllegalArgumentException(
            s"$flag is Dataflow-specific; configure the Spark cluster via " +
              "spark-submit instead")
          tail match {
            // a following --flag token is a MISSING value, not a value:
            // silently consuming it would cascade into misparsing the
            // rest of the command line
            case v :: _ if v.startsWith("--") =>
              throw new IllegalArgumentException(s"$flag requires a value")
            case v :: t2 =>
              val next = key match {
                case "mode" => acc.copy(cfg = acc.cfg.copy(mode = modeOf(v)))
                case "batch_size" =>
                  acc.copy(cfg = acc.cfg.copy(batchSize = v.toInt))
                case "frame_sample_rate" =>
                  acc.copy(cfg = acc.cfg.copy(sampleRateMs = v.toLong))
                case "sequence_length" =>
                  acc.copy(cfg = acc.cfg.copy(sequenceLengthMs = v.toLong))
                case "period" =>
                  acc.copy(cfg = acc.cfg.copy(periodMs = v.toLong))
                case "num_shards" =>
                  acc.copy(cfg = acc.cfg.copy(numShards = v.toInt))
                case "seed" => acc.copy(cfg = acc.cfg.copy(seed = v.toLong))
                case "embedding_dim" =>
                  acc.copy(cfg = acc.cfg.copy(embeddingDim = v.toInt))
                case "output_dir" => acc.copy(outDir = Some(v))
                case "input_dir" => acc.copy(inputDir = Some(v))
                case other => throw new IllegalArgumentException(
                  s"unknown flag --$other")
              }
              loop(t2, next, nPos)
            case Nil => throw new IllegalArgumentException(
              s"$flag requires a value")
          }
        case pos :: tail => // positional back-compat: sfDir [outDir]
          val next = nPos match {
            case 0 => acc.copy(sfDir = pos)
            case 1 => acc.copy(outDir = Some(pos))
            case _ => throw new IllegalArgumentException(
              s"unexpected positional argument $pos")
          }
          loop(tail, next, nPos + 1)
      }
    loop(args.toList, CliArgs(), 0)
  }

  /** files(filename) → TFRecords under `{outputDir}/data/{dataset=…}`.
    * `decoder` defaults to synthetic because the default listing is the
    * fixture synthesis (no real bytes to decode); pass
    * `FfmpegFrameDecoder.orSynthetic()` for real video input.
    */
  def run(files: DataFrame, outputDir: String,
      cfg: Config = Config(),
      decoder: FrameDecoder = new SyntheticFrameDecoder(),
      embedder: Option[Embedder] = None): Unit = {
    val prepared = Ingest.splitByHash(
      Ingest.withLabel(Ingest.filterVideos(files)), 0.70, 0.15, 0.15)
    val frames = Frames.extract(prepared, decoder, cfg.sampleRateMs)
    val embedded = Embed.run(frames,
      embedder.getOrElse(new HashEmbedder(cfg.embeddingDim)),
      cfg.batchSize).toDF()
    val listCols = Seq("timestamp_ms", "logits")
    val samples = cfg.mode match {
      case SingleFrame => Samples.singleFrame(embedded, listCols)
      case FullVideo => Samples.fullVideo(embedded, listCols)
      case CropVideo => Samples.cropVideo(embedded, listCols,
        cfg.sequenceLengthMs, cfg.periodMs)
    }
    TFRecords.write(samples, outputDir, cfg.numShards, cfg.seed)
  }

  /** Data schema of the written samples (without the partition column). */
  def sampleSchema(mode: Mode): StructType = {
    val ctx = Seq(
      StructField("filename", StringType),
      StructField("label", StringType),
      StructField("frame_per_sec", DoubleType),
      StructField("frame_total", DoubleType),
      StructField("timestamp_ms", ArrayType(LongType)),
      StructField("logits", ArrayType(ArrayType(FloatType))))
    mode match {
      case CropVideo => StructType(
        StructField("window_start", LongType) +:
          StructField("window_end", LongType) +: ctx)
      case _ => StructType(ctx)
    }
  }

  /** Fixture-derived file listing (same synthesis as queries.Reference:
    * each document becomes `videos/<lang>/<source>/doc_<id>.<ext>`).
    */
  def fixtureListing(spark: SparkSession, sfDir: String): DataFrame = {
    val exts = Seq("mp4", "mkv", "avi", "webm", "txt")
    Tables(spark, sfDir, "documents").select(
      concat(lit("videos/"), col("lang"), lit("/"), col("source"),
        lit("/doc_"), col("doc_id"), lit("."),
        element_at(array(exts.map(lit): _*),
          (col("doc_id") % 5 + 1).cast("int"))).as("filename"))
  }

  /** Flagship smoke: full pipeline over the sf listing into a temp dir,
    * returning the decoded samples (driver checks rows > 0).
    */
  def smoke(spark: SparkSession, sfDir: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory("graft_main").toString
    // FullVideo explicitly: the flagship smoke exercises per-video
    // sequence assembly regardless of the CLI default (single_frame)
    run(fixtureListing(spark, sfDir), out, Config(mode = FullVideo))
    TFRecords.read(spark, out, sampleSchema(FullVideo))
  }

  def main(args: Array[String]): Unit = {
    val cli = parseArgs(args)
    val outDir = cli.outDir.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_out").toString)
    // spark-submit parity (bin/run-pipeline.sh, the reference's
    // run.preprocess.sh local/cloud split): Sessions leaves master and
    // shuffle sizing to a submitter that provided them
    val spark = Sessions.getOrCreate()
    // --input_dir points at real files (distributed glob, the reference's
    // --input_dir); otherwise the fixture listing is synthesized from sfDir
    val (listing, decoder) = cli.inputDir match {
      // real files: distributed glob + the content-magic router. The
      // pure-JVM decoders (y4m, MJPEG-AVI, MJPEG-mp4 incl. fragmented,
      // Matroska/WebM, PNG, codec-free mp4+mkv metadata) real-decode
      // what they recognize;
      // only an unrecognized container / real codec reaches the
      // env-gated FFmpeg-or-synthetic seam — previously the CLI
      // bypassed the routers entirely and a JavaCV-less JVM silently
      // fed SYNTHETIC frames for corpora the engine can actually
      // decode (r15 fix). Bytes ride binaryFile's lazy `content` so
      // executors read through Hadoop (hdfs:// and s3a:// work; no
      // local-path assumption), and content never crosses a shuffle —
      // the decode runs in the scan stage.
      case Some(glob) =>
        (Ingest.listFilesWithContent(spark, glob),
          new AutoFrameDecoder(): FrameDecoder)
      // fixture listing synthesizes names with no bytes behind them —
      // only the synthetic decoder can "decode" those
      case None => (fixtureListing(spark, cli.sfDir),
        new SyntheticFrameDecoder(): FrameDecoder)
    }
    run(listing, outDir, cli.cfg, decoder)
    val n = TFRecords.read(spark, outDir, sampleSchema(cli.cfg.mode)).count()
    println(s"[main] wrote $n samples to $outDir/data")
    spark.stop()
  }
}
