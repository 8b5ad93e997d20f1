package perfbench

import graft.Main
import graft.pipeline.ConvEmbedder
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point (launched by run.py).
  *
  *   perfbench.Bench --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --result FILE --spans FILE
  *
  * Inputs are generated from the seed into DIR before any timing. With
  * `--trace 0` it times closed-loop runs (one at a time) for S seconds and
  * reports the median `run_s` and `setup_s`; with `--trace 1` it runs the
  * layer-by-layer trace instead. The result (metrics, attempted/failed
  * counts and every correctness mismatch) goes to FILE as JSON; the spans
  * of a traced run go to the spans FILE.
  */
object Bench {

  val Pipelines: Map[String, PipelineSpec] = Map(
    // JPEG decode and container parsing dominate; assembly is shuffle-free
    "mjpeg_single_frame" -> PipelineSpec(
      Corpus.Shape(clips = 24, containers = Seq("avi", "mp4", "mkv"),
        raw = false, width = 320, height = 240, fps = 25, seconds = 10,
        decoys = 6),
      Main.Config(mode = Main.SingleFrame), filters = 4, hidden = 16,
      dim = 2048),
    // cheap decode and embed; ~11.5 window copies per frame, the
    // collect_list shuffle and large nested records dominate
    "raw_crop_video" -> PipelineSpec(
      Corpus.Shape(clips = 6, containers = Seq("mkv"), raw = true,
        width = 64, height = 48, fps = 25, seconds = 60, decoys = 2),
      Main.Config(mode = Main.CropVideo), filters = 4, hidden = 16,
      dim = 2048),
    // the embedder's forward pass dominates. Not listed in BENCHMARK.json:
    // a full measurement (4 + 22 runs per listed workload) must fit in
    // 57 minutes, which holds three workloads; run it by name
    "embed_full_video" -> PipelineSpec(
      Corpus.Shape(clips = 8, containers = Seq("mkv"), raw = true,
        width = 64, height = 48, fps = 25, seconds = 10, decoys = 2),
      Main.Config(mode = Main.FullVideo), filters = 64, hidden = 1024,
      dim = 2048))

  val Queries = "dedup_queries"
  val QueryDocs = 400

  // sized so that a full measurement (4 + 22 × 3 runs) fits in 57 minutes
  val SetupRepeats = 3
  val MinRuns = 2
  val MaxRuns = 200
  val WarmupSeconds = 8.0

  /** Every per-layer metric with its unit; all are reported on every
    * workload, 0 where a layer does not run.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "ingest.files_listed" -> "count", "ingest.files_kept" -> "count",
    "ingest.s" -> "s",
    "decode.files" -> "count", "decode.frames" -> "count",
    "decode.input_mb" -> "MB", "decode.failed" -> "count",
    "decode.route.avi" -> "count", "decode.route.mp4" -> "count",
    "decode.route.mkv" -> "count", "decode.route.fallback" -> "count",
    "decode.file_ms.p50" -> "ms", "decode.file_ms.p90" -> "ms",
    "decode.frames_per_s" -> "1/s", "decode.stage_s" -> "s",
    "embed.frames" -> "count", "embed.batches" -> "count",
    "embed.batch_fill" -> "ratio", "embed.frame_ms.p50" -> "ms",
    "embed.frames_per_s" -> "1/s", "embed.stage_s" -> "s",
    "samples.records" -> "count", "samples.frame_slots" -> "count",
    "samples.copies_per_frame" -> "ratio",
    "samples.shuffle_write_mb" -> "MB", "samples.spill_mb" -> "MB",
    "samples.stage_s" -> "s",
    "write.stage_s" -> "s", "write.shuffle_write_mb" -> "MB",
    "write.files" -> "count", "encode.mb_per_s" -> "MB/s",
    "encode.record_us.p50" -> "us", "frame.mb_per_s" -> "MB/s",
    "read.s" -> "s", "read.records" -> "count",
    "frames_per_s" -> "1/s", "output_mb" -> "MB",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_s" -> "s", "spark.cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.skew" -> "ratio") ++
    QueryBench.Names.flatMap(q => Seq(s"query.$q.s" -> "s",
      s"query.$q.jobs" -> "count", s"query.$q.stages" -> "count",
      s"query.$q.shuffle_write_mb" -> "MB")) ++
    Seq("trace.overhead_s" -> "s")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, result: Path, spans: Path, cores: Int)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("result")), Paths.get(need("spans")),
      math.min(4, Runtime.getRuntime.availableProcessors()))
  }

  private val started = System.nanoTime()

  def say(s: String): Unit =
    println(f"[perfbench] ${secondsSince(started)}%7.2fs $s")

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def jsonString(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Logs.quietAllowlistedWarnings()
    s
  }

  /** Session-builder call to the first finished job, plus the embedder's
    * weight load, repeated; the last session stays open for the run.
    */
  def setup(a: Args, weights: Option[(String, Int)])
      : (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to SetupRepeats).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      spark.range(0, a.cores.toLong, 1, a.cores).selectExpr("sum(id)").collect()
      weights.foreach { case (dir, dim) => new ConvEmbedder(dir, dim).setup() }
      secondsSince(t0)
    }
    (spark, times)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      try all.forEach(f => Files.delete(f)) finally all.close()
    }

  /** Closed loop: one run after another for `seconds` (at least MinRuns),
    * returning the wall time of every run that succeeded.
    */
  def loop(seconds: Double, errors: mutable.Buffer[String],
      untimed: () => Unit = () => ())(run: => Unit): (Seq[Double], Int) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var runs = 0
    val t0 = System.nanoTime()
    while ((runs < MinRuns || secondsSince(t0) < seconds) && runs < MaxRuns) {
      untimed()
      val t = System.nanoTime()
      try { run; times += secondsSince(t) }
      catch { case e: Exception => errors += s"run $runs failed: $e" }
      runs += 1
    }
    say(s"run seconds ${times.map(t => f"$t%.3f").mkString(" ")}")
    (times.toSeq, runs)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    var oracleDir: Option[Path] = None
    val tracer = new Tracer(s"${a.workload}-${a.seed}")
    val counters = new SparkCounters

    if (a.workload == Queries) {
      val dataDir = a.work.resolve("tables")
      val docs = Corpus.documents(QueryDocs, a.seed)
      say(s"input documents=${docs.size} seed=${a.seed}")
      val (spark, setups) = setup(a, None)
      metrics("setup_s") = Expect.median(setups)
      locally {
        import spark.implicits._
        docs.toDF().coalesce(1).write.mode("overwrite")
          .parquet(dataDir.resolve("documents.parquet").toString)
      }
      val qb = new QueryBench(spark, dataDir)
      // two warm-up passes (the JIT is still compiling the plans' code
      // after one); the first also writes the results the oracle compares
      oracleDir = Some(a.work.resolve("oracle"))
      qb.dumpForOracle(oracleDir.get)
      qb.queries.foreach(qb.runQuery)
      say(f"setup_s samples ${setups.map(s => f"$s%.3f").mkString(" ")}; warm-up done")
      val (times, runs) = loop(if (a.trace) 0 else a.seconds, errors) {
        qb.queries.foreach(qb.runQuery)
      }
      attempted = runs.toLong * qb.queries.size
      failed = (runs - times.size).toLong * qb.queries.size
      metrics("run_s") = if (times.isEmpty) 0.0 else Expect.median(times)
      if (a.trace) {
        spark.sparkContext.addSparkListener(counters)
        qb.traced(tracer, counters, metrics("run_s"), metrics)
      }
      spark.stop()
    } else {
      val spec = Pipelines.getOrElse(a.workload, throw new IllegalArgumentException(
        s"unknown workload ${a.workload}; known: " +
          (Pipelines.keys.toSeq.sorted :+ Queries).mkString(", ")))
      val gen = Corpus.generate(a.work.resolve("corpus"), spec.shape, a.seed,
        a.cores)
      val weights = a.work.resolve("weights").toString
      ConvEmbedder.writeWeights(weights, spec.filters, spec.hidden, spec.dim,
        a.seed)
      say(f"corpus files=${gen.clips.size + gen.decoys} videos=${gen.clips.size}" +
        f" decoys=${gen.decoys} mb=${(gen.videoBytes + gen.decoyBytes) / PipelineBench.MB}%.2f" +
        f" frames=${gen.frames(spec.cfg.sampleRateMs)} seed=${a.seed}")
      val (spark, setups) = setup(a, Some(weights -> spec.dim))
      metrics("setup_s") = Expect.median(setups)
      val pb = new PipelineBench(spark, spec, gen, a.work, weights, a.cores)
      // warm-up: the first run is checked, then more runs until
      // WarmupSeconds have passed (the JIT keeps compiling for many runs)
      val warm = System.nanoTime()
      val first = pb.freshOut()
      try {
        pb.runOnce(first)
        errors ++= pb.check(pb.readBack(first))
        deleteTree(first)
        while (secondsSince(warm) < WarmupSeconds) {
          val out = pb.freshOut()
          pb.runOnce(out)
          deleteTree(out)
        }
      } catch { case e: Exception => errors += s"warm-up run failed: $e" }
      say(f"setup_s samples ${setups.map(s => f"$s%.3f").mkString(" ")}; warm-up checked")
      var last: Option[Path] = None
      val (times, runs) = loop(if (a.trace) 0 else a.seconds, errors,
          () => last.foreach(deleteTree)) {
        val out = pb.freshOut()
        last = Some(out)
        pb.runOnce(out)
      }
      attempted = runs.toLong * pb.files
      failed = (runs - times.size).toLong * pb.files
      metrics("run_s") = if (times.isEmpty) 0.0 else Expect.median(times)
      last.filter(_ => times.nonEmpty).foreach { out =>
        val rb = pb.readBack(out)
        errors ++= pb.check(rb)
        metrics("output_mb") = rb.bytes / PipelineBench.MB
      }
      metrics("frames_per_s") =
        if (times.isEmpty) 0.0 else pb.frames / metrics("run_s")
      if (a.trace && errors.isEmpty) {
        spark.sparkContext.addSparkListener(counters)
        errors ++= pb.traced(tracer, counters, metrics("run_s"), metrics)
      }
      spark.stop()
    }

    val failedFrac = failed.toDouble / math.max(1L, attempted)
    say(f"runs=${attempted} attempted, $failed failed")
    Seq("run_s" -> "s", "frames_per_s" -> "1/s", "setup_s" -> "s",
      "output_mb" -> "MB").foreach { case (k, u) =>
      say(metrics.get(k).fold(s"$k = n/a")(v => f"$k = $v%.6f $u"))
    }
    say(f"failed_frac = $failedFrac%.6f ratio")
    errors.foreach(e => say(s"MISMATCH $e"))

    val reported: Seq[(String, String)] =
      if (a.trace) PerLayer else Seq("run_s" -> "s", "setup_s" -> "s")
    val body = reported.map { case (k, u) =>
      val v = metrics.getOrElse(k, 0.0)
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val result = s"""{"correct": ${errors.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $body, "errors": """ +
      errors.map(jsonString).mkString("[", ", ", "]") +
      oracleDir.fold("")(d => s""", "oracle_dir": ${jsonString(d.toString)}""") +
      "}"
    Files.writeString(a.result, result)
    if (a.trace) Files.writeString(a.spans, tracer.json)
  }
}
