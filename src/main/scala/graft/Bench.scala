package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftBridge
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Driver-run benchmark: every SparkEntry query timed against
  * SPARK_GRAFT_SF_DIR, one JSON line to stdout AND to bench_out.json
  * (sbt prefixes stdout with [info], so the file is the machine-readable
  * channel the driver parses).
  *
  * Each query is materialized through the noop sink — a full write-path
  * materialization of every row and column — rather than `.count()`, under
  * which Catalyst legally prunes unreferenced expensive expressions
  * (collect_list/sort_array/transform in the ref_* queries) and the timing
  * becomes fiction. One untimed warmup pass amortizes JVM/codegen/classload
  * cost out of the first measured query. Failures are recorded per-query
  * and fail the process: a broken query must never bench as "fast".
  *
  * Every timed sample also counts its Spark work ([[Counters]]): jobs,
  * stages, tasks, task time, shuffle bytes and spill. Wall time on a
  * shared host drifts by tens of percent over minutes; the job, stage
  * and byte counts move only when the plan (or an AQE runtime choice)
  * does, so they say whether a plan changed, and a wall-time claim is
  * settled by perfbench's alternating A/B (perfbench/README.md).
  */
object Bench {

  /** Spark work of one measured call, summed on the driver over the
    * stages that completed under its job group. `spillBytes` counts bytes
    * spilled to disk.
    */
  private[graft] final case class Work(jobs: Int = 0, stages: Int = 0,
      tasks: Long = 0, taskMs: Long = 0, shuffleReadBytes: Long = 0,
      shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
    def json: String =
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_ms":$taskMs,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""spill_bytes":$spillBytes"""
  }

  /** Per-query Spark counters. [[measure]] runs a call under its own job
    * group and returns once this listener has seen every job the group
    * started end, so the [[Work]] it returns is complete. Threads the
    * query starts inherit the group (SparkContext local properties), and
    * Spark's own broadcast and subquery threads carry it over explicitly.
    */
  private[graft] final class Counters(sc: SparkContext) extends SparkListener {
    private val TimeoutMs = 60000L
    private var group: String = null // the open measurement's, or null
    private var work = Work()
    private val running = mutable.Set.empty[Int]
    private val pendingStages = mutable.Set.empty[Int]

    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (group != null && Option(e.properties)
          .exists(_.getProperty("spark.jobGroup.id") == group)) {
        work = work.copy(jobs = work.jobs + 1)
        running += e.jobId
        pendingStages ++= e.stageIds
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (running.remove(e.jobId)) notifyAll()
    }

    // a stage shared by several jobs of the group completes (and counts)
    // once; a stage whose shuffle output a job reuses is skipped and
    // never completes
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        if (pendingStages.remove(si.stageId)) {
          val m = Option(si.taskMetrics)
          work = work.copy(
            stages = work.stages + 1,
            tasks = work.tasks + si.numTasks,
            taskMs = work.taskMs + m.fold(0L)(_.executorRunTime),
            shuffleReadBytes = work.shuffleReadBytes +
              m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
            shuffleWriteBytes = work.shuffleWriteBytes +
              m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
            spillBytes = work.spillBytes + m.fold(0L)(_.diskBytesSpilled))
        }
      }

    /** Runs `body` under job group `jobGroup` and returns its Work once
      * every event the body posted has reached this listener (a bus
      * drain, not a sleep) and every job of the group has ended.
      */
    def measure(jobGroup: String)(body: => Unit): Work = {
      synchronized {
        group = jobGroup; work = Work(); running.clear(); pendingStages.clear()
      }
      sc.setJobGroup(jobGroup, jobGroup)
      try body
      finally {
        sc.clearJobGroup()
        GraftBridge.drainListenerBus(sc, TimeoutMs)
        synchronized {
          val deadline = System.currentTimeMillis() + TimeoutMs
          while (running.nonEmpty && System.currentTimeMillis() < deadline)
            wait(math.max(1L, deadline - System.currentTimeMillis()))
          group = null
        }
      }
      synchronized {
        require(running.isEmpty, s"$jobGroup: jobs ${running.mkString(",")} " +
          s"did not end within ${TimeoutMs / 1000} s")
        work
      }
    }
  }

  /** Sorted-midpoint median (even sizes interpolate). */
  private[graft] def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Shuffle files on tmpfs when available: bench data is tiny (≤ a few
    // hundred MB of shuffle) but the host disk has multi-second latency
    // spikes that otherwise leak into per-query wall times.
    val shm = new java.io.File("/dev/shm")
    val spark = Sessions.getOrCreate(
      shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE"),
      localDir =
        if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft-bench")
        else None)
    val counters = new Counters(spark.sparkContext)

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // SPARK_GRAFT_OUT_PREFIX namespaces the output artifact (the sf1.0
    // scaling mode writes sf1_bench_out.json) so an off-scale run never
    // clobbers the sf0.1 bench_out.json.
    val prefix = sys.env.getOrElse("SPARK_GRAFT_OUT_PREFIX", "")
    val outPath = Paths.get(s"${prefix}bench_out.json")
    // a crash below must never leave a previous run's results parseable
    Files.deleteIfExists(outPath)

    // dev affordance: SPARK_GRAFT_ONLY=q1_agg,dd_jaccard benches a subset;
    // SPARK_GRAFT_HEADLINE=1 benches the fixed per-family Headline set
    // (the sf1.0 scaling mode, scripts/bench_sf1.sh).
    val only = sys.env.get("SPARK_GRAFT_ONLY").orElse(
      if (sys.env.contains("SPARK_GRAFT_HEADLINE"))
        Some(Headline.mkString(",")) else None)
    val names = only match {
      case Some(list) => list.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      case None       => SparkEntry.queries.keys.toSeq.sorted
    }
    // warmup: every query once untimed. Failures are swallowed HERE ONLY —
    // the timed pass records them in the errors array; an unguarded warmup
    // would kill the process before any JSON is written.
    names.foreach(n => try materialize(n) catch { case _: Throwable => () })

    var failed = List.empty[String]
    // one timed sample: the query's wall seconds (the counters' bus drain
    // runs outside the clock) and its Spark work
    def once(name: String, pass: Int): (Double, Work) = {
      var seconds = 0.0
      val work =
        try counters.measure(s"bench:$name:$pass") {
          val t0 = System.nanoTime()
          try materialize(name)
          finally seconds = (System.nanoTime() - t0) / 1e9
        }
        catch {
          case e: Throwable =>
            if (!failed.contains(name)) failed ::= name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            Work()
        }
      (seconds, work)
    }
    // N FULL timed passes, interleaved, min per query: this host shows
    // multi-second wall-time bursts uncorrelated with the engine (idle CPU,
    // zero full GCs during them — hypervisor neighbors), and a burst
    // outlasts back-to-back samples of one query. Interleaving the passes
    // puts samples ~30s apart, so the min measures the engine, not the
    // neighbor; the emitted median/spread per query lets a reader tell a
    // real regression (tight spread, min moved) from noise (spread ≫ min).
    // Every query gets exactly `passes` samples. Failures still fail the
    // run.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(3).max(1)
    val perPass = (1 to passes).map(p => names.map(n => n -> once(n, p)).toMap)
    val samples = names.map(n => n -> perPass.map(_(n))).toMap
    val ok = names.filterNot(failed.contains)
      .map(n => n -> samples(n).map(_._1).min)
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query dispersion and cost: min is the graded number; median
    // and spread (= max-min, the burst amplitude this run) make the gate
    // falsifiable, and the counters are the Spark work of the min sample.
    val vars = ok.map { case (k, _) =>
      val xs = samples(k).map(_._1)
      "\"" + k + "\":{\"min\":" + xs.min + ",\"median\":" + medianOf(xs) +
        ",\"spread\":" + (xs.max - xs.min) + ",\"samples\":" + xs.size +
        "," + samples(k).minBy(_._1)._2.json + "}"
    }.mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""variance":$vars,"passes":$passes,""" +
        s""""errors":$errs,"sf":"$sfDir"}"""
    Files.writeString(outPath, json + "\n")
    // The driver captures only the TAIL (~2 KB) of stdout: the full
    // per-query line above is ~25 KB, so its head — and with it the
    // {"metric": prefix the parser keys on — fell outside the window in
    // rounds 10–12 and BENCH_r*.json recorded "parsed": null each time.
    // stdout therefore carries a COMPACT summary line (same metric/value
    // plus a fixed per-family headline subset at 3 decimals, bounded
    // ≤ ~1 KB by BenchLineSpec) as the LAST print; bench_out.json stays
    // the full-resolution channel.
    println(compactLine(total, ok, failed, passes, sfDir,
      s"${prefix}bench_out.json"))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Representative per-family subset for the compact stdout line: the
    * historically most expensive query of each family plus the flagship
    * relational/reference shapes. Fixed by name (not by this run's
    * ranking) so the driver's per-round numbers are comparable.
    */
  private[graft] val Headline: Seq[String] = Seq(
    "q1_agg", "q25_profile", "q27_bloom_join",
    "dd_lsh_sweep", "dd_clean_corpus", "dd_minhash_lsh", "dd_exact",
    // r16: dd_substring joins the scaling set — the 50-token rolling-
    // hash dedup is the text family's likeliest hidden super-linear term
    "dd_substring",
    "er_report", "er_entities", "er_pairs",
    "sim_ivfpq", "sim_mmr",
    "txt_bigram_lm", "txt_bm25",
    "ev_sessionize", "ev_asof_native",
    // r17: the fleet's most expensive floor after the er/dd capstones
    // and the only headline-class ITERATIVE query — pointer-doubling
    // components under convergence, the shape most likely to go
    // super-linear if a round's join stops reusing the edge layout
    "dd_clusters_converged",
    "mm_audio_clusters", "mm_asset_dedup",
    // r16: the DF-capped inverted-index video alignment — the structure
    // most likely to hide a super-linear term under a hot frame-hash
    "mm_video_neardup",
    "dq_expectations",
    "ref_crop_video", "ref_tfrecord_roundtrip")

  private[graft] def compactLine(total: Double, ok: Seq[(String, Double)],
      failed: Seq[String], passes: Int, sfDir: String,
      detail: String = "bench_out.json"): String = {
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val byName = ok.toMap
    val head = Headline.filter(byName.contains)
      .map(n => "\"" + n + "\":" + r3(byName(n))).mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
      s""""queries":$head,"n_queries":${ok.size},"passes":$passes,""" +
      s""""errors":$errs,"detail":"$detail","sf":"$sfDir"}"""
  }
}
