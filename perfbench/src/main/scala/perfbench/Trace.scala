package perfbench

import graft.pipeline.{DecodedFrame, Embedder, FrameDecoder}
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** In-memory spans around the benchmark's calls into each layer. Spans
  * are kept until [[json]] writes them out at the end of the run.
  */
final class Tracer(runId: String) {

  import Tracer.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1),
      System.nanoTime(), -1L)
    spans += s
    open = s.id :: open
    try body
    finally { s.endNs = System.nanoTime(); open = open.tail }
  }

  def seconds(name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum

  /** Duration minus the part of the interval its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def json: String = spans.map { s =>
    f"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      f""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      f""""s":${s.seconds}%.6f,"self_s":${selfSeconds(s)}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      var endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
}

/** Spark work counters summed on the driver from task-end events, keyed
  * by the job group the work ran under (or, for a job started on a thread
  * without the group, the tag current when it started).
  */
final class SparkCounters extends SparkListener {

  final class Tally {
    var jobs, stages, tasks = 0L
    var taskMs, cpuNs, gcMs, shuffleWrite, spill = 0L
    // executor run time of each task, per stage, and each stage's wall
    val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val stageWall = mutable.Map.empty[Int, Long]
  }

  @volatile var currentTag: String = "untagged"
  private val tallies = mutable.Map.empty[String, Tally]
  private val stageTag = mutable.Map.empty[Int, String]
  private val started = mutable.Set.empty[Int]
  private val ended = mutable.Set.empty[Int]

  private def tally(tag: String): Tally = tallies.getOrElseUpdate(tag, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(currentTag)
    started += e.jobId
    val t = tally(tag)
    t.jobs += 1
    e.stageInfos.foreach(s => stageTag.getOrElseUpdate(s.stageId, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += e.jobId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      val t = tally(stageTag.getOrElse(info.stageId, currentTag))
      t.stages += 1
      for (a <- info.submissionTime; b <- info.completionTime)
        t.stageWall(info.stageId) = b - a
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tally(stageTag.getOrElse(e.stageId, currentTag))
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.taskMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Runs `body` under job group `tag` and returns once every job it
    * started has reached this listener, so the tally is complete.
    */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    currentTag = tag
    sc.setJobGroup(tag, tag)
    try body
    finally {
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def done: Boolean = synchronized {
        started.subsetOf(ended) &&
          sc.statusTracker.getJobIdsForGroup(tag).forall(ended.contains)
      }
      while (!done && System.nanoTime() < deadline) Thread.sleep(5)
      require(done, s"listener did not see the end of every job of $tag")
      currentTag = "untagged"
    }
  }

  def get(tag: String): Tally = synchronized(tally(tag))
}

object SparkCounters {

  /** spark.* metrics over the union of some tallies. */
  def report(m: mutable.Map[String, Double],
      ts: Seq[SparkCounters#Tally]): Unit = {
    val mb = PipelineBench.MB
    m("spark.jobs") = ts.map(_.jobs).sum.toDouble
    m("spark.stages") = ts.map(_.stages).sum.toDouble
    m("spark.tasks") = ts.map(_.tasks).sum.toDouble
    m("spark.task_s") = ts.map(_.taskMs).sum / 1e3
    m("spark.cpu_s") = ts.map(_.cpuNs).sum / 1e9
    m("spark.gc_s") = ts.map(_.gcMs).sum / 1e3
    m("spark.shuffle_write_mb") = ts.map(_.shuffleWrite).sum / mb
    m("spark.spill_mb") = ts.map(_.spill).sum / mb
    // max ÷ median task time of the stage with the longest wall time
    val stages = ts.flatMap(t => t.stageWall.toSeq.map(sw => (sw, t)))
    m("spark.skew") = if (stages.isEmpty) 0.0 else {
      val ((sid, _), t) = stages.maxBy(_._1._2)
      val times = t.taskTimes.getOrElse(sid, mutable.ArrayBuffer.empty[Long])
        .map(_.toDouble).toSeq
      val med = if (times.isEmpty) 0.0 else Expect.median(times)
      if (med <= 0) 0.0 else times.max / med
    }
  }
}

/** JVM-wide counts the benchmark's decorators keep. The benchmark runs
  * Spark in local mode, so every task runs in this JVM and a static
  * counter sees all of them.
  */
object Counts {
  val batches = new LongAdder
  val embedded = new LongAdder
  val fallback = new LongAdder

  def reset(): Unit = { batches.reset(); embedded.reset(); fallback.reset() }
}

/** Delegating embedder that counts batches and frames; traced runs only. */
final class CountingEmbedder(inner: Embedder) extends Embedder {
  override def dim: Int = inner.dim
  override def setup(): Unit = inner.setup()
  override def cacheKey: String = inner.cacheKey + "#counted"
  override def embed(images: Seq[Array[Float]]): Seq[Array[Float]] = {
    Counts.batches.increment(); Counts.embedded.add(images.size.toLong)
    inner.embed(images)
  }
  override def embed(images: Seq[Array[Float]], height: Int,
      width: Int): Seq[Array[Float]] = {
    Counts.batches.increment(); Counts.embedded.add(images.size.toLong)
    inner.embed(images, height, width)
  }
}

/** The fallback handed to the content router: the corpus holds only
  * formats the pure-JVM decoders read, so reaching the fallback is an
  * error. It is counted and fails the file instead of fabricating frames.
  */
final class RefusingFallback extends FrameDecoder {
  override def decode(filename: String, content: Array[Byte],
      sampleRateMs: Long): Iterator[DecodedFrame] = {
    Counts.fallback.increment()
    throw new IllegalStateException(s"fallback decoder reached for $filename")
  }
}
