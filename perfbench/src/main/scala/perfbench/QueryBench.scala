package perfbench

import graft.SparkEntry
import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The dedup query mix over a generated `documents` table: each query's
  * result goes to the noop sink, one query at a time.
  */
final class QueryBench(spark: SparkSession, dataDir: Path) {

  import QueryBench._

  private val byName = SparkEntry.all.map(q => q.name -> q).toMap
  val queries: Seq[graft.Q] = Names.map(byName)

  def runQuery(q: graft.Q): Unit =
    q.fn(spark, dataDir.toString).write.format("noop").mode("overwrite").save()

  /** Writes each result as parquet plus the oracle SQL of every query, for
    * the DuckDB comparison run.py makes after the JVM exits.
    */
  def dumpForOracle(dir: Path): Unit = {
    queries.foreach { q =>
      q.fn(spark, dataDir.toString).write.mode("overwrite")
        .parquet(dir.resolve(q.name).toString)
    }
    val sql = queries.map { q =>
      val s = q.oracle.getOrElse(
        throw new IllegalStateException(s"${q.name} has no oracle SQL"))
      Bench.jsonString(q.name) + ": " + Bench.jsonString(s.trim)
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(dir.resolve("oracle_sql.json"), sql)
  }

  /** One span and one job group per query. */
  def traced(tracer: Tracer, counters: SparkCounters, untracedRunS: Double,
      m: mutable.Map[String, Double]): Unit = {
    val total = tracer.span("queries") {
      val t0 = System.nanoTime()
      queries.foreach { q =>
        val tag = s"query.${q.name}"
        tracer.span(tag)(counters.tagged(spark.sparkContext, tag)(runQuery(q)))
        val t = counters.get(tag)
        m(s"$tag.s") = tracer.seconds(tag)
        m(s"$tag.jobs") = t.jobs.toDouble
        m(s"$tag.stages") = t.stages.toDouble
        m(s"$tag.shuffle_write_mb") = t.shuffleWrite / PipelineBench.MB
      }
      (System.nanoTime() - t0) / 1e9
    }
    SparkCounters.report(m, Names.map(n => counters.get(s"query.$n")))
    m("trace.overhead_s") = total - untracedRunS
  }
}

object QueryBench {

  /** The mix: MinHash LSH candidates, LSH clusters through Components,
    * and video-frame near-dup clustering (checkpointed fingerprints, then
    * Components).
    */
  val Names: Seq[String] = Seq("dd_minhash_lsh", "dd_clusters",
    "mm_video_clusters")
}
