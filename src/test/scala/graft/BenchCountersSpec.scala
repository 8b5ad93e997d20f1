package graft

import graft.ops.Materialize._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageCompleted}

/** Bench's per-query Spark counters on the shared session: one barrier
  * added to a query shows up as exactly one more job, and the counters are
  * complete the moment `measure` returns — no sleep, no later event can
  * still change them.
  */
class BenchCountersSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val counters = new Bench.Counters(spark.sparkContext)

  private def q = SparkEntry.queries("q1_agg")(spark, sfDir)

  private def measure(group: String)(df: => org.apache.spark.sql.DataFrame) =
    counters.measure(group)(
      df.write.format("noop").mode("overwrite").save())

  test("one extra .materialize() is exactly one more job") {
    measure("counters-warmup")(q)
    val plain = measure("counters-plain")(q)
    val barrier = measure("counters-barrier")(q.materialize())
    assert(plain.jobs > 0 && plain.stages > 0 && plain.tasks > 0, plain)
    assert(barrier.jobs - plain.jobs === 1, s"$plain vs $barrier")
  }

  test("the counters are complete when measure returns") {
    val sc = spark.sparkContext
    // a listener that lags on every job and stage event, registered ahead
    // of the counters on the same bus queue: the counters' view of the
    // query then trails its return unless measure waits for it
    val lag = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(100)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Thread.sleep(100)
    }
    sc.addSparkListener(lag)
    val lagged = new Bench.Counters(sc)
    val w = try lagged.measure("counters-complete")(
      q.write.format("noop").mode("overwrite").save())
    finally { sc.removeSparkListener(lag); sc.removeSparkListener(lagged) }
    // Spark's own status store saw the same jobs, all of them finished
    val ids = sc.statusTracker.getJobIdsForGroup("counters-complete")
    assert(ids.length === w.jobs, w)
    assert(ids.forall(id => sc.statusTracker.getJobInfo(id)
      .exists(_.status == org.apache.spark.JobExecutionStatus.SUCCEEDED)))
    assert(w.stages >= w.jobs && w.shuffleWriteBytes > 0, w)
    // and the job structure is a property of the plan, not of the run
    assert(measure("counters-complete-again")(q).jobs === w.jobs)
  }
}
