package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: Bench, Verify, Main, Explain, ScaleUp
  * and the shared test session all build their session here, so the
  * configuration the query surface depends on cannot drift between them.
  *
  * Every session gets the UTC session time zone, nanosecond parquet
  * timestamps read as longs, and the GraftExtensions kernels. A local
  * session also gets `local[cores]` with one shuffle partition per core,
  * the UI off and the AQE coalescing floor (`SPARK_GRAFT_MIN_SPLIT`,
  * default Spark's own 1m). A spark-submit run (bin/run-pipeline.sh)
  * arrives with `spark.master` among the system properties: pinning
  * local[*] would silently pull a cluster submission back onto the driver,
  * so master, partitioning, UI and local dirs are then left to the
  * submitter and only the shared keys are set.
  */
object Sessions {

  /** Local core count of every entry point: SPARK_GRAFT_CPUS, else 4. */
  private def defaultCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** Keys set on every session, local or submitted. */
  private[graft] val Shared: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions")

  /** The confs a session is built with, given the JVM's system
    * properties. Pure, so the spark-submit rule is testable without a
    * second SparkContext (a JVM holds only one).
    */
  private[graft] def confs(sysProps: collection.Map[String, String],
      cores: String, shufflePartitions: String, localDir: Option[String],
      minSplit: String): Seq[(String, String)] =
    if (sysProps.contains("spark.master")) Shared
    else Shared ++ Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      "spark.ui.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> minSplit,
    ) ++ localDir.map("spark.local.dir" -> _)

  /** The session for this JVM, at WARN with the allowlisted WindowExec
    * warnings quieted (Logs). `shufflePartitions` defaults to `cores`;
    * `localDir` places shuffle files (Bench puts them on tmpfs).
    */
  def getOrCreate(cores: String = defaultCores,
      shufflePartitions: Option[String] = None,
      localDir: Option[String] = None): SparkSession = {
    val spark = confs(sys.props, cores, shufflePartitions.getOrElse(cores),
        localDir, sys.env.getOrElse("SPARK_GRAFT_MIN_SPLIT", "1m"))
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietAllowlistedWarnings()
    spark
  }
}
