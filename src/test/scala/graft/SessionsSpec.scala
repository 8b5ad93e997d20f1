package graft

/** graft.Sessions: which confs a session gets, given the JVM's system
  * properties (a pure function — a JVM holds one SparkContext, so the
  * spark-submit rule cannot be checked by building a second session), and
  * what the shared test session built by the factory carries.
  */
class SessionsSpec extends SparkSpec {

  test("without spark.master the local defaults are applied") {
    val c = Sessions.confs(Map("user.dir" -> "/tmp"), cores = "3",
      shufflePartitions = "5", localDir = Some("/tmp/graft-x"),
      minSplit = "2m")
    assert(c.map(_._1).distinct.size === c.size, "duplicate keys")
    val m = c.toMap
    Sessions.Shared.foreach { case (k, v) => assert(m(k) === v, k) }
    assert(m("spark.master") === "local[3]")
    assert(m("spark.sql.shuffle.partitions") === "5")
    assert(m("spark.ui.enabled") === "false")
    assert(m("spark.sql.adaptive.coalescePartitions.minPartitionSize") === "2m")
    assert(m("spark.local.dir") === "/tmp/graft-x")
  }

  test("with spark.master set (spark-submit), only the shared keys are " +
      "applied") {
    val c = Sessions.confs(
      Map("spark.master" -> "yarn", "spark.sql.shuffle.partitions" -> "4000"),
      cores = "3", shufflePartitions = "3", localDir = Some("/tmp/graft-x"),
      minSplit = "1m")
    assert(c === Sessions.Shared)
    assert(c.toMap === Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.functions.GraftExtensions"))
  }

  test("the shared test session resolves GraftExtensions functions and " +
      "runs in UTC") {
    assert(spark.catalog.functionExists("char_pairs"))
    val row = spark.sql(
      "SELECT size(char_pairs('abc')) AS n, " +
        "unix_timestamp(timestamp'1970-01-01 00:00:00') AS t").head
    assert(row.getInt(0) > 0)
    assert(row.getLong(1) === 0L)
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }
}
