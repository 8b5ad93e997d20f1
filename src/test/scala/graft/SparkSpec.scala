package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps the
  * whole test run seconds, not minutes), built by the same factory as the
  * entry points.
  */
object SparkSpec {
  lazy val spark: SparkSession = Sessions.getOrCreate(cores = "2")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
