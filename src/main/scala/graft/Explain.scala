package graft

/** Plan-audit tool: prints the formatted physical plan of named queries
  * (all of them by default) against a scale-factor dir. Used to keep every
  * lineage honest about shuffles, pushdown, and codegen coverage.
  *
  *   sbt "runMain graft.Explain /root/testdata/sf0.01 dd_minhash_lsh"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.getOrCreate()
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
