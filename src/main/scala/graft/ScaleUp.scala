package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Order-of-magnitude fixture amplifier: `runMain graft.ScaleUp <srcDir>
  * <outDir> <factor>` replicates the driver-generated sf tables
  * `factor`× with per-replica key shifts, producing an sf1.0-class
  * dataset from sf0.1 for the scaling bench (`scripts/bench_sf1.sh`,
  * BASELINE.md "sf1.0 scaling" section).
  *
  * Replication rules — chosen so every query family measures its real
  * scaling exponent rather than an artifact of the amplification:
  *  - every id-like key shifts by `replica × 1e9` (one global stride:
  *    original keys are ≪ 1e9, so replicas never collide and every
  *    intra-replica foreign-key reference stays consistent — joins scale
  *    honestly);
  *  - `region`/`nation` are TPC-H-style fixed dimensions: copied, not
  *    replicated (their keys are referenced by value);
  *  - `documents.text` gets a per-replica suffix (and `n_chars` is
  *    recomputed): without it, every doc would gain factor-1 exact
  *    duplicates and the dedup family would measure the artifact, not
  *    the corpus (near-dup structure WITHIN each replica is preserved);
  *  - `embeddings.embedding` gets a tiny deterministic first-coordinate
  *    jitter per replica, breaking the exact ties that would otherwise
  *    make every ANN top-k degenerate;
  *  - timestamps are left as-is: replicated users at the same instants
  *    densify traffic, which is exactly how event volume grows.
  *
  * Everything is one narrow projection per replica unioned and written
  * once — the amplifier itself is a linear pass.
  */
object ScaleUp {

  private val Stride = 1000000000L

  private def shifted(df: DataFrame, replica: Int,
      keyCols: Seq[String]): DataFrame =
    keyCols.foldLeft(df)((d, k) =>
      d.withColumn(k, col(k) + lit(replica.toLong * Stride)))

  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val spark = Sessions.getOrCreate()
    amplifyTo(spark, srcDir, outDir, factorS.toInt)
    spark.stop()
  }

  /** The amplification itself, callable from any session (ScaleUpSpec
    * drives it with the test session).
    */
  def amplifyTo(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")

    def src(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }

    def amplify(t: String, keys: Seq[String],
        perReplica: (DataFrame, Int) => DataFrame = (d, _) => d): Unit =
      write(t, (0 until factor).map(r =>
        perReplica(shifted(src(t), r, keys), r)).reduce(_.unionByName(_)))

    // fixed dimensions: copied, not replicated
    write("region", src("region"))
    write("nation", src("nation"))

    amplify("customer", Seq("c_custkey"))
    amplify("supplier", Seq("s_suppkey"))
    amplify("part", Seq("p_partkey"))
    amplify("orders", Seq("o_orderkey", "o_custkey"))
    amplify("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    amplify("events", Seq("event_id", "user_id"))
    amplify("documents", Seq("doc_id"), (d, r) =>
      if (r == 0) d
      else d.withColumn("text", concat(col("text"), lit(s" rv$r")))
        .withColumn("n_chars", length(col("text")).cast("long")))
    amplify("embeddings", Seq("vec_id"), (d, r) =>
      if (r == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(r * 1e-4f)).otherwise(x))))

    // marker gate for scripts/bench_sf1.sh idempotence
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/_SCALED"),
      s"src=$srcDir factor=$factor\n")
    ()
  }
}
