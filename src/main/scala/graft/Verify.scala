package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.getOrCreate()
    // The text/dedup oracle SQL explodes token positions with a
    // constant-bound generate_series(1, 512, …) and char-pair positions
    // with generate_series(1, 16) (DuckDB rejects lateral column
    // arguments to table functions) while the Spark side handles
    // arbitrary lengths. Check both fixture invariants ONCE, loudly —
    // using the engine's own tokenizer (graft.text.TextOps.tokens), so
    // the guard can't drift from what the queries actually tokenize.
    // WARN, never throw: a violated bound makes the text-family ORACLES
    // wrong (their red rows then point here), but a crash at this point
    // would zero the ENTIRE correctness artifact — the round-8 failure
    // mode (silently missing entries) in its worst form.
    def invariant(ok: Boolean, msg: => String): Unit =
      if (!ok) System.err.println(s"[verify] FIXTURE INVARIANT VIOLATED " +
        s"(text/dedup oracles will hash-mismatch): $msg")
    locally {
      import org.apache.spark.sql.functions._
      val toks = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(explode(graft.text.TextOps.tokens(col("text"))).as("t"))
      val row = toks
        .agg(max(length(col("t"))).as("max_len"), count(lit(1)).as("n"))
        .head
      if (!row.isNullAt(0)) { // empty documents table trivially satisfies
        invariant(row.getInt(0) <= graft.queries.Text.BpeMaxTokenLen,
          s"a token has ${row.getInt(0)} chars " +
            s"(> ${graft.queries.Text.BpeMaxTokenLen}) — raise " +
            "Text.BpePairPositions")
      }
      val maxToks = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(size(graft.text.TextOps.tokens(col("text"))).as("n"))
        .agg(max(col("n"))).head
      if (!maxToks.isNullAt(0)) {
        invariant(maxToks.getInt(0) <= 512,
          s"a document has ${maxToks.getInt(0)} tokens (> 512) — raise " +
            "the generate_series bound in DocSql/Text")
      }
    }
    new java.io.File(outDir).mkdirs()
    // dev affordance (mirrors Bench): SPARK_GRAFT_ONLY=a,b dumps a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.view.filterKeys(names).toMap)
    // A failed query must show up RED in the correctness artifact, never
    // silently vanish: leave an empty marker dir (the driver's parquet read
    // fails -> `err` row) plus an `_ERROR.txt` (underscore-prefixed, so no
    // parquet glob matches it) and a consolidated `_errors.json`.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        val d = Paths.get(s"$outDir/$name")
        Files.createDirectories(d)
        val ls = Files.list(d)
        try ls.forEach { p =>
          if (p.getFileName.toString.endsWith(".parquet") ||
              p.getFileName.toString == "_SUCCESS") Files.delete(p)
        } finally ls.close()
        Files.writeString(d.resolve("_ERROR.txt"), msg)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    spark.stop()
    // Exit 0 even on per-query failures: the marker dirs carry the red
    // signal per query, and a nonzero exit could cost the WHOLE compare
    // (all green queries) if the driver gates on rc.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries failed: " +
        errors.keys.mkString(", "))
  }
}
