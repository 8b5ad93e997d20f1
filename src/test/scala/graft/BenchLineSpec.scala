package graft

import org.scalatest.funsuite.AnyFunSuite

/** The compact last stdout line of graft.Bench, the machine-read summary,
  * stays inside a ~2 KB tail window. Pure JVM, no Spark.
  */
class BenchLineSpec extends AnyFunSuite {

  test("compact stdout line fits the driver's tail window for the full surface") {
    // Rounds 10-12 each recorded "parsed": null in BENCH_r*.json: the
    // driver keeps only the last ~2000 chars of stdout and the full
    // per-query JSON line is ~25 KB, so its {"metric": head never made
    // the window. The compact line is the LAST stdout print and must
    // stay well inside the window even after sbt's [success] trailer.
    val names = SparkEntry.queries.keys.toSeq.sorted
    val ok = names.map(n => n -> 1.234567891)
    val line = Bench.compactLine(123.456789, ok, Nil, 3, "/root/testdata/sf0.1")
    assert(line.length < 1200, s"compact line too long: ${line.length}")
    assert(line.startsWith("""{"metric":"total","value":123.457,"unit":"sec""""))
    assert(line.contains("\"n_queries\":" + names.size), line)
    // every headline query that exists in the surface is present
    Bench.Headline.filter(names.contains).foreach { h =>
      assert(line.contains("\"" + h + "\":1.235"), h)
    }
    assert(Bench.Headline.count(names.contains) >= 15,
      "headline subset has drifted away from the live surface")
    // failures still surface in the compact channel
    val withErr = Bench.compactLine(1.0, ok.take(2), Seq("q_bad"), 3, "sf")
    assert(withErr.contains(""""errors":["q_bad"]"""))
  }
}
