package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The single-JVM [[Bench]] runner on the shared test session: its JSON
  * line, read back with a real JSON parser, and the registry check that
  * Bench and Verify run before they build a session. */
class BenchSpec extends AnyFunSuite {
  lazy val s = TestSpark.spark

  test("time reports a timed query, a failed query and spreads, and leaves the session open") {
    val missingTable: (SparkSession, String) => DataFrame =
      (sp, d) => sp.read.parquet(s"$d/no_such_table.parquet")
    val (line, failed) = Bench.time(s, TestSpark.sf0001, Seq(
      "zz_missing_table" -> missingTable,
      "q01_pricing_summary" -> SparkEntry.queries("q01_pricing_summary")))
    val j = new ObjectMapper().readTree(line)

    val q01 = j.get("queries").get("q01_pricing_summary").asDouble
    assert(q01 > 0.0)
    val spread = j.get("spread").get("q01_pricing_summary")
    assert(spread.size === 2)
    assert(spread.get(0).asDouble === q01, "the reported time is the fastest draw")
    assert(spread.get(0).asDouble <= spread.get(1).asDouble)

    assert(failed === Seq("zz_missing_table"))
    assert(j.get("failed").size === 1)
    assert(j.get("failed").get(0).asText === "zz_missing_table")
    assert(j.get("errors").get("zz_missing_table").asText.startsWith("AnalysisException"),
      j.get("errors").toString)
    assert(!j.get("errors").has("q01_pricing_summary"))
    assert(j.get("sf").asText === TestSpark.sf0001)

    assert(!s.sparkContext.isStopped)
    assert(s.range(3).count() === 3)
  }

  test("unknown query names are rejected from the registry alone") {
    assert(SparkEntry.unknownQueries(Seq("q01_pricing_summary", "q01_typo")) === Seq("q01_typo"))
    assert(SparkEntry.unknownQueries(Seq("q01_pricing_summary")).isEmpty)
    assert(SparkEntry.unknownQueries(Nil).isEmpty)
  }
}
