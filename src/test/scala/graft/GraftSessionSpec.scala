package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.CodegenMetrics

/** The test session runs the profile Bench and Verify run, so the plans
  * the suites pin cannot drift from the plans the bench measures. */
class GraftSessionSpec extends AnyFunSuite {

  test("the test session carries every setting of the profile") {
    val conf = TestSpark.spark.conf
    (GraftSession.settings(4) ++ LocalScratch.conf).foreach { case (k, v) =>
      assert(conf.get(k) === v, k)
    }
  }

  test("core count is SPARK_GRAFT_CPUS when set, else the host's cores") {
    assert(GraftSession.resolveCores(Some("7"), host = 4) === 7)
    assert(GraftSession.resolveCores(None, host = 4) === 4)
  }

  test("the codegen cache keeps a working set of more than 100 generated classes") {
    // 150 distinct trivial projections, twice: Spark's default cache of
    // 100 classes evicts each before its second use and recompiles them
    // all; the profile's cache serves the whole second round.
    val s = TestSpark.spark
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    def round(): Long = {
      val before = compiles.getCount
      (0 until 150).foreach(i => s.range(1).selectExpr(s"id + ${1000 + i} AS x").collect())
      compiles.getCount - before
    }
    assert(round() > 100)
    assert(round() === 0)
  }
}
