package graft

import org.scalatest.funsuite.AnyFunSuite

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
}
