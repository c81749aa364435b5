package graft

import org.scalatest.funsuite.AnyFunSuite
import OpsFixture.spark

/** `GraphOps.noSweepAqe`, the scope around every iterative graph loop:
  * inside it, AQE is off and jobs carry the sweep call site; on exit the
  * caller's AQE setting and call site are back as they were. */
class SweepScopeSpec extends AnyFunSuite {
  test("noSweepAqe restores the caller's call site and AQE setting") {
    val sc = spark.sparkContext
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    sc.setCallSite("caller's own call site")
    try {
      val inside = operators.GraphOps.noSweepAqe(spark) {
        (sc.getLocalProperty("callSite.short"), spark.conf.get("spark.sql.adaptive.enabled"))
      }
      assert(inside == ("sweep at GraphOps (declared loop materialization)", "false"))
      assert(sc.getLocalProperty("callSite.short") == "caller's own call site")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == aqe)
    } finally sc.clearCallSite()
    operators.GraphOps.noSweepAqe(spark)(())
    assert(sc.getLocalProperty("callSite.short") == null,
      "a caller without a call site must not inherit the sweep's")
  }
}
