package graft.core

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS: unset → 32, a positive integer → itself") {
    assert(GraftSession.parseCores(None) == 32)
    assert(GraftSession.parseCores(Some("8")) == 8)
  }

  test("SPARK_GRAFT_CPUS: zero and non-integers are rejected with the variable's name") {
    Seq("0", "4x", "-2", "").foreach { raw =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCores(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), raw)
    }
  }
}
