package graft

import org.scalatest.funsuite.AnyFunSuite

class SessionSpec extends AnyFunSuite {

  test("cpus defaults to every core up to 32 and takes a set count") {
    assert(Session.cpus(None) ==
      math.min(Runtime.getRuntime.availableProcessors, 32))
    assert(Session.cpus(Some("3")) == 3)
  }

  test("cpus rejects a setting that is not a positive integer") {
    Seq("0", "-1", "", "abc").foreach { s =>
      val e = intercept[IllegalArgumentException](Session.cpus(Some(s)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), s)
    }
  }
}
