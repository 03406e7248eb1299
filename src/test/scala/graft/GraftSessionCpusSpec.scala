package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionCpusSpec extends AnyFunSuite {
  private def cpus(v: String): Int = GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> v))

  test("SPARK_GRAFT_CPUS parses as a positive Int, default 32") {
    assert(cpus("8") === 8)
    assert(GraftSession.cpus(Map.empty) === 32)
  }

  test("a non-numeric or non-positive SPARK_GRAFT_CPUS fails fast, naming the variable") {
    Seq("*", "0").foreach { v =>
      val e = intercept[IllegalArgumentException](cpus(v))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"))
      assert(e.getMessage.contains(s"'$v'"))
    }
  }
}
