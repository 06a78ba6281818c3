package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(Bench.cpusOf("8") == 8)
    assert(Bench.cpusOf(" 32 ") == 32)
    Seq("*", "4.0", "0", "-2", "", "eight").foreach { raw =>
      val e = intercept[IllegalArgumentException](Bench.cpusOf(raw))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), raw)
    }
  }
}
