package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.BandedRangeJoinRule

class BenchSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(GateRunner.cpusOf("8") == 8)
    assert(GateRunner.cpusOf(" 32 ") == 32)
    Seq("*", "4.0", "0", "-2", "", "eight").foreach { raw =>
      val e = intercept[IllegalArgumentException](GateRunner.cpusOf(raw))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), raw)
    }
  }

  test("isolate resets what a gate leaves in the session") {
    val spark = TestSpark.spark
    // a gate in the shape of q_join_range_rule plus a loop cut: installs
    // the range-join rule, sets its band and leaves RDD blocks pinned
    spark.experimental.extraOptimizations = Seq(BandedRangeJoinRule)
    spark.conf.set(BandedRangeJoinRule.ConfKey, "1000")
    val cut = spark.range(0, 100).rdd.map(_ * 2)
    cut.localCheckpoint()
    assert(cut.count() == 100)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    GateRunner.isolate(spark)
    assert(spark.experimental.extraOptimizations.isEmpty)
    assert(spark.conf.getOption(BandedRangeJoinRule.ConfKey).isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
