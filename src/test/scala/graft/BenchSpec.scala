package graft

import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

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

  test("the gate session installs the SQL extension") {
    // in a JVM of its own: in this one the SparkContext already carries the
    // test session's spark.sql.extensions, whatever GateRunner.session sets
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = jvm.filter(_.startsWith("--add-opens=")) ++
      jvm.sliding(2).collect { case Seq("--add-opens", v) => s"--add-opens=$v" }
    val err = java.io.File.createTempFile("ext-probe", ".err")
    err.deleteOnExit()
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx512m") ++
      opens ++ Seq("-cp", System.getProperty("java.class.path"),
        ExtensionsProbe.getClass.getName.stripSuffix("$"))
    val proc = new ProcessBuilder(cmd.asJava).redirectError(err).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toSeq
    assert(proc.waitFor(180, TimeUnit.SECONDS), "probe JVM did not exit")
    val stderrTail =
      java.nio.file.Files.readAllLines(err.toPath).asScala.takeRight(20).mkString("\n")
    assert(proc.exitValue() == 0 && out.contains(ExtensionsProbe.Done),
      s"${out.mkString("\n")}\n$stderrTail")
  }
}
