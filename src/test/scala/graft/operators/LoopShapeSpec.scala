package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Job shape of the driver-paced loops in local mode: each generation is
  * one materializing action whose row count (and, for connected
  * components, changed-row count) comes back from that same action, so a
  * loop call starts a fixed number of jobs for a fixed input. Counted
  * with adaptive execution off: AQE's map-stage jobs vary with stage
  * completion order. The pinned counts include the pin, the initial
  * generation and broadcast jobs; a separate count or probe job per
  * round shows up as a larger count. */
class LoopShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Final-stage names of the Spark jobs `f` starts on this thread,
    * with adaptive execution off. */
  private def jobsDuring[A](f: => A): (A, Seq[String]) = {
    val aqe = "spark.sql.adaptive.enabled"
    val aqeBefore = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "false")
    try {
      val (a, shape) = TestSpark.jobShape(f)
      (a, shape.finalStages)
    } finally aqeBefore.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
  }

  // two rings + a chain (the LoopCheckpointSpec graph): the chain peels
  // away over several rounds, the rings survive
  private lazy val edges = {
    val ring1 = (0 until 12).map(i => (i.toLong, ((i + 1) % 12).toLong))
    val ring2 = (20 until 28).map(i => (i.toLong, (if (i == 27) 20 else i + 1).toLong))
    val chain = (40 until 52).map(i => (i.toLong, (i + 1).toLong))
    (ring1 ++ ring2 ++ chain).map { case (a, b) =>
      (math.min(a, b), math.max(a, b))
    }.toDF("a", "b")
  }

  test("k-core: one job per peel round") {
    val (core, jobs) = jobsDuring(KCore.kCore(edges, k = 2))
    assert(core.count() == 20)
    assert(jobs.size == KCoreJobs, s"k-core started ${jobs.size} jobs: $jobs")
  }

  test("connected components: one job per generation, Int ids as Long ids") {
    val (long, longJobs) = jobsDuring(ConnectedComponents.components(
      (0L until 32L).map(i => (i, i + 1)).toDF("a", "b")))
    val (int, intJobs) = jobsDuring(ConnectedComponents.components(
      (0 until 32).map(i => (i, i + 1)).toDF("a", "b")))
    assert(long.as[(Long, Long)].collect().toMap.values.toSet == Set(0L))
    assert(int.as[(Int, Int)].collect().toMap.values.toSet == Set(0))
    assert(longJobs.size == CCJobs,
      s"Long-id components started ${longJobs.size} jobs: $longJobs")
    assert(intJobs.size == longJobs.size,
      s"Int-id components started ${intJobs.size} jobs, Long ids ${longJobs.size}: $intJobs")
  }

  test("hop distances: one job per BFS round") {
    val chain = (0L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val (dist, jobs) = jobsDuring(
      ShortestPaths.hopDistances(chain, Seq(0L).toDF("node"), maxHops = 5))
    assert(dist.as[(Long, Int)].collect().toMap == (0 to 5).map(i => i.toLong -> i).toMap)
    assert(jobs.size == HopJobs, s"hop distances started ${jobs.size} jobs: $jobs")
  }

  // the single-action loops' job counts on these inputs (the Int-id
  // fallback that took two jobs per generation started 54 for CC)
  private val KCoreJobs = 18
  private val CCJobs = 38
  private val HopJobs = 12
}
