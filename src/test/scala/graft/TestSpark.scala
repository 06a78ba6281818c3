package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.{ExceptionFailure, TestAccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

object TestSpark {

  /** Count of MASKED retries: non-chaos task exceptions inside jobs
    * that ultimately SUCCEEDED. local[4, 2] retries a failed task once,
    * which the fault-injection specs need — but it would also silently
    * absorb a one-shot task crash anywhere else in the suite (racy lazy
    * init, first-touch codegen bugs). Deliberate-failure tests
    * (intercept[...]) fail BOTH attempts, so their jobs fail and don't
    * count; injected chaos failures are excluded by message. The chaos
    * specs assert this stays zero, and any hit prints loudly. */
  val maskedRetries = new AtomicLong(0)

  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val stageNonChaosFailures = new ConcurrentHashMap[Int, AtomicLong]()

  private val hygieneListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      jobStages.put(js.jobId, js.stageIds)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = te.reason match {
      case e: ExceptionFailure
          if !Option(e.description).exists(_.contains("graft chaos")) =>
        stageNonChaosFailures
          .computeIfAbsent(te.stageId, _ => new AtomicLong(0))
          .incrementAndGet()
        ()
      case _ => () // Success, chaos injections, kills (limit/cancel)
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val stages = jobStages.remove(je.jobId)
      je.jobResult match {
        case JobSucceeded if stages != null =>
          val masked = stages.flatMap(s =>
            Option(stageNonChaosFailures.remove(s)).map(_.get())).sum
          if (masked > 0) {
            maskedRetries.addAndGet(masked)
            println(s"[test-hygiene] job ${je.jobId} SUCCEEDED after " +
              s"$masked silently-retried non-chaos task failure(s) — " +
              "a one-shot crash is being masked by local[4, 2]")
          }
        case _ =>
          if (stages != null)
            stages.foreach(stageNonChaosFailures.remove(_))
      }
    }
  }

  /** What the Spark jobs of one call ran: the jobs, the stages submitted,
    * and, per job in start order, its final-stage name and the serialized
    * result bytes its tasks sent the driver. */
  final case class JobShape(jobs: Int, stages: Int, finalStages: Seq[String],
      resultBytes: Seq[Long])

  /** The [[JobShape]] of the jobs `f` starts on this thread. They carry a
    * job tag of their own (Spark SQL hands it to the threads it runs
    * broadcasts on), so a job another thread starts meanwhile is not
    * counted; the listener bus is drained before and after. */
  def jobShape[A](f: => A): (A, JobShape) = {
    val sc = spark.sparkContext
    val tag = s"job-shape-${System.nanoTime()}"
    def tagged(p: java.util.Properties): Boolean =
      Option(p).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.split(",").contains(tag))
    val finals = new ConcurrentLinkedQueue[(String, AtomicLong)]
    val jobOfStage = new ConcurrentHashMap[Int, AtomicLong]
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (tagged(e.properties)) {
          val bytes = new AtomicLong
          finals.add((e.stageInfos.maxBy(_.stageId).name, bytes))
          e.stageIds.foreach(jobOfStage.put(_, bytes))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (tagged(e.properties)) { stages.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (bytes <- Option(jobOfStage.get(e.stageId));
             m <- Option(e.taskMetrics)) bytes.addAndGet(m.resultSize)
    }
    TestAccess.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val a = f
      TestAccess.drainListenerBus(sc)
      val jobs = finals.asScala.toSeq
      (a, JobShape(jobs.size, stages.get, jobs.map(_._1), jobs.map(_._2.get)))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  // local[threads, maxFailures]: task retries ON (2 attempts) so the
  // fault-injection specs can exercise retry determinism. The hygiene
  // listener above keeps the retry budget from masking real one-shot
  // failures elsewhere in the suite.
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // the SQL extension GateRunner.session installs too, so a function
      // that resolves here resolves under Verify and Bench
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // Deep iterative plans (MCMC) otherwise render multi-GB debug strings
      // at persist() time — the string is UI-only, cap it.
      .config("spark.sql.maxPlanStringLength", "16384")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 131-query suites thrash the default 100-entry codegen class cache
      // (static conf) — see GateRunner.session for the measurement
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    s.sparkContext.addSparkListener(hygieneListener)
    s
  }
}
