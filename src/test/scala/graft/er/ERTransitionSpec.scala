package graft.er

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkException, TestAccess}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.{ConstantSimilarity, LevenshteinSimilarity}
import graft.er.model._
import graft.operators.LoopCheckpoint

/** The partition-keyed transition (ERState.step, checkpointed, summarize)
  * and the sampler loop around it: the fixed-seed chain, the summary fold,
  * the job shape of a sweep, and release of caches and cuts on failure. */
class ERTransitionSpec extends AnyFunSuite {
  import ERTransitionSpec._

  lazy val spark = TestSpark.spark

  private val firstNames = Vector("ANNA", "BERND", "CARSTEN", "DORIS", "ERWIN",
    "FRIEDA", "GERD", "HELGA", "INGO", "JUTTA", "KLAUS", "LENA")
  private val lastNames = Vector("MUELLER", "SCHMIDT", "SCHNEIDER", "FISCHER",
    "WEBER", "MEYER", "WAGNER", "BECKER")

  /** 60 records of 40 entities: every other entity has a second record,
    * an exact copy or (every fourth entity) a copy with one first-name
    * character replaced. */
  private lazy val records = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(60606L)
    val rows = (0 until 40).flatMap { e =>
      val fn = firstNames(rng.nextInt(firstNames.length))
      val ln = lastNames(rng.nextInt(lastNames.length))
      val by = (1950 + rng.nextInt(20)).toString
      val base = (s"r$e-0", fn, ln, by)
      if (e % 4 == 0) {
        val i = rng.nextInt(fn.length)
        Seq(base, (s"r$e-1", fn.updated(i, ('A' + rng.nextInt(26)).toChar), ln, by))
      } else if (e % 2 == 0) Seq(base, (s"r$e-1", fn, ln, by))
      else Seq(base)
    }
    rows.toDF("rec_id", "fname", "lname", "by")
  }

  private val specs = Seq(
    AttributeSpec("fname", LevenshteinSimilarity(7.0, 10.0), BetaParams(0.5, 50.0)),
    AttributeSpec("lname", LevenshteinSimilarity(7.0, 10.0), BetaParams(0.5, 50.0)),
    AttributeSpec("by", ConstantSimilarity, BetaParams(0.5, 50.0)))

  private def twoPartitions(idx: ModelIndex): EntityPartitioner =
    KDTreePartitioner.fit(idx, Seq(0), 1)

  private def fourPartitions(idx: ModelIndex): EntityPartitioner =
    KDTreePartitioner.fit(idx, Seq(0, 1), 2)

  /** Linkage rows as a sorted multiset of (iteration, partition, clusters). */
  private def rows(samples: Seq[LinkageSample]): Seq[(Long, Int, String)] =
    samples.map(s => (s.iteration, s.partitionId,
      s.linkageStructure.map(_.sorted.mkString(",")).sorted.mkString(";")))
      .sorted

  /** Parquet part files per `partitionId=p` directory of a chain. */
  private def partFiles(chain: String): Map[String, Int] = {
    val w = Files.list(Paths.get(chain))
    try w.iterator().asScala.filter(Files.isDirectory(_)).map { d =>
      val f = Files.list(d)
      try d.getFileName.toString ->
        f.iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
      finally f.close()
    }.toMap
    finally w.close()
  }

  private def init(kind: GibbsKernel.SamplerKind,
      partitioner: ModelIndex => EntityPartitioner = twoPartitions): ERState =
    ERState.initialize(spark, records, "rec_id", None, specs, partitioner,
      seed = 1234L, samplerKind = kind)

  /** One line per sweep: iteration, observed entities, isolates, then the
    * aggregate and per-record distortion counts in key order. */
  private def render(d: Sampler.Diagnostics): String = {
    val agg = d.aggDistortions.toSeq.sorted.map { case ((a, f), n) => s"$a/$f=$n" }
    val rec = d.recDistortions.toSeq.sorted.map { case (k, n) => s"$k=$n" }
    s"${d.iteration} ${d.numObservedEntities} ${d.numIsolates} " +
      s"${agg.mkString(",")} ${rec.mkString(",")}"
  }

  // Captured from the Dataset-plan transition this RDD transition
  // replaced, for both sampler kinds (they agree on this input). The log
  // likelihood is left out: only its summation order changed.
  private val expectedDiagnostics = Seq(
    "1 55 5  0=60",
    "2 53 7 1/0=1 0=59,1=1",
    "3 52 8 1/0=2 0=58,1=2",
    "4 51 9  0=60",
    "5 51 9  0=60",
    "6 51 9  0=60",
    "7 50 10  0=60",
    "8 50 10  0=60",
    "9 50 10  0=60",
    "10 50 10  0=60",
    "11 50 10  0=60",
    "12 50 10  0=60")
  // the shared most probable clusters with more than one record; every
  // other record is a singleton (51 clusters in all)
  private val expectedLinked = Seq(
    "r10-0,r10-1", "r14-0,r14-1", "r18-0,r18-1", "r2-0,r2-1", "r22-0,r22-1",
    "r26-0,r26-1", "r30-0,r30-1", "r38-0,r38-1", "r6-0,r6-1")

  Seq(GibbsKernel.PCG1, GibbsKernel.Gibbs).foreach { kind =>
    test(s"fixed-seed 12-sweep chain is unchanged across the rewrite ($kind)") {
      import spark.implicits._
      val st = init(kind)
      assert(st.partitioner.numPartitions == 2)
      val res = Sampler.run(st, numSweeps = 12, checkpointEvery = 3)
      assert(res.diagnostics.map(render) == expectedDiagnostics)
      val smpc = Analysis.sharedMostProbableClusters(res.chain.get)
        .select("records").as[Seq[String]].collect().map(_.sorted)
      assert(smpc.length == 51)
      assert(smpc.filter(_.size > 1).map(_.mkString(",")).sorted.toSeq ==
        expectedLinked)
    }
  }

  test("summarize equals a driver-side recount; repeated calls are bit-identical") {
    val st = (1 to 3).foldLeft(
      init(GibbsKernel.PCG1, fourPartitions)
    )((s, _) => s.step())
    val parts = st.clusterView.mapPartitions(it => Iterator(it.size)).collect()
    assert(parts.length == 4 && parts.count(_ > 0) > 1, parts.toSeq)

    val a = ERState.summarize(st.clusterRdd, st.index, st.records, st.theta)
    val b = ERState.summarize(st.clusterRdd, st.index, st.records, st.theta)
    assert(java.lang.Double.doubleToRawLongBits(a.logLikelihood) ==
      java.lang.Double.doubleToRawLongBits(b.logLikelihood))
    assert(a == b && a == st.summary)

    val want = recount(st.clusterView.collect().toSeq, st.index.value, st.theta)
    assert(a.numObservedEntities == want.numObservedEntities)
    assert(a.numIsolates == want.numIsolates)
    assert(a.aggDistortions == want.aggDistortions)
    assert(a.recDistortions == want.recDistortions)
    assert(want.numObservedEntities + want.numIsolates == 60)
    assert(math.abs(a.logLikelihood - want.logLikelihood) <=
      1e-9 * math.abs(want.logLikelihood))
  }

  test("initialize is one Spark job") {
    val (st, (jobs, _)) = shape(init(GibbsKernel.PCG1))
    // an index built by a melt aggregation, with a second pass to encode
    // the records and a job for the initial summary, took
    // ParentInitializeJobs jobs here
    assert(jobs == 1, s"$jobs jobs, $ParentInitializeJobs before")
    st.release()
  }

  test("a step is one job of two stages and a local cut one job, at every sweep") {
    val sc = spark.sparkContext
    var st = init(GibbsKernel.PCG1)
    assert(st.partitioner.numPartitions == 2)
    // the first step also computes the blocks initialize placed
    val steps = (1 to 9).map { _ =>
      val (next, n) = shape(st.step())
      st = next
      n
    }
    val (cut, cutShape) = shape(st.checkpointed())
    val (_, afterCut) = shape(cut.step())
    assert(steps.forall(_ == ((1, 2))), steps)
    assert(steps(8) == steps(0))
    assert(cutShape._1 == 1, cutShape)
    assert(afterCut == ((1, 2)))
  }

  test("a run failing at sweep 3 releases its caches and durable cuts") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft-er-cuts")
    def cutDirs(): Seq[Path] = {
      val w = Files.walk(dir)
      try w.iterator().asScala
        .filter(_.getFileName.toString.startsWith("rdd-")).toList
      finally w.close()
    }
    val n = records.count()
    spark.conf.set(LoopCheckpoint.ModeKey, "reliable")
    spark.conf.set(LoopCheckpoint.DirKey, dir.toString)
    try {
      // holding the map keeps every RDD in it strongly reachable, so none
      // drops out of the (weak-valued) persistent set mid-test
      val before = sc.getPersistentRDDs

      // control: the same chain without the failure cuts at sweeps 1 and
      // 2, and keeps only the live state's cut and cache
      partitionCalls.set(0)
      val ok = Sampler.run(
        init(GibbsKernel.Gibbs, idx => new FailingPartitioner(twoPartitions(idx), Long.MaxValue)),
        numSweeps = 2, checkpointEvery = 1,
        chainPath = Some(dir.resolve("chain").toString))
      val kept = ok.state.clusterRdd.getCheckpointFile
      assert(kept.isDefined && cutDirs().size == 1)
      assert(sc.getPersistentRDDs.keySet == before.keySet + ok.state.clusterRdd.id)
      ok.state.clusterRdd.unpersist(blocking = true)
      LoopCheckpoint.deleteCheckpointFile(spark, kept.get)
      assert(cutDirs().isEmpty)

      // init and sweeps 1-2 route n clusters each, so every attempt of
      // sweep 3 throws
      partitionCalls.set(0)
      val failing = init(GibbsKernel.Gibbs,
        idx => new FailingPartitioner(twoPartitions(idx), 3 * n))
      val e = intercept[SparkException] {
        Sampler.run(failing, numSweeps = 6, checkpointEvery = 1)
      }
      assert(e.getMessage.contains(FailingPartitioner.Message))
      assert(partitionCalls.get() > 3 * n)
      assert(sc.getPersistentRDDs.keySet == before.keySet)
      assert(cutDirs().isEmpty, cutDirs())
    } finally {
      spark.conf.unset(LoopCheckpoint.ModeKey)
      spark.conf.unset(LoopCheckpoint.DirKey)
    }
  }

  test("the state is one block per partition, after init, steps and cuts") {
    def blocks(st: ERState) =
      st.clusterRdd.mapPartitions(it => Iterator(it.size)).collect().toSeq
    var st = init(GibbsKernel.PCG1, fourPartitions)
    assert(blocks(st) == Seq(1, 1, 1, 1))
    (1 to 3).foreach { _ =>
      st = st.step()
      assert(blocks(st) == Seq(1, 1, 1, 1))
    }
    st = st.checkpointed()
    assert(blocks(st) == Seq(1, 1, 1, 1))
    // Spark partition p holds exactly the entities keyed to p
    val part = st.partitioner
    val keyed = st.clusterView.mapPartitionsWithIndex((p, cs) =>
      cs.map(c => c.partitionId == p && part.partitionOf(c.entityValues) == p))
    assert(keyed.collect().forall(identity))
    assert(st.clusterView.count() == st.summary.numObservedEntities +
      st.summary.numIsolates)
  }

  test("a flush of linkage samples is one job with no shuffle stage") {
    val sc = spark.sparkContext
    val st1 = init(GibbsKernel.PCG1).step()
    val st2 = st1.step(retainClusters = true)
    val st3 = st2.step(retainClusters = true)
    val batch = ERState.linkageSamples(Seq(st2, st3))
    val dir = Files.createTempDirectory("graft-er-flush").resolve("chain").toString
    val (_, (jobs, stages)) = shape(
      batch.write.partitionBy("partitionId").parquet(dir))
    assert((jobs, stages) == ((1, 1)))
    val chain = IO.readChain(spark, dir).collect()
    assert(chain.map(_.iteration).distinct.sorted.toSeq == Seq(2L, 3L))
    assert(chain.filter(_.iteration == 3L).flatMap(_.linkageStructure.flatten)
      .sorted.toSeq == records.collect().map(_.getString(0)).sorted.toSeq)
    Seq(st2, st3).foreach(_.clusterRdd.unpersist(blocking = true))
  }

  test("a flush of k samples over n partitions is one write task and one file per partition") {
    val sc = spark.sparkContext
    var st = init(GibbsKernel.PCG1, fourPartitions).step()
    val states = (1 to 3).map { _ => st = st.step(retainClusters = true); st }
    val n = st.numPartitions
    assert(n == 4)
    val batch = ERState.linkageSamples(states)
    assert(batch.rdd.getNumPartitions == n)
    val dir = Files.createTempDirectory("graft-er-flush").resolve("chain").toString
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        tasks.add(e.stageInfo.numTasks); ()
      }
    }
    TestAccess.drainListenerBus(sc)
    sc.addSparkListener(listener)
    val (_, (jobs, stages)) = try shape(
      batch.write.partitionBy("partitionId").parquet(dir))
    finally sc.removeSparkListener(listener)
    // the union of one Dataset per sample wrote k·n tasks and files
    assert((jobs, stages) == ((1, 1)))
    assert(tasks.asScala.toSeq == Seq(n))
    val files = partFiles(dir)
    assert(files.values.forall(_ == 1) && files.size == n, files)

    val perState = states.flatMap(_.linkageSample().collect())
    assert(rows(IO.readChain(spark, dir).collect()) == rows(perState))
    assert(rows(batch.collect()) == rows(perState))
    states.foreach(_.clusterRdd.unpersist(blocking = true))
  }

  test("a batch with a state without a partitioner still yields its rows") {
    val st0 = init(GibbsKernel.PCG1, fourPartitions)
    assert(st0.clusterRdd.partitioner.isEmpty)
    val st1 = st0.step(retainClusters = true)
    val st2 = st1.step(retainClusters = true)
    val states = Seq(st0, st1, st2)
    val batch = ERState.linkageSamples(states)
    // Spark falls back to a plain union: one task per state and partition
    assert(batch.rdd.getNumPartitions == 3 * st0.numPartitions)
    assert(rows(batch.collect()) ==
      rows(states.flatMap(_.linkageSample().collect())))
    states.foreach(_.clusterRdd.unpersist(blocking = true))
  }

  test("the in-memory chain holds the durable chain's rows, one file per partition and flush") {
    val dir = Files.createTempDirectory("graft-er-flush").resolve("chain").toString
    // six samples, flushed as four and two
    def run(chainPath: Option[String]) = Sampler.run(init(GibbsKernel.PCG1, fourPartitions),
      numSweeps = 6, checkpointEvery = 3, writeBufferSize = 4, chainPath = chainPath)
    val durable = run(Some(dir))
    val inMemory = run(None)
    val files = partFiles(dir)
    assert(files.nonEmpty && files.values.forall(_ == 2), files)
    val chain = rows(durable.chain.get.collect())
    assert(chain.map(_._1).distinct == (1L to 6L))
    assert(rows(inMemory.chain.get.collect()) == chain)
    assert(rows(IO.readChain(spark, dir).collect()) == chain)
    Seq(durable.state, inMemory.state).foreach(_.clusterRdd.unpersist(blocking = true))
  }

  test("a step shuffles at most a third of the bytes the cluster objects did") {
    val sc = spark.sparkContext
    val written = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        written.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
      }
    }
    var st = init(GibbsKernel.PCG1)
    sc.addSparkListener(listener)
    try {
      (1 to 9).foreach(_ => st = st.step())
      TestAccess.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    // shuffle bytes per step of this chain when each step shuffled
    // Java-serialized EntityClusters, measured once on that code
    val clusterObjectBytes = ParentShuffleBytesPerStep
    info(s"${written.get() / 9} bytes per step, $clusterObjectBytes with cluster objects")
    assert(written.get() / 9 <= clusterObjectBytes / 3,
      s"${written.get() / 9} bytes per step")
  }

  test("a state saved with cluster records resumes into the uninterrupted chain") {
    import spark.implicits._
    // saved by the code that held the state as Java-serialized clusters:
    // this test's 60 records, PCG-I, two partitions, seed 1234, 3 sweeps
    val saved = Paths.get(getClass.getResource(
      "/er/state-saved-with-cluster-records/driver-state.bin").toURI).getParent
    val (resumed, (loadJobs, _)) = shape(
      IO.loadState(spark, saved.toString))
    // inferring the clusters' schema from the Parquet footers took a
    // second job
    assert(loadJobs == 1, s"$loadJobs jobs, 2 before")
    assert(resumed.iteration == 3L && resumed.partitioner.numPartitions == 2)
    assert(resumed.clusterRdd.mapPartitions(it => Iterator(it.size)).collect()
      .toSeq == Seq(1, 1))

    val straight = Sampler.run(init(GibbsKernel.PCG1), numSweeps = 3,
      checkpointEvery = 10).state
    assert(resumed.theta == straight.theta)
    assert(resumed.summary.copy(logLikelihood = 0.0) ==
      straight.summary.copy(logLikelihood = 0.0))
    def clustering(st: ERState) =
      st.currentClusters().collect().map(_.sorted.mkString(",")).sorted.toSeq
    assert(clustering(resumed) == clustering(straight))

    val a = Sampler.run(resumed, numSweeps = 3, checkpointEvery = 10)
    val b = Sampler.run(straight, numSweeps = 3, checkpointEvery = 10)
    assert(a.diagnostics.map(render) == b.diagnostics.map(render))
    assert(a.diagnostics.map(render) == Seq("4 51 9  0=60", "5 51 9  0=60",
      "6 51 9  0=60"))
    assert(clustering(a.state) == clustering(b.state))
    assert(clustering(a.state).filter(_.contains(",")) == expectedLinked)
    Seq(a.state, b.state).foreach(_.release())
  }

  /** SummaryVars recomputed on the driver from collected clusters. */
  private def recount(cs: Seq[EntityCluster], idx: ModelIndex,
      theta: DistortionProbs): SummaryVars = {
    val attrs = 0 until idx.numAttributes
    val recs = for (c <- cs; r <- c.records) yield (c, r)
    def observed(r: StateRecord) = attrs.filter(r.values(_) != MissingValue)
    val entityTerms = cs.map(c =>
      attrs.map(a => math.log(idx.attributes(a).probs(c.entityValues(a)))).sum)
    val recordTerms = recs.map { case (c, r) =>
      observed(r).map { a =>
        val th = theta(a, r.fileId)
        if (r.distorted(a)) math.log(th) +
          math.log(idx.attributes(a).distortionProb(r.values(a), c.entityValues(a)))
        else math.log(1.0 - th)
      }.sum
    }
    val distorted = recs.map { case (_, r) => observed(r).filter(r.distorted(_)) }
    SummaryVars(
      cs.count(_.records.nonEmpty).toLong,
      cs.count(_.records.isEmpty).toLong,
      entityTerms.sum + recordTerms.sum,
      recs.zip(distorted).flatMap { case ((_, r), as) => as.map(a => (a, r.fileId)) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong },
      distorted.groupBy(_.size).map { case (k, v) => k -> v.size.toLong })
  }
}

object ERTransitionSpec {

  /** Shuffle write bytes per step of the 9-step PCG-I chain in "a step
    * shuffles at most a third of the bytes", measured on the code whose
    * state was an RDD of Java-serialized EntityClusters. */
  val ParentShuffleBytesPerStep = 3026L

  /** Spark jobs `ERState.initialize` ran on this spec's input when the
    * index came from a grouped melt aggregation and the records were
    * encoded in a second pass. */
  val ParentInitializeJobs = 8

  /** (jobs, stages submitted) while `f` runs. */
  def shape[A](f: => A): (A, (Int, Int)) = {
    val (a, s) = TestSpark.jobShape(f)
    (a, (s.jobs, s.stages))
  }

  /** partitionOf calls, counted across every task's copy of the
    * partitioner (local mode runs tasks in this JVM). */
  val partitionCalls = new AtomicLong

  /** Routes as `inner` does, but every call after the first `limit`
    * throws, on every task attempt. */
  final class FailingPartitioner(inner: EntityPartitioner, limit: Long)
      extends EntityPartitioner {
    def numPartitions: Int = inner.numPartitions
    def partitionOf(entityValues: Array[Int]): Int = {
      if (partitionCalls.incrementAndGet() > limit)
        throw new IllegalStateException(FailingPartitioner.Message)
      inner.partitionOf(entityValues)
    }
  }

  object FailingPartitioner {
    val Message = "test partitioner failure"
  }
}
