package graft.er

import java.util.SplittableRandom

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.core.Rng
import graft.er.model._
import graft.operators.LoopCheckpoint

/** The distributed sampler state and its Markov transition.
  *
  * State = a persisted RDD[EntityCluster] (+ small driver state: θ,
  * iteration, seed, last summary). One `step()` is one Spark job of two
  * stages: the clusters are keyed by `partitionId` and shuffled with an
  * identity partitioner (logical partition p → Spark partition p), each
  * partition runs its Gibbs sweep and is persisted, and the summary fold
  * reads the persisted partitions in the same job. The reference shuffles
  * twice per sweep (GibbsUpdates.scala:144+150). The lineage grows by one
  * shuffle per step, not by a nested query plan, so step k costs what
  * step 1 does; `checkpointed()` cuts it. `clusters` is a Dataset view of
  * the same RDD for readers (linkage samples, saveState).
  */
final class ERState private (
    val spark: SparkSession,
    val index: Broadcast[ModelIndex],
    val partitioner: EntityPartitioner,
    val clusterRdd: RDD[EntityCluster],
    val theta: DistortionProbs,
    val iteration: Long,
    val baseSeed: Long,
    val samplerKind: GibbsKernel.SamplerKind,
    val summary: SummaryVars) {

  import spark.implicits._

  /** The state as a Dataset (lazy; reads the persisted RDD). */
  lazy val clusters: Dataset[EntityCluster] = spark.createDataset(clusterRdd)

  def numPartitions: Int = partitioner.numPartitions

  /** Conjugate θ update from the distortion counts already aggregated in
    * `summary`: θ_{a,f} ~ Beta(α + d, β + n_obs − d). Driver-side, seeded. */
  private def resampleTheta(rng: SplittableRandom): DistortionProbs = {
    val idx = index.value
    DistortionProbs(
      (for {
        a <- idx.attributes
        f <- idx.fileSizes.keys
      } yield {
        val prior = a.distortionPrior
        val d = summary.aggDistortions.getOrElse((a.attrId, f), 0L).toDouble
        val n = idx.observedCounts.getOrElse((a.attrId, f), 0L).toDouble
        (a.attrId, f) ->
          Rng.nextBeta(rng, prior.alpha + d, prior.beta + math.max(n - d, 0.0))
      }).toMap)
  }

  /** One Markov transition block: θ draw → `innerSweeps` per-partition
    * Gibbs sweeps after one shuffle on the partition keys → summary fold,
    * all in one job. innerSweeps=1 is the reference cadence; larger
    * blocks amortize shuffle + scheduling cost k-fold at the price of
    * k-sweep-stale entity placement and θ (see GibbsKernel.sweepMany).
    * `retainClusters` keeps THIS state's cache alive after the
    * transition (the sampler retains just-sampled states so linkage
    * samples stay lazy projections over cache; see Sampler.run). */
  def step(innerSweeps: Int = 1, retainClusters: Boolean = false): ERState = {
    require(innerSweeps >= 1)
    val it = iteration + innerSweeps
    val driverRng = new SplittableRandom(Rng.seedFor(baseSeed, it, -1L))
    val newTheta = resampleTheta(driverRng)

    val idxB = index
    val part = partitioner
    val kind = samplerKind
    val seed = baseSeed
    val sweepIters = (iteration + 1) to it
    // chaos hook (retry-determinism spec): resolved on the driver,
    // inert unless the session opts in — see graft.core.Chaos
    val chaosFail =
      spark.conf.get(graft.core.Chaos.FailSweepKey, "false").toBoolean

    // HashPartitioner sends Int key p in [0, n) to Spark partition p (an
    // Int hashes to itself), so a sweep task's partition index is the
    // logical partition its RNG streams key on
    val next = clusterRdd
      .keyBy(_.partitionId)
      .partitionBy(new HashPartitioner(part.numPartitions))
      .mapPartitionsWithIndex { (pid, rows) =>
        if (chaosFail) graft.core.Chaos.failFirstAttempt(s"sweep pid=$pid")
        val rngs = sweepIters.map(j =>
          new SplittableRandom(Rng.seedFor(seed, j, pid.toLong)))
        GibbsKernel.sweepMany(rows.map(_._2).toArray, idxB.value, part,
          newTheta, rngs, kind)
      }
      .persist(ERState.Level)

    val newSummary = ERState.materialize(next)(ERState.summarize(next, index, newTheta))
    if (!retainClusters) clusterRdd.unpersist(blocking = false)

    new ERState(spark, index, partitioner, next, newTheta, it, baseSeed,
      samplerKind, newSummary)
  }

  /** Truncate the chain's lineage (reference: periodic RDD checkpoint
    * every 20 sweeps, Sampler.scala:56) with one job over an identity
    * map of the cached state, so no sweep is recomputed. Honors the
    * session's `spark.graft.iterative.checkpoint` policy: `local`
    * (default) keeps the cut in executor blocks; `reliable` also writes
    * it to the checkpoint dir (a second job) so a days-long chain on a
    * real cluster survives executor loss — the reference's
    * PeriodicRDDCheckpointer posture. The sampler's `checkpointEvery`
    * supplies the cadence, so this is a plain one-shot cut. */
  def checkpointed(): ERState = {
    val cut = clusterRdd.mapPartitions(identity, preservesPartitioning = true)
      .persist(ERState.Level)
    if (LoopCheckpoint.reliableMode(spark)) {
      LoopCheckpoint.ensureCheckpointDir(spark)
      cut.checkpoint()
    } else cut.localCheckpoint()
    ERState.materialize(cut)(cut.count())
    clusterRdd.unpersist(blocking = false)
    new ERState(spark, index, partitioner, cut, theta, iteration, baseSeed,
      samplerKind, summary)
  }

  /** Current linkage structure, one row per partition (reference A1,
    * State.scala:102-112); isolates dropped (P5). */
  def linkageSample(): Dataset[LinkageSample] = {
    val it = iteration
    clusters
      .filter(_.records.nonEmpty)
      .groupByKey(_.partitionId)
      .mapGroups { (pid, rows) =>
        LinkageSample(it, pid, rows.map(_.records.map(_.id).toSeq).toSeq)
      }
  }

  /** Predicted clusters (record-id sets) at the current state. */
  def currentClusters(): Dataset[Seq[String]] =
    clusters.filter(_.records.nonEmpty).map(_.records.map(_.id).toSeq)
}

object ERState {

  /** Serialized: Spark sizes a deserialized block by walking its object
    * graph (SizeEstimator), which cost more executor CPU per sweep than
    * (de)serializing the clusters does (OPTIMIZATION_r14.md). */
  private val Level = StorageLevel.MEMORY_AND_DISK_SER

  /** Run the job that fills the persisted `rdd`. If it fails, the cache
    * is dropped before the failure propagates, so a failed transition
    * leaves nothing persisted behind. */
  private def materialize[A](rdd: RDD[_])(job: => A): A =
    try job
    catch {
      case e: Throwable =>
        rdd.unpersist(blocking = false)
        throw e
    }

  /** Reconstruct a state from persisted pieces (IO.loadState — S4 resume).
    * The chain continues exactly where it stopped: same seed discipline,
    * same θ, same iteration counter. */
  def resume(
      spark: SparkSession,
      index: ModelIndex,
      partitioner: EntityPartitioner,
      clusters: Dataset[EntityCluster],
      theta: DistortionProbs,
      iteration: Long,
      baseSeed: Long,
      samplerKind: GibbsKernel.SamplerKind,
      summary: SummaryVars): ERState = {
    val idxB = spark.sparkContext.broadcast(index)
    new ERState(spark, idxB, partitioner,
      clusters.rdd.persist(Level), theta, iteration,
      baseSeed, samplerKind, summary)
  }

  /** Deterministic initialization (reference K13, State.scala:195-334
    * semantics, simplified to the exact-population case): every record
    * starts as its own singleton entity — entity values copied from the
    * record, missing attributes drawn from the empirical prior (seeded by
    * record id, so init is retry-deterministic), no distortion anywhere,
    * θ at its prior mean. */
  def initialize(
      spark: SparkSession,
      records: DataFrame, // columns: id, fileId, attr columns (all strings)
      idCol: String,
      fileIdCol: Option[String],
      specs: Seq[AttributeSpec],
      partitioner: ModelIndex => EntityPartitioner,
      seed: Long,
      samplerKind: GibbsKernel.SamplerKind = GibbsKernel.Gibbs): ERState = {
    val withFile = fileIdCol match {
      case Some(f) => records.withColumn("__file", col(f).cast("string"))
      case None => records.withColumn("__file", org.apache.spark.sql.functions.lit("0"))
    }
    val idx = ModelIndex.build(spark, withFile, "__file", specs)
    val idxB = spark.sparkContext.broadcast(idx)
    val part = partitioner(idx)

    val attrNames = specs.map(_.name)
    val projected = withFile.select(
      (col(idCol).cast("string").as("id") ::
        col("__file").as("fileId") ::
        attrNames.map(n => col(n).cast("string").as(n)).toList): _*)

    val nAttrs = specs.length
    val init = projected.rdd.map { row =>
      val id = row.getString(0)
      val fileId = row.getString(1)
      val vals = new Array[Int](nAttrs)
      val dist = new Array[Boolean](nAttrs)
      val rng = new SplittableRandom(Rng.seedFor(seed, 0L, id.hashCode.toLong))
      var a = 0
      while (a < nAttrs) {
        val raw = if (row.isNullAt(2 + a)) null else row.getString(2 + a)
        vals(a) = idxB.value.attributes(a).idOf(raw)
        a += 1
      }
      // entity values: copy record, impute missing from the empirical prior
      val entityVals = new Array[Int](nAttrs)
      a = 0
      while (a < nAttrs) {
        entityVals(a) =
          if (vals(a) != MissingValue) vals(a)
          else idxB.value.attributes(a).samplePowered(0, rng)
        a += 1
      }
      val rec = StateRecord(id, fileId, vals, dist)
      EntityCluster(part.partitionOf(entityVals), entityVals, Array(rec))
    }.persist(Level)

    // the singletons stay in the input's layout: the first step's
    // shuffle is what places them on their logical partitions
    val theta = idx.priorTheta
    val summary = materialize(init)(summarize(init, idxB, theta))
    new ERState(spark, idxB, part, init, theta, 0L, seed, samplerKind,
      summary)
  }

  /** Single-pass summary over the state: observed-entity/isolate counts,
    * joint log-likelihood, per-(attribute, file) distortion counts, and the
    * per-record distortion histogram (reference A12). One job: each task
    * folds its partition, and the driver merges the partials in partition
    * order, so the result (the floating-point sum included) is a fixed
    * function of the state's layout and exact under task retry. */
  def summarize(
      rdd: RDD[EntityCluster],
      index: Broadcast[ModelIndex],
      theta: DistortionProbs): SummaryVars =
    rdd.sparkContext
      .runJob(rdd, (cs: Iterator[EntityCluster]) =>
        SummaryAggregator.fold(cs, index.value, theta))
      .foldLeft(SummaryAggregator.zero)(SummaryAggregator.merge)
}
