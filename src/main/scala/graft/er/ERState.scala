package graft.er

import java.util.SplittableRandom

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.storage.StorageLevel

import graft.core.Rng
import graft.er.model._
import graft.operators.LoopCheckpoint

/** The distributed sampler state and its Markov transition.
  *
  * State = a static part, broadcast once per chain (the [[ModelIndex]]
  * and the [[RecordTable]] of every record's id, file and values), and a
  * dynamic part: a persisted RDD holding ONE [[StateBlock]] per logical
  * partition (Spark partition p holds exactly the entities keyed to p),
  * plus small driver state (θ, iteration, seed, last summary). A sweep
  * moves and serializes only primitive arrays of values, record numbers
  * and distortion bits.
  *
  * One `step()` is one Spark job of two stages: each partition's block is
  * swept and split into one block per destination partition, the pieces
  * are shuffled with an identity partitioner (logical partition p → Spark
  * partition p) and merged in source-partition order and persisted, and
  * the summary fold reads the persisted blocks in the same job. The
  * reference shuffles twice per sweep (GibbsUpdates.scala:144+150). The
  * lineage grows by one shuffle per step, not by a nested query plan, so
  * step k costs what step 1 does; `checkpointed()` cuts it. Record ids
  * come back only at the edges: `linkageSample`, `currentClusters` and
  * the `clusters` view (saveState) expand the blocks through the table.
  */
final class ERState private (
    val spark: SparkSession,
    val index: Broadcast[ModelIndex],
    val records: Broadcast[RecordTable],
    val partitioner: EntityPartitioner,
    val clusterRdd: RDD[StateBlock],
    val theta: DistortionProbs,
    val iteration: Long,
    val baseSeed: Long,
    val samplerKind: GibbsKernel.SamplerKind,
    val summary: SummaryVars) {

  import spark.implicits._

  /** The state as `EntityCluster`s, partition by partition (lazy; reads
    * the persisted blocks). */
  def clusterView: RDD[EntityCluster] = {
    val table = records
    clusterRdd.mapPartitionsWithIndex((pid, blocks) =>
      blocks.flatMap(_.clusters(pid, table.value)))
  }

  /** The state as a Dataset (lazy; reads the persisted blocks). */
  lazy val clusters: Dataset[EntityCluster] = spark.createDataset(clusterView)

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
    * Gibbs sweeps → one shuffle of the re-keyed blocks → summary fold, all
    * in one job. innerSweeps=1 is the reference cadence; larger blocks
    * amortize shuffle + scheduling cost k-fold at the price of k-sweep-
    * stale entity placement and θ (see GibbsKernel.sweepBlock).
    * `retainClusters` keeps THIS state's cache alive after the
    * transition (the sampler retains just-sampled states so linkage
    * samples stay lazy projections over cache; see Sampler.run). */
  def step(innerSweeps: Int = 1, retainClusters: Boolean = false): ERState = {
    require(innerSweeps >= 1)
    val it = iteration + innerSweeps
    val driverRng = new SplittableRandom(Rng.seedFor(baseSeed, it, -1L))
    val newTheta = resampleTheta(driverRng)

    val idxB = index
    val table = records
    val part = partitioner
    val kind = samplerKind
    val seed = baseSeed
    val sweepIters = (iteration + 1) to it
    val dense = ERState.dense(table.value, newTheta)
    val nA = idxB.value.numAttributes
    // chaos hook (retry-determinism spec): resolved on the driver,
    // inert unless the session opts in — see graft.core.Chaos
    val chaosFail =
      spark.conf.get(graft.core.Chaos.FailSweepKey, "false").toBoolean

    // Spark partition p holds logical partition p's block, so a sweep
    // task's partition index is the logical partition its RNG streams key
    // on; HashPartitioner sends Int key p in [0, n) back to Spark
    // partition p (an Int hashes to itself). The pieces travel encoded
    // (StateBlock.encode: varints, entity values against a member's
    // record), typed AnyRef: a primitive-array value type would make Spark
    // switch this shuffle to Kryo, loading it into the driver for no gain
    val next = clusterRdd
      .mapPartitionsWithIndex { (pid, blocks) =>
        if (chaosFail) graft.core.Chaos.failFirstAttempt(s"sweep pid=$pid")
        val rngs = sweepIters.map(j =>
          new SplittableRandom(Rng.seedFor(seed, j, pid.toLong)))
        val t = table.value
        GibbsKernel.sweepBlock(StateBlock.concat(nA, blocks.toSeq), t,
          idxB.value, part, dense, rngs, kind)
          .map { case (dest, b) => (dest, StateBlock.encode(pid, b, t): AnyRef) }
      }
      .partitionBy(new HashPartitioner(part.numPartitions))
      .mapPartitions(
        { pieces =>
          val t = table.value
          val bySource = pieces.map(p =>
            StateBlock.decode(p._2.asInstanceOf[Array[Byte]], t)).toSeq.sortBy(_._1)
          Iterator(StateBlock.concat(nA, bySource.map(_._2)))
        },
        preservesPartitioning = true)
      .persist(ERState.Level)

    val newSummary =
      ERState.materialize(next)(ERState.summarize(next, index, records, newTheta))
    if (!retainClusters) clusterRdd.unpersist(blocking = false)

    new ERState(spark, index, records, partitioner, next, newTheta, it,
      baseSeed, samplerKind, newSummary)
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
    new ERState(spark, index, records, partitioner, cut, theta, iteration,
      baseSeed, samplerKind, summary)
  }

  /** Current linkage structure, one row per partition (reference A1,
    * State.scala:102-112): the one-state case of
    * [[ERState.linkageSamples]]. */
  def linkageSample(): Dataset[LinkageSample] = ERState.linkageSamples(Seq(this))

  /** Predicted clusters (record-id sets) at the current state. */
  def currentClusters(): Dataset[Seq[String]] = {
    val table = records
    spark.createDataset(clusterRdd.mapPartitions(_.flatMap(_.linkage(table.value))))
  }

  /** Drop this state's persisted blocks and destroy its broadcasts (the
    * model index and the record table, shared by every state of the
    * chain). Call it once the chain's last state has been read (saved);
    * no state of the chain is usable afterwards. */
  def release(): Unit = {
    clusterRdd.unpersist(blocking = false)
    records.destroy()
    index.destroy()
  }
}

object ERState {

  /** Deserialized: a block is a handful of primitive arrays, which Spark
    * sizes without walking an object graph, so a step neither serializes
    * the blocks it persists nor deserializes the ones it reads (the sweep
    * copies a block before it mutates anything). */
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** The linkage rows of `states`, one per state and logical partition
    * that links an entity (isolates dropped, P5). Narrow: partition p's
    * block is already logical partition p, so no shuffle and no encoder of
    * whole clusters. Each state's rows are tagged with their own partition
    * before the union, and the tagging keeps the state's partitioner:
    * when every state carries the step's `HashPartitioner(n)`, Spark
    * aligns the union into n partitions (a `PartitionerAwareUnionRDD`), so
    * one task emits every state's row of one logical partition and a
    * write of the batch is one task per partition. A state without a
    * partitioner (the parallelized blocks of `initialize` or `resume`)
    * makes Spark fall back to a plain union, one task per state and
    * partition, with the same rows. */
  def linkageSamples(states: Seq[ERState]): Dataset[LinkageSample] = {
    val spark = states.head.spark
    import spark.implicits._
    val rows = states.map { st =>
      val it = st.iteration
      val table = st.records
      st.clusterRdd.mapPartitionsWithIndex(
        { (pid, blocks) =>
          val linkage = blocks.flatMap(_.linkage(table.value)).toSeq
          if (linkage.isEmpty) Iterator.empty
          else Iterator(LinkageSample(it, pid, linkage))
        },
        preservesPartitioning = true)
    }
    spark.createDataset(spark.sparkContext.union(rows))
  }

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
    * same θ, same iteration counter. The record table is rebuilt from the
    * clusters' records (numbered in id order, as at initialize), and each
    * cluster goes back into its partition's block. */
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
    val (table, blocks) = StateBlock.fromClusters(index.numAttributes,
      clusters.collect(), partitioner.numPartitions, _.partitionId)
    fromBlocks(spark, spark.sparkContext.broadcast(index), table, partitioner,
      blocks, theta, iteration, baseSeed, samplerKind, summary)
  }

  /** A state whose logical partition p is `blocks(p)`, persisted at
    * Spark partition p (not yet materialized). */
  private def fromBlocks(
      spark: SparkSession,
      index: Broadcast[ModelIndex],
      table: RecordTable,
      partitioner: EntityPartitioner,
      blocks: Array[StateBlock],
      theta: DistortionProbs,
      iteration: Long,
      baseSeed: Long,
      samplerKind: GibbsKernel.SamplerKind,
      summary: SummaryVars): ERState = {
    val rdd = spark.sparkContext.parallelize(blocks.toSeq, blocks.length)
      .persist(Level)
    new ERState(spark, index, spark.sparkContext.broadcast(table), partitioner,
      rdd, theta, iteration, baseSeed, samplerKind, summary)
  }

  /** Deterministic initialization (reference K13, State.scala:195-334
    * semantics, simplified to the exact-population case): every record
    * starts as its own singleton entity — entity values copied from the
    * record, missing attributes drawn from the empirical prior (seeded by
    * record id, so init is retry-deterministic), no distortion anywhere,
    * θ at its prior mean.
    *
    * One Spark job: [[RecordPass]] builds the index and encodes the
    * records in one pass, and `partitioner` is called once, on that
    * index. The driver then builds the record table, places the
    * singletons on their logical partitions (the layout every step keeps)
    * and folds the initial summary over those blocks, merged in partition
    * order as [[summarize]] merges its tasks' folds. The blocks are
    * persisted but first computed by the first `step()`'s job. */
  def initialize(
      spark: SparkSession,
      records: DataFrame, // columns: id, fileId, attr columns (all strings)
      idCol: String,
      fileIdCol: Option[String],
      specs: Seq[AttributeSpec],
      partitioner: ModelIndex => EntityPartitioner,
      seed: Long,
      samplerKind: GibbsKernel.SamplerKind = GibbsKernel.Gibbs): ERState = {
    val pass = RecordPass.run(spark, records, Some(idCol),
      fileIdCol.fold(lit("0"))(col), specs)
    val idx = pass.index
    val part = partitioner(idx)
    val nA = specs.length
    val (table, _) = RecordTable.build(nA, pass.ids, pass.files, pass.values)

    // entity values: copy the record, impute missing from the empirical prior
    val builders = Array.fill(part.numPartitions)(new StateBlock.Builder(nA))
    val clean = new Array[Boolean](nA)
    var r = 0
    while (r < table.size) {
      val rng = new SplittableRandom(Rng.seedFor(seed, 0L, table.id(r).hashCode.toLong))
      val entityVals = Array.tabulate(nA) { a =>
        val v = table.value(r, a)
        if (v != MissingValue) v else idx.attributes(a).samplePowered(0, rng)
      }
      val b = builders(part.partitionOf(entityVals))
      b.entity(entityVals)
      b.member(r, clean, 0)
      r += 1
    }
    val blocks = builders.map(_.result())

    val theta = idx.priorTheta
    val th = dense(table, theta)
    val summary = blocks.map(b => SummaryAggregator.fold(Iterator(b), table, idx, th))
      .foldLeft(SummaryAggregator.zero)(SummaryAggregator.merge)
    fromBlocks(spark, spark.sparkContext.broadcast(idx), table, part, blocks,
      theta, 0L, seed, samplerKind, summary)
  }

  /** θ in the kernel's dense layout for `table`'s files. */
  private def dense(table: RecordTable, theta: DistortionProbs): GibbsKernel.Theta =
    new GibbsKernel.Theta(table.denseTheta(theta), table.files.length)

  /** Single-pass summary over the state: observed-entity/isolate counts,
    * joint log-likelihood, per-(attribute, file) distortion counts, and the
    * per-record distortion histogram (reference A12). One job: each task
    * folds its partition's block, and the driver merges the partials in
    * partition order, so the result (the floating-point sum included) is a
    * fixed function of the state's layout and exact under task retry. */
  def summarize(
      rdd: RDD[StateBlock],
      index: Broadcast[ModelIndex],
      records: Broadcast[RecordTable],
      theta: DistortionProbs): SummaryVars = {
    val th = dense(records.value, theta)
    rdd.sparkContext
      .runJob(rdd, (bs: Iterator[StateBlock]) =>
        SummaryAggregator.fold(bs, records.value, index.value, th))
      .foldLeft(SummaryAggregator.zero)(SummaryAggregator.merge)
  }
}
