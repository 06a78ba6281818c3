package graft.er

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SaveMode}

import graft.er.model._

/** Driver-orchestrated MCMC loop (reference K14, Sampler.scala:51-124):
  * burn-in, thinning, periodic lineage checkpointing, buffered sample
  * writes, and per-recorded-iteration diagnostics.
  */
object Sampler {

  final case class Diagnostics(
      iteration: Long,
      elapsedMs: Long,
      numObservedEntities: Long,
      numIsolates: Long,
      logLikelihood: Double,
      aggDistortions: Map[(Int, String), Long],
      recDistortions: Map[Int, Long])

  final case class Result(
      state: ERState,
      chain: Option[Dataset[LinkageSample]],
      diagnostics: Seq[Diagnostics])

  /** Run `numSweeps` transitions from `init`. Post burn-in, every
    * `thin`-th state is buffered, and every `writeBufferSize` samples the
    * buffer is flushed: [[ERState.linkageSamples]] builds the batch's
    * linkage rows with one task per logical partition for all buffered
    * samples, and the batch is appended to `chainPath` as Parquet
    * partitioned by partitionId — the reference's chain layout
    * (BufferedRDDWriter.scala:44-50) — one file per partition and flush.
    * When no path is given the batches are unioned into an in-memory
    * Dataset.
    *
    * `sweepsPerJob` > 1 runs blocked sweeps (GibbsKernel.sweepBlock,
    * through ERState.step): k sweeps per shuffle+action. Samples and
    * diagnostics are only observable at block boundaries, so pick a value
    * dividing `thin` (and `burnIn`) to keep the recorded-sample count
    * unchanged. */
  def run(
      init: ERState,
      numSweeps: Int,
      burnIn: Int = 0,
      thin: Int = 1,
      chainPath: Option[String] = None,
      checkpointEvery: Int = 10,
      writeBufferSize: Int = 10,
      sweepsPerJob: Int = 1): Result = {

    val t0 = System.currentTimeMillis()
    var state = init
    var diags = Vector.empty[Diagnostics]
    var buffered = Vector.empty[ERState]
    var collected = Vector.empty[Dataset[LinkageSample]]
    // cluster caches of the states in `buffered`: released once a
    // parquet flush has materialized their samples; the in-memory chain
    // keeps them (its samples stay lazy projections over cache, exactly
    // the footprint eager checkpoints had — the caller's cleanup
    // releases everything)
    var retained = Vector.empty[RDD[StateBlock]]
    // durable checkpoint files superseded by a newer cut but possibly
    // still referenced by a retained lazy sample: deleted at the flush
    // that materializes those samples (in-memory chains keep them — the
    // caller still holds live references)
    var supersededCheckpoints = Vector.empty[String]
    // the durable cut THIS run last materialized (None = none yet, or
    // local mode where cuts have no file) — the only files this loop is
    // allowed to supersede
    var lastOwnCutFile: Option[String] = None
    val sparkForCleanup = init.spark

    def dropSuperseded(): Unit = {
      supersededCheckpoints.foreach(
        graft.operators.LoopCheckpoint.deleteCheckpointFile(sparkForCleanup, _))
      supersededCheckpoints = Vector.empty
    }

    // `current` = the live state's blocks: a flush triggered right
    // after sampling must NOT unpersist them — the next step reads them,
    // and an evicted live state would recompute every sweep since the
    // last checkpoint cut
    def flush(current: RDD[StateBlock]): Unit = {
      if (buffered.nonEmpty) {
        val batch = ERState.linkageSamples(buffered)
        chainPath match {
          case Some(p) =>
            batch.write.mode(SaveMode.Append).partitionBy("partitionId").parquet(p)
            retained.filter(_ ne current).foreach(_.unpersist(blocking = false))
            retained = retained.filter(_ eq current)
            // the just-written samples were the last readers of any
            // superseded durable cut — its files can go now
            dropSuperseded()
          case None =>
            collected :+= batch
        }
        buffered = Vector.empty
      }
    }

    try {
      var sweep = 0
      var lastCheckpoint = 0
      var justSampled = false
      while (sweep < numSweeps) {
        val k = math.min(sweepsPerJob, numSweeps - sweep)
        // a just-sampled state's cluster cache must outlive the step that
        // supersedes it — its linkage sample reads it lazily
        state = state.step(k, retainClusters = justSampled)
        justSampled = false
        sweep += k
        if (sweep - lastCheckpoint >= checkpointEvery) {
          state = state.checkpointed()
          lastCheckpoint = sweep
          // supersede ONLY cuts this sampler itself materialized — never
          // harvest lineage leaves, which could be a CALLER's checkpoint
          // (e.g. a checkpointed input dataset) that we must not delete.
          // Deletion waits for durable-chain mode and for any retained
          // lazy samples to be flushed.
          supersededCheckpoints ++= lastOwnCutFile
          lastOwnCutFile = state.clusterRdd.getCheckpointFile
          if (chainPath.isDefined && retained.isEmpty) dropSuperseded()
        }
        if (sweep > burnIn && (sweep - burnIn) % thin == 0) {
          // The state is buffered and its sample built at the flush from
          // its persisted blocks (no per-sample checkpoint job); the state
          // is retained until the sample is materialized (parquet flush) or
          // handed to the caller (in-memory chain).
          buffered :+= state
          retained :+= state.clusterRdd
          justSampled = true
          if (buffered.size >= writeBufferSize) flush(state.clusterRdd)
          val s = state.summary
          diags :+= Diagnostics(state.iteration, System.currentTimeMillis() - t0,
            s.numObservedEntities, s.numIsolates, s.logLikelihood,
            s.aggDistortions, s.recDistortions)
        }
      }
      flush(state.clusterRdd)
    } catch {
      case e: Throwable =>
        // a failed run hands nothing back: release every cache it holds
        // (the live state's too — the first step would have released the
        // caller's initial state) and every durable cut it wrote
        try {
          (retained :+ state.clusterRdd).foreach(_.unpersist(blocking = false))
          supersededCheckpoints ++= lastOwnCutFile
          dropSuperseded()
        } catch { case c: Throwable => e.addSuppressed(c) }
        throw e
    }
    // the final flush may find an empty buffer (the last sample already
    // flushed) — superseded cuts and non-final retained caches must
    // still be released in durable-chain mode, where everything sampled
    // is on disk by now
    if (chainPath.isDefined) {
      retained.filter(_ ne state.clusterRdd)
        .foreach(_.unpersist(blocking = false))
      retained = retained.filter(_ eq state.clusterRdd)
      dropSuperseded()
    }

    val chain = chainPath match {
      case Some(p) => Some(IO.readChain(state.spark, p))
      case None =>
        if (collected.isEmpty) None else Some(collected.reduce(_ unionAll _))
    }
    Result(state, chain, diags)
  }

  /** Diagnostics as CSV lines (reference DiagnosticsWriter.scala:39-72
    * layout: iteration, time, counts, logLik, per-attribute aggregate
    * distortions, record-distortion histogram). */
  def diagnosticsCsv(
      diags: Seq[Diagnostics], numAttributes: Int, files: Seq[String]): String = {
    val attrCols = for (a <- 0 until numAttributes; f <- files)
      yield s"aggDist-$a-$f"
    val recCols = (0 to numAttributes).map(k => s"recDist-$k")
    val header = (Seq("iteration", "elapsed-ms", "numObservedEntities",
      "numIsolates", "logLikelihood") ++ attrCols ++ recCols).mkString(",")
    val rows = diags.map { d =>
      val agg = for (a <- 0 until numAttributes; f <- files)
        yield d.aggDistortions.getOrElse((a, f), 0L).toString
      val rec = (0 to numAttributes).map(k => d.recDistortions.getOrElse(k, 0L).toString)
      (Seq(d.iteration.toString, d.elapsedMs.toString,
        d.numObservedEntities.toString, d.numIsolates.toString,
        f"${d.logLikelihood}%.9e") ++ agg ++ rec).mkString(",")
    }
    (header +: rows).mkString("\n")
  }
}
