package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{coalesce, count, count_if, lit}
import org.apache.spark.storage.StorageLevel

/** Lineage truncation policy for driver-paced iterative loops
  * (ConnectedComponents, KCore, PageRank, LabelProp, ShortestPaths,
  * DBSCAN's pair stage).
  *
  * Default (`local`): eager `localCheckpoint` per generation — the
  * fastest truncation, but the checkpointed blocks live ONLY on
  * executors, so on a real cluster an executor loss after truncation
  * kills the job instead of recomputing (lineage is gone).
  *
  * `reliable` mode matches the reference's PeriodicRDDCheckpointer
  * posture (reference capability: the sampler's periodic reliable
  * checkpointing) for clusters where executor loss is routine: every
  * k-th truncation is a RELIABLE `Dataset.checkpoint` (files under the
  * checkpoint dir, typically HDFS/object storage), and the generations
  * between are eager MEMORY_AND_DISK persists — their lineage stays
  * intact back to the last reliable checkpoint, so a lost cached block
  * recomputes from durable storage. Plan growth between reliable
  * checkpoints is bounded by k loop bodies on top of the checkpoint's
  * LogicalRDD, so driver re-analysis stays constant-size. Superseded
  * persists are released (non-blocking) each time a reliable
  * checkpoint truncates the plan past them.
  *
  * Selection is session conf, so the same operator code serves both
  * postures:
  *   - `spark.graft.iterative.checkpoint` = `local` (default) |
  *     `reliable`
  *   - `spark.graft.iterative.checkpointDir`: set on the SparkContext
  *     at first use when reliable mode is on (optional if the context
  *     already has a checkpoint dir)
  *   - `spark.graft.iterative.checkpointEvery`: reliable cadence k
  *     (default 5)
  */
object LoopCheckpoint {

  val ModeKey = "spark.graft.iterative.checkpoint"
  val DirKey = "spark.graft.iterative.checkpointDir"
  val EveryKey = "spark.graft.iterative.checkpointEvery"

  /** Is the session opted into reliable truncation? Throws on an
    * unrecognized mode value rather than silently running local. */
  def reliableMode(spark: SparkSession): Boolean =
    spark.conf.getOption(ModeKey).map(_.trim.toLowerCase) match {
      case Some("reliable") => true
      case Some("local") | None => false
      case Some(other) => throw new IllegalArgumentException(
        s"$ModeKey must be 'local' or 'reliable', got '$other'")
    }

  /** Point the SparkContext at the configured checkpoint dir (or fail
    * loudly if reliable mode has nowhere to write). Call before the
    * first `Dataset.checkpoint`. */
  def ensureCheckpointDir(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    spark.conf.getOption(DirKey) match {
      case Some(dir) if !sc.getCheckpointDir.contains(dir) =>
        sc.setCheckpointDir(dir)
      case None if sc.getCheckpointDir.isEmpty =>
        throw new IllegalStateException(
          s"$ModeKey=reliable needs a checkpoint dir: set $DirKey " +
            "or SparkContext.setCheckpointDir")
      case _ => ()
    }
  }

  /** The reliable checkpoint file backing a checkpointed Dataset, if
    * any (`Dataset.checkpoint` plans a LogicalRDD over a reliably-
    * checkpointed RDD; local checkpoints report no file). */
  def reliableFileOf(df: org.apache.spark.sql.Dataset[_]): Option[String] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getCheckpointFile
      case _ => None
    }

  /** Best-effort delete of a reliable checkpoint directory (superseded
    * cuts must not accumulate over a long chain — the checkpoint dir
    * would otherwise grow by one full state copy per cut). */
  def deleteCheckpointFile(spark: SparkSession, path: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** One-shot mode-aware materialization for a derivation that a
    * returned LAZY plan keeps referencing (band tables, vocab, shingle
    * hashes) — the fire-and-forget sibling of [[forLoop]]. persist()
    * would pin a CacheManager entry no caller can ever release; plain
    * localCheckpoint is GC-reclaimed but its truncated lineage makes a
    * lost executor fatal on a real cluster. So: local mode (default)
    * uses the eager localCheckpoint — the single-JVM test/bench
    * posture, where executor loss is process death anyway — and
    * `spark.graft.iterative.checkpoint=reliable` writes a durable cut,
    * so executor loss recomputes from storage. Reliable-mode files
    * remain under the checkpoint dir for the deployment's retention
    * policy (there is no owner left alive to delete them — the same
    * contract as any long-lived checkpoint). */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (!reliableMode(spark)) df.localCheckpoint(true)
    else {
      ensureCheckpointDir(spark)
      df.checkpoint(eager = true)
    }
  }

  /** A per-loop truncator: call once per superseded GENERATION in place
    * of `localCheckpoint(true)`, and [[Truncator.pin]] once per
    * loop-INVARIANT frame (edge lists, degree-annotated fanouts — read
    * every iteration, never superseded). Instantiate ONE per loop
    * invocation (it counts generations, tracks persists to release, and
    * deletes the superseded durable cut at each new one). A loop that
    * reads each generation's row count or changed-row count cuts it with
    * [[Truncator.materialize]] instead, one job per generation. */
  def forLoop(spark: SparkSession): Truncator = {
    val reliable = reliableMode(spark)
    val every =
      spark.conf.getOption(EveryKey).map(_.toInt).getOrElse(5)
    require(every >= 1, s"$EveryKey must be >= 1")
    if (reliable) ensureCheckpointDir(spark)
    new Truncator(spark, reliable, every)
  }

  final class Truncator private[LoopCheckpoint] (
      spark: SparkSession, reliable: Boolean, every: Int) {
    private var n = 0
    private val pending = ArrayBuffer.empty[DataFrame]
    private val pinnedFiles = ArrayBuffer.empty[String]
    // last TWO durable cuts are kept (the PeriodicRDDCheckpointer
    // convention): deleting only on the second-next cut means a storage
    // fault during one checkpoint write never strands the chain
    private val reliableHistory = ArrayBuffer.empty[String]

    /** Loop-invariant frame: truncate + materialize once, NEVER released
      * by the generation cadence (a generation cut must not evict the
      * edge list every iteration still joins against). In reliable mode
      * its durable files persist until `release(deleteDurable = true)`
      * or external checkpoint-dir cleanup — they ARE the loop's recovery
      * state while it runs. */
    def pin(df: DataFrame): DataFrame =
      if (!reliable) df.localCheckpoint(true)
      else {
        val out = df.checkpoint(eager = true)
        reliableFileOf(out).foreach(pinnedFiles += _)
        out
      }

    /** Materialize a GENERATION eagerly and return a loop-safe handle:
      * plan truncated (local/reliable checkpoint) or cached-with-lineage
      * (between reliable checkpoints). Each new durable cut releases the
      * persists and deletes the durable files it supersedes — a linear
      * generation chain never references an older cut once a newer one
      * is materialized. */
    def apply(df: DataFrame): DataFrame = {
      n += 1
      if (!reliable) df.localCheckpoint(true)
      else if ((n - 1) % every == 0) {
        val out = df.checkpoint(eager = true)
        // everything cached before this durable cut is unreachable from
        // the truncated plan — release it, and drop the superseded cut's
        // files (pinned frames keep their own files; they are not here)
        pending.foreach(_.unpersist(blocking = false))
        pending.clear()
        reliableFileOf(out).foreach(reliableHistory += _)
        while (reliableHistory.size > 2)
          deleteCheckpointFile(spark, reliableHistory.remove(0))
        out
      } else {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        pending += p
        p
      }
    }

    /** Cut a GENERATION whose size the loop reads: returns the cut frame,
      * its row count and the number of rows where `changed` holds (0 when
      * no `changed` is given) — the single-action loop step of KCore,
      * ConnectedComponents and ShortestPaths.hopDistances.
      *
      * Local mode runs ONE job: the generation becomes an internal RDD
      * whose localCheckpoint + count both cuts lineage and returns the
      * row count, and a long accumulator counts the flagged rows in the
      * same pass (rows are copied before caching: unsafe rows are
      * reused). The changed count is exact at 0 — a row that did not
      * change adds nothing on any attempt — but a retried task can
      * re-add its changed rows, so under task retry it may over-count.
      * Reliable mode is [[apply]], then one aggregation over the cut for
      * both counts: the durable-cut cadence and file lifecycle are the
      * point there, and the extra job is noise next to the checkpoint
      * write. */
    def materialize(df: DataFrame, changed: Option[Column] = None)
        : (DataFrame, Long, Long) =
      if (reliable) {
        val cut = apply(df)
        val counts = cut.agg(count(lit(1)), count_if(changed.getOrElse(lit(false))))
          .head()
        (cut, counts.getLong(0), counts.getLong(1))
      } else changed match {
        // no flag column and no accumulator when the loop reads only the
        // row count: the generation's plan is the caller's plan, unchanged
        case None =>
          val (cut, rows) = cutLocal(df)(_.copy())
          (cut, rows, 0L)
        case Some(c) =>
          val flag = "__loop_changed"
          val flagged = df.withColumn(flag, coalesce(c, lit(false)))
          val iFlag = flagged.schema.fieldIndex(flag)
          val acc = spark.sparkContext.longAccumulator("loopChanged")
          val (cut, rows) = cutLocal(flagged) { r =>
            if (r.getBoolean(iFlag)) acc.add(1L)
            r.copy()
          }
          (cut.drop(flag), rows, acc.value)
      }

    /** Local-mode cut: `copy` maps each internal row to the row kept (a
      * copy, since unsafe rows are reused); localCheckpoint + count is the
      * one job. */
    private def cutLocal(df: DataFrame)(copy: InternalRow => InternalRow)
        : (DataFrame, Long) = {
      val rdd = df.queryExecution.toRdd.map(copy)
      rdd.localCheckpoint()
      val rows = rdd.count()
      (GraftExpressionBridge.ofInternalRows(spark, rdd, df.schema), rows)
    }

    /** Seal the loop's RESULT: in local mode a no-op (nothing is ever
      * pending there); in reliable mode the result gets its own durable
      * cut, every pending generation persist is released, and every
      * OTHER durable file this truncator wrote — superseded generation
      * cuts and loop-invariant pins — is deleted: the result is eagerly
      * materialized on its own cut, so nothing lazy references them, and
      * without reclamation the checkpoint dir grows by O(input) per
      * operator invocation. Only the result's own cut remains (it IS the
      * returned frame's storage); `release(deleteDurable = true)` can
      * still reclaim it once the caller has fully consumed the result.
      * Call once, on the frame the operator returns. */
    def finish(df: DataFrame): DataFrame =
      if (!reliable) df
      else {
        val out = df.checkpoint(eager = true)
        val keep = reliableFileOf(out)
        release()
        (pinnedFiles ++ reliableHistory)
          .foreach(deleteCheckpointFile(spark, _))
        pinnedFiles.clear()
        reliableHistory.clear()
        keep.foreach(pinnedFiles += _)
        out
      }

    /** Release any persists still tracked (call after the loop if the
      * result was reliably checkpointed or fully consumed).
      * `deleteDurable = true` additionally deletes every durable file
      * this truncator wrote — pins and the kept generation cuts — for
      * callers that have FULLY CONSUMED the loop's result (deleting
      * while a returned frame is still lazy over those files breaks
      * it). Operators leave durable files in place by default: they are
      * the recovery state, and the checkpoint dir is the deployment's
      * to manage. */
    def release(deleteDurable: Boolean = false): Unit = {
      pending.foreach(_.unpersist(blocking = false))
      pending.clear()
      if (deleteDurable) {
        (pinnedFiles ++ reliableHistory)
          .foreach(deleteCheckpointFile(spark, _))
        pinnedFiles.clear()
        reliableHistory.clear()
      }
    }
  }
}
