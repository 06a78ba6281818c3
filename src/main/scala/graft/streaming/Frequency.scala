package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming heavy hitters: a sharded SpaceSaving sketch
  * (Metwally et al. 2005) as a stateful operator. Keys hash-partition
  * across `shards` independent sketches (keys are disjoint per shard,
  * so per-key counts never split); each shard keeps at most `capacity`
  * counters — on overflow the minimum counter is surrendered to the
  * arriving key, inheriting its count as the classic overestimation
  * bound (error ≤ N_shard / capacity). With capacity at or above a
  * shard's distinct-key load the sketch is EXACT, which is what lets
  * the drained gate query hash-match a batch GROUP BY in DuckDB while
  * the spec exercises the bounded-memory eviction path.
  *
  * State per shard is a bounded map (≤ capacity entries) regardless of
  * stream length — the 100 TB-stream posture.
  */
object Frequency {

  /** One emitted counter snapshot. `shard`/`seq` identify the emitting
    * shard and its per-shard update sequence number, so a reader can
    * select each shard's LATEST snapshot — under eviction, a stale
    * Append-mode snapshot of a surrendered key must not be resurrected
    * by a max(n)-style reduction (the key is simply absent from the
    * shard's latest snapshot). */
  final case class Counter(key: Long, n: Long, err: Long,
      shard: Int, seq: Long)

  /** One shard's SpaceSaving update: fold `incoming` key occurrences
    * into the counter map. */
  private[streaming] def updateSketch(
      counters: Map[Long, (Long, Long)], incoming: Iterator[Long],
      capacity: Int): Map[Long, (Long, Long)] = {
    var m = counters
    incoming.foreach { k =>
      m.get(k) match {
        case Some((n, e)) => m = m.updated(k, (n + 1, e))
        case None if m.size < capacity => m = m.updated(k, (1L, 0L))
        case None =>
          // surrender the minimum counter (deterministic tie: lowest key)
          val (mk, (mn, _)) = m.minBy { case (key, (n, _)) => (n, key) }
          m = (m - mk).updated(k, (mn + 1, mn))
      }
    }
    m
  }

  /** The stateful operator: keys → shard by hash; each shard folds its
    * micro-batch into its sketch and emits the CURRENT counters stamped
    * with a per-shard sequence number. Readers keep only each shard's
    * max-seq snapshot (see `latestCounters`); earlier Append-mode
    * snapshots — including ones naming since-evicted keys — are
    * superseded. */
  def spaceSavingSketch(keys: Dataset[Long], shards: Int,
      capacity: Int): Dataset[Counter] = {
    import keys.sparkSession.implicits._
    keys
      .groupByKey(k => (k.## & Int.MaxValue) % shards)
      .flatMapGroupsWithState[(Long, Map[Long, (Long, Long)]), Counter](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (shard, ks, state: GroupState[(Long, Map[Long, (Long, Long)])]) =>
          val (seq0, m0) = state.getOption.getOrElse((0L, Map.empty[Long, (Long, Long)]))
          val m = updateSketch(m0, ks, capacity)
          val seq = seq0 + 1
          state.update((seq, m))
          m.iterator.map { case (k, (n, e)) => Counter(k, n, e, shard, seq) }
      }
  }

  /** Select each shard's latest snapshot from an Append-mode snapshot
    * table: rows whose `seq` equals their shard's max. Keys evicted
    * before the final snapshot are (correctly) absent. */
  def latestCounters(snapshots: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
    snapshots
      .withColumn("__maxseq", max(col("seq")).over(w))
      .filter(col("seq") === col("__maxseq"))
      .select(col("key"), col("n"), col("err"))
  }

  /** Drain-once runner: stream the events table AvailableNow, sketch
    * user-id frequencies, land the snapshot stream in a memory table.
    * The gate selects each shard's latest snapshot (`latestCounters`)
    * and takes the exact top-k. */
  def runStreamingTopUsersOnce(parent: SparkSession, sfDir: String,
      queryName: String, shards: Int = 32,
      capacity: Int = 4096): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      import spark.implicits._
      val users = graft.Tables.stream(spark, sfDir, "events")
        .select(col("user_id")).as[Long]
      spaceSavingSketch(users, shards, capacity).toDF()
    }
}
