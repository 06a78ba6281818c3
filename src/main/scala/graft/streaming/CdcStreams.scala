package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}

/** Continuous CDC merge: the streaming face of
  * `operators/Merge.mergeLatest`. A change stream (upserts + deletes,
  * versioned per key) folds into per-key state with
  * `mapGroupsWithState`; each micro-batch emits the new latest row for
  * every key it touched, so the sink always converges to the same
  * snapshot the batch merge would produce over the changes seen so far.
  *
  * Scale shape: state is ONE row per live key (the current winner), the
  * floor for any merge that must answer "latest per key" — partitioned
  * by the grouping key across the state store, so a billion-key
  * snapshot spreads over however many state partitions the checkpoint
  * was created with (pick that number for the key count, not the
  * default; RocksDB state store keeps it off-heap in production). Each
  * batch shuffles only that batch's changes, never the snapshot —
  * the batch-merge alternative re-aggregates snapshot ∪ changes every
  * time, so streaming wins exactly when changes ≪ snapshot.
  */
object CdcStreams {

  /** Latest-version-wins fold over a keyed change stream. Emits, per
    * micro-batch, the winning row of every key that batch touched
    * (Update semantics — pair with `OutputMode.Update`). Version ties
    * keep the already-held row (first seen wins), the same unspecified-
    * winner contract as the batch merge; feed a total per-key version
    * order for determinism. Delete markers are data here — they win
    * like any row and stay in state as tombstones for late stragglers;
    * the consumer drops them on read (`op != 'D'`). */
  def latestPerKey[R](changes: Dataset[R], key: R => Long,
      version: R => Long)(implicit enc: Encoder[R]): Dataset[R] = {
    changes.groupByKey(key)(org.apache.spark.sql.Encoders.scalaLong)
      .mapGroupsWithState[R, R](GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[R], state: GroupState[R]) =>
          var best: Option[R] = state.getOption
          rows.foreach { r =>
            if (best.isEmpty || version(r) > version(best.get)) best = Some(r)
          }
          state.update(best.get)
          best.get
      }
  }

  /** One merged record on the CDC wire. */
  case class OrderChange(o_orderkey: Long, status: String, price_c: Long,
      version: Long, op: String)

  /** Drain-once runner: derives the q_merge_upsert change feed from the
    * orders parquet IN-STREAM (snapshot tagged version 0 unioned with
    * deletes / updates / inserts), folds it through [[latestPerKey]],
    * and leaves the converged snapshot in a memory table. State
    * partitions are pinned low for the drain (one state store per
    * partition; commit cost is per-store, and the sf-scale key count
    * doesn't need 32) — at real scale the knob goes UP with state
    * volume instead. */
  def runStreamingMergeOnce(parent: SparkSession, sfDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Update) { spark =>
      import spark.implicits._
      val orders = graft.Tables.streamReader(spark, sfDir, "orders")
      def ordersStream: DataFrame = orders()
        .select(col("o_orderkey"),
          col("o_orderstatus").as("status"),
          round(col("o_totalprice") * 100).cast("long").as("price_c"))
      val snap = ordersStream
        .select(col("o_orderkey"), col("status"), col("price_c"),
          lit(0L).as("version"), lit("U").as("op"))
      val del = ordersStream.filter(col("o_orderkey") % 7 === 0)
        .select(col("o_orderkey"), col("status"), col("price_c"),
          lit(1L).as("version"), lit("D").as("op"))
      val upd = ordersStream
        .filter(col("o_orderkey") % 7 =!= 0 && col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("UPD").as("status"),
          (col("price_c") + 110).as("price_c"),
          lit(1L).as("version"), lit("U").as("op"))
      val ins = ordersStream.filter(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") + 3000000L).as("o_orderkey"),
          lit("NEW").as("status"), (col("price_c") + 100).as("price_c"),
          lit(1L).as("version"), lit("U").as("op"))
      val feed = snap.unionByName(del).unionByName(upd).unionByName(ins)
        .as[OrderChange]
      latestPerKey[OrderChange](feed, _.o_orderkey, _.version).toDF()
    }
}
