package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{CdcStreams, DocStreams, EventStreams, Frequency}

/** Structured Streaming exercised through the correctness gate: the
  * windowed-count stream drains the events table with AvailableNow and
  * its result must hash-match the plain batch SQL — proving event-time
  * windowing parity between the streaming and batch engines.
  */
object StreamingQueries {

  private val runCounter = new AtomicInteger(0)

  /** `prefix` plus a number no earlier run in this JVM used: memory-sink
    * tables and scratch directories are per run. */
  private def fresh(prefix: String): String =
    s"${prefix}_${runCounter.incrementAndGet()}"

  /** Drain a runner into a fresh memory table and read it from `s`. The
    * runner returns once its query has drained (`StreamConf.drainOnce`),
    * so the table is complete. */
  private def drainTable(s: SparkSession, prefix: String)(
      run: String => StreamingQuery): DataFrame = {
    val name = fresh(prefix)
    run(name)
    s.table(name)
  }

  /** The newest row per `key` by `order` descending: the converged state
    * of a per-key fold whose memory sink holds every update. */
  private def latestPer(df: DataFrame, key: String, order: String): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(key).orderBy(col(order).desc)))
      .filter(col("__rn") === 1)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Streaming per-key rate limiter (flatMapGroupsWithState keyed by
    // user × tumbling day, ONE counter of state per live key): admit
    // the earliest 3 events per user-day. AvailableNow = one batch,
    // so the admitted set equals the batch row_number replay.
    "q_stream_rate_limit" -> ((s, dir) =>
      drainTable(s, "stream_rate_limit")(EventStreams.runRateLimitOnce(s, dir, _))
        .select(col("user_id"), col("bucket"), col("event_id"), col("ts_us"))
        .orderBy("user_id", "bucket", "event_id")),

    // Stateless streaming multimodal fingerprinting: the real
    // PNG-decode + integer aHash kernel mapped over the doc stream;
    // the drained hashes equal the batch pixel-closed-form oracle.
    "q_stream_image_ahash" -> ((s, dir) =>
      drainTable(s, "stream_ahash")(DocStreams.runStreamingImageHashOnce(s, dir, _))
        .select(col("mediaId").as("doc_id"), col("nAbove").as("n_above"),
          col("bits"))
        .orderBy("doc_id")),

    // Streaming clamped balance (floor-at-zero fold, 2 numbers of
    // state/key): converges bitwise to the batch in-row fold, so it
    // reuses the scalar list_reduce oracle.
    "q_stream_clamped_balance" -> ((s, dir) =>
      latestPer(drainTable(s, "stream_bal")(
          EventStreams.runClampedBalanceOnce(s, dir, _)), "user_id", "n_events")
        .select(col("user_id"), col("n_events"),
          round(col("balance"), 6).as("balance"))
        .orderBy("user_id")),

    // Streaming Markov transitions (one string of state per user):
    // drained (prev -> next) counts equal the batch lag replay; the
    // conditional probabilities re-derive in the gate aggregation.
    "q_stream_transitions" -> ((s, dir) => {
      val counts = drainTable(s, "stream_trans")(
          EventStreams.runStreamingTransitionsOnce(s, dir, _))
        .groupBy(col("prev"), col("next"))
        .agg(count(lit(1)).as("n"))
      counts.withColumn("p", round(col("n") /
          sum(col("n")).over(Window.partitionBy(col("prev"))) + 1e-9, 6))
        .orderBy("prev", "next")
    }),

    // Streaming debounce (burst-collapse): keep an event only > 5 s
    // after the previously KEPT event of its (user, type) key — one
    // timestamp of state per key; the sequential kept-anchor rule is
    // replayed by a recursive-CTE oracle.
    "q_stream_burst_collapse" -> ((s, dir) =>
      drainTable(s, "stream_burst")(EventStreams.runBurstCollapseOnce(s, dir, _))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("user_id")),

    // Streaming Holt linear-trend forecasting ((n, level, trend) state
    // per key): the converged fold is bitwise the batch recurrence, so
    // the gate reuses the recursive-CTE oracle.
    "q_stream_holt" -> ((s, dir) =>
      latestPer(drainTable(s, "stream_holt")(
          EventStreams.runStreamingHoltOnce(s, dir, _)), "user_id", "n_events")
        .select(col("user_id"), col("n_events"),
          round(col("level"), 6).as("level"),
          round(col("trend"), 6).as("trend"),
          round(col("level") + col("trend"), 6).as("forecast"))
        .orderBy("user_id")),

    // Streaming approximate distinct (HLL++ per group, Complete mode):
    // the estimate must land within the configured rsd bound of the
    // exact batch count — the streaming member of the HLL family.
    "q_stream_approx_distinct" -> ((s, dir) => {
      val est = drainTable(s, "stream_apxd")(
        EventStreams.runApproxDistinctOnce(s, dir, _))
      val exact = graft.Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, "event_type")
        .select(col("event_type"), col("n_exact"),
          (abs(col("__est") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.06).as("within_bound"))
        .orderBy("event_type")
    }),

    // Streaming running mean/variance (Welford, 3 numbers of state per
    // key): the converged moments must match the batch avg/var_samp
    // replay to 6/5 decimals (both are mathematically exact; only
    // summation-order ulps differ).
    "q_stream_welford" -> ((s, dir) =>
      latestPer(drainTable(s, "stream_welford")(
          EventStreams.runStreamingWelfordOnce(s, dir, _)), "user_id", "n")
        .select(col("user_id"), col("n"),
          round(col("mean") + 1e-9, 6).as("mean"),
          round(sqrt(col("m2") / (col("n") - 1)) + 1e-9, 5).as("stddev"))
        .orderBy("user_id")),

    // Streaming percentile sketch (Complete mode, one bounded mergeable
    // sketch per group): the drained approx median must land inside the
    // exact p45–p55 band computed from the batch table — the same
    // accuracy contract as the batch q_approx_quantiles gate.
    "q_stream_approx_quantiles" -> ((s, dir) => {
      val apx = drainTable(s, "stream_apxq")(
        EventStreams.runApproxQuantilesOnce(s, dir, _))
      val bounds = graft.Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(expr("percentile_cont(0.45) WITHIN GROUP (ORDER BY value)")
          .as("__lo"),
          expr("percentile_cont(0.55) WITHIN GROUP (ORDER BY value)")
            .as("__hi"))
      apx.join(bounds, "event_type")
        .select(col("event_type"), col("n"),
          (col("apx") >= col("__lo") && col("apx") <= col("__hi"))
            .as("median_in_band"))
        .orderBy("event_type")
    }),

    "q_stream_windowed_counts" -> ((s, dir) =>
      drainTable(s, "stream_counts")(EventStreams.runWindowedCountsOnce(s, dir, _))
        .select(col("window_start"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")),

    // Streaming OHLC bars: the batch resample aggregation drained over
    // the event stream in Complete mode (one bar of state per key x
    // bucket); must hash-match the batch operator's daily bars.
    "q_stream_ohlc" -> ((s, dir) =>
      drainTable(s, "stream_ohlc")(EventStreams.runOhlcOnce(s, dir, _))
        .withColumnRenamed("bucket", "day")
        .orderBy("event_type", "day")),

    // Streaming data-quality monitor: pipeline/Quality's row-local rules
    // as a Complete-mode aggregation over the event stream — O(rules)
    // state however long the stream runs; must equal the batch audit.
    "q_stream_dq_monitor" -> ((s, dir) =>
      drainTable(s, "stream_dq")(EventStreams.runQualityMonitorOnce(s, dir, _))
        .orderBy("rule")),

    // Streaming CDC merge: the q_merge_upsert change feed folded into
    // per-key state via mapGroupsWithState; the converged snapshot must
    // hash-match the batch merge's relational replay.
    // The Update-mode memory sink appends one row per key PER
    // MICRO-BATCH it was touched in — reduce to the latest snapshot per
    // key (max version) BEFORE dropping deletes, so a multi-batch drain
    // (multi-file source, maxFilesPerTrigger) can't surface stale rows.
    "q_stream_merge" -> ((s, dir) =>
      latestPer(drainTable(s, "stream_merge")(
          CdcStreams.runStreamingMergeOnce(s, dir, _)), "o_orderkey", "version")
        .filter(col("op") =!= "D")
        .select(col("o_orderkey"), col("status"), col("price_c"))
        .orderBy("o_orderkey")),

    // Streaming per-key EWMA: the sequential recurrence carried as two
    // numbers of state per key; the converged fold must match the batch
    // operator (and its list_reduce oracle) bitwise.
    "q_stream_ewma" -> ((s, dir) =>
      latestPer(drainTable(s, "stream_ewma")(
          EventStreams.runStreamingEwmaOnce(s, dir, _)), "user_id", "n_events")
        .select("user_id", "n_events", "ewma")
        .orderBy("user_id")),

    // State-store INTROSPECTION (ops tooling): the bounded-dedup
    // query's checkpoint read back through Spark's statestore data
    // source. The batch-0 snapshot — before the closing batch's
    // watermark evicts aged keys — must hold exactly the distinct key
    // set, which is the oracle. (The post-drain snapshot is empty:
    // every key's horizon passed, proving the state really is
    // bounded.)
    "q_state_introspect" -> ((s, dir) => {
      val name = fresh("state_introspect")
      val chk = graft.util.Scratch.dir(s"${name}_chk")
      EventStreams.runStreamingDedupBoundedOnce(s, dir, name,
        checkpointDir = Some(chk))
      s.read.format("statestore").option("batchId", 0).load(chk)
        .select(col("key.user_id").as("user_id"),
          col("key.event_type").as("event_type"))
        .orderBy("user_id", "event_type")
    }),

    // The SAME EWMA on Spark 4's transformWithState API (named
    // ValueState via a StatefulProcessor, RocksDB-backed): must
    // converge to bitwise the same fold — identical oracle.
    "q_stream_ewma_tws" -> ((s, dir) =>
      latestPer(drainTable(s, "stream_ewma_tws")(
          EventStreams.runStreamingEwmaTwsOnce(s, dir, _)), "user_id", "n_events")
        .select("user_id", "n_events", "ewma")
        .orderBy("user_id")),

    // Streaming conversion funnel: the batch fold carried as one
    // integer of state per user. The drained per-user reach reduces to
    // the SAME (step, step_name, users) table as the batch operator —
    // and must therefore match the identical DuckDB min-time-join
    // replay that gates q_funnel.
    "q_stream_funnel" -> ((s, dir) => {
      val reach = latestPer(drainTable(s, "stream_funnel")(
        EventStreams.runStreamingFunnelOnce(s, dir, _)), "user_id", "reach")
      val steps = Seq("signup", "click", "purchase")
      val stepSums = steps.indices.map(i =>
        sum((col("reach") > i).cast("long")).as(s"s$i"))
      val stackArgs = steps.indices
        .map(i => s"$i, '${steps(i)}', s$i").mkString(", ")
      reach.agg(stepSums.head, stepSums.tail: _*)
        .select(expr(s"stack(${steps.size}, $stackArgs) " +
          "as (step, step_name, users)"))
        .orderBy("step")
    }),

    // Stateless streaming mixture sampling: the batch hash-threshold
    // policy applied to the document stream — zero state, and the
    // drained sample must equal the batch/relational replay exactly.
    "q_stream_mixture" -> ((s, dir) =>
      drainTable(s, "stream_mixture")(DocStreams.runStreamingMixtureOnce(s, dir,
          _, Map("src0" -> 1.0, "src1" -> 1.0, "src2" -> 0.5,
            "src3" -> 0.5, "src4" -> 0.25), defaultWeight = 0.1))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("sum_chars"))
        .orderBy("source")),

    // The LEARNED BPE tokenizer on the document stream: the shared
    // model's 10 merges compile into nested non-overlapping replaces —
    // pure column algebra, ZERO state, no stream-static join, so a
    // retrained tokenizer redeploys as a query restart. Drained counts
    // must hash-match the batch tokenizer oracle exactly.
    "q_stream_bpe_tokens" -> ((s, dir) =>
      drainTable(s, "stream_bpe")(DocStreams.runStreamingBpeCountsOnce(
          s, dir, _, Pipeline.bpeMerges(s, dir)))
        .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
        .orderBy("doc_id")),

    // Stateful streaming dedup (dropDuplicates over the event stream):
    // the emitted key set must equal batch DISTINCT.
    "q_stream_dedup" -> ((s, dir) =>
      drainTable(s, "stream_dedup")(EventStreams.runStreamingDedupOnce(s, dir, _))
        .select(col("user_id"), col("event_type"))
        .orderBy("user_id", "event_type")),

    // The SAME stateful dedup under the RocksDB state store — the
    // 100 TB posture for large keyed state (state bounded by local
    // disk + incremental checkpoints, not executor heap). The gate
    // PROVES the provider engaged (RocksDB-specific custom metrics in
    // the progress report; the heap store never emits them) and then
    // must hash-match the same batch-DISTINCT oracle as q_stream_dedup:
    // the backend choice cannot change a single row.
    "q_stream_dedup_rocksdb" -> ((s, dir) => {
      import scala.jdk.CollectionConverters._
      val name = fresh("stream_dedup_rdb")
      // backend passed explicitly — no shared-session conf is touched,
      // so a stream started concurrently from another thread can never
      // observe this gate's provider choice
      val q = EventStreams.runStreamingDedupOnce(
        s, dir, name, stateStore = Some("rocksdb"))
      val metrics = q.recentProgress.flatMap(_.stateOperators)
        .flatMap(_.customMetrics.keySet.asScala)
      require(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"state store was not RocksDB; metrics: ${metrics.mkString(",")}")
      s.table(name)
        .select(col("user_id"), col("event_type"))
        .orderBy("user_id", "event_type")
    }),

    // Bounded-state streaming dedup (withWatermark +
    // dropDuplicatesWithinWatermark): single AvailableNow batch → no
    // state expires mid-run → emitted keys equal batch DISTINCT, while
    // the plan carries the watermarked state-eviction operator.
    "q_stream_dedup_bounded" -> ((s, dir) =>
      drainTable(s, "stream_dedup_bounded")(
          EventStreams.runStreamingDedupBoundedOnce(s, dir, _))
        .select(col("user_id"), col("event_type"))
        .orderBy("user_id", "event_type")),

    // Streaming near-duplicate detection: the signature-only stateful
    // SimHash matcher (flatMapGroupsWithState keyed by 16-bit signature
    // chunk). The distinct emitted pair set must equal the batch
    // simHashPairs answer — and therefore the same full DuckDB replay
    // of the SimHash pipeline that gates q_dedup_simhash.
    "q_stream_simhash_dedup" -> ((s, dir) =>
      drainTable(s, "stream_simhash")(DocStreams.runStreamingSimHashDedupOnce(
          s, dir, _, maxHamming = 6))
        .select(col("a"), col("b"), col("hamming")).distinct()
        .orderBy("a", "b")),

    // Streaming heavy hitters: sharded SpaceSaving sketches over the
    // event stream (bounded state per shard). Capacity exceeds every
    // shard's distinct-key load at gate scale, so the sketch is exact
    // and the drained top-20 hash-matches batch GROUP BY counts.
    "q_stream_topk_users" -> ((s, dir) =>
      Frequency.latestCounters(drainTable(s, "stream_topk")(
          Frequency.runStreamingTopUsersOnce(s, dir, _)))
        .select(col("key").as("user_id"), col("n"))
        .orderBy(col("n").desc, col("user_id").asc)
        .limit(20)),

    // STREAM-STREAM watermarked interval join: (view, click) attribution
    // pairs of the same user within 2 hours — two independent event-time
    // streams correlated with bounded per-side state. The drained pair
    // set must hash-match the DuckDB relational self-join replay.
    "q_stream_join" -> ((s, dir) =>
      drainTable(s, "stream_join")(EventStreams.runStreamStreamJoinOnce(s, dir, _))
        .select(col("user_id"), col("view_id"), col("click_id"), col("gap_us"))
        .orderBy("user_id", "view_id", "click_id")),

    // LEFT OUTER stream-stream join: same attribution correlation, plus
    // the views that NEVER converted — emitted with null click columns
    // only once the watermark proves no matching click can still
    // arrive. The oracle replays the watermark semantics itself: an
    // unmatched view surfaces iff final_watermark (= min of the two
    // sides' max event times, minus the 4h delay) has passed
    // view_ts + 2h; later unmatched views are correctly withheld by
    // both the stream and the oracle.
    "q_stream_join_outer" -> ((s, dir) =>
      drainTable(s, "stream_join_outer")(
          EventStreams.runStreamStreamLeftJoinOnce(s, dir, _))
        .select(col("user_id"), col("view_id"), col("click_id"), col("gap_us"))
        .orderBy("user_id", "view_id", "click_id")),

    // CHAINED stateful aggregation (hourly counts re-windowed into
    // daily roll-ups inside ONE streaming query — two state cascades,
    // a Spark 3.4+ capability that previously needed an intermediate
    // sink). Append mode emits a day only when the watermark closes
    // ALL its hours, so the oracle replays the watermark rule: days
    // whose end precedes max(ts) − 2h.
    "q_stream_chained_agg" -> ((s, dir) =>
      drainTable(s, "stream_chained")(EventStreams.runChainedAggOnce(s, dir, _))
        .select(col("day_start"), col("event_type"), col("max_hourly"),
          col("sum_n"), col("n_hours"))
        .orderBy("day_start", "event_type")),

    // foreachBatch production sink: the stream lands in parquet through
    // the batch writer (the sink real pipelines use for MERGE/JDBC/
    // multi-table targets), then the LANDED FILES are aggregated — so
    // the gate proves the sink delivered exactly the source rows, per
    // the batch oracle over the original events.
    "q_stream_foreachbatch_sink" -> ((s, dir) => {
      val root = graft.util.Scratch.dir(fresh("fbsink"))
      graft.streaming.StreamConf.awaitDrain(
        EventStreams.runForeachBatchSinkOnce(s, dir, s"$root/data", s"$root/chk"))
      s.read.parquet(s"$root/data")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),

    // FULL OUTER stream-stream join: never-converted views AND
    // never-preceded clicks surface with nulls, each once the
    // watermark proves no match can arrive. The oracle replays BOTH
    // eviction bounds: view emitted when view_ts + 2h passed, click
    // when click_ts itself passed (a matching view can be as late as
    // the click).
    "q_stream_join_full" -> ((s, dir) =>
      drainTable(s, "stream_join_full")(
          EventStreams.runStreamStreamFullJoinOnce(s, dir, _))
        .select(col("user_id"), col("view_id"), col("click_id"), col("gap_us"))
        .orderBy("user_id", "view_id", "click_id")),

    // STREAM-STATIC broadcast join: events enriched against the static
    // customer dimension inside the stream (stateless; the batch dim is
    // broadcast per micro-batch). Drained rows hash-match the plain
    // relational join.
    "q_stream_static_join" -> ((s, dir) =>
      drainTable(s, "stream_static")(EventStreams.runStreamStaticJoinOnce(s, dir, _))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
        .orderBy("event_id")),

    // Streaming exact ingest dedup against a static corpus: broadcast
    // bloom prefilter (stateless codegen expression) + stream-static
    // anti join for the suspects. The drained id set equals the plain
    // anti-join (bloom has no false negatives), so the oracle is pure
    // relational algebra.
    "q_stream_bloom_dedup" -> ((s, dir) =>
      drainTable(s, "stream_bloom")(DocStreams.runStreamingBloomDedupOnce(s, dir, _))
        .select(col("doc_id")).orderBy("doc_id")),

    // Streaming embedding near-dup: stateful hyperplane-LSH bucket
    // matcher at the full-recall configuration. The drained distinct
    // pair set must equal batch lshNeighborPairs — and therefore the
    // DuckDB brute-force all-pairs cosine oracle.
    "q_stream_ann_pairs" -> ((s, dir) =>
      drainTable(s, "stream_ann")(
          DocStreams.runStreamingEmbeddingDedupOnce(s, dir, _))
        .select(col("a"), col("b"), col("cosine")).distinct()
        .orderBy("a", "b")),

    // Streaming LM-perplexity scoring: a static char-trigram LM asset
    // broadcast into a streaming aggregation. Drained scores must
    // hash-match the batch operator's DuckDB relational replay.
    "q_stream_perplexity" -> ((s, dir) =>
      drainTable(s, "stream_ppl")(DocStreams.runStreamingPerplexityOnce(s, dir, _))
        .select(col("doc_id"), col("n_grams"), col("avg_neg_logp"),
          col("ppl"))
        .orderBy("doc_id")),

    // Sessionization via the NATIVE session_window streaming
    // aggregation: the drained session table must equal the SAME
    // relational oracle as q_sessionize — closing the custom-kernel /
    // native-operator / relational-replay triangle.
    "q_stream_session_window" -> ((s, dir) =>
      drainTable(s, "stream_sesswin")(EventStreams.runSessionWindowOnce(s, dir, _))
        .select(col("user_id"), col("start_us"), col("end_us"), col("n"))
        .orderBy("user_id", "start_us")),

    // The custom stateful sessionization kernel (splitSessions, shared
    // with the streaming flatMapGroupsWithState path) cross-checked
    // against the relational formulation: lag + cumulative break sum.
    "q_sessionize" -> ((s, dir) => {
      import s.implicits._
      val ev = graft.Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .as[EventStreams.Event]
      EventStreams.sessionizeBatch(ev).toDF()
        .orderBy("user_id", "start_us")
    }))

  // shared by q_sessionize (custom kernel) and q_stream_session_window
  // (native operator): both must answer the same relational replay
  private val sessionizeOracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
      |m AS (SELECT user_id, t,
      |  CASE WHEN lag(t) OVER w IS NULL
      |       OR t - lag(t) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      |s AS (SELECT user_id, t, sum(brk) OVER
      |  (PARTITION BY user_id ORDER BY t
      |   ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      |SELECT user_id, min(t) AS start_us, max(t) AS end_us,
      |  count(*) AS n
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  val oracles: Map[String, String] = Map(
    // the batch tokenizer replay verbatim — the oracle needs no
    // knowledge the stream exists
    "q_stream_bpe_tokens" -> Pipeline.oracles("q_bpe_token_counts"),

    "q_stream_approx_quantiles" ->
      """SELECT event_type, count(*) AS n, TRUE AS median_in_band
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stream_image_ahash" -> Analytics.oracles("q_image_ahash"),

    // the streaming Holt fold converges to bitwise the batch recurrence
    "q_stream_holt" -> Analytics.oracles("q_holt_forecast"),

    "q_stream_transitions" -> Analytics.oracles("q_markov_transitions"),

    // bitwise the batch clamped fold
    "q_stream_clamped_balance" -> Analytics.oracles("q_clamped_balance"),

    // the kept-anchor debounce is sequential — recursive-CTE replay
    "q_stream_burst_collapse" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |rec AS (
        |  SELECT user_id, event_type, rn, t AS last_kept, 1 AS kept
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_type, e.rn,
        |    CASE WHEN e.t - rec.last_kept > 5000000 THEN e.t
        |         ELSE rec.last_kept END,
        |    CASE WHEN e.t - rec.last_kept > 5000000 THEN 1 ELSE 0 END
        |  FROM rec JOIN e ON e.user_id = rec.user_id
        |    AND e.event_type = rec.event_type AND e.rn = rec.rn + 1)
        |SELECT user_id, CAST(sum(kept) AS BIGINT) AS n_kept
        |FROM rec GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_stream_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stream_welford" ->
      """SELECT user_id, count(*) AS n,
        |  round(avg(CAST(value AS DOUBLE)) + 1e-9, 6) AS mean,
        |  round(stddev_samp(CAST(value AS DOUBLE)) + 1e-9, 5) AS stddev
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // first-3-per-(user, day) by (event-time, id) — the batch
    // replay of the rate limiter's admission contract
    "q_stream_rate_limit" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS bucket, event_id,
        |    epoch_us(ts) AS ts_us
        |  FROM events),
        |r AS (
        |  SELECT user_id, bucket, event_id, ts_us, row_number() OVER
        |    (PARTITION BY user_id, bucket ORDER BY ts_us, event_id) AS rn
        |  FROM e)
        |SELECT user_id, bucket, event_id, ts_us
        |FROM r WHERE rn <= 3
        |ORDER BY user_id, bucket, event_id""".stripMargin,

    "q_stream_session_window" -> sessionizeOracle,

    // identical replay to the batch funnel gate — the streaming fold
    // must converge to the same per-step user counts
    "q_stream_funnel" -> Relational.oracles("q_funnel"),


    // same relational replay as the batch SimHash gate — the streaming
    // matcher must converge to the identical pair set
    "q_stream_simhash_dedup" -> Pipeline.oracles("q_dedup_simhash"),

    "q_stream_topk_users" ->
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id ORDER BY n DESC, user_id ASC
        |LIMIT 20""".stripMargin,

    "q_stream_ohlc" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, ts, event_id,
        |    value
        |  FROM events),
        |r AS (
        |  SELECT event_type, day, value,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, day
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, day,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n
        |FROM r GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin,

    "q_stream_dq_monitor" ->
      """SELECT 'event_type_allowed' AS rule,
        |  CAST(count(CASE WHEN event_type NOT IN
        |    ('view', 'click', 'signup', 'purchase') THEN 1 END) AS BIGINT)
        |    AS n_violations FROM events
        |UNION ALL
        |SELECT 'props_not_null',
        |  CAST(count(CASE WHEN props IS NULL THEN 1 END) AS BIGINT)
        |FROM events
        |UNION ALL
        |SELECT 'value_in_range',
        |  CAST(count(CASE WHEN value < 0 OR value > 400 THEN 1 END)
        |    AS BIGINT) FROM events
        |ORDER BY rule""".stripMargin,

    "q_stream_windowed_counts" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin,

    "q_stream_merge" ->
      """WITH snap AS (
        |  SELECT o_orderkey, o_orderstatus AS status,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
        |    0 AS version, 'U' AS op
        |  FROM orders),
        |chg AS (
        |  SELECT o_orderkey, status, price_c, 1 AS version, 'D' AS op
        |  FROM snap WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'UPD', price_c + 110, 1, 'U'
        |  FROM snap WHERE o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 3000000, 'NEW', price_c + 100, 1, 'U'
        |  FROM snap WHERE o_orderkey % 11 = 0),
        |w AS (
        |  SELECT o_orderkey, status, price_c, op,
        |    row_number() OVER (PARTITION BY o_orderkey
        |      ORDER BY version DESC) AS rn
        |  FROM (SELECT * FROM snap UNION ALL SELECT * FROM chg))
        |SELECT o_orderkey, status, price_c FROM w
        |WHERE rn = 1 AND op = 'U'
        |ORDER BY o_orderkey""".stripMargin,

    "q_stream_ewma" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  list_reduce(list(value ORDER BY ts, event_id),
        |    (s, x) -> 0.25 * x + 0.75 * s) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_state_introspect" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "q_stream_ewma_tws" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  list_reduce(list(value ORDER BY ts, event_id),
        |    (s, x) -> 0.25 * x + 0.75 * s) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_stream_mixture" ->
      """WITH w AS (
        |  SELECT doc_id, source, n_chars,
        |    CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 1.0
        |                WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.5
        |                WHEN 'src4' THEN 0.25 ELSE 0.1 END AS wt,
        |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |      AS BIGINT) % 10000 AS bk
        |  FROM documents)
        |SELECT source, count(*) AS n_kept,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM w WHERE bk < CAST(wt * 10000 AS BIGINT)
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "q_stream_dedup_rocksdb" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "q_stream_dedup_bounded" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,

    "q_stream_join" ->
      """SELECT v.user_id,
        |  v.event_id AS view_id, c.event_id AS click_id,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND c.ts >= v.ts
        | AND c.ts < v.ts + INTERVAL 2 HOUR
        |ORDER BY v.user_id, view_id, click_id""".stripMargin,

    "q_stream_chained_agg" ->
      """WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events),
        |h AS (SELECT date_trunc('hour', ts) AS hs, event_type,
        |    count(*) AS n
        |  FROM events GROUP BY hs, event_type),
        |d AS (SELECT CAST(date_trunc('day', hs) AS TIMESTAMP)
        |      AS day_start, event_type,
        |    max(n) AS max_hourly, CAST(sum(n) AS BIGINT) AS sum_n,
        |    count(*) AS n_hours
        |  FROM h GROUP BY day_start, event_type)
        |SELECT day_start, event_type, max_hourly, sum_n, n_hours
        |FROM d, wm WHERE day_start + INTERVAL 1 DAY < w
        |ORDER BY day_start, event_type""".stripMargin,

    "q_stream_foreachbatch_sink" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stream_join_outer" ->
      """WITH v AS (SELECT event_id AS view_id, user_id, ts AS vts
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT event_id AS click_id, user_id, ts AS cts
        |  FROM events WHERE event_type = 'click'),
        |wm AS (SELECT least((SELECT max(vts) FROM v),
        |    (SELECT max(cts) FROM c)) - INTERVAL 4 HOUR AS w),
        |pairs AS (
        |  SELECT v.user_id, view_id, click_id,
        |    epoch_us(cts) - epoch_us(vts) AS gap_us
        |  FROM v JOIN c ON v.user_id = c.user_id
        |   AND cts >= vts AND cts < vts + INTERVAL 2 HOUR),
        |expired AS (
        |  SELECT v.user_id, view_id, CAST(NULL AS BIGINT) AS click_id,
        |    CAST(NULL AS BIGINT) AS gap_us
        |  FROM v, wm
        |  WHERE vts + INTERVAL 2 HOUR < w
        |    AND view_id NOT IN (SELECT view_id FROM pairs))
        |SELECT user_id, view_id, click_id, gap_us FROM pairs
        |UNION ALL SELECT * FROM expired
        |ORDER BY user_id, view_id, click_id""".stripMargin,

    "q_stream_join_full" ->
      """WITH v AS (SELECT event_id AS view_id, user_id, ts AS vts
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT event_id AS click_id, user_id, ts AS cts
        |  FROM events WHERE event_type = 'click'),
        |wm AS (SELECT least((SELECT max(vts) FROM v),
        |    (SELECT max(cts) FROM c)) - INTERVAL 4 HOUR AS w),
        |pairs AS (
        |  SELECT v.user_id, view_id, click_id,
        |    epoch_us(cts) - epoch_us(vts) AS gap_us
        |  FROM v JOIN c ON v.user_id = c.user_id
        |   AND cts >= vts AND cts < vts + INTERVAL 2 HOUR),
        |vexp AS (
        |  SELECT v.user_id, view_id, CAST(NULL AS BIGINT) AS click_id,
        |    CAST(NULL AS BIGINT) AS gap_us
        |  FROM v, wm
        |  WHERE vts + INTERVAL 2 HOUR < w
        |    AND view_id NOT IN (SELECT view_id FROM pairs)),
        |cexp AS (
        |  SELECT c.user_id, CAST(NULL AS BIGINT) AS view_id, click_id,
        |    CAST(NULL AS BIGINT) AS gap_us
        |  FROM c, wm
        |  WHERE cts < w
        |    AND click_id NOT IN (SELECT click_id FROM pairs))
        |SELECT user_id, view_id, click_id, gap_us FROM pairs
        |UNION ALL SELECT * FROM vexp
        |UNION ALL SELECT * FROM cexp
        |ORDER BY user_id, view_id NULLS FIRST,
        |  click_id NULLS FIRST""".stripMargin,

    "q_stream_static_join" ->
      """SELECT event_id, user_id, c_mktsegment
        |FROM events JOIN customer ON user_id + 1 = c_custkey
        |ORDER BY event_id""".stripMargin,

    // identical replay to the batch perplexity gate — streaming must
    // converge to the same scores
    "q_stream_perplexity" -> Pipeline.oracles("q_doc_perplexity"),

    // the same brute-force all-pairs cosine replay as the batch
    // full-recall LSH gate
    "q_stream_ann_pairs" -> Pipeline.oracles("q_ann_lsh_recall"),

    "q_stream_bloom_dedup" ->
      """WITH newdocs AS (
        |  SELECT doc_id + 200000 AS doc_id, text
        |  FROM documents WHERE doc_id % 30 = 0
        |  UNION ALL
        |  SELECT doc_id + 300000 AS doc_id,
        |    substr(text, 1, greatest(length(text) - 30, 10)) AS text
        |  FROM documents WHERE doc_id % 30 = 7)
        |SELECT doc_id FROM newdocs
        |WHERE md5(text) NOT IN (SELECT md5(text) FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_sessionize" -> sessionizeOracle)
}
