package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface over the events table shape (beyond the
  * reference, which is batch-only — SURVEY §2.9): watermarked event-time
  * windows and custom sessionization state via mapGroupsWithState.
  *
  * The same transformations run on a batch DataFrame (spark.read) or a
  * stream (spark.readStream) — tests drive them with file sources +
  * Trigger.AvailableNow for deterministic end-to-end runs.
  */
object EventStreams {

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, nEvents: Int,
      totalValue: Double, startTs: Long, endTs: Long)

  /** Watermarked tumbling-window aggregation (event-time). Accepts any
    * event-time flavor a parquet lake produces (nanos-long / NTZ / UTC
    * micros) — watermarks require TimestampType, so `ts` is normalized
    * on entry. */
  def windowedCounts(events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    graft.Tables.normalizeEventTime(events, "ts")
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Per-user session aggregation with explicit state: a session closes
    * after `gapMs` of event-time inactivity. The open tail is FLUSHED by
    * an event-time TIMEOUT — once the watermark passes lastEvent + gap,
    * no event can reopen the session, so it emits and its state drops
    * (NoTimeout would hold every user's final session forever and
    * diverge from the batch kernel). Sessions still inside the final
    * watermark horizon stay open — inherent streaming semantics. On a
    * BATCH dataset (where timeouts never fire) it degrades to the
    * sessionizeBatch semantics instead: open tails emitted directly.
    * Demonstrates KeyValueGroupedDataset.flatMapGroupsWithState — the
    * engine's custom-stateful-operator surface. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "2 hours"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    def summary(userId: Long, s: List[(Long, Double)]) =
      SessionSummary(userId, s.length,
        math.round(s.map(_._2).sum * 100.0) / 100.0,
        s.head._1, s.last._1)
    if (!events.isStreaming)
      events.groupByKey(_.user_id).flatMapGroups { (userId, evs) =>
        val all = evs.map(e => (e.ts.getTime, e.value)).toList.sortBy(_._1)
        val (closed, open) = splitSessions(all, gapMs)
        (closed ++ (if (open.nonEmpty) List(open) else Nil)).iterator
          .map(s => summary(userId, s))
      }
    else events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[(Long, Double)], SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, evs, state: GroupState[List[(Long, Double)]]) =>
          if (state.hasTimedOut) {
            // the watermark passed lastEvent + gap: the session IS closed
            val open = state.get
            state.remove()
            Iterator.single(summary(userId, open))
          } else {
            // micro-batch arrival: fold new events into per-user event
            // list, emit every closed session (gap exceeded between
            // sorted events), re-arm the timeout for the open tail
            val incoming = evs.map(e => (e.ts.getTime, e.value)).toList
            val all = (state.getOption.getOrElse(Nil) ++ incoming).sortBy(_._1)
            val (closed, open) = splitSessions(all, gapMs)
            if (open.nonEmpty) {
              state.update(open)
              // a late-arriving tail may already sit behind the
              // watermark; the timeout must not (Spark rejects it) —
              // clamp to just past the current watermark
              state.setTimeoutTimestamp(math.max(open.last._1 + gapMs,
                state.getCurrentWatermarkMs() + 1))
            } else state.remove()
            closed.iterator.map(s => summary(userId, s))
          }
      }
  }

  final case class SessionRow(user_id: Long, start_us: Long, end_us: Long,
      n: Long)

  /** Batch sessionization over the full history with the SAME session
    * kernel the streaming path uses (`splitSessions`), emitting the final
    * open session too — so the custom stateful operator can be
    * cross-checked against a purely relational oracle (lag + cumulative
    * session-break sum). Timestamps at microsecond precision; output has
    * no float columns, so the check is exact. */
  def sessionizeBatch(events: Dataset[Event],
      gapUs: Long = 30 * 60 * 1000000L): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroups { (userId, evs) =>
        val all = evs.map { e =>
          val us = e.ts.getTime / 1000 * 1000000L + e.ts.getNanos / 1000
          (us, e.value)
        }.toList.sortBy(_._1)
        val (closed, open) = splitSessions(all, gapUs)
        val sessions = closed ++ (if (open.nonEmpty) List(open) else Nil)
        sessions.iterator.map(s =>
          SessionRow(userId, s.head._1, s.last._1, s.length.toLong))
      }
  }

  /** Split a time-sorted event list into (closed sessions, still-open
    * tail): a gap > gapMs closes the preceding session. */
  private[graft] def splitSessions(
      sorted: List[(Long, Double)], gapMs: Long): (List[List[(Long, Double)]], List[(Long, Double)]) = {
    if (sorted.isEmpty) return (Nil, Nil)
    val sessions = sorted.tail.foldLeft(List(List(sorted.head))) {
      case (acc @ current :: rest, e) =>
        if (e._1 - current.head._1 > gapMs) List(e) :: acc
        else (e :: current) :: rest
      case (Nil, e) => List(List(e))
    }.map(_.reverse).reverse
    (sessions.init, sessions.last)
  }

  /** Run a streaming windowed-count job over parquet files and drain it
    * into an in-memory table (AvailableNow = process everything, stop). */
  def runWindowedCountsOnce(parent: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery =
    // Complete mode: append would withhold windows newer than the final
    // watermark; this job drains everything available and stops.
    StreamConf.drainOnce(parent, queryName, OutputMode.Complete) { spark =>
      windowedCounts(graft.Tables.stream(spark, eventsDir, "events"))
    }

  /** Streaming OHLC resampling: [[graft.operators.EventAnalytics
    * .resampleOhlc]] runs unchanged over the stream — min_by/max_by on
    * the (ts, tie) struct order are ordinary declarative aggregates, so
    * Complete mode keeps one bar per (key, bucket) of state and the
    * drained result must equal the batch bars bitwise. */
  def runOhlcOnce(parent: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Complete) { spark =>
      graft.operators.EventAnalytics.resampleOhlc(
        graft.Tables.stream(spark, eventsDir, "events"), Seq("event_type"),
        date_trunc("day", col("ts")), "ts", "event_id", "value")
    }

  /** Continuous data-quality monitoring: the row-local rule classes of
    * [[graft.pipeline.Quality]] run unchanged over a stream, because a
    * conditional-count audit is a plain aggregation — Complete mode
    * keeps one running count per rule (O(|rules|) state regardless of
    * stream length). Key-uniqueness and referential rules are
    * deliberately absent: they would need per-key state, a different
    * operator (the CDC merge family covers that shape). */
  def runQualityMonitorOnce(parent: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Complete) { spark =>
      graft.pipeline.Quality.audit(
        graft.Tables.stream(spark, eventsDir, "events"), Seq(
          graft.pipeline.Quality.Check("event_type_allowed",
            !col("event_type").isin("view", "click", "signup", "purchase")),
          graft.pipeline.Quality.Check("props_not_null",
            col("props").isNull),
          graft.pipeline.Quality.Check("value_in_range",
            col("value") < 0 || col("value") > 400)))
    }

  /** Attribution pairs: (view, click) of the same user with the click
    * inside [view_ts, view_ts + `window`). Written as a plain
    * DataFrame transform so the SAME join runs batch (spark.read) or as
    * a watermarked STREAM-STREAM interval join (spark.readStream):
    * with event-time watermarks on both sides plus the time-bound join
    * condition, Structured Streaming keeps only `window`+watermark of
    * per-side state — the bounded-state two-stream correlation shape of
    * a 100 TB event pipeline (state does NOT grow with stream length).
    * Column parity note: gap_us is integral microseconds, exact in any
    * engine. */
  def viewClickPairs(views: DataFrame, clicks: DataFrame,
      window: String = "2 hours", watermark: String = "4 hours"): DataFrame =
    viewClickJoin(views, clicks, "inner", window, watermark)

  /** The interval join behind [[viewClickPairs]] and its outer forms;
    * an unmatched click of the full outer join takes its own user. */
  private def viewClickJoin(views: DataFrame, clicks: DataFrame,
      joinType: String, window: String, watermark: String): DataFrame = {
    val v = graft.Tables.normalizeEventTime(views, "ts")
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = graft.Tables.normalizeEventTime(clicks, "ts")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val user =
      if (joinType == "full_outer") coalesce(col("view_user"), col("click_user"))
      else col("view_user")
    v.join(c, expr(
      s"""view_user = click_user AND
         |click_ts >= view_ts AND
         |click_ts < view_ts + interval $window""".stripMargin), joinType)
      .select(user.as("user_id"),
        col("view_id"), col("click_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
          .as("gap_us"))
  }

  /** Drain-once runner for the stream-stream interval join: both sides
    * read the events file as independent streams, join with watermarks,
    * land pairs in a memory table. */
  def runStreamStreamJoinOnce(parent: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery =
    // A stream-stream join keeps FOUR state stores per shuffle
    // partition; per-batch commit cost is per-store, not per-row, so 32
    // partitions cost ~128 store commits a micro-batch — see StreamConf.
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      val side = eventSides(spark, eventsDir)
      viewClickPairs(side("view"), side("click"))
    }

  /** The two sides of a view/click join: independent streams over the
    * events file (one schema read), each filtered to one event type. */
  private def eventSides(spark: SparkSession,
      eventsDir: String): String => DataFrame = {
    val events = graft.Tables.streamReader(spark, eventsDir, "events")
    eventType => events().filter(col("event_type") === eventType)
  }

  /** LEFT OUTER stream-stream interval join: like [[viewClickPairs]]
    * but views with NO click inside the window surface with null
    * click columns — the "which impressions never converted" side of
    * attribution, which the inner join cannot answer. Structured
    * Streaming emits an unmatched left row only once the right-side
    * watermark proves no matching click can still arrive (view_ts +
    * window < watermark), so the null rows are late but exact; state
    * stays bounded exactly as in the inner join. */
  def viewClickPairsLeftOuter(views: DataFrame, clicks: DataFrame,
      window: String = "2 hours", watermark: String = "4 hours"): DataFrame =
    viewClickJoin(views, clicks, "left_outer", window, watermark)

  /** FULL OUTER stream-stream interval join: both the views that never
    * converted AND the clicks no view preceded surface with nulls on
    * the absent side, each only after the watermark proves no match can
    * arrive. For an unmatched click the eviction bound is the click's
    * own timestamp (a matching view may lie anywhere in
    * (click_ts − window, click_ts], so the click is provably unmatched
    * once the watermark passes click_ts). */
  def viewClickPairsFullOuter(views: DataFrame, clicks: DataFrame,
      window: String = "2 hours", watermark: String = "4 hours"): DataFrame =
    viewClickJoin(views, clicks, "full_outer", window, watermark)

  /** Drain-once runner for the FULL OUTER stream-stream join. */
  def runStreamStreamFullJoinOnce(parent: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      val side = eventSides(spark, eventsDir)
      viewClickPairsFullOuter(side("view"), side("click"))
    }

  /** Drain-once runner for the LEFT OUTER stream-stream join. */
  def runStreamStreamLeftJoinOnce(parent: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      val side = eventSides(spark, eventsDir)
      viewClickPairsLeftOuter(side("view"), side("click"))
    }

  /** Drain-once runner for the STREAM-STATIC join: the event stream
    * enriched against the static customer dimension (user_id+1 keys
    * into c_custkey at fixture scale). The static side is a plain batch
    * DataFrame — Spark broadcasts it into every micro-batch, the
    * stateless streaming analog of the dimension joins every 100 TB
    * event pipeline runs; no state store involved at all. */
  def runStreamStaticJoinOnce(parent: SparkSession, sfDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      val customers = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      graft.Tables.stream(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"))
        .join(broadcast(customers),
          col("user_id") + 1 === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
    }

  /** CHAINED stateful aggregation — two windowed aggregations in ONE
    * streaming query (hourly counts per event type, then daily
    * roll-ups of those hourly rows), using `window_time` to re-window
    * the first aggregation's output on its event-time column. Until
    * Spark 3.4 this required two queries with an intermediate sink;
    * chained it is one state cascade, and the daily row for a day
    * emits only once the watermark closes ALL of its hours — which is
    * why Append is the only legal mode and why the oracle filters to
    * days whose end the final watermark passed. */
  def runChainedAggOnce(parent: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      graft.Tables.stream(spark, eventsDir, "events")
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(window(window_time(col("window")), "1 day"),
          col("event_type"))
        .agg(max(col("n")).as("max_hourly"), sum(col("n")).as("sum_n"),
          count(lit(1)).as("n_hours"))
        .select(col("window.start").as("day_start"), col("event_type"),
          col("max_hourly"), col("sum_n"), col("n_hours"))
    }

  /** Drain-once runner for the foreachBatch PRODUCTION sink path: the
    * stream lands in parquet via `foreachBatch` (the sink every real
    * pipeline uses when the target needs batch-writer semantics —
    * MERGE, JDBC, multi-table fan-out). The checkpoint location makes
    * re-runs resume instead of re-emit; within one drain each batch id
    * is delivered exactly once, so the landed rows equal the source
    * (asserted by the gate's batch oracle over the landed files). */
  def runForeachBatchSinkOnce(parent: SparkSession, eventsDir: String,
      dataDir: String, checkpointDir: String): StreamingQuery =
    graft.Tables.stream(StreamConf.isolated(parent), eventsDir, "events")
      .select(col("user_id"), col("event_type"), col("value"))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(dataDir); ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming ingest dedup: emit each (user_id, event_type) key the
    * first time it is seen — the stateful exact-dedup stage of a
    * streaming training-data pipeline. State here is unbounded (keyed
    * hash of seen keys, exact global dedup); for the bounded-state
    * variant that ages keys out with event time, see
    * `dedupWithinWatermark` / `runStreamingDedupBoundedOnce`. Emitted
    * KEYS are deterministic (which physical row represented the key is
    * not, so only keys are emitted). `stateStore` picks the state
    * backend explicitly (`Some("rocksdb")`) without touching any shared
    * session conf; `None` defers to the parent's conf opt-in. */
  def runStreamingDedupOnce(parent: SparkSession, eventsDir: String,
      queryName: String,
      stateStore: Option[String] = None): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append,
        stateStore = stateStore) { spark =>
      graft.Tables.stream(spark, eventsDir, "events")
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
    }

  /** Bounded-state streaming dedup: each key's state lives only until
    * the event-time watermark passes the key's first-seen timestamp plus
    * the `watermark` delay — so state size tracks the key-arrival rate
    * over one horizon, not the whole key universe (the 100 TB-stream
    * requirement). Duplicates within the horizon are dropped; a
    * re-arrival after its state expired is re-emitted — that is the
    * `dropDuplicatesWithinWatermark` contract, proven by the state-aging
    * spec. `events` must carry an event-time `ts` column (any parquet
    * flavor — normalized to TimestampType on entry). */
  def dedupWithinWatermark(events: DataFrame, watermark: String,
      keys: Seq[String]): DataFrame =
    graft.Tables.normalizeEventTime(events, "ts")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Drain-once runner for `dedupWithinWatermark` over the events
    * parquet. AvailableNow reads the single events file as one
    * micro-batch, so no state expires mid-run and the emitted key set
    * equals batch DISTINCT — which makes this oracle-checkable while
    * still exercising the bounded-state operator. */
  def runStreamingDedupBoundedOnce(parent: SparkSession, eventsDir: String,
      queryName: String, watermark: String = "2 hours",
      checkpointDir: Option[String] = None): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append,
        checkpointDir = checkpointDir) { spark =>
      dedupWithinWatermark(graft.Tables.stream(spark, eventsDir, "events")
          .select(col("ts"), col("user_id"), col("event_type")),
          watermark, Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))
    }

  /** Drain-once runner for sessionization via the NATIVE
    * `session_window` streaming aggregation — the same session
    * partitioning as the custom `splitSessions` kernel, so the drained
    * sessions must equal `sessionizeBatch` AND its relational oracle.
    *
    * Boundary alignment: `session_window` merging is NON-strict — an
    * event extends the session iff gap-to-previous ≤ windowGap (Spark's
    * UpdatingSessionsIterator merges when the next start does not
    * exceed the current end, and each event's window is [ts, ts+gap]) —
    * exactly `splitSessions`' close-iff-diff>gapUs predicate, so the
    * gap passes through UNCHANGED. The emitted end is the window end
    * minus the gap — i.e. the last event's timestamp, matching
    * SessionRow.end_us. (A deterministic boundary fixture in
    * EventStreamsSpec pins events exactly gapUs and gapUs+1 µs apart:
    * the first pair merges, the second splits.) Complete mode
    * (Update is unsupported for session windows) + AvailableNow: the
    * drain emits every session's final state, open tails included,
    * exactly like the batch kernel — Append would withhold sessions
    * newer than the final watermark. */
  def runSessionWindowOnce(parent: SparkSession, eventsDir: String,
      queryName: String, gapUs: Long = 30 * 60 * 1000000L): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Complete) { spark =>
      graft.Tables.stream(spark, eventsDir, "events")
        .withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), s"$gapUs microseconds"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          (unix_micros(col("session_window.end")) - gapUs).as("end_us"),
          col("n"))
    }

  final case class FunnelEvent(user_id: Long, ts_us: Long, step: Int)
  final case class FunnelReach(user_id: Long, reach: Int)

  /** Streaming conversion funnel — the batch
    * `operators/EventAnalytics.funnel` fold carried as ONE integer of
    * state per user (the number of consecutive steps already reached; an
    * event advances it iff its step is exactly the next one). Each
    * micro-batch sorts its own events by (event-time, step) — the same
    * tie rule as the batch fold — and advances the carried state,
    * emitting the user's updated reach. Correct whenever batches arrive
    * in per-key event-time order (an AvailableNow drain, or any log
    * replayed in order) — the same contract as [[streamingEwma]]. */
  /** Pure funnel fold kernel: advance `reach0` over time-ordered step
    * indices — an event advances iff it is exactly the next step.
    * Splitting the ordered sequence at ANY point and folding the halves
    * with the state carried between them gives the same result as one
    * pass (PropertySpec proves it) — which is exactly why
    * [[streamingFunnel]] can carry one integer across micro-batches. */
  private[graft] def foldReach(reach0: Int, steps: Iterator[Int]): Int = {
    var r = reach0
    steps.foreach(s => if (s == r) r += 1)
    r
  }

  def streamingFunnel(events: Dataset[FunnelEvent]): Dataset[FunnelReach] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[Int, FunnelReach](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[Int]) =>
          val sorted = rows.toArray.sortBy(r => (r.ts_us, r.step))
          val reach = foldReach(state.getOption.getOrElse(0),
            sorted.iterator.map(_.step))
          state.update(reach)
          FunnelReach(uid, reach)
      }
  }

  /** Drain-once runner for [[streamingFunnel]] over the events parquet:
    * event types map to their step index, non-funnel events are
    * filtered before the stateful fold (state exists only for users
    * that touched the funnel). */
  def runStreamingFunnelOnce(parent: SparkSession, eventsDir: String,
      queryName: String,
      steps: Seq[String] = Seq("signup", "click", "purchase")): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Update) { spark =>
      import spark.implicits._
      val stepIdx = steps.zipWithIndex
        .foldLeft(lit(-1)) { case (acc, (s, i)) =>
          when(col("event_type") === s, lit(i)).otherwise(acc)
        }
      streamingFunnel(graft.Tables.stream(spark, eventsDir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            stepIdx.as("step"))
          .filter(col("step") >= 0).as[FunnelEvent]).toDF()
    }

  final case class MetricEvent(user_id: Long, ts_us: Long, event_id: Long,
      value: Double)
  final case class EwmaState(n: Long, s: Double)
  final case class EwmaOut(user_id: Long, n_events: Long, ewma: Double)

  /** Streaming per-key EWMA — the batch
    * `operators/EventAnalytics.ewma` recurrence carried as TWO numbers
    * of state per key (count + current smoothed value), the streaming
    * floor for a sequential recurrence. Each micro-batch sorts its own
    * events by (event-time, tie) and folds them into the carried state,
    * emitting the key's updated value — correct whenever batches arrive
    * in per-key event-time order (true for an AvailableNow drain and
    * for any log replayed in order; out-of-order arrivals would need a
    * watermark-delayed buffer instead). The fold runs the identical
    * double arithmetic as the batch operator, so converged values match
    * it bitwise. */
  /** Pure EWMA fold kernel — the identical double arithmetic the batch
    * operator runs, split-invariant over any batch boundary
    * (PropertySpec proves the carried two-number state reproduces the
    * one-pass fold bitwise). */
  private[graft] def foldEwma(st0: EwmaState, alpha: Double,
      xs: Iterator[Double]): EwmaState = {
    var st = st0
    xs.foreach { x =>
      st = if (st.n == 0L) EwmaState(1L, x)
      else EwmaState(st.n + 1L, alpha * x + (1.0 - alpha) * st.s)
    }
    st
  }

  def streamingEwma(events: Dataset[MetricEvent],
      alpha: Double): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[EwmaState, EwmaOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[MetricEvent], state: GroupState[EwmaState]) =>
          val sorted = rows.toArray.sortBy(r => (r.ts_us, r.event_id))
          val st = foldEwma(state.getOption.getOrElse(EwmaState(0L, 0.0)),
            alpha, sorted.iterator.map(_.value))
          state.update(st)
          EwmaOut(uid, st.n, st.s)
      }
  }

  /** The same per-key EWMA recurrence on the `transformWithState` API
    * (Spark 4's arbitrary-stateful-processing surface, successor to
    * mapGroupsWithState): explicit named `ValueState` through a
    * `StatefulProcessor`, schema'd state the state-store READER can
    * introspect, optional TTL/timers. Must converge to bitwise the
    * SAME fold as [[streamingEwma]] — the gate reuses that oracle. */
  class EwmaTwsProcessor(alpha: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, MetricEvent, EwmaOut] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[EwmaState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[EwmaState]("ewma",
        org.apache.spark.sql.Encoders.product[EwmaState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[MetricEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[EwmaOut] = {
      val sorted = rows.toArray.sortBy(r => (r.ts_us, r.event_id))
      val prev = if (st.exists()) st.get() else EwmaState(0L, 0.0)
      val next = foldEwma(prev, alpha, sorted.iterator.map(_.value))
      st.update(next)
      Iterator.single(EwmaOut(key, next.n, next.s))
    }
  }

  /** Drain-once runner for the [[EwmaTwsProcessor]] EWMA.
    * transformWithState requires the RocksDB state store — pinned
    * directly on this runner's private clone (regardless of the
    * session's [[StreamConf.StateStoreKey]] opt-in), so no shared
    * session conf is touched and nothing needs restoring. */
  def runStreamingEwmaTwsOnce(parent: SparkSession, eventsDir: String,
      queryName: String, alpha: Double = 0.25): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Update,
        stateStore = Some("rocksdb")) { spark =>
      import spark.implicits._
      metricEvents(spark, eventsDir)
        .groupByKey(_.user_id)
        .transformWithState(new EwmaTwsProcessor(alpha),
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
        .toDF()
    }

  /** The events file as a [[MetricEvent]] stream: event time as exact
    * integral micros, the key every per-key fold sorts by. */
  private def metricEvents(spark: SparkSession,
      eventsDir: String): Dataset[MetricEvent] = {
    import spark.implicits._
    graft.Tables.stream(spark, eventsDir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value")).as[MetricEvent]
  }

  /** Drain-once runner for [[streamingEwma]] over the events parquet
    * (Update mode, memory sink; ns timestamps normalized to the same
    * microsecond precision the batch operator folds in). */
  def runStreamingEwmaOnce(parent: SparkSession, eventsDir: String,
      queryName: String, alpha: Double = 0.25): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Update) { spark =>
      streamingEwma(metricEvents(spark, eventsDir), alpha).toDF()
    }

  /** Streaming HLL++ distinct estimate per group (Complete mode, one
    * fixed-size register set per group — the distinct sibling of the
    * percentile sketch below). */
  def runApproxDistinctOnce(parent: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Complete) { spark =>
      graft.Tables.stream(spark, eventsDir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("__est"))
    }

  /** Streaming percentile sketch: approx_percentile is a mergeable
    * TypedImperativeAggregate, so Complete mode carries ONE bounded
    * sketch per group however long the stream runs — the streaming
    * member of the approx-aggregate family (HLL gate q_approx_distinct,
    * batch sketch gate q_approx_quantiles). */
  def runApproxQuantilesOnce(parent: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Complete) { spark =>
      graft.Tables.stream(spark, eventsDir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("approx_percentile(value, 0.5, 10000)").as("apx"))
    }

  final case class HoltState(n: Long, l: Double, b: Double)
  final case class HoltOut(user_id: Long, n_events: Long, level: Double,
      trend: Double)

  /** Pure Holt fold — the IDENTICAL recurrence (and IEEE op order) the
    * batch operator's in-row fold runs, so the converged streaming
    * state hash-matches the batch gate (and its recursive-CTE oracle)
    * bitwise. */
  private[graft] def foldHolt(st0: HoltState, alpha: Double, beta: Double,
      xs: Iterator[Double]): HoltState = {
    var st = st0
    xs.foreach { x =>
      st =
        if (st.n == 0L) HoltState(1L, x, 0.0)
        else {
          val lNext = alpha * x + (1.0 - alpha) * (st.l + st.b)
          HoltState(st.n + 1, lNext,
            beta * (lNext - st.l) + (1.0 - beta) * st.b)
        }
    }
    st
  }

  /** Streaming Holt linear-trend smoothing: (n, level, trend) carried
    * per key — the forecasting sibling of [[streamingEwma]]. */
  def streamingHolt(events: Dataset[MetricEvent], alpha: Double,
      beta: Double): Dataset[HoltOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[HoltState, HoltOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[MetricEvent], state: GroupState[HoltState]) =>
          val sorted = rows.toArray.sortBy(r => (r.ts_us, r.event_id))
          val st = foldHolt(state.getOption.getOrElse(HoltState(0L, 0.0, 0.0)),
            alpha, beta, sorted.iterator.map(_.value))
          state.update(st)
          HoltOut(uid, st.n, st.l, st.b)
      }
  }

  /** Drain-once runner for [[streamingHolt]]. */
  def runStreamingHoltOnce(parent: SparkSession, eventsDir: String,
      queryName: String, alpha: Double = 0.25, beta: Double = 0.1): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Update) { spark =>
      streamingHolt(metricEvents(spark, eventsDir), alpha, beta).toDF()
    }

  final case class BalanceState(n: Long, b: Double)
  final case class BalanceOut(user_id: Long, n_events: Long, balance: Double)

  /** Streaming clamped balance: the floor-at-zero fold
    * b' = max(0, b + Δ) carried per key — nonlinear, so no windowed
    * cumulative sum expresses it; converges bitwise to the batch
    * in-row fold (q_clamped_balance). */
  def streamingClampedBalance(events: Dataset[MetricEvent],
      offset: Double): Dataset[BalanceOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[BalanceState, BalanceOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[MetricEvent], state: GroupState[BalanceState]) =>
          val sorted = rows.toArray.sortBy(r => (r.ts_us, r.event_id))
          var st = state.getOption.getOrElse(BalanceState(0L, 0.0))
          sorted.foreach { e =>
            st = BalanceState(st.n + 1,
              math.max(0.0, st.b + (e.value - offset)))
          }
          state.update(st)
          BalanceOut(uid, st.n, st.b)
      }
  }

  /** Drain-once runner for [[streamingClampedBalance]]. */
  def runClampedBalanceOnce(parent: SparkSession, eventsDir: String,
      queryName: String, offset: Double = 25.0): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Update) { spark =>
      streamingClampedBalance(metricEvents(spark, eventsDir), offset).toDF()
    }

  final case class TransitionEvent(user_id: Long, ts_us: Long,
      event_id: Long, event_type: String)
  final case class Transition(prev: String, next: String)

  /** Streaming Markov-transition extraction: one string of state per
    * user (the last seen event type); each micro-batch sorts its slice
    * and emits the (prev → next) pairs, chaining across batches through
    * the carried state — the streaming feed for the batch
    * [[graft.operators.Stats.transitionMatrix]]. */
  def streamingTransitions(
      events: Dataset[TransitionEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[String, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[TransitionEvent], state: GroupState[String]) =>
          val sorted = rows.toArray.sortBy(r => (r.ts_us, r.event_id))
          var prev = state.getOption.orNull
          val out = Vector.newBuilder[Transition]
          sorted.foreach { e =>
            if (prev != null) out += Transition(prev, e.event_type)
            prev = e.event_type
          }
          if (prev != null) state.update(prev)
          out.result().iterator
      }
  }

  /** Drain-once runner for [[streamingTransitions]]. */
  def runStreamingTransitionsOnce(parent: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      import spark.implicits._
      streamingTransitions(graft.Tables.stream(spark, eventsDir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("event_type")).as[TransitionEvent]).toDF()
    }

  final case class WelfordState(n: Long, mean: Double, m2: Double)
  final case class WelfordOut(user_id: Long, n: Long, mean: Double,
      m2: Double)

  /** Pure Welford fold — numerically stable running mean/variance,
    * THREE numbers of state per key regardless of stream length. */
  private[graft] def foldWelford(st0: WelfordState,
      xs: Iterator[Double]): WelfordState = {
    var st = st0
    xs.foreach { x =>
      val n = st.n + 1
      val delta = x - st.mean
      val mean = st.mean + delta / n
      st = WelfordState(n, mean, st.m2 + delta * (x - mean))
    }
    st
  }

  /** Streaming per-key running mean/variance (Welford) — the moment
    * sibling of [[streamingEwma]]: each micro-batch sorts its slice by
    * (event-time, tie) and folds into the carried (n, mean, M2). */
  def streamingWelford(events: Dataset[MetricEvent]): Dataset[WelfordOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[WelfordState, WelfordOut](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[MetricEvent], state: GroupState[WelfordState]) =>
          val sorted = rows.toArray.sortBy(r => (r.ts_us, r.event_id))
          val st = foldWelford(
            state.getOption.getOrElse(WelfordState(0L, 0.0, 0.0)),
            sorted.iterator.map(_.value))
          state.update(st)
          WelfordOut(uid, st.n, st.mean, st.m2)
      }
  }

  /** Drain-once runner for [[streamingWelford]]. */
  def runStreamingWelfordOnce(parent: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Update) { spark =>
      streamingWelford(metricEvents(spark, eventsDir)).toDF()
    }

  final case class BurstEvent(user_id: Long, event_type: String,
      ts_us: Long, event_id: Long)
  final case class BurstKey(user_id: Long, event_type: String)

  /** Streaming burst-collapse: keep an event iff it arrives more than
    * `gapUs` after the previously KEPT event of its (user, type) key —
    * the gap-based dedup sibling of the count-based rate limiter, with
    * ONE timestamp of state per live key. The kept-event anchor (vs
    * the batch lag rule's previous-RAW-event anchor) is the
    * "debounce" semantics a real throttle wants: a long burst emits
    * one event per gap instead of none after the first. */
  def streamingBurstCollapse(events: Dataset[BurstEvent],
      gapUs: Long): Dataset[BurstEvent] = {
    require(gapUs > 0, "gap must be positive")
    import events.sparkSession.implicits._
    events.groupByKey(e => BurstKey(e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, BurstEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: BurstKey, rows: Iterator[BurstEvent], state: GroupState[Long]) =>
          val sorted = rows.toArray.sortBy(r => (r.ts_us, r.event_id))
          var lastKept = state.getOption.getOrElse(Long.MinValue)
          val kept = sorted.filter { e =>
            val keep = lastKept == Long.MinValue || e.ts_us - lastKept > gapUs
            if (keep) lastKept = e.ts_us
            keep
          }
          if (kept.nonEmpty) state.update(lastKept)
          kept.iterator
      }
  }

  /** Drain-once runner for [[streamingBurstCollapse]] (5 s gap). */
  def runBurstCollapseOnce(parent: SparkSession, eventsDir: String,
      queryName: String, gapUs: Long = 5000000L): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      import spark.implicits._
      streamingBurstCollapse(graft.Tables.stream(spark, eventsDir, "events")
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"), col("event_id"))
          .as[BurstEvent], gapUs).toDF()
    }

  final case class RateKey(user_id: Long, bucket: Long)
  final case class KeptEvent(user_id: Long, bucket: Long, event_id: Long,
      ts_us: Long)

  /** Streaming per-key rate limiter: admit at most `maxPerWindow`
    * events per (user, tumbling window of `windowUs` micros), keeping
    * the EARLIEST by (event-time, event_id) — the ingest throttle a
    * crawl pipeline puts in front of per-source quotas.
    *
    * State is ONE long per live (user, window) key: the admitted count.
    * Each micro-batch sorts its own slice of the key (deterministic
    * admission within a batch) and admits until the carried count hits
    * the cap; later batches of the same key continue from the count, so
    * cross-batch admission is first-come-first-served in arrival order
    * — exactly a production rate limiter's contract. Keyed by (user,
    * window) rather than user so expired windows can age out via a
    * state timeout at scale (NoTimeout here: the gate drains once).
    */
  def streamingRateLimit(events: Dataset[MetricEvent], windowUs: Long,
      maxPerWindow: Int): Dataset[KeptEvent] = {
    require(windowUs > 0 && maxPerWindow > 0, "window and cap must be positive")
    import events.sparkSession.implicits._
    events.groupByKey(e => RateKey(e.user_id, Math.floorDiv(e.ts_us, windowUs)))
      .flatMapGroupsWithState[Long, KeptEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: RateKey, rows: Iterator[MetricEvent], state: GroupState[Long]) =>
          val admitted = state.getOption.getOrElse(0L)
          val sorted = rows.toArray.sortBy(r => (r.ts_us, r.event_id))
          val keep = sorted.take(
            math.max(0L, maxPerWindow - admitted).toInt min sorted.length)
          state.update(admitted + keep.length)
          keep.iterator.map(e =>
            KeptEvent(key.user_id, key.bucket, e.event_id, e.ts_us))
      }
  }

  /** Drain-once runner for [[streamingRateLimit]] (tumbling-DAY
    * windows, cap 3 — parameters chosen so the cap actually binds on
    * the testdata arrival rates). AvailableNow = single batch, so the
    * admitted set equals the batch row_number-≤-cap replay — the
    * DuckDB oracle. */
  def runRateLimitOnce(parent: SparkSession, eventsDir: String,
      queryName: String, windowUs: Long = 86400L * 1000000L,
      maxPerWindow: Int = 3): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      streamingRateLimit(metricEvents(spark, eventsDir), windowUs,
        maxPerWindow).toDF()
    }
}
