package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class EventStreamsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The sf0.001 events table re-materialized as a bare single-file
    * `events.parquet` (the driver's layout) in BOTH parquet timestamp
    * flavors: UTC-adjusted micros (Spark TimestampType) and
    * no-timezone micros (TIMESTAMP_NTZ). Real lakes contain both, and
    * the driver's testdata has shipped as each at different times — so
    * every stream-vs-batch parity case below runs against each flavor. */
  lazy val flavorDirs: Map[String, String] = {
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("events_flavors").toFile
    base.deleteOnExit()
    val src = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    Seq(
      "ltz" -> src,
      "ntz" -> src.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampNTZType))
    ).map { case (name, df) =>
      val dir = new java.io.File(base, name); dir.mkdirs()
      val stage = new java.io.File(base, name + "_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
      val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, "events.parquet").toPath)
      name -> dir.getAbsolutePath
    }.toMap
  }

  for (flavor <- Seq("ltz", "ntz"))
  test(s"[$flavor] the streaming read of events has the batch read's schema") {
    val dir = flavorDirs(flavor)
    val streamed = graft.Tables.stream(spark, dir, "events")
    assert(streamed.isStreaming)
    assert(streamed.schema == graft.Tables.load(spark, dir, "events").schema)
  }

  test("the streaming read of documents has the batch read's schema") {
    val dir = "perfbench/data/sf0.01"
    assert(graft.Tables.stream(spark, dir, "documents").schema ==
      graft.Tables.load(spark, dir, "documents").schema)
  }

  for (flavor <- Seq("ltz", "ntz"))
  test(s"[$flavor] streaming windowed counts match the batch equivalent") {
    import org.apache.spark.sql.functions._
    val dir = flavorDirs(flavor)
    val q = EventStreams.runWindowedCountsOnce(spark, dir,
      s"stream_counts_$flavor")
    q.awaitTermination(120000)
    val streamed = spark.table(s"stream_counts_$flavor")
      .select("window_start", "event_type", "n", "sum_value")

    val batch = graft.Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("a drain-once stateful runner checkpoints without Hadoop's local filesystem") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions._
    val dir = flavorDirs("ltz")
    val name = "stream_counts_nio_ckpt"
    val q = EventStreams.runWindowedCountsOnce(spark, dir, name)
    q.awaitTermination(120000)
    val streamed = spark.table(name)
      .select("window_start", "event_type", "n", "sum_value")
    val batch = graft.Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)

    // the query's checkpoint is <process root>/<session>/<query name>
    val files = {
      val all = java.nio.file.Files.walk(StreamConf.processCheckpointRoot)
      try all.iterator().asScala.toSeq finally all.close()
    }
    val ckpt = files.filter(p => p.getFileName.toString == name && p.toFile.isDirectory)
    assert(ckpt.size == 1, s"checkpoint directories named $name: $ckpt")
    val mine = files.filter(_.startsWith(ckpt.head)).map(ckpt.head.relativize(_).toString)
    assert(mine.exists(_.startsWith("commits/")) && mine.exists(_.matches("state/.*\\.delta")),
      mine.sorted.mkString("\n"))
    // RawLocalFileSystem writes a `.<name>.crc` beside every file (and
    // starts a chmod per file without libhadoop); Spark's own 4.1
    // checksum files are `<name>.crc`; a `.tmp` is an unfinished write
    val leftovers = mine.filter { f =>
      val n = f.split('/').last
      (n.startsWith(".") && n.endsWith(".crc")) || n.endsWith(".tmp")
    }
    assert(leftovers.isEmpty, leftovers.mkString("\n"))
  }

  for (flavor <- Seq("ltz", "ntz"))
  test(s"[$flavor] streaming OHLC bars match the batch resample") {
    import org.apache.spark.sql.functions._
    val dir = flavorDirs(flavor)
    val q = EventStreams.runOhlcOnce(spark, dir, s"stream_ohlc_$flavor")
    q.awaitTermination(120000)
    val streamed = spark.table(s"stream_ohlc_$flavor")
      .select("event_type", "bucket", "open", "high", "low", "close", "n")
    val batch = graft.operators.EventAnalytics.resampleOhlc(
      graft.Tables.load(spark, dir, "events"), Seq("event_type"),
      date_trunc("day", col("ts")), "ts", "event_id", "value")
      .select("event_type", "bucket", "open", "high", "low", "close", "n")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("bounded dedup: in-horizon dups dropped, expired keys re-emit") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EventStreams.Event]
    val deduped = EventStreams.dedupWithinWatermark(
        mem.toDF(), "10 minutes", Seq("user_id", "event_type"))
      .select("user_id", "event_type")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("bounded_dedup_test").start()
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    try {
      // batch 1: key (1,a) twice within the 10-minute horizon → one emission
      mem.addData(EventStreams.Event(1, ts(0), 1L, "a", 1.0),
        EventStreams.Event(2, ts(3), 1L, "a", 1.0))
      q.processAllAvailable()
      // batch 2: an unrelated key 60 minutes ahead advances the watermark
      // to 50 min; (1,a)'s state (expiry 0 + 10 min) ages out
      mem.addData(EventStreams.Event(3, ts(60), 2L, "b", 1.0))
      q.processAllAvailable()
      // batch 3: (1,a) again above the watermark, state gone → re-emitted
      mem.addData(EventStreams.Event(4, ts(55), 1L, "a", 1.0))
      q.processAllAvailable()
      val out = spark.table("bounded_dedup_test").as[(Long, String)].collect().toSeq
      assert(out.count(_ == (1L, "a")) == 2,
        s"expected (1,a) re-emitted after state expiry: $out")
      assert(out.count(_ == (2L, "b")) == 1, s"unexpected output: $out")
      // within-horizon parity: the first batch deduplicated exactly
      assert(out.size == 3, s"unexpected output size: $out")
    } finally q.stop()
  }

  for (flavor <- Seq("ltz", "ntz"))
  test(s"[$flavor] bounded dedup over the events file equals batch DISTINCT") {
    val dir = flavorDirs(flavor)
    val q = EventStreams.runStreamingDedupBoundedOnce(spark, dir,
      s"stream_dedup_bounded_spec_$flavor")
    q.awaitTermination(120000)
    val streamed = spark.table(s"stream_dedup_bounded_spec_$flavor")
    val batch = graft.Tables.load(spark, dir, "events")
      .select("user_id", "event_type").distinct()
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streaming ewma carries state across batches and matches the batch fold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.MetricEvent]
    val q = EventStreams.streamingEwma(mem.toDS(), alpha = 0.25)
      .writeStream.outputMode("update")
      .format("memory").queryName("ewma_stream_test").start()
    try {
      // batch 1 arrives out of storage order WITHIN the batch
      mem.addData(
        EventStreams.MetricEvent(1L, 2000L, 2L, 4.0),
        EventStreams.MetricEvent(1L, 1000L, 1L, 8.0),
        EventStreams.MetricEvent(2L, 1000L, 3L, 5.0))
      q.processAllAvailable()
      // batch 2 continues user 1 later in event time — state must carry
      mem.addData(EventStreams.MetricEvent(1L, 3000L, 4L, 12.0))
      q.processAllAvailable()
      val last = spark.table("ewma_stream_test")
        .groupBy("user_id").agg(max(struct(col("n_events"), col("ewma"))).as("w"))
        .select(col("user_id"), col("w.n_events"), col("w.ewma"))
        .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
      // u1: 8 -> 0.25*4+0.75*8 = 7 -> 0.25*12+0.75*7 = 8.25
      assert(last === Seq((1L, 3L, 8.25), (2L, 1L, 5.0)))
    } finally q.stop()
  }

  for (flavor <- Seq("ltz", "ntz"))
  test(s"[$flavor] streaming ewma drain equals the batch operator bitwise") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = flavorDirs(flavor)
    val q = EventStreams.runStreamingEwmaOnce(spark, dir,
      s"ewma_drain_test_$flavor")
    q.awaitTermination(120000)
    val streamed = spark.table(s"ewma_drain_test_$flavor")
      .select("user_id", "n_events", "ewma")
      .as[(Long, Long, Double)].collect().toSet
    val batch = graft.operators.EventAnalytics.ewma(
        graft.Tables.load(spark, dir, "events"),
        "user_id", "ts", "event_id", "value", alpha = 0.25)
      .select(col("user_id"), col("n_events").cast("long"), col("ewma"))
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed === batch && streamed.nonEmpty)
  }

  test("splitSessions closes on gaps and keeps the tail open") {
    val gap = 1000L
    val events = List((0L, 1.0), (500L, 2.0), (5000L, 3.0), (5500L, 4.0), (99999L, 5.0))
    val (closed, open) = EventStreams.splitSessions(events, gap)
    assert(closed == List(List((0L, 1.0), (500L, 2.0)), List((5000L, 3.0), (5500L, 4.0))))
    assert(open == List((99999L, 5.0)))
  }

  test("sessionize emits closed sessions AND open tails (batch-driven)") {
    import spark.implicits._
    val evs = Seq(
      EventStreams.Event(1, new java.sql.Timestamp(0L), 1L, "a", 1.0),
      EventStreams.Event(2, new java.sql.Timestamp(10000L), 1L, "a", 2.0),
      EventStreams.Event(3, new java.sql.Timestamp(10 * 60 * 60 * 1000L), 1L, "a", 4.0),
      EventStreams.Event(4, new java.sql.Timestamp(5000L), 2L, "b", 8.0))
      .toDS()
    val sessions = EventStreams.sessionize(evs, gapMs = 60 * 1000L).collect()
      .sortBy(s => (s.user_id, s.startTs))
    // batch semantics == sessionizeBatch: user 1's first session (2
    // events) closed by the 10h-later event, PLUS the trailing open
    // singletons of both users (timeouts don't exist in batch, so the
    // tails flush directly — same rows the batch kernel emits)
    assert(sessions.length == 3)
    assert(sessions(0).user_id == 1L && sessions(0).nEvents == 2 &&
      sessions(0).totalValue == 3.0)
    assert(sessions(1).user_id == 1L && sessions(1).nEvents == 1)
    assert(sessions(2).user_id == 2L && sessions(2).nEvents == 1)
  }

  test("sessionize (streaming) flushes the open session via event-time timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[EventStreams.Event]
    // 10s watermark delay, 60s gap
    val q = EventStreams.sessionize(input.toDS(), gapMs = 60 * 1000L,
        watermark = "10 seconds")
      .writeStream.format("memory").queryName("sess_timeout_spec")
      .outputMode("append").start()
    try {
      def ev(id: Long, ms: Long, user: Long) =
        EventStreams.Event(id, new java.sql.Timestamp(ms), user, "a", 1.0)
      // batch 1: two events 10s apart (one open session). NOTE the
      // offset from t=0: stateful operators late-filter rows at or
      // below the current watermark, and the INITIAL watermark is 0 —
      // a t=0 event would be dropped before the kernel ever saw it.
      input.addData(ev(1, 100000L, 1L), ev(2, 110000L, 1L))
      q.processAllAvailable()
      // batch 2: an event 10 HOURS later — the session kernel closes the
      // first session immediately (gap exceeded within the key's list),
      // and the watermark jump also passes its timeout
      input.addData(ev(3, 10L * 3600 * 1000, 1L))
      q.processAllAvailable()
      // batch 3: 20 hours (user 2) — ADVANCES the watermark past
      // 10h + gap; the timeout itself fires on the NEXT batch, which is
      // how event-time timeouts work (watermark updates at batch end)
      input.addData(ev(4, 20L * 3600 * 1000, 2L))
      q.processAllAvailable()
      // batch 4: triggers processing under the advanced watermark — the
      // 10h OPEN session of user 1 must flush via the TIMEOUT path
      // (nothing touches user 1 in this batch); user 2's 20h singleton
      // closes by gap within its own list
      input.addData(ev(5, 30L * 3600 * 1000, 2L))
      q.processAllAvailable()
      val got = spark.table("sess_timeout_spec")
        .as[EventStreams.SessionSummary].collect()
        .sortBy(s => (s.user_id, s.startTs))
      // [100s, 110s] closed by gap; 10h singleton closed by TIMEOUT;
      // user 2's 20h singleton closed by gap; 30h still open
      assert(got.length == 3, s"got ${got.toSeq}")
      assert(got(0).user_id == 1L && got(0).nEvents == 2 &&
        got(0).startTs == 100000L && got(0).endTs == 110000L)
      assert(got(1).user_id == 1L && got(1).nEvents == 1 &&
        got(1).startTs == 10L * 3600 * 1000)
      assert(got(2).user_id == 2L && got(2).nEvents == 1 &&
        got(2).startTs == 20L * 3600 * 1000)
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS sess_timeout_spec")
    }
  }

  for (flavor <- Seq("ltz", "ntz"))
  test(s"[$flavor] stream-stream interval join drains the same pairs as the batch join") {
    import org.apache.spark.sql.functions._
    val dir = flavorDirs(flavor)
    val q = EventStreams.runStreamStreamJoinOnce(spark, dir, s"ssj_spec_$flavor")
    StreamConf.awaitDrain(q, timeoutMs = 120000)
    val streamed = spark.table(s"ssj_spec_$flavor")
      .select("user_id", "view_id", "click_id", "gap_us")
    val ev = graft.Tables.load(spark, dir, "events")
    val batch = EventStreams.viewClickPairs(
      ev.filter(col("event_type") === "view"),
      ev.filter(col("event_type") === "click"))
    assert(streamed.count() > 0, "fixture produced no attribution pairs")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream-stream join diverged from the batch join")
  }

  for (flavor <- Seq("ltz", "ntz"))
  test(s"[$flavor] left-outer stream-stream join: pairs plus watermark-expired unmatched views") {
    import org.apache.spark.sql.functions._
    val dir = flavorDirs(flavor)
    val q = EventStreams.runStreamStreamLeftJoinOnce(spark, dir,
      s"oj_$flavor")
    StreamConf.awaitDrain(q, timeoutMs = 180000)
    val streamed = spark.table(s"oj_$flavor")
      .select("user_id", "view_id", "click_id", "gap_us")

    val ev = graft.Tables.normalizeEventTime(
      graft.Tables.load(spark, dir, "events"), "ts")
    def side(t: String) = ev.filter(col("event_type") === t)
    val inner = EventStreams.viewClickPairs(side("view"), side("click"))
    // final watermark = min of the two sides' max event times − 4h;
    // an unmatched view is emitted iff view_ts + 2h < that watermark
    val maxOf = (t: String) => side(t)
      .agg(max(unix_micros(col("ts")))).head.getLong(0)
    val wmUs = math.min(maxOf("view"), maxOf("click")) - 4L * 3600 * 1000000L
    val expiredUnmatched = side("view")
      .select(col("event_id").as("view_id"), col("user_id"),
        unix_micros(col("ts")).as("vts_us"))
      .join(inner.select("view_id"), Seq("view_id"), "left_anti")
      .filter(col("vts_us") + 2L * 3600 * 1000000L < wmUs)
      .select(col("user_id"), col("view_id"),
        lit(null).cast("long").as("click_id"),
        lit(null).cast("long").as("gap_us"))
    val expected = inner
      .select("user_id", "view_id", "click_id", "gap_us")
      .unionByName(expiredUnmatched)
    assert(streamed.count() > 0 &&
      streamed.filter(col("click_id").isNull).count() > 0)
    assert(streamed.exceptAll(expected).isEmpty
      && expected.exceptAll(streamed).isEmpty,
      "left-outer drain diverged from the watermark-semantics replay")
  }

  for (flavor <- Seq("ltz", "ntz"))
  test(s"[$flavor] chained windowed aggregation drains watermark-closed days only") {
    import org.apache.spark.sql.functions._
    val dir = flavorDirs(flavor)
    val q = EventStreams.runChainedAggOnce(spark, dir, s"chained_$flavor")
    StreamConf.awaitDrain(q, timeoutMs = 180000)
    val streamed = spark.table(s"chained_$flavor")
      .select("day_start", "event_type", "max_hourly", "sum_n", "n_hours")
    val ev = graft.Tables.normalizeEventTime(
      graft.Tables.load(spark, dir, "events"), "ts")
    val wmUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0) -
      2L * 3600 * 1000000L
    val expected = ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("window.start"), "1 day"), col("event_type"))
      .agg(max(col("n")).as("max_hourly"), sum(col("n")).as("sum_n"),
        count(lit(1)).as("n_hours"))
      .filter(unix_micros(col("window.end")) < wmUs)
      .select(col("window.start").as("day_start"), col("event_type"),
        col("max_hourly"), col("sum_n"), col("n_hours"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(expected).isEmpty
      && expected.exceptAll(streamed).isEmpty,
      "chained-agg drain diverged from the watermark-filtered batch replay")
  }

  test("foreachBatch sink is exactly-once across a checkpointed re-run") {
    val dir = flavorDirs("ltz")
    val root = java.nio.file.Files.createTempDirectory("fb_once").toFile
    root.deleteOnExit()
    val data = new java.io.File(root, "data").getAbsolutePath
    val chk = new java.io.File(root, "chk").getAbsolutePath
    val q1 = EventStreams.runForeachBatchSinkOnce(spark, dir, data, chk)
    StreamConf.awaitDrain(q1, timeoutMs = 180000)
    val after1 = spark.read.parquet(data).count()
    // same checkpoint, same source: the batch ids are already committed,
    // so the re-run must land NOTHING new
    val q2 = EventStreams.runForeachBatchSinkOnce(spark, dir, data, chk)
    StreamConf.awaitDrain(q2, timeoutMs = 180000)
    val after2 = spark.read.parquet(data).count()
    assert(after1 > 0 && after2 == after1,
      s"checkpointed re-run re-emitted rows: $after1 -> $after2")
  }

  test("interval join bounds: click before view or past the window excluded") {
    import spark.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val views = Seq((1L, ts(100), 7L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val clicks = Seq(
      (10L, ts(99), 7L, "click", 0.0),   // before the view -> excluded
      (11L, ts(100), 7L, "click", 0.0),  // same instant -> included
      (12L, ts(219), 7L, "click", 0.0),  // inside 2h -> included
      (13L, ts(220), 7L, "click", 0.0),  // exactly +2h -> excluded (half-open)
      (14L, ts(150), 8L, "click", 0.0))  // other user -> excluded
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.viewClickPairs(views, clicks)
      .select($"click_id").as[Long].collect().toSet
    assert(got == Set(11L, 12L), s"got $got")
  }

  test("streaming funnel carries reach across batches; out-of-order within a batch sorts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventStreams.FunnelEvent]
    val q = EventStreams.streamingFunnel(mem.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_stream_test").start()
    try {
      // batch 1 arrives out of storage order WITHIN the batch:
      // sorted (signup@1000, click@2000) -> reach 2
      mem.addData(
        EventStreams.FunnelEvent(1L, 2000L, 1),
        EventStreams.FunnelEvent(1L, 1000L, 0),
        // user 2 clicks before signing up: reach stays 0, then 1
        EventStreams.FunnelEvent(2L, 1000L, 1),
        EventStreams.FunnelEvent(2L, 2000L, 0))
      q.processAllAvailable()
      // batch 2 continues user 1 later in event time — state must carry
      mem.addData(EventStreams.FunnelEvent(1L, 3000L, 2))
      q.processAllAvailable()
      val last = spark.table("funnel_stream_test")
        .groupBy("user_id").agg(max(col("reach")).as("reach"))
        .as[(Long, Int)].collect().sortBy(_._1).toSeq
      assert(last === Seq((1L, 3), (2L, 1)))
    } finally q.stop()
  }

  for (flavor <- Seq("ltz", "ntz"))
  test(s"[$flavor] streaming funnel drain equals the batch operator") {
    import org.apache.spark.sql.functions._
    val dir = flavorDirs(flavor)
    val q = EventStreams.runStreamingFunnelOnce(spark, dir,
      s"funnel_drain_$flavor")
    StreamConf.awaitDrain(q, timeoutMs = 120000)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("reach").desc)
    val streamed = spark.table(s"funnel_drain_$flavor")
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select("user_id", "reach").filter(col("reach") > 0)
    // batch operator reduces to step counts; rebuild them from the
    // streamed per-user reach and compare
    val fromStream = Seq(0, 1, 2).map(i =>
      streamed.filter(col("reach") > i).count())
    val batch = graft.operators.EventAnalytics.funnel(
        graft.Tables.load(spark, dir, "events"),
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase"))
      .orderBy("step").select("users")
      .collect().map(_.getLong(0)).toSeq
    assert(fromStream == batch && batch.head > 0,
      s"stream $fromStream vs batch $batch")
  }

  for (flavor <- Seq("ltz", "ntz"))
  test(s"[$flavor] native session_window drain equals the custom sessionize kernel") {
    import org.apache.spark.sql.functions._
    val dir = flavorDirs(flavor)
    val q = EventStreams.runSessionWindowOnce(spark, dir,
      s"sesswin_$flavor")
    StreamConf.awaitDrain(q, timeoutMs = 120000)
    val streamed = spark.table(s"sesswin_$flavor")
      .select("user_id", "start_us", "end_us", "n")
    import spark.implicits._
    val batch = EventStreams.sessionizeBatch(
        graft.Tables.load(spark, dir, "events")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .as[EventStreams.Event]).toDF()
      .select("user_id", "start_us", "end_us", "n")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "native session_window diverged from the splitSessions kernel")
  }

  test("session_window boundary: gap-apart merges, gap+1µs-apart splits (native == kernel == hand oracle)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val gapUs = 60L * 1000000L // 1 minute, µs
    val t0 = 1700000000000000L // µs since epoch
    def tsUs(us: Long) = { val t = new java.sql.Timestamp(us / 1000000L * 1000L); t.setNanos(((us % 1000000L) * 1000L).toInt); t }
    // user 1: second event EXACTLY gapUs later (must merge), third event
    // gapUs+1 after the second (must split). user 2: lone event.
    val events = Seq(
      EventStreams.Event(1L, tsUs(t0), 1L, "click", 1.0),
      EventStreams.Event(2L, tsUs(t0 + gapUs), 1L, "click", 1.0),
      EventStreams.Event(3L, tsUs(t0 + gapUs + gapUs + 1), 1L, "click", 1.0),
      EventStreams.Event(4L, tsUs(t0), 2L, "view", 1.0))
    val base = java.nio.file.Files.createTempDirectory("sesswin_boundary").toFile
    base.deleteOnExit()
    val stage = new java.io.File(base, "stage")
    events.toDS().toDF().coalesce(1)
      .write.mode("overwrite").parquet(stage.getAbsolutePath)
    val dir = new java.io.File(base, "data"); dir.mkdirs()
    val part = stage.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, "events.parquet").toPath)

    val q = EventStreams.runSessionWindowOnce(spark, dir.getAbsolutePath,
      "sesswin_boundary", gapUs = gapUs)
    StreamConf.awaitDrain(q, timeoutMs = 120000)
    val got = spark.table("sesswin_boundary")
      .select("user_id", "start_us", "end_us", "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    val expected = Set(
      (1L, t0, t0 + gapUs, 2L),                          // boundary pair merged
      (1L, t0 + 2 * gapUs + 1, t0 + 2 * gapUs + 1, 1L),  // gap+1 split off
      (2L, t0, t0, 1L))
    assert(got == expected, s"native session_window boundary mismatch: $got")
    // and the batch kernel computes the same sessions on the same fixture
    val batch = EventStreams.sessionizeBatch(events.toDS(), gapUs)
      .select("user_id", "start_us", "end_us", "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch == expected, s"splitSessions kernel boundary mismatch: $batch")
  }

  test("stateful runner is backend-portable: RocksDB state store, identical answer") {
    import scala.jdk.CollectionConverters._
    spark.conf.set(StreamConf.StateStoreKey, "rocksdb")
    try {
      val dir = flavorDirs("ltz")
      val q = EventStreams.runStreamingDedupBoundedOnce(spark, dir,
        "rocksdb_dedup_spec")
      StreamConf.awaitDrain(q, timeoutMs = 120000)
      // prove RocksDB actually carried the state: its progress reports
      // rocksdb-specific custom metrics the heap store never emits
      val metrics = q.recentProgress.flatMap(_.stateOperators)
        .flatMap(_.customMetrics.keySet.asScala)
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"state store was not RocksDB; metrics: ${metrics.mkString(",")}")
      val streamed = spark.table("rocksdb_dedup_spec")
      val batch = graft.Tables.load(spark, dir, "events")
        .select("user_id", "event_type").distinct()
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally spark.conf.unset(StreamConf.StateStoreKey)
  }

  test("concurrent stream starts from different threads are isolated") {
    // the guarantee the per-runner newSession() isolation buys: two
    // threads starting pinned-shuffle streams simultaneously cannot
    // clobber each other's conf (the pre-refactor save/set/restore on
    // the SHARED session could interleave), and each drained table
    // still equals its batch answer
    import org.apache.spark.sql.functions._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = flavorDirs("ltz")
    val shuffleBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val f1 = Future(
      EventStreams.runStreamingDedupOnce(spark, dir, "conc_dedup"))
    val f2 = Future(
      EventStreams.runWindowedCountsOnce(spark, dir, "conc_counts"))
    Await.result(f1, 180.seconds)
    Await.result(f2, 180.seconds)
    val dedup = spark.table("conc_dedup")
    val batchDedup = graft.Tables.load(spark, dir, "events")
      .select("user_id", "event_type").distinct()
    assert(dedup.count() > 0)
    assert(dedup.exceptAll(batchDedup).isEmpty &&
      batchDedup.exceptAll(dedup).isEmpty)
    val counts = spark.table("conc_counts")
      .select("window_start", "event_type", "n", "sum_value")
    val batchCounts = graft.Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    assert(counts.count() > 0)
    assert(counts.exceptAll(batchCounts).isEmpty &&
      batchCounts.exceptAll(counts).isEmpty)
    // and the shared session's own shuffle setting was never touched
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shuffleBefore)
  }

  test("gate drain helper fails loudly on a stream that does not terminate") {
    // a rate source on a ProcessingTime trigger never drains; the drain
    // check every runner ends with must throw (and stop the query)
    // instead of letting a caller read a stale sink table
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").load()
      .writeStream.format("memory").queryName("hung_fixture")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
      .start()
    try {
      val e = intercept[IllegalStateException] {
        StreamConf.awaitDrain(q, timeoutMs = 2000)
      }
      assert(e.getMessage.contains("did not drain"), e.getMessage)
      assert(!q.isActive, "helper must stop the hung query")
    } finally if (q.isActive) q.stop()
  }
}
