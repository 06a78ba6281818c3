package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery,
  StreamingQueryException, Trigger}

/** The one drain-once path of the streaming runners ([[drainOnce]]) and
  * the session isolation, shuffle-partition pinning and checkpoint
  * placement behind it (the stateless runners use it too: their offset
  * and commit logs are checkpoint files all the same).
  *
  * What a commit costs. Every micro-batch commits as small atomic file
  * writes: an offset-log and a commit-log entry on the driver, and on the
  * executors one delta file per state store (one store per shuffle
  * partition and stateful operator), plus, since Spark 4.1, a checksum
  * file beside each. So the fixed cost of a batch grows with the number
  * of STORES, not rows, and the cost of one file write is what every
  * batch multiplies:
  *  - Stores: the batch session's 32 shuffle partitions are right for
  *    batch shuffles, but a drain-once stream over one input file carries
  *    tiny per-partition state, so the isolated session pins
  *    [[ShufflePartitions]] = 8 for every runner (q_stream_join:
  *    14.2 → 2.8 s when this was introduced). The parent session's own
  *    setting is never changed. At real scale state VOLUME grows and
  *    more partitions become right: a larger constant, since no runner
  *    needs a count of its own.
  *  - Files: Spark's default manager writes through Hadoop's local
  *    filesystem, which, without libhadoop, starts a `chmod` process per
  *    created file and, through FileContext, a `readlink` process per
  *    rename: 1,453 processes in one q_stream_join run. The isolated
  *    session installs [[LocalCheckpointFileManager]], which writes
  *    `file:` checkpoints through java.nio (temp file, then an atomic
  *    move) and starts none (q_stream_join in perfbench's gates workload
  *    on a 4-core box: 2.2-2.4 → 0.9-1.1 s).
  *  - Disk: the throwaway checkpoints go to tmpfs when there is one, so
  *    no batch waits on a disk flush.
  *
  * Isolation model: each runner builds its sources AND starts its
  * query on a private `newSession()` that starts from DEFAULT runtime
  * conf (`cloneSession()` is `private[sql]`), inheriting only an
  * explicit ALLOWLIST of parent settings ([[InheritedConf]]: session
  * timezone, ANSI mode, the state-store opt-in), then the pins applied
  * on top. The pinned conf lives only in the private session and the
  * shared session conf is NEVER mutated — concurrent batch queries and
  * concurrent stream starts cannot observe or clobber each other's
  * settings, and a thread that TRANSIENTLY mutates shared-session conf
  * cannot leak a setting outside the allowlist into a stream starting
  * in that window (a full `getAll` snapshot could).
  * Because memory-sink tables are registered in the session that
  * starts the stream (the clone), [[drainOnce]] drains the query and
  * re-registers the result under the same name in the parent session;
  * a drained memory-sink table is driver-resident by construction, so
  * the copy moves no data an executor ever held.
  */
object StreamConf {

  /** Opt-in state-store backend selector, read by every stateful
    * drain-once runner: set to `"rocksdb"` to run the query's state in
    * RocksDB (`RocksDBStateStoreProvider`) instead of the default
    * executor-heap HDFS-backed store. Heap state must FIT in executor
    * memory — the 100 TB posture for large keyed state (exact global
    * dedup, wide CDC snapshots, big session maps) is RocksDB: state
    * lives off-heap/on-disk with incremental checkpointing, so state
    * size is bounded by local disk, not heap. The gate queries run
    * identically under either backend (asserted by spec); the default
    * stays heap because at drain-once fixture scale RocksDB's
    * per-store open/compaction overhead only costs time. */
  val StateStoreKey = "spark.graft.streaming.stateStore"

  /** Shuffle partitions, and so state stores per stateful operator, of
    * every isolated session. */
  val ShufflePartitions = 8

  /** How long a drain may take before it is stopped and reported. */
  val DrainTimeoutMs = 300000L

  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Parent runtime conf the isolated session intentionally inherits:
    * result-shaping SEMANTICS a caller legitimately sets session-wide
    * and expects inside the stream too (timezone, ANSI, case
    * sensitivity, legacy datetime parsing/rebase policies, the
    * state-store opt-in). Everything else starts from defaults — in
    * particular transient mutations of shared-session conf by
    * concurrent threads cannot leak in. Extend here, never with a
    * getAll snapshot. */
  val InheritedConf: Seq[String] = Seq(
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.parquet.datetimeRebaseModeInRead",
    "spark.sql.parquet.datetimeRebaseModeInWrite",
    "spark.sql.parquet.int96RebaseModeInRead",
    "spark.sql.parquet.int96RebaseModeInWrite",
    StateStoreKey)

  /** Ephemeral checkpoint root for the drain-once runners. Micro-batch
    * offset/commit logs and state-store delta files are written and
    * fsync'd per batch per store; for a drain-once gate they are
    * throwaway by contract, yet on a disk-backed temp dir those fsyncs
    * dominate the stateful gates' wall time (stage traces: exec >> cpu,
    * tasks blocked in commit). Place them on tmpfs when the platform
    * has one. Durability posture is unchanged where it matters: a
    * production stream passes its own durable `checkpointLocation`
    * (the runners that take a checkpointDir parameter still honor it,
    * and an explicit caller conf would override this session default). */
  // ONE process-wide ephemeral root with ONE shutdown hook; each
  // isolated() call gets a private subdirectory under it. A long-lived
  // process running many drain-once gates previously registered a new
  // JVM shutdown hook (and kept a live tmpfs dir) per call — unbounded
  // hook accumulation for no isolation benefit, since the per-call
  // subdirectory is already private.
  private[streaming] lazy val processCheckpointRoot: java.nio.file.Path = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = java.nio.file.Files.createTempDirectory(base, "graft-stream-ckpt")
    // throwaway by contract — reclaim the tmpfs on JVM exit
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case scala.util.control.NonFatal(_) => () }))
    dir
  }

  private[streaming] def ephemeralCheckpointRoot(): String =
    java.nio.file.Files
      .createTempDirectory(processCheckpointRoot, "session").toString

  /** An isolated session with the stream's conf pinned. `newSession()`
    * shares the SparkContext and builder-level conf but starts from
    * DEFAULT runtime conf; only [[InheritedConf]] (timezone, ANSI
    * mode, state-store opt-in) is copied from the parent — an
    * allowlist, NOT a `getAll` snapshot, so nothing a concurrent
    * thread transiently set on the shared session can ride along.
    * Then [[ShufflePartitions]] and the state-store provider are applied
    * on the new session only, and, unless the deployment names its own,
    * the checkpoint file manager is [[LocalCheckpointFileManager]].
    * `stateStore` is the explicit backend choice
    * (`Some("rocksdb")` → RocksDB); when absent, the parent's
    * `StateStoreKey` conf opt-in still applies (the library-level
    * switch). Source-reading conf (nanos-as-long for `events`) is set
    * by `graft.Tables.stream` on the session it reads with. */
  def isolated(parent: SparkSession,
      stateStore: Option[String] = None): SparkSession = {
    val s = parent.newSession()
    InheritedConf.foreach { k =>
      parent.conf.getOption(k).foreach { v =>
        if (s.conf.getOption(k) != Some(v)) s.conf.set(k, v)
      }
    }
    s.conf.set("spark.sql.shuffle.partitions", ShufflePartitions.toString)
    // drain-once checkpoints are ephemeral: default them to tmpfs (per
    // isolated session; each query checkpoints under <root>/<queryName>)
    if (s.conf.getOption("spark.sql.streaming.checkpointLocation").isEmpty)
      s.conf.set("spark.sql.streaming.checkpointLocation",
        ephemeralCheckpointRoot())
    if (s.conf.getOption(LocalCheckpointFileManager.ConfKey).isEmpty)
      s.conf.set(LocalCheckpointFileManager.ConfKey,
        classOf[LocalCheckpointFileManager].getName)
    val backend =
      stateStore.orElse(parent.conf.getOption(StateStoreKey))
    if (backend.contains("rocksdb"))
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        RocksDbProvider)
    s
  }

  /** Drain one query into the memory table `queryName` of `parent`.
    * `build` makes the query's frame on a fresh [[isolated]] session
    * (`stateStore` as there); its rows land in a memory sink under
    * `mode` with an AvailableNow trigger. The drain is awaited and FAILS
    * LOUDLY if the query died or hung ([[awaitDrain]]); however it ends,
    * the state stores the query loaded are unloaded here
    * ([[org.apache.spark.sql.GraftStateStoreBridge]]) rather than left to
    * Spark's maintenance task a minute later: each kept its checkpoint
    * file manager and thread pool (128 threads per q_stream_join run) and
    * the heap behind them. Then the sink table is re-registered as a
    * temp view of `parent`, so gates read it from the session they hold.
    * `checkpointDir` pins the query's checkpoint for a caller that reads
    * it back; by default it goes under the session's ephemeral root.
    * Returns the terminated query. */
  def drainOnce(parent: SparkSession, queryName: String, mode: OutputMode,
      stateStore: Option[String] = None,
      checkpointDir: Option[String] = None)(
      build: SparkSession => DataFrame): StreamingQuery = {
    val child = isolated(parent, stateStore)
    val writer = build(child).writeStream.outputMode(mode)
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
    val q = checkpointDir.fold(writer)(d =>
      writer.option("checkpointLocation", d)).start()
    try awaitDrain(q)
    finally org.apache.spark.sql.GraftStateStoreBridge.unloadStores(q)
    // re-bind the sink's (driver-resident) plan to the parent session
    // instead of collectAsList + createDataFrame: same rows, same
    // driver residency, but no O(rows) Row copy + re-encode on the
    // gate's clock (q_stream_merge drains 142k rows at sf0.1)
    org.apache.spark.sql.GraftExpressionBridge
      .ofLogical(parent, child.table(queryName).queryExecution.analyzed)
      .createOrReplaceTempView(queryName)
    q
  }

  /** Await an AvailableNow drain of `q`; throw if it failed, or stop it
    * and throw if it did not finish within `timeoutMs`. */
  def awaitDrain(q: StreamingQuery, timeoutMs: Long = DrainTimeoutMs): Unit = {
    // awaitTermination rethrows a failed query's exception; the failure
    // is reported below with the query's name
    val done = try q.awaitTermination(timeoutMs)
      catch { case _: StreamingQueryException => true }
    q.exception.foreach { e =>
      throw new IllegalStateException(
        s"streaming query '${q.name}' failed: ${e.message}", e)
    }
    if (!done) {
      q.stop()
      throw new IllegalStateException(
        s"streaming query '${q.name}' did not drain within ${timeoutMs} ms; " +
          "refusing to read its sink table")
    }
  }
}
