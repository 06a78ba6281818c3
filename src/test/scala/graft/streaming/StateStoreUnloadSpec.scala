package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftStateStoreBridge, StateStoreTestAccess}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Drain-once stateful runners unload the state stores their query
  * loaded when it ends, and only those: another query's stores stay. */
class StateStoreUnloadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  /** The benchmark's read-only copy of the sf0.01 tables. */
  private val dir = "perfbench/data/sf0.01"

  /** Threads of the checksum file managers that loaded stores keep. */
  private def checksumThreads(): Int =
    Thread.getAllStackTraces.keySet.asScala
      .count(t => t.isAlive && t.getName.startsWith("ChecksumCheckpointFileManager"))

  /** `checksumThreads()` once it is at most `n`, or after 10 s. */
  private def settledThreads(n: Int): Int = {
    val deadline = System.nanoTime() + 10000000000L
    while (checksumThreads() > n && System.nanoTime() < deadline) Thread.sleep(50)
    checksumThreads()
  }

  test("three stream-join runs leave none of their stores or threads") {
    val before = checksumThreads()
    (1 to 3).foreach { i =>
      val q = EventStreams.runStreamStreamJoinOnce(spark, dir, s"unload_join_$i")
      assert(spark.table(s"unload_join_$i").count() > 0)
      assert(StateStoreTestAccess.loadedStores(q) == 0)
    }
    // threads other suites' still-running or unmaintained queries hold
    // may remain; these runs must add none
    assert(settledThreads(before) <= before)
  }

  test("a runner unloads only its own query's stores") {
    val other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "2")
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = other.read.parquet(s"$dir/events.parquet").schema
    val running = other.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("unload_other").trigger(Trigger.ProcessingTime(60000L))
      .start()
    try {
      running.processAllAvailable()
      val loaded = StateStoreTestAccess.loadedStores(running)
      assert(loaded > 0)
      val q = EventStreams.runStreamStreamJoinOnce(spark, dir, "unload_own")
      assert(StateStoreTestAccess.loadedStores(q) == 0)
      assert(StateStoreTestAccess.loadedStores(running) == loaded)
    } finally {
      running.stop()
      GraftStateStoreBridge.unloadStores(running)
    }
  }
}
