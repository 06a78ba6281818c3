package graft.streaming

import org.apache.spark.sql.StateStoreTestAccess
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery,
  StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The drain-once path every streaming runner takes
  * (`StreamConf.drainOnce` over `Tables.stream`): how it fails, and the
  * jobs the one streaming gate the benchmark times runs through it. */
class DrainOnceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  /** The benchmark's read-only copy of the sf0.01 tables. */
  private val dir = "perfbench/data/sf0.01"

  test("a drain whose transform throws fails loudly and unloads its stores") {
    val boom = udf((n: Long) =>
      if (n > 0) throw new IllegalArgumentException("boom") else n)
    @volatile var query: StreamingQuery = null
    val e = intercept[IllegalStateException] {
      StreamConf.drainOnce(spark, "failing_drain", OutputMode.Complete) { s =>
        // the runner returns no query when it throws: catch it at start
        s.streams.addListener(new StreamingQueryListener {
          override def onQueryStarted(
              e: StreamingQueryListener.QueryStartedEvent): Unit =
            query = s.streams.get(e.id)
          override def onQueryProgress(
              e: StreamingQueryListener.QueryProgressEvent): Unit = ()
          override def onQueryTerminated(
              e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        })
        // the UDF runs on the stateful aggregation's output, so the
        // query's stores are open when the batch fails
        graft.Tables.stream(s, dir, "events")
          .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
          .select(col("event_type"), boom(col("n")).as("n"))
      }
    }
    assert(e.getMessage.contains("'failing_drain' failed"), e.getMessage)
    assert(query != null, "the query never started")
    assert(!query.isActive)
    assert(StateStoreTestAccess.knownStores(query) > 0)
    assert(StateStoreTestAccess.loadedStores(query) == 0)
  }

  test("q_stream_join runs 5 jobs: a schema read, two batches, two for the count") {
    val gate = graft.SparkEntry.queries("q_stream_join")
    val (rows, shape) = TestSpark.jobShape(gate(spark, dir).count())
    assert(rows > 0)
    assert(shape.jobs == 5, shape.finalStages.mkString("\n"))
    assert(shape.finalStages.count(_.startsWith("parquet at")) == 1,
      shape.finalStages.mkString("\n"))
  }
}
