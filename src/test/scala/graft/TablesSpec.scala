package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The timestamp-flavor normalization contract (tables.scala): a lake
  * accumulates parquet event-time columns as nanos-long, TIMESTAMP_NTZ
  * and UTC-adjusted micros — every flavor must normalize to the SAME
  * TimestampType instants under the session-UTC convention. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // one instant, three representations
  private val micros = 1723500000123456L // 2024-08-12T21:20:00.123456Z

  test("normalizeEventTime: UTC-micros timestamps pass through untouched") {
    import spark.implicits._
    val df = Seq(micros).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
    val out = Tables.normalizeEventTime(df, "ts")
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(unix_micros(col("ts"))).as[Long].head() == micros)
  }

  test("normalizeEventTime: TIMESTAMP_NTZ casts losslessly under session UTC") {
    import spark.implicits._
    val df = Seq(micros).toDF("us")
      .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
    assert(df.schema("ts").dataType == TimestampNTZType)
    val out = Tables.normalizeEventTime(df, "ts")
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(unix_micros(col("ts"))).as[Long].head() == micros)
  }

  test("normalizeEventTime: legacy nanos-long truncates to the same micros") {
    import spark.implicits._
    // nanos with sub-micro residue — truncation (not rounding) is the
    // DuckDB-parity behavior
    val df = Seq(micros * 1000L + 789L).toDF("ts")
    val out = Tables.normalizeEventTime(df, "ts")
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(unix_micros(col("ts"))).as[Long].head() == micros)
  }

  test("normalizeNtz converts every NTZ column and leaves the rest alone") {
    import spark.implicits._
    val df = Seq((1L, micros)).toDF("id", "us")
      .select(col("id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("a"),
        timestamp_micros(col("us")).as("b"))
    val out = Tables.normalizeNtz(df)
    assert(out.schema("a").dataType == TimestampType)
    assert(out.schema("b").dataType == TimestampType)
    assert(out.schema("id").dataType == LongType)
    assert(out.select(unix_micros(col("a"))).as[Long].head() == micros)
  }

  test("load normalizes the events table to TimestampType at every SF") {
    for (sf <- Seq("0.001", "0.01")) {
      val ev = Tables.load(spark, s"/root/testdata/sf$sf", "events")
      assert(ev.schema("ts").dataType == TimestampType,
        s"sf$sf ts is ${ev.schema("ts").dataType}")
    }
    // the date-carrying relational tables normalize too (they shipped
    // as NTZ in some testdata generations)
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    assert(li.schema("l_shipdate").dataType == TimestampType)
  }

  test("invalidate: the next load re-lists a regenerated table directory") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    def write(n: Int, files: Int): Unit = (1 to n).toDF("r_regionkey")
      .repartition(files).write.mode("overwrite").parquet(s"$dir/region.parquet")
    write(3, 1)
    assert(Tables.load(spark, dir, "region").count() == 3)
    // regenerated in place: new row count, new part files
    write(5, 2)
    Tables.invalidate(spark, dir, "region")
    assert(Tables.load(spark, dir, "region").count() == 5)
  }

  test("invalidate racing a load: a plan listed before the invalidate is not cached") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-race").toString
    def write(n: Int, files: Int): Unit = (1 to n).toDF("r_regionkey")
      .repartition(files).write.mode("overwrite").parquet(s"$dir/region.parquet")
    write(3, 1)
    // thread A lists the 3-row table; before it caches the plan, thread B
    // regenerates the table and invalidates
    Tables.afterListing = (d, _) => if (d == dir) {
      val b = new Thread(() => { write(5, 2); Tables.invalidate(spark, dir, "region") })
      b.start()
      b.join()
    }
    val a = new Thread(() => { Tables.load(spark, dir, "region"); () })
    try {
      a.start()
      a.join()
    } finally Tables.afterListing = (_, _) => ()
    assert(Tables.load(spark, dir, "region").count() == 5)
  }
}
