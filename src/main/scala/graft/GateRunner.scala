package graft

import org.apache.spark.sql.SparkSession

/** The gate harness shared by [[Bench]] and [[Verify]]: one session shape
  * and one way to return that session to a clean state between gates. */
object GateRunner {

  /** SPARK_GRAFT_CPUS as a positive integer, checked before it reaches
    * local[...] or the JSON record ("*" would start a session and then
    * write invalid JSON). */
  def cpusOf(raw: String): Int =
    raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'"))

  /** The gate session: local[cpus], one shuffle partition per core, AQE,
    * UTC session time, no UI, WARN logging, and the engine's SQL extension
    * ([[GraftExtensions]]: `lev_sim`, `strip_accents`, `arg_max_struct` and
    * the rest resolve in SQL text, as in the test session; its
    * BandedRangeJoinRule stays inert until its conf key is set). */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.maxPlanStringLength", "16384")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // the default 100-entry whole-stage-codegen class cache (a STATIC
      // conf) thrashes under a 131-query suite: by the time the late
      // heavy queries run, their JIT-warmed generated classes have been
      // LRU-evicted and they re-pay compile+JIT on the clock (observed:
      // q_semantic_dedup 3.5 s with a short query list, 16 s in the full
      // suite at 0% steal). One compiled class is a few hundred KB of
      // metaspace — thousands are affordable on any driver
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Undo what a gate may leave in the session, so no later gate's plan
    * or timing depends on execution order: cached tables, raw RDD blocks
    * (the loops' localCheckpoint cuts, which `clearCache` does not touch;
    * left pinned across 261 gates they cost +2.9 s on q_image_ahash alone
    * after one big checkpointing build — released with a heap compaction
    * when there were any), and session-wide optimizer state such as
    * q_join_range_rule's BandedRangeJoinRule and its band conf. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val pinned = spark.sparkContext.getPersistentRDDs.values
    if (pinned.nonEmpty) {
      pinned.foreach(_.unpersist(true))
      System.gc()
    }
    spark.experimental.extraOptimizations = Nil
    spark.conf.unset(graft.plans.BandedRangeJoinRule.ConfKey)
  }
}
