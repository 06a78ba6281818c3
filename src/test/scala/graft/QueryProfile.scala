package graft

/** Scratch per-query profiler (not a test): runs named SparkEntry gate
  * queries in a Bench-shaped session (same master/shuffle/AQE config,
  * same warm-up, clearCache between runs) and prints per-run wall times.
  *
  * Run: sbt "Test/runMain graft.QueryProfile q_dedup_minhash_lsh [more...]"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  *      SPARK_GRAFT_RUNS (default 3), SPARK_GRAFT_EXPLAIN=1 to dump plans,
  *      SPARK_GRAFT_RELIABLE=1 to run every query with
  *      spark.graft.iterative.checkpoint=reliable (durable cuts under a
  *      temp dir) — the reliable-vs-local overhead A/B for the loops.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val explain = sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")
    val spark = GateRunner.session(
      GateRunner.cpusOf(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
    if (sys.env.get("SPARK_GRAFT_RELIABLE").contains("1")) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-profile-ckpt").toString
      spark.conf.set(graft.operators.LoopCheckpoint.ModeKey, "reliable")
      spark.conf.set(graft.operators.LoopCheckpoint.DirKey, dir)
      println(s"[profile] reliable checkpoint mode ON (dir=$dir)")
    }
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    val stageTrace = sys.env.get("SPARK_GRAFT_STAGES").contains("1")
    if (stageTrace) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val si = sc.stageInfo
          val dt = (for {a <- si.completionTime; b <- si.submissionTime}
            yield (a - b) / 1e3).getOrElse(-1.0)
          val m = si.taskMetrics
          println(f"[stage] ${si.stageId}%4d $dt%6.2f s tasks=${si.numTasks}%3d " +
            f"exec=${m.executorRunTime / 1e3}%7.2f cpu=${m.executorCpuTime / 1e9}%7.2f " +
            f"gc=${m.jvmGCTime / 1e3}%5.2f deser=${m.executorDeserializeTime / 1e3}%5.2f " +
            f"fetch=${m.shuffleReadMetrics.fetchWaitTime / 1e3}%5.2f " +
            f"swrite=${m.shuffleWriteMetrics.writeTime / 1e9}%5.2f  ${si.name.take(60)}")
        }
      })
    val jobTrace = sys.env.get("SPARK_GRAFT_JOBS").contains("1")
    val jobTimes = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    if (jobTrace) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          // Spark 4.1 puts no call site in the job properties; the final
          // stage carries it ("count at Foo.scala:12")
          jobTimes.put(js.jobId, (System.nanoTime(),
            js.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("?")))
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = jobTimes.remove(je.jobId)
          if (st != null) println(f"[job] ${je.jobId}%4d ${(System.nanoTime() - st._1) / 1e9}%6.2f s  ${st._2}")
        }
      })
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names; fn = SparkEntry.queries(name)) {
      if (explain) fn(spark, sfDir).explain("formatted")
      for (i <- 1 to runs) {
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $name%-28s run$i $dt%7.2f s  rows=$n")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
