package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Reliable-checkpoint mode (`spark.graft.iterative.checkpoint =
  * reliable`) must produce byte-identical results to the default
  * local-checkpoint mode on the iterative loop operators — the output
  * is a pure function of the input; only the fault-tolerance posture
  * of the intermediate generations changes. */
class LoopCheckpointSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withReliable[A](body: => A): A =
    withReliableDir((_: String) => body)

  /** Runs `body` in reliable mode and then asserts durable checkpoint
    * files were actually written — reliable mode silently falling back
    * to local would still produce correct output, so correctness alone
    * can't detect it. */
  private def withReliableDir[A](body: String => A): A = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    spark.conf.set(LoopCheckpoint.ModeKey, "reliable")
    spark.conf.set(LoopCheckpoint.DirKey, dir)
    spark.conf.set(LoopCheckpoint.EveryKey, "3")
    try {
      val out = body(dir)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val rddDirs =
        try walk.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
        finally walk.close()
      assert(rddDirs > 0,
        s"reliable mode wrote no checkpoint under $dir — silent local fallback?")
      out
    } finally {
      spark.conf.unset(LoopCheckpoint.ModeKey)
      spark.conf.unset(LoopCheckpoint.DirKey)
      spark.conf.unset(LoopCheckpoint.EveryKey)
    }
  }

  // two rings + a chain: enough peel/propagation rounds that the loops
  // cross several reliable-checkpoint cadence boundaries (every=3)
  private lazy val edges = {
    val ring1 = (0 until 12).map(i => (i.toLong, ((i + 1) % 12).toLong))
    val ring2 = (20 until 28).map(i => (i.toLong, (if (i == 27) 20 else i + 1).toLong))
    val chain = (40 until 52).map(i => (i.toLong, (i + 1).toLong))
    (ring1 ++ ring2 ++ chain).map { case (a, b) =>
      (math.min(a, b), math.max(a, b))
    }.toDF("a", "b")
  }

  test("single-action CC: deep path converges exactly; Int ids alike") {
    // a 33-node path needs several doubled propagation generations —
    // the accumulator-probed single-action rounds (r12) must stop on
    // the exact fixpoint, not early, and label everything with node 0
    val path = (0L until 32L).map(i => (i, i + 1)).toDF("a", "b")
    val got = ConnectedComponents.components(path)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 33 && got.values.forall(_ == 0L))
    // INT-typed ids take the same single-action generations (the changed
    // flag is a boolean column, whatever the id type) — result must be
    // identical modulo type
    val gotInt = ConnectedComponents
      .components((0 until 32).map(i => (i, i + 1)).toDF("a", "b"))
      .as[(Int, Int)].collect().toMap
    assert(gotInt.size == 33 && gotInt.values.forall(_ == 0))
  }

  test("connected components: reliable == local") {
    val base = ConnectedComponents.components(edges)
      .as[(Long, Long)].collect().toSet
    val rel = withReliable {
      ConnectedComponents.components(edges)
        .as[(Long, Long)].collect().toSet
    }
    assert(rel == base && base.nonEmpty)
  }

  test("k-core peeling: reliable == local") {
    val base = KCore.kCore(edges, k = 2)
      .as[(Long, Long)].collect().toSet
    val rel = withReliable {
      KCore.kCore(edges, k = 2).as[(Long, Long)].collect().toSet
    }
    // the chain peels away over several rounds; the rings survive
    assert(rel == base && base.map(_._1) ==
      ((0 until 12) ++ (20 until 28)).map(_.toLong).toSet)
  }

  test("hop distances: reliable == local") {
    val dedges = edges.select($"a".as("src"), $"b".as("dst"))
    val seeds = Seq(0L, 20L, 40L).toDF("node")
    val base = ShortestPaths.hopDistances(dedges, seeds, maxHops = 8)
      .as[(Long, Int)].collect().toSet
    val rel = withReliable {
      ShortestPaths.hopDistances(dedges, seeds, maxHops = 8)
        .as[(Long, Int)].collect().toSet
    }
    // the chain is directed 40 -> 52, so 8 hops stop short of its end
    assert(rel == base && base.contains((48L, 8)) && !base.exists(_._1 == 49L))
  }

  test("pagerank: reliable == local (bit-exact)") {
    val dedges = edges.select($"a".as("src"), $"b".as("dst"))
    val base = PageRank.run(dedges, iterations = 7)
      .as[(Long, Double)].collect().toMap
    val rel = withReliable {
      PageRank.run(dedges, iterations = 7)
        .as[(Long, Double)].collect().toMap
    }
    assert(rel == base && base.nonEmpty)
  }

  test("MCMC sampler chain: reliable checkpoint == local (bit-exact)") {
    import graft.er._
    import graft.er.model._
    val rows = Seq(
      ("r1", "ANNA", "1960"), ("r2", "ANNA", "1960"), ("r3", "ANNE", "1960"),
      ("r4", "BOB", "1971"), ("r5", "BOB", "1971"), ("r6", "CARL", "1980"),
      ("r7", "DORA", "1955"), ("r8", "DORA", "1955"), ("r9", "ERWIN", "1944"))
      .toDF("rid", "name", "by")
    val specs = Seq(
      AttributeSpec("name",
        graft.core.LevenshteinSimilarity(7.0, 10.0), BetaParams(0.5, 50.0)),
      AttributeSpec("by", graft.core.ConstantSimilarity, BetaParams(0.5, 50.0)))
    def chain(): Seq[(Long, Double)] = {
      val init = ERState.initialize(spark, rows, "rid", None, specs,
        _ => SinglePartition, seed = 7L)
      // checkpointEvery=2 forces several ERState.checkpointed() cuts
      val res = Sampler.run(init, numSweeps = 8, burnIn = 2, thin = 2,
        checkpointEvery = 2)
      res.diagnostics.map(d => (d.iteration, d.logLikelihood))
    }
    val base = chain()
    val rel = withReliable { chain() }
    assert(rel == base && base.size == 3)
  }

  test("reliable cuts are pruned to the last two; release(deleteDurable) empties") {
    withReliableDir { dir =>
      def rddDirs(): Long = {
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try w.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
        finally w.close()
      }
      val cp = LoopCheckpoint.forLoop(spark)
      val base = (1L to 50L).toDF("v")
      val pinned = cp.pin(base)
      // every=3 (withReliableDir): generations 1,4,7,10 are durable cuts
      var gen = pinned
      (1 to 10).foreach { _ => gen = cp(gen.withColumn("v", $"v" + 1)) }
      assert(gen.agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0)
        == (11L to 60L).sum)
      // pinned (1) + last two kept cuts (2) = 3 durable dirs max
      assert(rddDirs() == 3, s"expected pin + 2 kept cuts, got ${rddDirs()}")
      cp.release(deleteDurable = true)
      assert(rddDirs() == 0, "release(deleteDurable) must empty the dir")
      // keep the reliable-files assertion of withReliableDir satisfied:
      // write one fresh cut after the wipe
      LoopCheckpoint.forLoop(spark).pin(base)
      ()
    }
  }

  test("reliable-mode graph loop under injected task failures == clean run") {
    // every task that scans the RAW edge input throws on its first
    // attempt (local[4, 2] retries it): the reliable loop's pin job and
    // any stage that recomputes the input must come out bit-identical —
    // the loop body is deterministic SQL, and the truncation machinery
    // must be indifferent to which attempt materialized a cut.
    import org.apache.spark.sql.functions.col
    val base = ConnectedComponents.components(edges)
      .as[(Long, Long)].collect().toSet
    val chaoticEdges = edges.as[(Long, Long)].mapPartitions { it =>
      graft.core.Chaos.failFirstAttempt("edge scan")
      it
    }.toDF("a", "b")
    val before = graft.core.Chaos.injected.get()
    val rel = withReliable {
      ConnectedComponents.components(chaoticEdges)
        .as[(Long, Long)].collect().toSet
    }
    assert(graft.core.Chaos.injected.get() > before,
      "chaos hook never fired — the spec would be a no-op")
    assert(rel == base && base.nonEmpty,
      "reliable loop under injected task retries diverged from clean run")
    // same injection through a local-mode loop for completeness
    val before2 = graft.core.Chaos.injected.get()
    val loc = ConnectedComponents.components(chaoticEdges)
      .as[(Long, Long)].collect().toSet
    assert(graft.core.Chaos.injected.get() > before2 && loc == base)
    // hygiene: the retry budget must not have masked a one-shot
    // NON-chaos crash anywhere in the suite so far (see TestSpark)
    assert(graft.TestSpark.maskedRetries.get() == 0,
      "a non-chaos task failure was silently retried somewhere in the suite")
  }

  test("finish() keeps only the result's durable cut; result stays readable") {
    withReliableDir { dir =>
      def rddDirs(): Long = {
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try w.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
        finally w.close()
      }
      val cp = LoopCheckpoint.forLoop(spark)
      val base = (1L to 50L).toDF("v")
      var gen = cp.pin(base)
      (1 to 10).foreach { _ => gen = cp(gen.withColumn("v", $"v" + 1)) }
      assert(rddDirs() == 3) // pin + the two kept generation cuts
      val result = cp.finish(gen.withColumn("v", $"v" * 2))
      // the result roots at its own fresh cut; every superseded cut AND
      // the pin are reclaimed — without this the checkpoint dir grows by
      // O(input) per operator invocation
      assert(rddDirs() == 1,
        s"finish must reclaim superseded cuts and pins, got ${rddDirs()}")
      // reading AFTER reclamation proves nothing lazy referenced them
      assert(result.agg(org.apache.spark.sql.functions.sum("v"))
        .head.getLong(0) == (11L to 60L).map(_ * 2).sum)
      cp.release(deleteDurable = true)
      assert(rddDirs() == 0, "release(deleteDurable) reclaims the result cut")
      // keep withReliableDir's reliable-files assertion satisfied
      LoopCheckpoint.forLoop(spark).pin(base)
      ()
    }
  }

  test("missing checkpoint dir fails loudly; bad mode rejected") {
    spark.conf.set(LoopCheckpoint.ModeKey, "reliable")
    try {
      // the shared context may carry a checkpoint dir from an earlier
      // test in this JVM — only assert when it genuinely has none
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        assertThrows[IllegalStateException] {
          LoopCheckpoint.forLoop(spark)
        }
      spark.conf.set(LoopCheckpoint.ModeKey, "bogus")
      assertThrows[IllegalArgumentException] {
        LoopCheckpoint.forLoop(spark)
      }
    } finally spark.conf.unset(LoopCheckpoint.ModeKey)
  }
}
