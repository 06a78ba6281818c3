package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source hop distances (unweighted single-source shortest paths
  * generalized to a seed set) over a directed edge list — BFS by
  * frontier propagation, the fourth member of the graph family next to
  * [[ConnectedComponents]], [[PageRank]] and [[Triangles]].
  *
  * Each round expands ONLY the newest frontier (nodes first reached in
  * the previous round) one hop along the edges and min-merges into the
  * distance table — in unweighted BFS the first discovery is already
  * minimal, so a node never re-enters the frontier and total join work
  * across all rounds is O(|E|) regardless of depth. The edge table is
  * hash-partitioned on `src` once and reused every round; distances are
  * lineage-truncated per round like every driver-paced loop here.
  *
  * `maxHops` bounds the rounds (and the result: unreached nodes are
  * absent, not null) — the warehouse-friendly contract, since the
  * interesting question at scale is almost always "what is within K
  * hops", not the full eccentricity.
  */
object ShortestPaths {

  /** (node, dist) for every node within `maxHops` directed hops of any
    * seed (column `node`); dist = 0 for the seeds themselves. */
  def hopDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int)
      : DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0: $maxHops")
    val spark = edges.sparkSession
    val cp = LoopCheckpoint.forLoop(spark)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e = cp.pin(edges.select(col("src"), col("dst"))
      .repartition(shufflePartitions, col("src")))

    // one job per round (Truncator.materialize): the frontier at round k
    // is empty iff the union added no rows, i.e. the running count did
    // not grow — no separate emptiness probe
    var (dist, distCount, _) = cp.materialize(seeds.select(col("node"))
      .distinct().withColumn("dist", lit(0)))

    var k = 1
    var frontierEmpty = false
    while (k <= maxHops && !frontierEmpty) {
      val frontier = dist.where(col("dist") === k - 1)
        .select(col("node").as("src"))
      val reached = e.join(frontier, "src")
        .select(col("dst").as("node")).distinct()
        .join(dist.select(col("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(k))
      val (next, nextCount, _) = cp.materialize(dist.unionByName(reached))
      frontierEmpty = nextCount == distCount
      dist = next
      distCount = nextCount
      k += 1
    }
    cp.finish(dist)
  }

  /** Bounded-round Bellman-Ford: minimum-WEIGHT distances from the
    * seed set using at most `rounds` edges (columns src, dst, w).
    * Unlike [[hopDistances]] there is no frontier-only shortcut — a
    * later round may find a cheaper longer-hop path to an
    * already-reached node, so every round relaxes the FULL distance
    * table against the edges (the classic dynamic-programming
    * recurrence d_k(v) = min(d_{k-1}(v), min_{(u,v)} d_{k-1}(u) + w)).
    * Per round: one join keyed on the reused edge partitioning plus one
    * min-aggregation — O(rounds * |E|) total, the Bellman-Ford bound.
    * With rounds >= |V| - 1 and non-negative weights this is full
    * single-source shortest paths; the bounded form is the
    * warehouse-scale contract (cheapest path within K legs). */
  def boundedDistances(edges: DataFrame, seeds: DataFrame, rounds: Int)
      : DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0: $rounds")
    val spark = edges.sparkSession
    val cp = LoopCheckpoint.forLoop(spark)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e = cp.pin(edges.select(col("src"), col("dst"), col("w"))
      .repartition(shufflePartitions, col("src")))

    var dist = cp(seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0.0)))

    for (_ <- 1 to rounds) {
      val relaxed = e
        .join(dist.select(col("node").as("src"), col("dist")), "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = cp(dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist")))
    }
    cp.finish(dist)
  }
}
