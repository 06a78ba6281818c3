package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling: repeatedly drop every
  * node whose degree within the surviving subgraph is below k, until
  * the fixpoint. The surviving node set — the k-core — is the unique
  * maximal subgraph with minimum internal degree >= k (uniqueness makes
  * the operator oracle-checkable: a SQL replay that unrolls enough
  * peeling rounds reproduces it exactly).
  *
  * Each round is one aggregation shuffle over the edges restricted to
  * surviving endpoints: degrees come free from the grouping and the
  * filter IS the peel. The alive set only shrinks, so per-round cost is
  * monotonically decreasing; rounds needed is the peeling depth (small
  * for real graphs — 6 at sf0.1 on the gate's co-purchase graph).
  * Lineage is truncated per generation via [[LoopCheckpoint]] —
  * eager localCheckpoints by default, reliable-checkpoint cadence
  * under `spark.graft.iterative.checkpoint=reliable` (see the
  * rationale at ConnectedComponents — persist alone leaves an
  * O(iter²) plan tree).
  */
object KCore {

  /** Nodes of the k-core of the undirected graph `edges` (columns a, b;
    * assumed canonical a < b, no duplicates) with their core-internal
    * degree. Throws on non-convergence within `maxIter` rounds. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val cp = LoopCheckpoint.forLoop(edges.sparkSession)
    val e = cp.pin(edges.select(col("a"), col("b")))
    val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
    // round 0: plain degrees — the grouping enumerates the nodes
    var alive = cp(und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k))
    var aliveCount = alive.count()
    var it = 0
    var converged = false
    // one peel: degrees within the surviving subgraph — restrict both
    // endpoints to the alive set (two hash joins on the shrinking
    // side), then one aggregation; the filter IS the peel
    def peel(a: DataFrame): DataFrame = und
      .join(a.select(col("node").as("a")), "a")
      .join(a.select(col("node").as("b")), "b")
      .groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k)
    // One job per round (Truncator.materialize): the cut's row count IS
    // the loop condition. (r12 A/B in BASELINE.md; the earlier negative
    // result stands too: two-peels-per-checkpoint batching measured
    // SLOWER — the inner peel feeds BOTH restriction joins of the outer
    // one, so unmaterialized it computes twice. ConnectedComponents can
    // batch because its propagation reads the label frame once per round.)
    while (!converged && it < maxIter) {
      val (next, nextCount, _) = cp.materialize(peel(alive))
      converged = nextCount == aliveCount
      alive = next
      aliveCount = nextCount
      it += 1
    }
    require(converged, s"k-core peeling did not converge in $maxIter rounds")
    cp.finish(alive.select(col("node"), col("deg").as("core_degree")))
  }
}
