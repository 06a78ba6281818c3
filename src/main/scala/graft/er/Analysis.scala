package graft.er

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.er.model._

/** Posterior-summary and clustering-evaluation queries as declarative
  * DataFrame pipelines (reference: analysis/package.scala, LinkageChain.scala,
  * PairwiseMetrics.scala, ClusteringMetrics.scala — Catalyst plans instead
  * of hand-built RDD chains).
  *
  * Representations:
  *  - membership: DataFrame(recordId, clusterId) — one row per record;
  *  - clusters:   DataFrame(cluster: array<string>) — one row per cluster.
  */
object Analysis {

  // --- representation conversions (reference analysis/package.scala) -----

  /** A7: membership → clusters via collect_set (sorted for deterministic
    * equality). */
  def clustersFromMembership(
      membership: DataFrame, recordCol: String, clusterCol: String): DataFrame =
    membership.groupBy(col(clusterCol))
      .agg(sort_array(collect_set(col(recordCol))).as("cluster"))

  /** G2: clusters → membership; the cluster uid is its smallest member —
    * deterministic, unlike zipWithUniqueId in the reference
    * (analysis/package.scala:77-84). */
  def membershipFromClusters(clusters: DataFrame, clusterCol: String): DataFrame =
    clusters
      .withColumn("__uid", array_min(col(clusterCol)))
      .select(explode(col(clusterCol)).as("recordId"), col("__uid").as("clusterId"))

  /** G1 + F9 + SO2: canonicalized distinct record pairs co-clustered in a
    * membership — a single self-equi-join on the cluster key. */
  def canonicalPairs(
      membership: DataFrame, recordCol: String, clusterCol: String): DataFrame = {
    val a = membership.select(col(recordCol).as("id1"), col(clusterCol).as("__c"))
    val b = membership.select(col(recordCol).as("id2"), col(clusterCol).as("__c"))
    a.join(b, "__c").filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  // --- clustering evaluation --------------------------------------------

  /** J2 + A8: contingency table of two memberships over the same records. */
  def contingencyTable(
      pred: DataFrame, truth: DataFrame,
      recordCol: String, clusterCol: String): DataFrame = {
    val p = pred.select(col(recordCol).as("__r"), col(clusterCol).as("predId"))
    val t = truth.select(col(recordCol).as("__r"), col(clusterCol).as("trueId"))
    p.join(t, "__r").groupBy(col("predId"), col("trueId"))
      .agg(count(lit(1)).as("n"))
  }

  private def comb2(c: Column): Column = c * (c - lit(1)) / lit(2.0)

  /** Pairwise precision/recall/F1 computed from contingency sums —
    * TP = Σ_cells C(n_ij,2), |predPairs| = Σ_rows C(n_i,2),
    * |truePairs| = Σ_cols C(n_j,2). Equivalent to the reference's
    * materialize-all-pairs full-outer-join (PairwiseMetrics.scala:43-64)
    * but never builds the O(Σ n²) pair set — the 100TB-safe formulation. */
  def pairwiseMetrics(
      pred: DataFrame, truth: DataFrame,
      recordCol: String, clusterCol: String): DataFrame = {
    val cont = contingencyTable(pred, truth, recordCol, clusterCol)
      .agg(sum(comb2(col("n"))).as("tp"))
    val pPairs = pred.groupBy(col(clusterCol)).agg(count(lit(1)).as("n"))
      .agg(sum(comb2(col("n"))).as("pred_pairs"))
    val tPairs = truth.groupBy(col(clusterCol)).agg(count(lit(1)).as("n"))
      .agg(sum(comb2(col("n"))).as("true_pairs"))
    // zero-pair clusterings (all-singleton) yield 0-valued metrics rather
    // than an ANSI division error
    cont.crossJoin(pPairs).crossJoin(tPairs)
      .select(
        round(when(col("pred_pairs") > 0, col("tp") / col("pred_pairs"))
          .otherwise(0.0), 6).as("precision"),
        round(when(col("true_pairs") > 0, col("tp") / col("true_pairs"))
          .otherwise(0.0), 6).as("recall"),
        round(when(col("pred_pairs") + col("true_pairs") > 0,
          lit(2.0) * col("tp") / (col("pred_pairs") + col("true_pairs")))
          .otherwise(0.0), 6).as("f1"))
  }

  /** A9: adjusted Rand index from the same contingency sums
    * (ClusteringMetrics.scala:42-83). */
  def adjustedRandIndex(
      pred: DataFrame, truth: DataFrame,
      recordCol: String, clusterCol: String): DataFrame = {
    val joined = pred.select(col(recordCol).as("__r"), col(clusterCol).as("predId"))
      .join(truth.select(col(recordCol).as("__r"), col(clusterCol).as("trueId")), "__r")
    val cell = joined.groupBy(col("predId"), col("trueId"))
      .agg(count(lit(1)).as("n")).agg(sum(comb2(col("n"))).as("sum_cell"))
    val rowS = joined.groupBy(col("predId")).agg(count(lit(1)).as("n"))
      .agg(sum(comb2(col("n"))).as("sum_row"))
    val colS = joined.groupBy(col("trueId")).agg(count(lit(1)).as("n"))
      .agg(sum(comb2(col("n"))).as("sum_col"))
    val tot = joined.agg(comb2(count(lit(1))).as("total"))
    cell.crossJoin(rowS).crossJoin(colS).crossJoin(tot)
      .select(round(
        (col("sum_cell") - col("sum_row") * col("sum_col") / col("total")) /
          ((col("sum_row") + col("sum_col")) / lit(2.0) -
            col("sum_row") * col("sum_col") / col("total")), 6).as("ari"))
  }

  /** [[pairwiseMetrics]] + [[adjustedRandIndex]] fused into ONE pass:
    * a single pred×truth join and one CUBE aggregation supply every
    * contingency sum both metrics need — the cube's four groupings are
    * exactly the cells (Σ C(n_ij,2)), the row margins (pred pairs), the
    * column margins (true pairs), and the grand total. The ~10 stages
    * of running the two metrics separately collapse to two shuffles.
    * Same values as the separate forms (the sums are integer-exact)
    * PROVIDED pred and truth cover the same record set and cluster ids
    * are non-null — true for chain evaluations, where pred assigns
    * every record and truth is the full planted labeling — and
    * CHECKED, not assumed: the join is full-outer and the same cube
    * pass counts records missing a partner or carrying a null cluster
    * id (grouping_id separates rollup nulls from value nulls), so a
    * coverage mismatch raises at execution instead of silently
    * inflating the margins the way an unchecked inner join would. */
  def clusteringMetrics(
      pred: DataFrame, truth: DataFrame,
      recordCol: String, clusterCol: String): DataFrame = {
    val joined = pred
      .select(col(recordCol).as("__r"), col(clusterCol).as("predId"))
      .join(truth.select(col(recordCol).as("__r"),
        col(clusterCol).as("trueId")), Seq("__r"), "full_outer")
    val sums = joined.cube(col("predId"), col("trueId"))
      .agg(count(lit(1)).as("n"), grouping_id().as("g"))
      .agg(
        sum(when(col("g") === 0 && col("predId").isNotNull &&
          col("trueId").isNotNull, comb2(col("n")))).as("tp"),
        sum(when(col("g") === 1 && col("predId").isNotNull,
          comb2(col("n")))).as("pred_pairs"),
        sum(when(col("g") === 2 && col("trueId").isNotNull,
          comb2(col("n")))).as("true_pairs"),
        max(when(col("g") === 3, comb2(col("n")))).as("total"),
        sum(when(col("g") === 0 &&
          (col("predId").isNull || col("trueId").isNull), col("n")))
          .as("__miss"))
    // assert_true is NULL on success, so coalesce passes each metric
    // through; attaching it to EVERY output keeps the check alive under
    // column pruning no matter which metric a caller selects.
    val cov = assert_true(coalesce(col("__miss"), lit(0L)) === 0,
      lit("clusteringMetrics: pred and truth must cover the same " +
        "record set with non-null cluster ids")).cast("double")
    sums.select(
      coalesce(cov, round(when(col("pred_pairs") > 0,
        col("tp") / col("pred_pairs")).otherwise(0.0), 6)).as("precision"),
      coalesce(cov, round(when(col("true_pairs") > 0,
        col("tp") / col("true_pairs")).otherwise(0.0), 6)).as("recall"),
      coalesce(cov, round(when(col("pred_pairs") + col("true_pairs") > 0,
        lit(2.0) * col("tp") / (col("pred_pairs") + col("true_pairs")))
        .otherwise(0.0), 6)).as("f1"),
      coalesce(cov, round(
        (col("tp") - col("pred_pairs") * col("true_pairs") / col("total")) /
          ((col("pred_pairs") + col("true_pairs")) / lit(2.0) -
            col("pred_pairs") * col("true_pairs") / col("total")), 6))
        .as("ari"))
  }

  // --- posterior-summary queries over the sample chain -------------------

  /** G3: one row per (iteration, cluster), cluster as a sorted array. */
  def explodeChain(chain: Dataset[LinkageSample]): DataFrame =
    chain.toDF()
      .select(col("iteration"),
        explode(col("linkageStructure")).as("cluster"))
      .select(col("iteration"), sort_array(col("cluster")).as("cluster"))

  /** A2→A3→A4: the flagship posterior query — shared most-probable
    * clusters (LinkageChain.scala:52-95). For each record, its most
    * frequent cluster across samples; records grouped by that cluster. */
  def sharedMostProbableClusters(chain: Dataset[LinkageSample]): DataFrame =
    sharedMostProbableClusters(chain,
      chain.toDF().select(countDistinct(col("iteration")))
        .head().getLong(0).toDouble)

  /** As above with the sample count supplied by the caller (the sampler
    * knows it) — skips the counting pass over the chain. */
  def sharedMostProbableClusters(chain: Dataset[LinkageSample],
      numSamples: Double): DataFrame = {
    val freq = explodeChain(chain)
      .groupBy(col("cluster"))
      .agg((count(lit(1)) / lit(numSamples)).as("freq"))

    // per-record argmax over containing clusters: one hash agg via max_by;
    // ties broken deterministically by the cluster array itself
    val best = freq
      .select(explode(col("cluster")).as("recordId"), col("cluster"), col("freq"))
      .groupBy(col("recordId"))
      .agg(max_by(struct(col("freq"), col("cluster")), struct(col("freq"), col("cluster")))
        .as("best"))
      .select(col("recordId"), col("best.cluster").as("cluster"),
        col("best.freq").as("freq"))

    best.groupBy(col("cluster"), col("freq"))
      .agg(sort_array(collect_set(col("recordId"))).as("records"))
      .select(col("records"), col("cluster").as("mpCluster"),
        round(col("freq"), 6).as("freq"))
  }

  /** A6: cluster-size distribution per iteration
    * (LinkageChain.scala:137-154). */
  def clusterSizeDistribution(chain: Dataset[LinkageSample]): DataFrame =
    explodeChain(chain)
      .select(col("iteration"), size(col("cluster")).as("clustSize"))
      .groupBy(col("iteration"), col("clustSize"))
      .agg(count(lit(1)).as("n"))

  /** A5: records per partition per iteration (LinkageChain.scala:118-128). */
  def partitionSizes(chain: Dataset[LinkageSample]): DataFrame =
    chain.toDF()
      .select(col("iteration"), col("partitionId"),
        aggregate(transform(col("linkageStructure"), c => size(c)),
          lit(0), (acc, x) => acc + x).as("numRecords"))

  /** A5 + A6 + the sample count in one aggregation over the chain, collected
    * to the driver (it has one row per iteration, partition and cluster
    * size, so it stays small). */
  def chainSizeCounts(chain: Dataset[LinkageSample]): ChainSizeCounts =
    ChainSizeCounts(chain.toDF()
      .select(col("iteration"), col("partitionId"),
        // a chain row without clusters yields one null size, so its
        // iteration and partition still show
        explode_outer(transform(col("linkageStructure"), c => size(c)))
          .as("clustSize"))
      .groupBy(col("iteration"), col("partitionId"), col("clustSize"))
      .agg(count(lit(1)).as("n"))
      .collect().toSeq.map(r => ChainSizeCount(r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)), r.getLong(3))))

  /** `n` clusters of `clustSize` records in one partition of one sample;
    * `clustSize` is None (and `n` 1) for a sample row without clusters. */
  final case class ChainSizeCount(iteration: Long, partitionId: Int,
      clustSize: Option[Int], n: Long)

  /** The collected [[chainSizeCounts]]: the same rows as
    * [[clusterSizeDistribution]] and [[partitionSizes]], and the number of
    * samples in the chain. */
  final case class ChainSizeCounts(rows: Seq[ChainSizeCount]) {
    /** Distinct iterations: `countDistinct(iteration)` over the chain. */
    def numSamples: Long = rows.map(_.iteration).distinct.size.toLong

    /** (iteration, clustSize, clusters) — [[clusterSizeDistribution]]. */
    def clusterSizeDistribution: Seq[(Long, Int, Long)] =
      rows.flatMap(r => r.clustSize.map(s => (r.iteration, s, r.n)))
        .groupMapReduce(r => (r._1, r._2))(_._3)(_ + _)
        .toSeq.map { case ((it, s), n) => (it, s, n) }

    /** (iteration, partitionId, records) — [[partitionSizes]]. */
    def partitionSizes: Seq[(Long, Int, Long)] =
      rows.groupMapReduce(r => (r.iteration, r.partitionId))(
        r => r.clustSize.fold(0L)(_ * r.n))(_ + _)
        .toSeq.map { case ((it, p), n) => (it, p, n) }
  }

  // --- baselines (reference analysis/baselines.scala) --------------------

  /** A13: exact-match clustering — group records agreeing on every given
    * column. */
  def exactMatchClusters(records: DataFrame, idCol: String,
      attrCols: Seq[String]): DataFrame = {
    val key = sha2(concat_ws("\u0001",
      attrCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*), 256)
    records.groupBy(key.as("key"))
      .agg(sort_array(collect_set(col(idCol))).as("cluster"))
      .select(col("cluster"))
  }

  /** A13/G4: near-match clustering — records agreeing on all but any
    * `slack` of the given columns (explode into C(k, k-slack) subset keys,
    * then union of groups). */
  def nearMatchMembership(records: DataFrame, idCol: String,
      attrCols: Seq[String], slack: Int = 1): DataFrame = {
    val keep = attrCols.length - slack
    require(keep >= 1, "slack too large")
    val subsets = attrCols.combinations(keep).toSeq
    val keyCols = subsets.zipWithIndex.map { case (cols, i) =>
      concat_ws("\u0001", lit(i.toString) +:
        cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    }
    records.select(col(idCol).as("recordId"),
      explode(array(keyCols: _*)).as("clusterId"))
  }
}
