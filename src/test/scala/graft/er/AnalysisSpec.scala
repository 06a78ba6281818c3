package graft.er

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.er.model._

class AnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("membership <-> clusters round trip") {
    val membership = Seq(("a", 1L), ("b", 1L), ("c", 2L)).toDF("recordId", "clusterId")
    val clusters = Analysis.clustersFromMembership(membership, "recordId", "clusterId")
    val got = clusters.select("cluster").as[Seq[String]].collect().toSet
    assert(got == Set(Seq("a", "b"), Seq("c")))
    val back = Analysis.membershipFromClusters(clusters, "cluster")
      .as[(String, String)].collect().toSet
    assert(back == Set(("a", "a"), ("b", "a"), ("c", "c")))
  }

  test("canonical pairs") {
    val membership = Seq(("a", 1), ("b", 1), ("c", 1), ("d", 2)).toDF("recordId", "clusterId")
    val pairs = Analysis.canonicalPairs(membership, "recordId", "clusterId")
      .as[(String, String)].collect().toSet
    assert(pairs == Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("pairwise metrics on a hand-computed example") {
    // pred: {a,b},{c}; truth: {a,b,c} → TP=1, predPairs=1, truePairs=3
    val pred = Seq(("a", 1), ("b", 1), ("c", 2)).toDF("recordId", "clusterId")
    val truth = Seq(("a", 9), ("b", 9), ("c", 9)).toDF("recordId", "clusterId")
    val m = Analysis.pairwiseMetrics(pred, truth, "recordId", "clusterId")
      .head()
    assert(math.abs(m.getDouble(0) - 1.0) < 1e-9)        // precision
    assert(math.abs(m.getDouble(1) - 1.0 / 3) < 1e-6)    // recall
    assert(math.abs(m.getDouble(2) - 0.5) < 1e-9)        // f1
  }

  test("fused clusteringMetrics == separate forms, and mismatched coverage raises") {
    val pred = Seq(("a", 1), ("b", 1), ("c", 2)).toDF("recordId", "clusterId")
    val truth = Seq(("a", 9), ("b", 9), ("c", 9)).toDF("recordId", "clusterId")
    val m = Analysis.clusteringMetrics(pred, truth, "recordId", "clusterId")
      .head()
    assert(math.abs(m.getDouble(0) - 1.0) < 1e-9)        // precision
    assert(math.abs(m.getDouble(1) - 1.0 / 3) < 1e-6)    // recall
    assert(math.abs(m.getDouble(2) - 0.5) < 1e-9)        // f1
    val ariSep = Analysis.adjustedRandIndex(pred, truth, "recordId", "clusterId")
      .head().getDouble(0)
    assert(math.abs(m.getDouble(3) - ariSep) < 1e-9)     // ari

    // a record missing from truth must raise, not silently inflate the
    // margins the fused cube computes on the joined set
    val truthShort = Seq(("a", 9), ("b", 9)).toDF("recordId", "clusterId")
    val e = intercept[Exception] {
      Analysis.clusteringMetrics(pred, truthShort, "recordId", "clusterId")
        .head()
    }
    assert(e.getMessage.contains("cover the same record set") ||
      Option(e.getCause).exists(_.getMessage.contains("cover the same record set")))
    // a null cluster id is flagged by the same check
    val predNull = Seq(("a", Some(1)), ("b", Some(1)), ("c", None))
      .toDF("recordId", "clusterId")
    intercept[Exception] {
      Analysis.clusteringMetrics(predNull, truth, "recordId", "clusterId")
        .head()
    }
  }

  test("ARI is 1 on identical clusterings and ~0 on independent ones") {
    val c = Seq(("a", 1), ("b", 1), ("c", 2), ("d", 2)).toDF("recordId", "clusterId")
    val ari1 = Analysis.adjustedRandIndex(c, c, "recordId", "clusterId")
      .head().getDouble(0)
    assert(math.abs(ari1 - 1.0) < 1e-9)
    val other = Seq(("a", 1), ("b", 2), ("c", 1), ("d", 2)).toDF("recordId", "clusterId")
    val ari0 = Analysis.adjustedRandIndex(c, other, "recordId", "clusterId")
      .head().getDouble(0)
    assert(ari0 < 0.5)
  }

  test("shared most probable clusters on a hand-built chain") {
    // 2 samples: {a,b},{c} appears twice for a,b; {c} twice for c
    val chain = spark.createDataset(Seq(
      LinkageSample(1L, 0, Seq(Seq("a", "b"), Seq("c"))),
      LinkageSample(2L, 0, Seq(Seq("a", "b"), Seq("c")))))
    val smpc = Analysis.sharedMostProbableClusters(chain)
    val rows = smpc.select("records", "freq").as[(Seq[String], Double)]
      .collect().toSet
    assert(rows == Set((Seq("a", "b"), 1.0), (Seq("c"), 1.0)))
  }

  test("cluster size distribution and partition sizes") {
    val chain = spark.createDataset(Seq(
      LinkageSample(1L, 0, Seq(Seq("a", "b"), Seq("c"))),
      LinkageSample(1L, 1, Seq(Seq("d"))),
      LinkageSample(2L, 0, Seq(Seq("a"), Seq("b"), Seq("c")))))
    val dist = Analysis.clusterSizeDistribution(chain)
      .as[(Long, Int, Long)].collect().toSet
    assert(dist == Set((1L, 2, 1L), (1L, 1, 2L), (2L, 1, 3L)))
    val sizes = Analysis.partitionSizes(chain)
      .as[(Long, Int, Int)].collect().toSet
    assert(sizes == Set((1L, 0, 3), (1L, 1, 1), (2L, 0, 3)))
  }

  test("chainSizeCounts: both summaries and the sample count from one pass") {
    val chain = spark.createDataset(Seq(
      LinkageSample(1L, 0, Seq(Seq("a", "b"), Seq("c"))),
      LinkageSample(1L, 1, Seq(Seq("d"))),
      LinkageSample(2L, 0, Seq(Seq("a"), Seq("b"), Seq("c"))),
      // a sample row without clusters, alone in its iteration
      LinkageSample(3L, 1, Seq.empty)))
    val counts = Analysis.chainSizeCounts(chain)
    assert(counts.numSamples == 3L)
    assert(counts.clusterSizeDistribution.toSet ==
      Analysis.clusterSizeDistribution(chain).as[(Long, Int, Long)].collect().toSet)
    assert(counts.partitionSizes.toSet ==
      Analysis.partitionSizes(chain).as[(Long, Int, Int)].collect()
        .map { case (it, p, n) => (it, p, n.toLong) }.toSet)
    assert(counts.partitionSizes.contains((3L, 1, 0L)))
  }

  test("exact and near match baselines") {
    val df = Seq(
      ("r1", "ANNA", "SMITH"), ("r2", "ANNA", "SMITH"),
      ("r3", "ANNA", "JONES"), ("r4", "BOB", "SMITH"))
      .toDF("id", "fname", "lname")
    val exact = Analysis.exactMatchClusters(df, "id", Seq("fname", "lname"))
      .as[Seq[String]].collect().toSet
    assert(exact == Set(Seq("r1", "r2"), Seq("r3"), Seq("r4")))
    // near-match with slack 1: r1/r2/r3 share fname; r1/r2/r4 share lname
    val near = Analysis.nearMatchMembership(df, "id", Seq("fname", "lname"), 1)
    val groups = Analysis.clustersFromMembership(near, "recordId", "clusterId")
      .as[(String, Seq[String])].collect().map(_._2).filter(_.length > 1).toSet
    assert(groups == Set(Seq("r1", "r2", "r3"), Seq("r1", "r2", "r4")))
  }
}
