package graft.er

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.ConstantSimilarity
import graft.er.model._

class PartitionerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def index: ModelIndex = {
    import spark.implicits._
    // skewed domain: value "v00" dominates
    val vals = (0 until 20).flatMap(i => Seq.fill(21 - i)(f"v$i%02d"))
    val idx = AttributeIndexSpec.attributeIndex(spark, vals.toDF("a"),
      AttributeSpec("a", ConstantSimilarity, BetaParams(1.0, 1.0)))
    new ModelIndex(IndexedSeq(idx), Map("0" -> vals.length.toLong),
      Map((0, "0") -> vals.length.toLong), vals.length.toLong)
  }

  test("single partition maps everything to 0") {
    assert(SinglePartition.numPartitions == 1)
    assert(SinglePartition.partitionOf(Array(5)) == 0)
  }

  test("kd-tree splits balance observed weight") {
    val idx = index
    val part = KDTreePartitioner.fit(idx, Seq(0), numLevels = 2)
    assert(part.numPartitions == 4)
    val attr = idx.attributes(0)
    // weight routed to each partition should be roughly total/4
    val weights = new Array[Long](4)
    (0 until attr.domainSize).foreach { v =>
      val p = part.partitionOf(Array(v))
      assert(p >= 0 && p < 4)
      weights(p) += attr.counts(v)
    }
    val total = attr.counts.sum
    weights.foreach { w =>
      assert(w > total / 10, s"partition too small: ${weights.mkString(",")}")
      assert(w < total / 2, s"partition too large: ${weights.mkString(",")}")
    }
    // missing values route to a valid partition (leftmost path)
    assert(part.partitionOf(Array(MissingValue)) == 0)
  }

  test("small skewed domain takes the LPT set split and balances exactly") {
    import spark.implicits._
    // 5 distinct values, weights 8/7/1/1/3 — a weighted-median range cut
    // must put the first two values together (15 vs 5, 3x imbalance);
    // LPT bin-packing reaches a perfect 10/10.
    val weights = Map("a" -> 8, "b" -> 7, "c" -> 1, "d" -> 1, "e" -> 3)
    val vals = weights.toSeq.sortBy(_._1).flatMap { case (v, n) => Seq.fill(n)(v) }
    val idx = AttributeIndexSpec.attributeIndex(spark, vals.toDF("x"),
      AttributeSpec("x", ConstantSimilarity, BetaParams(1.0, 1.0)))
    val mi = new ModelIndex(IndexedSeq(idx), Map("0" -> vals.length.toLong),
      Map((0, "0") -> vals.length.toLong), vals.length.toLong)
    val part = KDTreePartitioner.fit(mi, Seq(0), numLevels = 1)
    val masses = new Array[Long](2)
    (0 until idx.domainSize).foreach { v =>
      masses(part.partitionOf(Array(v))) += idx.counts(v)
    }
    assert(masses.toSet == Set(10L), s"LPT split unbalanced: ${masses.mkString("/")}")
  }

  test("LPT split is deterministic and routes missing left") {
    val idx = index
    val p1 = KDTreePartitioner.fit(idx, Seq(0), numLevels = 2)
    val p2 = KDTreePartitioner.fit(idx, Seq(0), numLevels = 2)
    (0 until idx.attributes(0).domainSize).foreach { v =>
      assert(p1.partitionOf(Array(v)) == p2.partitionOf(Array(v)))
    }
    assert(p1.partitionOf(Array(MissingValue)) == 0)
  }

  test("kd-tree partition assignment is a pure function of values") {
    val idx = index
    val part = KDTreePartitioner.fit(idx, Seq(0), numLevels = 3)
    (0 until idx.attributes(0).domainSize).foreach { v =>
      assert(part.partitionOf(Array(v)) == part.partitionOf(Array(v)))
    }
  }
}
