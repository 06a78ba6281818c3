package graft.er

import graft.er.model._

/** Entity-space partitioning — decides which shuffle partition owns an
  * entity, as a pure function of the entity's attribute values (reference
  * extension point: partitioning/PartitionFunction.scala:24-43).
  *
  * Each cluster carries its entity's partition as `partitionId`; the
  * per-sweep shuffle sends logical partition p to Spark partition p
  * (ERState.step). Fitting happens once, driver-side, from the dictionary
  * statistics already collected in the ModelIndex. `partitionOf` runs on
  * executors and must be a pure function of the values.
  */
trait EntityPartitioner extends Serializable {
  def numPartitions: Int
  def partitionOf(entityValues: Array[Int]): Int
}

/** Everything in one partition (reference `numLevels: 0`). */
case object SinglePartition extends EntityPartitioner {
  val numPartitions = 1
  def partitionOf(entityValues: Array[Int]): Int = 0
}

/** One node's left/right routing rule (reference behavior:
  * partitioning/DomainSplitter.scala:42-110 — range splits for large
  * domains, LPT set splits for small/skewed ones). */
private[er] sealed trait NodeSplit extends Serializable {
  def goRight(v: Int): Boolean
}

/** ValueIds above the threshold route right; missing (-1) routes left. */
private[er] final case class RangeSplit(threshold: Int) extends NodeSplit {
  def goRight(v: Int): Boolean = v > threshold
}

/** Explicit membership split from LPT bin-packing — handles domains where
  * a median cut degenerates (few distinct values, or one value carrying
  * most of the weight). Missing (-1) is never a member, so it routes left. */
private[er] final case class SetSplit(rightSet: Set[Int]) extends NodeSplit {
  def goRight(v: Int): Boolean = rightSet.contains(v)
}

/** KD-tree over the value domain of selected attributes: recursive
  * weight-balanced splits, `numLevels` deep → 2^numLevels partitions
  * (reference semantics: partitioning/KDTreePartitioner.scala:28-105).
  * Balances partition record mass and co-locates entities that agree on
  * the split attributes, so most record↔entity moves stay shuffle-local.
  *
  * Each node splits by weighted median over the ValueId order when its
  * domain is large, and falls back to a longest-processing-time (LPT)
  * greedy bin-pack into two explicit value sets when the domain is small
  * (≤ 30 values, reference DomainSplitter.scala:44-46) — the case where
  * median cuts unbalance badly (e.g. 5 distinct values, one dominant).
  * Unbalanced MCMC partitions are straggler factories at cluster scale,
  * so split quality here directly bounds per-sweep wall-clock.
  */
final class KDTreePartitioner private (
    val numLevels: Int,
    splitAttrs: Array[Int],  // attribute id per level
    splits: Array[NodeSplit] // node-indexed (heap layout)
  ) extends EntityPartitioner {

  val numPartitions: Int = 1 << numLevels

  def partitionOf(entityValues: Array[Int]): Int = {
    var node = 0 // heap index; children 2n+1 / 2n+2
    var level = 0
    while (level < numLevels) {
      val v = entityValues(splitAttrs(level))
      node = 2 * node + 1 + (if (splits(node).goRight(v)) 1 else 0)
      level += 1
    }
    node - (numPartitions - 1) // leaves are the last 2^L heap slots
  }
}

object KDTreePartitioner {

  /** Domains at or below this size use the LPT set split (reference
    * DomainSplitter.scala:45 uses the same constant). */
  val LptDomainSize = 30

  /** Fit from the per-attribute value frequencies already in the index.
    * Each node receives the explicit list of ValueIds that can reach it
    * for each attribute (narrowed by ancestor splits on the same
    * attribute) and picks a median or LPT split over that list.
    */
  def fit(index: ModelIndex, attrIds: Seq[Int], numLevels: Int): KDTreePartitioner = {
    require(numLevels >= 0)
    require(attrIds.nonEmpty || numLevels == 0, "need split attributes")
    val splitAttrs = Array.tabulate(numLevels)(l => attrIds(l % attrIds.length))
    val numNodes = (1 << numLevels) - 1
    val splits = new Array[NodeSplit](numNodes)

    def fill(node: Int, level: Int, domains: Map[Int, Array[Int]]): Unit = {
      if (level >= numLevels) return
      val a = splitAttrs(level)
      val attr = index.attributes(a)
      val dom = domains.getOrElse(a, Array.range(0, attr.domainSize))
      val split: NodeSplit =
        if (dom.length <= LptDomainSize) lptSplit(dom, attr.counts)
        else medianSplit(dom, attr.counts)
      splits(node) = split
      val (right, left) = dom.partition(split.goRight)
      fill(2 * node + 1, level + 1, domains.updated(a, left))
      fill(2 * node + 2, level + 1, domains.updated(a, right))
    }
    if (numLevels > 0) fill(0, 0, Map.empty)
    new KDTreePartitioner(numLevels, splitAttrs, splits)
  }

  /** Weighted-median range split: walk the (ValueId-ordered) domain until
    * cumulative weight crosses half; the value carrying the median stays
    * left, everything after it routes right. Both sides stay non-empty
    * (only called for domains above the LPT threshold, so length > 2). */
  private def medianSplit(dom: Array[Int], counts: Array[Long]): RangeSplit = {
    var total = 0L
    var i = 0
    while (i < dom.length) { total += counts(dom(i)); i += 1 }
    var acc = 0L
    i = 0
    while (i < dom.length - 1 && acc + counts(dom(i)) < (total + 1) / 2) {
      acc += counts(dom(i)); i += 1
    }
    RangeSplit(dom(math.min(i, dom.length - 2)))
  }

  /** LPT greedy bin-pack: place values in decreasing weight order onto
    * the lighter of two sides (ties → right, matching the reference's
    * DomainSplitter.scala:96-103 so fitted partitions agree). Stable
    * sort keeps equal-weight values in ValueId order → deterministic. */
  private def lptSplit(dom: Array[Int], counts: Array[Long]): SetSplit = {
    val ordered = dom.sortBy(v => -counts(v))
    var leftWeight = 0L
    var rightWeight = 0L
    val rightSet = Set.newBuilder[Int]
    ordered.foreach { v =>
      if (leftWeight >= rightWeight) {
        rightSet += v
        rightWeight += counts(v)
      } else {
        leftWeight += counts(v)
      }
    }
    SetSplit(rightSet.result())
  }
}
