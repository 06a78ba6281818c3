package graft.er

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AliasTable, ConstantSimilarity, JaroWinklerSimilarity, LevenshteinSimilarity, SimilarityFn}
import graft.er.model._

/** Per-attribute dictionary + empirical distribution + truncated-similarity
  * neighborhood index (reference capability: AttributeIndex.scala:39-104,
  * RecordsCache.scala:34-54 — re-expressed with counts from one pass over
  * the records ([[RecordPass]]) and a lossless length-blocked similarity
  * self-join instead of the reference's O(|V|²) `cartesian`, its single
  * worst scale bottleneck).
  *
  * The index is driver-built and broadcast: the value domain of a matching
  * attribute is categorical (names, dates, codes), orders of magnitude
  * smaller than the record count, so it fits comfortably even at 100 TB of
  * records. All sampler math runs on dense ValueIds; -1 = missing.
  *
  * Saved sampler states (IO.saveState) Java-serialize the index. The
  * default serialVersionUID covers the companion's methods too (their
  * static forwarders), so it is pinned to the value it had before the
  * companion lost its single-column `build`, and older states still load.
  */
@SerialVersionUID(6446730841700174786L)
final class AttributeIndex(
    val attrId: Int,
    val name: String,
    val similarity: SimilarityFn,
    val distortionPrior: BetaParams,
    val values: Array[String],
    val counts: Array[Long],
    val neighbors: Array[Array[Int]],
    val neighborExpSims: Array[Array[Double]]) extends Serializable {

  val domainSize: Int = values.length
  val totalObserved: Long = counts.sum

  /** Empirical distribution φ over observed values. */
  val probs: Array[Double] = {
    val t = totalObserved.toDouble
    counts.map(_ / t)
  }

  /** simNorm z(v) = Σ_w φ(w)·exp(sim(v,w)) — the normalizer of the
    * similarity-biased distortion distribution. Off-neighborhood terms
    * contribute exp(0)=1, so z = 1 + φ(v)·(e_max - 1) + Σ_{w∈N(v)}
    * φ(w)·(e_w - 1); the self term uses exp(maxSimilarity) (identical
    * strings are maximally similar; the neighbor lists exclude self). */
  val simNorms: Array[Double] = {
    val eMax = math.exp(similarity.maxSimilarity)
    val out = new Array[Double](domainSize)
    var v = 0
    while (v < domainSize) {
      var z = 1.0 + probs(v) * (eMax - 1.0)
      val ns = neighbors(v)
      val es = neighborExpSims(v)
      var i = 0
      while (i < ns.length) { z += probs(ns(i)) * (es(i) - 1.0); i += 1 }
      out(v) = z
      v += 1
    }
    out
  }

  private val idIndex: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](domainSize * 2)
    var i = 0
    while (i < domainSize) { m.put(values(i), i); i += 1 }
    m
  }

  /** ValueId of a raw string; MissingValue for null/unknown. */
  def idOf(s: String): Int = {
    if (s == null) MissingValue
    else {
      val i = idIndex.get(s)
      if (i == null) MissingValue else i.intValue()
    }
  }

  /** exp(sim(x, y)) via the truncated neighborhood (1.0 off-neighborhood). */
  def expSim(x: Int, y: Int): Double = {
    if (x == y) math.exp(similarity.maxSimilarity)
    else {
      val ns = neighbors(x)
      val j = java.util.Arrays.binarySearch(ns, y)
      if (j >= 0) neighborExpSims(x)(j) else 1.0
    }
  }

  /** Distortion density ψ(x | y) = φ(x)·exp(sim(x,y)) / z(y). */
  def distortionProb(x: Int, y: Int): Double =
    probs(x) * expSim(x, y) / simNorms(y)

  // --- sampling machinery ------------------------------------------------

  /** Cached alias tables for f_k(y) ∝ φ(y)·z(y)^(-k): the "base"
    * distribution of the entity-value conditional when k linked distorted
    * records are attached (reference precaches powered distributions,
    * AttributeIndex.scala:188-206). k=0 is the prior φ itself. */
  private val maxCachedPower = 8

  private lazy val poweredTables: Array[AliasTable] =
    Array.tabulate(maxCachedPower + 1)(k => AliasTable(poweredWeights(k)))

  /** Total unnormalized mass T_k = Σ_y φ(y)·z(y)^(-k). */
  lazy val poweredTotals: Array[Double] =
    Array.tabulate(maxCachedPower + 1)(k => poweredWeights(k).sum)

  private def poweredWeights(k: Int): Array[Double] = {
    val w = new Array[Double](domainSize)
    var v = 0
    while (v < domainSize) {
      w(v) = probs(v) * math.pow(simNorms(v), -k)
      v += 1
    }
    w
  }

  def poweredTotal(k: Int): Double =
    if (k <= maxCachedPower) poweredTotals(k) else poweredWeights(k).sum

  /** Draw y ~ f_k; O(1) for cached k, O(|V|) fallback for very large
    * clusters (rare — cluster sizes are small in ER workloads). */
  def samplePowered(k: Int, rng: SplittableRandom): Int = {
    if (k <= maxCachedPower) poweredTables(k).sample(rng)
    else AliasTable(poweredWeights(k)).sample(rng)
  }

  def baseWeight(k: Int, v: Int): Double =
    probs(v) * math.pow(simNorms(v), -k)
}

object AttributeIndex {

  /** Hard cap on a matching attribute's dictionary size. ER matching
    * attributes are categorical (names, dates, codes), orders of
    * magnitude smaller than the record count; a free-text or unique-key
    * column would blow up the driver-built dictionary and the
    * O(domain × length-block) neighbor index. Fail fast with a
    * diagnostic instead of an executor/driver OOM. */
  val MaxDomainSize: Int = 1 << 20

  private[er] def requireDomainFits(attrName: String, n: Long): Unit =
    require(n <= MaxDomainSize,
      s"attribute '$attrName' has $n distinct values (cap $MaxDomainSize): " +
        "ER matching attributes must be categorical — this looks like " +
        "free text or a unique key; drop the attribute or bucket it " +
        "before linking")

  /** Build from already-counted (value, count) pairs: the dictionary
    * sorted by value, and the neighbor index of the similarity. Every
    * attribute's counts come from one pass over the records
    * ([[RecordPass]]). */
  def fromCounts(
      spark: SparkSession,
      countedUnsorted: Array[(String, Long)],
      attrId: Int,
      spec: AttributeSpec): AttributeIndex = {
    requireDomainFits(spec.name, countedUnsorted.length.toLong)
    val counted = countedUnsorted.sortBy(_._1)
    val values = counted.map(_._1)
    val counts = counted.map(_._2)
    val n = values.length

    val (nbrs, sims) = spec.similarity match {
      case lev: LevenshteinSimilarity =>
        // the distributed length-blocked self-join earns its shuffle
        // only on big domains; small dictionaries (the common case for
        // matching attributes) compare on the driver with the IDENTICAL
        // codegen kernel — same sims to the bit, several jobs fewer
        if (n <= localNeighborBuildMax) buildNeighborsLocal(values, lev)
        else buildNeighbors(spark, values, lev)
      case jw: JaroWinklerSimilarity =>
        // Jaro-Winkler has NO lossless length-blocking bound (equal-
        // length strings with no common prefix can still clear the
        // threshold), so the neighbor index is all-pairs and only sound
        // on bounded dictionaries — fail loudly rather than silently
        // degrade to constant similarity (which an unmatched case here
        // once did).
        require(n <= localNeighborBuildMax,
          s"attribute '${spec.name}': jaro_winkler similarity needs an " +
            s"all-pairs neighbor build, capped at $localNeighborBuildMax " +
            s"distinct values (got $n) — use levenshtein (length-blocked, " +
            "scales) for large domains")
        buildNeighborsAllPairs(values, jw)
      case _: ConstantSimilarity.type =>
        (Array.fill(n)(Array.empty[Int]), Array.fill(n)(Array.empty[Double]))
      case other =>
        throw new IllegalArgumentException(
          s"attribute '${spec.name}': no neighbor-index strategy for " +
            s"similarity ${other.getClass.getSimpleName} — add one rather " +
            "than silently running with an empty neighborhood")
    }

    new AttributeIndex(attrId, spec.name, spec.similarity, spec.distortionPrior,
      values, counts, nbrs, sims)
  }

  /** Domains at or below this size build the similarity neighborhood on
    * the driver (≤ ~8M candidate pairs before the length prune) — past
    * it, the distributed length-blocked self-join takes over. */
  private val localNeighborBuildMax = 4096

  /** Driver-local ALL-PAIRS neighbor build for similarities with no
    * length-blocking bound (Jaro-Winkler): every pair is evaluated with
    * the similarity's own kernel. Quadratic — callers cap the domain. */
  private[er] def buildNeighborsAllPairs(
      values: Array[String],
      fn: SimilarityFn): (Array[Array[Int]], Array[Array[Double]]) = {
    val n = values.length
    val nbrs = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[(Int, Double)])
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val s = fn.sim(values(i), values(j))
        if (s > 0.0) {
          val e = math.exp(s)
          nbrs(i) += ((j, e))
          nbrs(j) += ((i, e))
        }
        j += 1
      }
      i += 1
    }
    val outN = new Array[Array[Int]](n)
    val outS = new Array[Array[Double]](n)
    i = 0
    while (i < n) {
      val sorted = nbrs(i).sortBy(_._1).toArray
      outN(i) = sorted.map(_._1)
      outS(i) = sorted.map(_._2)
      i += 1
    }
    (outN, outS)
  }

  /** Driver-local neighbor build for small dictionaries: same length-gap
    * prune as the distributed join (pairs wider than
    * `maxLengthGap(shorter)` are provably sub-threshold), same codegen
    * similarity kernel ([[graft.functions.LevenshteinSim.sim]]), so the
    * result is bit-identical to [[buildNeighbors]] — only the job count
    * changes (zero). The pair loop runs on the common fork-join pool
    * ([[LocalNeighbors]]). */
  private[er] def buildNeighborsLocal(
      values: Array[String],
      lev: LevenshteinSimilarity): (Array[Array[Int]], Array[Array[Double]]) =
    LocalNeighbors.levenshtein(values, lev, parallel = true)

  private[er] def buildNeighbors(
      spark: SparkSession,
      values: Array[String],
      lev: LevenshteinSimilarity): (Array[Array[Int]], Array[Array[Double]]) = {
    import spark.implicits._

    val n = values.length
    // lengths in CODE POINTS (driver-computed, carried through the join
    // so both sides compare the same unit): the gap bound is only sound
    // in the similarity kernel's unit — see buildNeighborsLocal
    val vals = spark.createDataset(
      values.zipWithIndex.map { case (v, i) =>
        (i, v, v.codePointCount(0, v.length)) }.toSeq)
      .toDF("vid", "value", "len")

    // Each value emits candidate lengths [len, len + gap]; joining on the
    // partner's exact length covers every pair whose length difference can
    // possibly clear the similarity threshold, in both directions.
    // Similarity itself is the native codegen'd expression (no UDF).
    def simExpr(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.LevenshteinSim.lev_sim(a, b, lev.threshold, lev.maxSimilarity)
    val gapUdf = udf((l: Int) => {
      val g = lev.maxLengthGap(l)
      if (g > 64) 64 else g // defensive cap; θ=0 would otherwise explode
    })

    val a = vals.select(col("vid").as("vida"), col("value").as("va"),
      col("len").as("lena"),
      explode(sequence(col("len"), col("len") + gapUdf(col("len"))))
        .as("candLen"))
    val b = vals.select(col("vid").as("vidb"), col("value").as("vb"),
      col("len").as("lenb"))

    // Join on the partner's exact length; only the SHORTER side can emit
    // the matching candidate length, so a CROSS-length pair arrives in
    // exactly one orientation — a blanket id-order filter would silently
    // drop those whose shorter value has the larger id. EQUAL-length
    // pairs arrive in both orientations, so the id-order dedup applies
    // to them alone: each surviving row is unique, the similarity kernel
    // runs once per pair, and no distinct() shuffle is needed. Both
    // sides of the equal-length test use the SAME driver-computed
    // length column (lena/lenb) — recomputing one side with a different
    // unit once let both orientations through, duplicating pairs.
    val pairs = a.join(b, col("candLen") === col("lenb"))
      .filter(col("lena") =!= col("lenb") ||
        col("vida") < col("vidb"))
      .withColumn("sim", simExpr(col("va"), col("vb")))
      .filter(col("sim") > 0.0)
      .select(least(col("vida"), col("vidb")).as("x"),
        greatest(col("vida"), col("vidb")).as("y"), col("sim"))
      .as[(Int, Int, Double)]
      .collect()

    val nbrs = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[(Int, Double)])
    pairs.foreach { case (i, j, s) =>
      val e = math.exp(s)
      nbrs(i) += ((j, e))
      nbrs(j) += ((i, e))
    }
    val outN = new Array[Array[Int]](n)
    val outS = new Array[Array[Double]](n)
    var i = 0
    while (i < n) {
      val sorted = nbrs(i).sortBy(_._1).toArray
      outN(i) = sorted.map(_._1)
      outS(i) = sorted.map(_._2)
      i += 1
    }
    (outN, outS)
  }
}

/** The driver-local Levenshtein neighbor build
  * ([[AttributeIndex.buildNeighborsLocal]]). Its O(V²) pair loop runs in
  * parallel over the first value of each pair on the common fork-join
  * pool: each value i collects its hits j > i, and the hits are appended
  * in i order, so the sorted lists are the sequential loop's, bit for
  * bit. */
private[er] object LocalNeighbors {

  def levenshtein(
      values: Array[String],
      lev: LevenshteinSimilarity,
      parallel: Boolean): (Array[Array[Int]], Array[Array[Double]]) = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = values.length
    val utf8 = values.map(UTF8String.fromString)
    // lengths in CODE POINTS: the similarity kernel is code-point based,
    // so d >= |Δlen| (the gap bound's soundness) only holds in that
    // unit — a UTF-16 length difference can exceed the edit distance
    // on astral characters and silently prune a real neighbor pair
    val cpLen = values.map(v => v.codePointCount(0, v.length))
    val hits = new Array[Array[(Int, Double)]](n)
    def pairsOf(i: Int): Unit = {
      val li = cpLen(i)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
      var j = i + 1
      while (j < n) {
        val lj = cpLen(j)
        val shorter = math.min(li, lj)
        val gap = lev.maxLengthGap(shorter)
        if (math.abs(li - lj) <= math.min(gap, 64)) {
          val s = graft.functions.LevenshteinSim.sim(
            utf8(i), utf8(j), lev.threshold, lev.maxSimilarity)
          if (s > 0.0) out += ((j, math.exp(s)))
        }
        j += 1
      }
      hits(i) = out.toArray
    }
    if (parallel) java.util.stream.IntStream.range(0, n).parallel().forEach(i => pairsOf(i))
    else (0 until n).foreach(pairsOf)

    val nbrs = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[(Int, Double)])
    var i = 0
    while (i < n) {
      hits(i).foreach { case (j, e) =>
        nbrs(i) += ((j, e))
        nbrs(j) += ((i, e))
      }
      i += 1
    }
    val outN = new Array[Array[Int]](n)
    val outS = new Array[Array[Double]](n)
    i = 0
    while (i < n) {
      val sorted = nbrs(i).sortBy(_._1).toArray
      outN(i) = sorted.map(_._1)
      outS(i) = sorted.map(_._2)
      i += 1
    }
    (outN, outS)
  }
}

/** All attribute indexes + file-level statistics — the broadcastable model
  * context (reference RecordsCache, RecordsCache.scala:34-54). */
final class ModelIndex(
    val attributes: IndexedSeq[AttributeIndex],
    val fileSizes: Map[String, Long],
    val observedCounts: Map[(Int, String), Long],
    val numRecords: Long) extends Serializable {

  def numAttributes: Int = attributes.length

  def priorTheta: DistortionProbs = DistortionProbs(
    (for {
      a <- attributes
      f <- fileSizes.keys
    } yield (a.attrId, f) -> a.distortionPrior.mean).toMap)
}

object ModelIndex {

  /** Build the index of `records` (columns: `fileIdCol` and one column
    * per attribute spec): [[RecordPass]] without the record table. */
  def build(
      spark: SparkSession,
      records: DataFrame,
      fileIdCol: String,
      specs: Seq[AttributeSpec]): ModelIndex =
    RecordPass.run(spark, records, None, col(fileIdCol), specs).index
}
