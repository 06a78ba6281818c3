package graft.er

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.{ConstantSimilarity, LevenshteinSimilarity}
import graft.er.model._

class AttributeIndexSpec extends AnyFunSuite {
  import AttributeIndexSpec._

  lazy val spark = TestSpark.spark

  private val states = Seq(
    "New South Wales", "Victoria", "Queensland", "South Australia",
    "Western Australia", "Tasmania", "Northern Territory",
    "Australian Capital Territory")

  private def statesDf = {
    import spark.implicits._
    // weight by repetition: value i appears (i+1) times
    states.zipWithIndex.flatMap { case (s, i) => Seq.fill(i + 1)(s) }
      .toDF("state")
  }

  test("oversized (free-text) attribute domains fail fast with a diagnostic") {
    val e = intercept[IllegalArgumentException] {
      AttributeIndex.requireDomainFits("notes",
        AttributeIndex.MaxDomainSize + 1L)
    }
    assert(e.getMessage.contains("notes"))
    assert(e.getMessage.contains("categorical"))
    // at the cap is fine
    AttributeIndex.requireDomainFits("ok", AttributeIndex.MaxDomainSize.toLong)
  }

  test("dictionary is sorted and ids round-trip") {
    val idx = attributeIndex(spark, statesDf,
      AttributeSpec("state", ConstantSimilarity, BetaParams(1.0, 1.0)))
    assert(idx.values.toSeq == states.sorted)
    states.foreach { s => assert(idx.values(idx.idOf(s)) == s) }
    assert(idx.idOf("Nowhere") == MissingValue)
    assert(idx.idOf(null) == MissingValue)
  }

  test("empirical distribution matches counts") {
    val idx = attributeIndex(spark, statesDf,
      AttributeSpec("state", ConstantSimilarity, BetaParams(1.0, 1.0)))
    val total = (1 to states.length).sum.toDouble
    states.zipWithIndex.foreach { case (s, i) =>
      assert(math.abs(idx.probs(idx.idOf(s)) - (i + 1) / total) < 1e-12)
    }
    assert(math.abs(idx.probs.sum - 1.0) < 1e-9)
  }

  test("constant similarity: no neighbors, unit norms") {
    val idx = attributeIndex(spark, statesDf,
      AttributeSpec("state", ConstantSimilarity, BetaParams(1.0, 1.0)))
    assert(idx.neighbors.forall(_.isEmpty))
    assert(idx.simNorms.forall(z => math.abs(z - 1.0) < 1e-12))
    assert(idx.expSim(0, 1) == 1.0)
    assert(idx.expSim(2, 2) == 1.0) // exp(0)
  }

  test("levenshtein neighbors match brute force") {
    val fn = LevenshteinSimilarity(5.0, 10.0)
    val idx = attributeIndex(spark, statesDf,
      AttributeSpec("state", fn, BetaParams(1.0, 1.0)))
    // brute-force all pairs
    for (i <- states.indices; j <- states.indices if i != j) {
      val a = idx.values(i)
      val b = idx.values(j)
      val s = fn.sim(a, b)
      val inNbr = idx.neighbors(i).contains(j)
      assert(inNbr == (s > 0.0), s"pair ($a, $b) sim=$s")
      if (inNbr) {
        assert(math.abs(idx.expSim(i, j) - math.exp(s)) < 1e-9)
      } else {
        assert(idx.expSim(i, j) == 1.0)
      }
    }
    // self-similarity is exp(maxSim)
    assert(math.abs(idx.expSim(3, 3) - math.exp(10.0)) < 1e-6)
  }

  test("distributed neighbor join == driver-local build (adversarial orientation)") {
    // "ARKANSAS" sorts BEFORE "KANSAS" but is LONGER: only the shorter
    // side can emit the matching candidate length, so an id-order filter
    // inside the join would drop the pair. Both paths must agree with
    // brute force on a dictionary full of such cross-length pairs.
    val fn = LevenshteinSimilarity(5.0, 10.0)
    val values = Array("ARKANSAS", "KANSAS", "AAB", "AB", "B",
      "CARLOS", "RLOS", "ZZKANSAS", "ANSAS").sorted
    val (ln, ls) = AttributeIndex.buildNeighborsLocal(values, fn)
    val (dn, ds) = AttributeIndex.buildNeighbors(spark, values, fn)
    for (i <- values.indices) {
      assert(dn(i).toSeq == ln(i).toSeq, s"neighbors of ${values(i)}")
      assert(ds(i).toSeq == ls(i).toSeq, s"sims of ${values(i)}")
      val expected = values.indices
        .filter(j => j != i && fn.sim(values(i), values(j)) > 0.0)
      assert(ln(i).toSeq == expected, s"brute force for ${values(i)}")
    }
    // the adversarial pair really is a neighbor pair
    val ark = values.indexOf("ARKANSAS")
    val kan = values.indexOf("KANSAS")
    assert(ln(ark).contains(kan) && ark < kan)
  }

  test("distributed neighbor join emits astral-char pairs exactly once") {
    // "𝐀BCD" (MATHEMATICAL BOLD CAPITAL A + BCD) is 5 UTF-16
    // units but 4 code points; "XBCDE" is 5 of both. The driver builds
    // lenb from String#length (UTF-16), so an equal-length test that
    // recomputes side a's length with Spark's length() (code points)
    // sees 4 != 5 and lets BOTH join orientations through — duplicating
    // the neighbor entry and double-counting its simNorm term. Both
    // sides must compare the SAME unit (the driver UTF-16 length).
    val fn = LevenshteinSimilarity(5.0, 10.0)
    val values = Array("𝐀BCD", "XBCDE", "QQQQQQQQQQQQ").sorted
    val (ln, ls) = AttributeIndex.buildNeighborsLocal(values, fn)
    val (dn, ds) = AttributeIndex.buildNeighbors(spark, values, fn)
    for (i <- values.indices) {
      assert(dn(i).toSeq == ln(i).toSeq, s"neighbors of ${values(i)}")
      assert(ds(i).toSeq == ls(i).toSeq, s"sims of ${values(i)}")
      assert(dn(i).distinct.length == dn(i).length,
        s"duplicate neighbor entries for ${values(i)}")
    }
    // the astral pair really is a neighbor pair (sim > 0 both builds)
    val a = values.indexOf("𝐀BCD")
    assert(ln(a).nonEmpty && dn(a).length == 1)
  }

  test("length-gap prune is code-point sound (astral pairs not dropped)") {
    // "abcdefghij" (10 code points = 10 UTF-16 units) vs six astral
    // chars + "abcdefghij" (16 code points but 22 UTF-16 units): edit
    // distance 6, sim > 0 at θ=5 — a REAL neighbor pair. The gap bound
    // maxLengthGap(10) = 10 covers the code-point diff (6) but not the
    // UTF-16 diff (12), so a UTF-16-length prune silently drops the
    // pair from BOTH the local and the distributed build — invisible to
    // their parity check, only brute force catches it.
    val fn = LevenshteinSimilarity(5.0, 10.0)
    val astral6 = (0 until 6).map(i =>
      new String(Character.toChars(0x1D400 + i))).mkString
    val values = Array("abcdefghij", astral6 + "abcdefghij", "zzz").sorted
    assert(fn.sim(values.find(_.length == 10).get,
      values.find(_.length == 22).get) > 0.0) // the pair really qualifies
    val (ln, _) = AttributeIndex.buildNeighborsLocal(values, fn)
    val (dn, _) = AttributeIndex.buildNeighbors(spark, values, fn)
    for (i <- values.indices) {
      val expected = values.indices
        .filter(j => j != i && fn.sim(values(i), values(j)) > 0.0)
      assert(ln(i).toSeq == expected,
        s"local build vs brute force for ${values(i)}")
      assert(dn(i).toSeq == expected,
        s"distributed build vs brute force for ${values(i)}")
    }
  }

  test("parallel local neighbor build == sequential (randomized, astral chars)") {
    // short strings over a small alphabet with astral letters mixed in,
    // so many pairs clear the threshold and code-point and UTF-16
    // lengths disagree; the parallel pair loop must return exactly the
    // sequential lists, sims to the bit
    val alphabet = Vector("A", "B", "C", "D", "E") ++
      (0 until 3).map(i => new String(Character.toChars(0x1D400 + i)))
    val rng = new java.util.SplittableRandom(8080L)
    (1 to 8).foreach { trial =>
      val size = 50 + rng.nextInt(250)
      val values = Array.fill(size)(
        (0 until 2 + rng.nextInt(7)).map(_ => alphabet(rng.nextInt(alphabet.length)))
          .mkString).distinct.sorted
      val fn = LevenshteinSimilarity(3.0 + rng.nextInt(5), 10.0)
      val (pn, ps) = LocalNeighbors.levenshtein(values, fn, parallel = true)
      val (sn, ss) = LocalNeighbors.levenshtein(values, fn, parallel = false)
      assert(pn.map(_.toSeq).toSeq == sn.map(_.toSeq).toSeq, s"trial $trial neighbors")
      assert(ps.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq ==
        ss.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq,
        s"trial $trial sims")
      assert(pn.exists(_.nonEmpty), s"trial $trial has no neighbor pairs")
    }
  }

  test("simNorm equals direct sum over the domain") {
    val fn = LevenshteinSimilarity(5.0, 10.0)
    val idx = attributeIndex(spark, statesDf,
      AttributeSpec("state", fn, BetaParams(1.0, 1.0)))
    for (v <- states.indices) {
      val direct = states.indices.map { w =>
        idx.probs(w) * math.exp(fn.sim(idx.values(v), idx.values(w)))
      }.sum
      assert(math.abs(idx.simNorms(v) - direct) < 1e-9, s"value $v")
    }
  }

  test("distortion density sums to one given any entity value") {
    val fn = LevenshteinSimilarity(5.0, 10.0)
    val idx = attributeIndex(spark, statesDf,
      AttributeSpec("state", fn, BetaParams(1.0, 1.0)))
    for (y <- states.indices) {
      val total = states.indices.map(x => idx.distortionProb(x, y)).sum
      assert(math.abs(total - 1.0) < 1e-9, s"y=$y total=$total")
    }
  }

  test("powered totals match direct computation") {
    val fn = LevenshteinSimilarity(5.0, 10.0)
    val idx = attributeIndex(spark, statesDf,
      AttributeSpec("state", fn, BetaParams(1.0, 1.0)))
    for (k <- 0 to 3) {
      val direct = states.indices.map { v =>
        idx.probs(v) * math.pow(idx.simNorms(v), -k)
      }.sum
      assert(math.abs(idx.poweredTotal(k) - direct) < 1e-9, s"k=$k")
    }
  }

  test("ModelIndex collects file statistics") {
    import spark.implicits._
    val df = Seq(
      ("r1", "A", "x", "p"), ("r2", "A", "y", null), ("r3", "B", "x", "q"))
      .toDF("id", "file", "c1", "c2")
    val specs = Seq(
      AttributeSpec("c1", ConstantSimilarity, BetaParams(1.0, 1.0)),
      AttributeSpec("c2", ConstantSimilarity, BetaParams(1.0, 1.0)))
    val mi = ModelIndex.build(spark, df, "file", specs)
    assert(mi.numRecords == 3)
    assert(mi.fileSizes == Map("A" -> 2L, "B" -> 1L))
    assert(mi.observedCounts((0, "A")) == 2L)
    assert(mi.observedCounts((1, "A")) == 1L)
    assert(mi.observedCounts((1, "B")) == 1L)
  }
}

object AttributeIndexSpec {

  /** The index of the one attribute in `column`'s single column, built by
    * `ModelIndex.build` with every record in one file. */
  def attributeIndex(spark: SparkSession, column: DataFrame,
      spec: AttributeSpec): AttributeIndex =
    ModelIndex.build(spark, column.toDF(spec.name).withColumn("__file", lit("0")),
      "__file", Seq(spec)).attributes(0)
}
