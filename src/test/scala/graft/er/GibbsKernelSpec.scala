package graft.er

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.{ConstantSimilarity, LevenshteinSimilarity}
import graft.er.model._

/** Statistical micro-fixtures for the Gibbs conditionals (FIXTURES.md §6):
  * each sampled conditional's empirical distribution is compared against
  * exact enumeration on tiny states. */
class GibbsKernelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def levIndex: AttributeIndex = {
    import spark.implicits._
    val df = Seq.fill(4)("ANNA") ++ Seq.fill(3)("ANNE") ++ Seq.fill(2)("BOB") ++
      Seq("BORIS")
    AttributeIndexSpec.attributeIndex(spark, df.toDF("name"),
      AttributeSpec("name", LevenshteinSimilarity(5.0, 10.0), BetaParams(0.5, 50.0)))
  }

  test("sampleDistortion matches the analytic posterior") {
    val idx = levIndex
    val theta = 0.3
    val x = idx.idOf("ANNA")
    // agreement case: p(z=1) = θψ(x|x) / (θψ(x|x) + (1-θ))
    val psi = idx.distortionProb(x, x)
    val expected = theta * psi / (theta * psi + (1 - theta))
    val rng = new SplittableRandom(5L)
    val n = 200000
    var hits = 0
    (0 until n).foreach { _ =>
      if (GibbsKernel.sampleDistortion(idx, theta, x, x, rng)) hits += 1
    }
    assert(math.abs(hits.toDouble / n - expected) < 0.005,
      s"got ${hits.toDouble / n} want $expected")
    // disagreement forces distortion; missing forces none
    assert(GibbsKernel.sampleDistortion(idx, theta, x, idx.idOf("BOB"), rng))
    assert(!GibbsKernel.sampleDistortion(idx, theta, MissingValue, x, rng))
  }

  /** A one-attribute partition state: record r has value `recs(r)._1`
    * and distortion flag `recs(r)._2`, in file 0, and belongs to
    * `assign(r)`. */
  private def stateOf(
      entities: ArrayBuffer[Array[Int]], recs: Seq[(Int, Boolean)],
      assign: Array[Int]): GibbsKernel.PartitionState =
    new GibbsKernel.PartitionState(1, entities, recs.indices.toArray,
      recs.map(_._1).toArray, Array.fill(recs.length)(0),
      recs.map(_._2).toArray, assign,
      ArrayBuffer.tabulate(entities.length)(e =>
        ArrayBuffer(assign.indices.filter(assign(_) == e): _*)))

  private def singletonState(
      idx: AttributeIndex, recs: Seq[(String, Int, Boolean)]): GibbsKernel.PartitionState =
    // one entity holding all records
    stateOf(ArrayBuffer(Array(idx.idOf("ANNA"))),
      recs.map { case (_, v, d) => (v, d) }, Array.fill(recs.length)(0))

  private def theta(p: Double) = new GibbsKernel.Theta(Array(p), 1)

  test("sampleEntityValue: non-distorted link pins the value") {
    val idx = levIndex
    val st = singletonState(idx, Seq(("r1", idx.idOf("ANNE"), false)))
    val rng = new SplittableRandom(1L)
    (0 until 100).foreach { _ =>
      assert(GibbsKernel.sampleEntityValue(idx, 0, st.links(0), st, rng) ==
        idx.idOf("ANNE"))
    }
  }

  test("sampleEntityValue: no links draws from the empirical prior") {
    val idx = levIndex
    val st = singletonState(idx, Seq.empty)
    val rng = new SplittableRandom(2L)
    val n = 200000
    val counts = new Array[Long](idx.domainSize)
    (0 until n).foreach { _ =>
      counts(GibbsKernel.sampleEntityValue(idx, 0, ArrayBuffer.empty[Int], st, rng)) += 1
    }
    (0 until idx.domainSize).foreach { v =>
      assert(math.abs(counts(v).toDouble / n - idx.probs(v)) < 0.005, s"v=$v")
    }
  }

  test("sampleEntityValue: distorted links yield the exact posterior") {
    val idx = levIndex
    val xs = Seq(idx.idOf("ANNA"), idx.idOf("ANNE")) // two distorted links
    val st = singletonState(idx, xs.zipWithIndex.map { case (x, i) => (s"r$i", x, true) })
    // enumerate the target: w(y) ∝ φ(y)·z(y)^-2·Π exp(sim(x_i, y))
    val target = (0 until idx.domainSize).map { y =>
      idx.probs(y) * math.pow(idx.simNorms(y), -2) *
        xs.map(x => idx.expSim(x, y)).product
    }
    val z = target.sum
    val rng = new SplittableRandom(3L)
    val n = 300000
    val counts = new Array[Long](idx.domainSize)
    (0 until n).foreach { _ =>
      counts(GibbsKernel.sampleEntityValue(idx, 0, st.links(0), st, rng)) += 1
    }
    (0 until idx.domainSize).foreach { y =>
      assert(math.abs(counts(y).toDouble / n - target(y) / z) < 0.006,
        s"y=${idx.values(y)} got ${counts(y).toDouble / n} want ${target(y) / z}")
    }
  }

  test("indexed assignment candidates honor non-distorted agreement") {
    val idx = levIndex
    // entities: ANNA, ANNE, BOB; record observed=ANNA non-distorted
    val entities = ArrayBuffer(
      Array(idx.idOf("ANNA")), Array(idx.idOf("ANNE")), Array(idx.idOf("BOB")))
    val st = stateOf(entities, Seq((idx.idOf("ANNA"), false)), Array(0))
    val inv = {
      val m = new java.util.HashMap[Long, ArrayBuffer[Int]]()
      entities.zipWithIndex.foreach { case (vals, e) =>
        val key = (0L << 32) | (vals(0).toLong & 0xffffffffL)
        var lst = m.get(key)
        if (lst == null) { lst = ArrayBuffer.empty[Int]; m.put(key, lst) }
        lst += e
      }
      m
    }
    val (cands, _) = GibbsKernel.indexedAssignmentWeights(st, inv, mkModel(idx), 0)
    assert(cands.toSeq == Seq(0)) // only the ANNA entity matches
  }

  test("collapsed assignment weights match the analytic mixture") {
    val idx = levIndex
    val entities = ArrayBuffer(
      Array(idx.idOf("ANNA")), Array(idx.idOf("ANNE")), Array(idx.idOf("BOB")))
    val st = stateOf(entities, Seq((idx.idOf("ANNA"), false)), Array(0))
    val (cands, w) = GibbsKernel.collapsedAssignmentWeights(st, mkModel(idx), theta(0.2), 0)
    assert(cands.length == 3)
    val x = idx.idOf("ANNA")
    entities.zipWithIndex.foreach { case (vals, e) =>
      val y = vals(0)
      val expected = (if (x == y) 0.8 else 0.0) + 0.2 * idx.distortionProb(x, y)
      assert(math.abs(w(e) - expected) < 1e-12, s"entity $e")
    }
  }

  test("sequential assignment agrees with indexed candidates") {
    val idx = levIndex
    val entities = ArrayBuffer(
      Array(idx.idOf("ANNA")), Array(idx.idOf("ANNE")), Array(idx.idOf("BOB")))
    val st = stateOf(entities, Seq((idx.idOf("ANNA"), false)), Array(0))
    val (cands, w) = GibbsKernel.sequentialAssignmentWeights(st, mkModel(idx), 0)
    assert(cands.length == 3)
    // non-distorted ANNA: only entity 0 gets non-zero weight
    assert(w(0) > 0.0 && w(1) == 0.0 && w(2) == 0.0)

    // distorted record: every entity weighted by expSim/z
    val stD = stateOf(entities, Seq((idx.idOf("ANNA"), true)), Array(0))
    val (_, wd) = GibbsKernel.sequentialAssignmentWeights(stD, mkModel(idx), 0)
    entities.zipWithIndex.foreach { case (vals, e) =>
      val expected = idx.expSim(idx.idOf("ANNA"), vals(0)) / idx.simNorms(vals(0))
      assert(math.abs(wd(e) - expected) < 1e-12, s"entity $e")
    }
  }

  test("collapsed entity-value draw matches the exact collapsed posterior") {
    val idx = levIndex
    // two observed links: ANNA (flag irrelevant), ANNE
    val st = singletonState(idx,
      Seq(("r0", idx.idOf("ANNA"), false), ("r1", idx.idOf("ANNE"), true)))
    val xs = Seq(idx.idOf("ANNA"), idx.idOf("ANNE"))
    val th = 0.25
    val target = (0 until idx.domainSize).map { y =>
      idx.probs(y) * xs.map { x =>
        (if (x == y) 1.0 - th else 0.0) + th * idx.distortionProb(x, y)
      }.product
    }
    val z = target.sum
    val rng = new SplittableRandom(17L)
    val n = 300000
    val counts = new Array[Long](idx.domainSize)
    (0 until n).foreach { _ =>
      counts(GibbsKernel.sampleEntityValueCollapsed(idx, 0, st.links(0), st,
        theta(0.25), rng)) += 1
    }
    (0 until idx.domainSize).foreach { y =>
      assert(math.abs(counts(y).toDouble / n - target(y) / z) < 0.006,
        s"y=${idx.values(y)} got ${counts(y).toDouble / n} want ${target(y) / z}")
    }
  }

  test("intersectSorted matches set intersection") {
    def ab(xs: Int*) = ArrayBuffer(xs: _*)
    assert(GibbsKernel.intersectSorted(ab(1, 3, 5), List(ab(1, 2, 3, 4, 5))).toSeq ==
      Seq(1, 3, 5))
    assert(GibbsKernel.intersectSorted(ab(2, 4), List(ab(1, 3, 5))).toSeq == Seq())
    assert(GibbsKernel.intersectSorted(ab(7), List(ab(1, 7, 9), ab(7))).toSeq == Seq(7))
    assert(GibbsKernel.intersectSorted(ab(1, 2), Nil).toSeq == Seq(1, 2))
  }

  test("sweep preserves records and population, and is deterministic") {
    val idx = levIndex
    val model = mkModel(idx)
    val theta = DistortionProbs(Map((0, "0") -> 0.1))
    val clusters = Array(
      EntityCluster(0, Array(idx.idOf("ANNA")), Array(
        StateRecord("r1", "0", Array(idx.idOf("ANNA")), Array(false)),
        StateRecord("r2", "0", Array(idx.idOf("ANNE")), Array(true)))),
      EntityCluster(0, Array(idx.idOf("BOB")), Array(
        StateRecord("r3", "0", Array(idx.idOf("BOB")), Array(false)))),
      EntityCluster(0, Array(idx.idOf("BORIS")), Array.empty))

    def runSweep(seed: Long) = GibbsKernel.sweep(
      clusters.map(c => c.copy(
        entityValues = c.entityValues.clone(),
        records = c.records.map(r => r.copy(values = r.values.clone(),
          distorted = r.distorted.clone())))),
      model, SinglePartition, theta, new SplittableRandom(seed), GibbsKernel.Gibbs).toArray

    val out1 = runSweep(99L)
    val out2 = runSweep(99L)
    assert(out1.length == clusters.length) // population preserved
    assert(out1.flatMap(_.records.map(_.id)).sorted.toSeq == Seq("r1", "r2", "r3"))
    // deterministic given the seed
    assert(out1.map(c => (c.entityValues.toSeq, c.records.map(_.id).toSeq)).toSeq ==
      out2.map(c => (c.entityValues.toSeq, c.records.map(_.id).toSeq)).toSeq)
  }

  private def mkModel(idx: AttributeIndex): ModelIndex =
    new ModelIndex(IndexedSeq(idx), Map("0" -> 10L),
      Map((0, "0") -> 10L), 10L)

  test("memoized collapsed weights == direct scan (randomized states)") {
    val idx = levIndex
    val model = mkModel(idx)
    val th = theta(0.23)
    val rng = new SplittableRandom(17L)
    (1 to 20).foreach { trial =>
      val nE = 1 + rng.nextInt(12)
      val entities = ArrayBuffer.tabulate(nE)(_ =>
        Array(rng.nextInt(idx.domainSize)))
      // records: random values, occasional missing
      val recs = Seq.fill(6) {
        val v = if (rng.nextInt(5) == 0) MissingValue
          else rng.nextInt(idx.domainSize)
        (v, rng.nextBoolean())
      }
      val st = stateOf(entities, recs, Array.fill(recs.length)(0))
      val scratch = new GibbsKernel.CollapsedScratch(st, model)
      recs.indices.foreach { rec =>
        val (cd, wd) =
          GibbsKernel.collapsedAssignmentWeights(st, model, th, rec)
        val (cf, wf) = GibbsKernel.collapsedAssignmentWeightsFast(
          st, model, th, rec, scratch)
        assert(cd.toSeq == cf.toSeq, s"trial $trial cands")
        cd.indices.foreach { e =>
          assert(math.abs(wd(e) - wf(e)) <=
            1e-12 * math.max(1.0, math.abs(wd(e))),
            s"trial $trial entity $e: direct ${wd(e)} fast ${wf(e)}")
        }
      }
    }
  }

  test("memoized collapsed weights: theta == 0.0 yields no NaN (== direct)") {
    // θ = 0.0 is reachable (nextBeta returns exact 0/1 in the gamma-
    // underflow limit). The ratio patch's default term is 0 there, so
    // ratio = hit/0 = Inf and weight 0·Inf = NaN unless the kernel
    // falls back to the direct mixture (term = 1{x=y} exactly).
    val idx = levIndex
    val model = mkModel(idx)
    val th = theta(0.0)
    val entities = ArrayBuffer(
      Array(idx.idOf("ANNA")), Array(idx.idOf("ANNE")), Array(idx.idOf("BOB")))
    val st = stateOf(entities,
      Seq((idx.idOf("ANNA"), false), (idx.idOf("BOB"), false)), Array(0, 0))
    val scratch = new GibbsKernel.CollapsedScratch(st, model)
    (0 until 2).foreach { rec =>
      val (_, wd) =
        GibbsKernel.collapsedAssignmentWeights(st, model, th, rec)
      val (_, wf) = GibbsKernel.collapsedAssignmentWeightsFast(
        st, model, th, rec, scratch)
      wd.indices.foreach { e =>
        assert(!wf(e).isNaN, s"entity $e: fast weight is NaN")
        assert(wd(e) == wf(e), s"entity $e: direct ${wd(e)} fast ${wf(e)}")
      }
      // at θ=0 the weight is the exact-match indicator product
      assert(wf.count(_ > 0.0) == 1)
    }
  }
}
