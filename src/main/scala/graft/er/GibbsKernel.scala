package graft.er

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.er.model._

/** The per-partition Gibbs transition kernel — the engine's "physical
  * operator" (reference capability: GibbsUpdates.scala:124-755, re-derived
  * from the d-blink model of Marchant et al. 2021, JCGS 30(2):406-421).
  *
  * The whole sweep is a pure function of (rng seed, partition contents,
  * broadcast model), so it is deterministic under task retry and
  * repartitioning. It runs once per logical partition, on the map side of
  * the state's shuffle (ERState.step), over that partition's StateBlock and
  * the broadcast RecordTable; partition contents are materialized in heap
  * exactly as the reference does — the entity-space partitioner bounds the
  * per-partition size. θ is read densely, by attribute and file index.
  *
  * Model recap: entity values y ~ φ (empirical); distortion indicators
  * z ~ Bernoulli(θ_{attr,file}); record value x = y if z=0, else
  * x ~ ψ(·|y) ∝ φ(x)·exp(sim(x,y)). Missing x contributes nothing.
  */
object GibbsKernel {

  /** Mutable in-memory view of one partition's state. Records are local
    * indexes r in [0, R): their values (`values(r * A + a)`), file index
    * (θ column) and distortion flags (`distorted(r * A + a)`) are copied
    * out of the record table and the block once per sweep task. */
  final class PartitionState(
      val numAttributes: Int,
      val entities: ArrayBuffer[Array[Int]],    // entity idx -> values
      val recordNumbers: Array[Int],            // record idx -> record number
      val values: Array[Int],                   // record idx * A + attr
      val files: Array[Int],                    // record idx -> file index
      val distorted: Array[Boolean],            // record idx * A + attr
      val assign: Array[Int],                   // record idx -> entity idx
      val links: ArrayBuffer[ArrayBuffer[Int]]) // entity idx -> record idxs
  {
    def numRecords: Int = assign.length
  }

  object PartitionState {

    /** Deterministic load order: entities sorted by smallest member record
      * number (= smallest member id), isolates last by value signature —
      * the order blocks arrive in is not stable, the sweep must be. */
    def fromBlock(block: StateBlock, table: RecordTable): PartitionState = {
      val nA = block.numAttributes
      val nE = block.numEntities
      val linked = (0 until nE).filter(block.size(_) > 0).toArray
      val minMember = new Array[Int](nE)
      linked.foreach { e =>
        var m = block.memberOffsets(e)
        var least = Int.MaxValue
        while (m < block.memberOffsets(e + 1)) {
          least = math.min(least, block.members(m))
          m += 1
        }
        minMember(e) = least
      }
      val order = linked.sortBy(minMember(_)) ++
        (0 until nE).filter(block.size(_) == 0)
          .sortBy(e => java.util.Arrays.toString(block.entity(e)))

      val nR = block.members.length
      val entities = new ArrayBuffer[Array[Int]](nE)
      val links = new ArrayBuffer[ArrayBuffer[Int]](nE)
      val numbers = new Array[Int](nR)
      val values = new Array[Int](nR * nA)
      val files = new Array[Int](nR)
      val distorted = new Array[Boolean](nR * nA)
      val assign = new Array[Int](nR)
      var r = 0
      order.foreach { e =>
        val ent = entities.length
        entities += block.entity(e)
        val ls = new ArrayBuffer[Int](block.size(e))
        var m = block.memberOffsets(e)
        while (m < block.memberOffsets(e + 1)) {
          val num = block.members(m)
          numbers(r) = num
          System.arraycopy(table.values, num * nA, values, r * nA, nA)
          files(r) = table.fileIndex(num)
          var a = 0
          while (a < nA) { distorted(r * nA + a) = block.distorted(m, a); a += 1 }
          assign(r) = ent
          ls += r
          r += 1
          m += 1
        }
        links += ls
      }
      new PartitionState(nA, entities, numbers, values, files, distorted, assign,
        links)
    }
  }

  /** θ as the kernel reads it: `apply(a, f)` for attribute a and file
    * index f, from the dense array of [[RecordTable.denseTheta]]. */
  final class Theta(val probs: Array[Double], val numFiles: Int) extends Serializable {
    @inline def apply(a: Int, f: Int): Double = probs(a * numFiles + f)
  }

  /** Inverted index (attrId, valueId) -> entity idxs, used to prune the
    * record-assignment draw to entities that agree on some non-distorted
    * attribute (reference capability: GibbsUpdates.scala:41-76). */
  private def buildInvertedIndex(
      st: PartitionState, numAttrs: Int): java.util.HashMap[Long, ArrayBuffer[Int]] = {
    val idx = new java.util.HashMap[Long, ArrayBuffer[Int]]()
    var e = 0
    while (e < st.entities.length) {
      val vals = st.entities(e)
      var a = 0
      while (a < numAttrs) {
        val key = postingKey(a, vals(a))
        var lst = idx.get(key)
        if (lst == null) { lst = ArrayBuffer.empty[Int]; idx.put(key, lst) }
        lst += e
        a += 1
      }
      e += 1
    }
    idx
  }

  @inline private def postingKey(attr: Int, value: Int): Long =
    (attr.toLong << 32) | (value.toLong & 0xffffffffL)

  /** Sampler variants (reference ProjectStep.scala:35,53-58 flag triples):
    *  - Gibbs:          indexed assignment, uncollapsed values
    *  - GibbsSequential: index-free O(E) assignment scan, uncollapsed values
    *  - PCG1:           distortion-collapsed assignment, uncollapsed values
    *  - PCG2:           distortion-collapsed assignment AND values
    */
  sealed trait SamplerKind extends Serializable
  case object Gibbs extends SamplerKind
  case object GibbsSequential extends SamplerKind
  case object PCG1 extends SamplerKind
  case object PCG2 extends SamplerKind

  /** One full sweep over clusters (see [[sweepMany]]). */
  def sweep(
      clusters: Array[EntityCluster],
      index: ModelIndex,
      partitioner: EntityPartitioner,
      theta: DistortionProbs,
      rng: SplittableRandom,
      kind: SamplerKind): Iterator[EntityCluster] =
    sweepMany(clusters, index, partitioner, theta, Seq(rng), kind)

  /** Blocked sweeps over one logical partition's block: run one in-memory
    * sweep per supplied RNG, then re-key each entity by the partitioner
    * and return one block per destination partition, entities in their
    * load order. Entities move partitions only at the block boundary, so a
    * block of k sweeps costs ONE shuffle and one action instead of k.
    * Partitioned ER already restricts links to partition-local entities
    * (the d-blink approximation); holding entity placement fixed within a
    * block is the same approximation class, and k=1 reproduces the
    * reference cadence exactly. */
  def sweepBlock(
      block: StateBlock,
      table: RecordTable,
      index: ModelIndex,
      partitioner: EntityPartitioner,
      theta: Theta,
      rngs: Seq[SplittableRandom],
      kind: SamplerKind): Iterator[(Int, StateBlock)] = {
    val st = PartitionState.fromBlock(block, table)
    sweepState(st, index, theta, rngs, kind)
    val nA = index.numAttributes
    val out = new Array[StateBlock.Builder](partitioner.numPartitions)
    var e = 0
    while (e < st.entities.length) {
      val vals = st.entities(e)
      val p = partitioner.partitionOf(vals)
      if (out(p) == null) out(p) = new StateBlock.Builder(nA)
      out(p).entity(vals)
      st.links(e).sorted.foreach(r =>
        out(p).member(st.recordNumbers(r), st.distorted, r * nA))
      e += 1
    }
    out.indices.iterator.filter(out(_) != null).map(p => (p, out(p).result()))
  }

  /** [[sweepBlock]] on clusters, for callers that hold the state as
    * `EntityCluster`s: the records are numbered locally (in id order, as
    * the record table numbers them), and the result comes back as
    * clusters re-keyed by the partitioner, in load order. */
  def sweepMany(
      clusters: Array[EntityCluster],
      index: ModelIndex,
      partitioner: EntityPartitioner,
      theta: DistortionProbs,
      rngs: Seq[SplittableRandom],
      kind: SamplerKind): Iterator[EntityCluster] = {
    val nA = index.numAttributes
    val (table, Array(block)) = StateBlock.fromClusters(nA, clusters, 1, _ => 0)
    val st = PartitionState.fromBlock(block, table)
    sweepState(st, index, new Theta(table.denseTheta(theta), table.files.length),
      rngs, kind)
    Array.tabulate(st.entities.length) { e =>
      val vals = st.entities(e)
      val rs = st.links(e).sorted.map { r =>
        val num = st.recordNumbers(r)
        StateRecord(table.id(num), table.fileId(num),
          st.values.slice(r * nA, (r + 1) * nA),
          st.distorted.slice(r * nA, (r + 1) * nA))
      }.toArray
      EntityCluster(partitioner.partitionOf(vals), vals, rs)
    }.iterator
  }

  private def sweepState(
      st: PartitionState,
      index: ModelIndex,
      theta: Theta,
      rngs: Seq[SplittableRandom],
      kind: SamplerKind): Unit =
    rngs.foreach { rng =>
      updateAssignments(st, index, theta, rng, kind)
      updateEntityValues(st, index, theta, rng, kind == PCG2)
      updateDistortions(st, index, theta, rng)
    }

  // --- record → entity assignment ---------------------------------------

  private def updateAssignments(
      st: PartitionState,
      index: ModelIndex,
      theta: Theta,
      rng: SplittableRandom,
      kind: SamplerKind): Unit = {
    val nA = index.numAttributes
    val inv = if (kind == Gibbs) buildInvertedIndex(st, nA) else null
    // the memoized scan packs the observed-attribute mask into a Long;
    // wider schemas (rare) keep the direct scan rather than failing
    val scratch = kind match {
      case (PCG1 | PCG2) if nA <= 63 => new CollapsedScratch(st, index)
      case _ => null
    }
    var r = 0
    while (r < st.numRecords) {
      val (cands, weights) = kind match {
        case Gibbs => indexedAssignmentWeights(st, inv, index, r)
        case GibbsSequential => sequentialAssignmentWeights(st, index, r)
        case PCG1 | PCG2 =>
          if (scratch != null)
            collapsedAssignmentWeightsFast(st, index, theta, r, scratch)
          else collapsedAssignmentWeights(st, index, theta, r)
      }
      val pick = cands(sampleCategorical(weights, rng))
      val prev = st.assign(r)
      if (pick != prev) {
        st.links(prev) -= r
        st.links(pick) += r
        st.assign(r) = pick
      }
      r += 1
    }
  }

  /** Candidates = intersection (smallest posting list first) over
    * non-distorted observed attributes; weight(e) = Π over distorted
    * observed attrs of exp(sim(x, y_e)) / z(y_e) (the φ(x) factor is
    * constant across entities). Falls back to all entities when every
    * observed attribute is distorted. */
  private[er] def indexedAssignmentWeights(
      st: PartitionState,
      inv: java.util.HashMap[Long, ArrayBuffer[Int]],
      index: ModelIndex,
      r: Int): (Array[Int], Array[Double]) = {
    val nA = index.numAttributes
    val base = r * nA

    var postings: List[ArrayBuffer[Int]] = Nil
    var a = 0
    while (a < nA) {
      if (st.values(base + a) != MissingValue && !st.distorted(base + a)) {
        val lst = inv.get(postingKey(a, st.values(base + a)))
        postings = (if (lst == null) ArrayBuffer.empty[Int] else lst) :: postings
      }
      a += 1
    }

    val cands: Array[Int] =
      if (postings.isEmpty) Array.tabulate(st.entities.length)(identity)
      else {
        // Smallest-first intersection of the posting lists; never empty —
        // the record's current entity matches every non-distorted attribute
        // by the sweep invariant. Lists are ascending (built in entity
        // order), so this is allocation-free merge/galloping intersection —
        // no per-record Set materialization (GC-critical at millions of
        // records per partition).
        val sorted = postings.sortBy(_.length)
        intersectSorted(sorted.head, sorted.tail)
      }

    val weights = new Array[Double](cands.length)
    var i = 0
    while (i < cands.length) {
      val vals = st.entities(cands(i))
      var w = 1.0
      var a2 = 0
      while (a2 < nA) {
        val x = st.values(base + a2)
        if (x != MissingValue && st.distorted(base + a2)) {
          val attr = index.attributes(a2)
          val y = vals(a2)
          w *= attr.expSim(x, y) / attr.simNorms(y)
        }
        a2 += 1
      }
      weights(i) = w
      i += 1
    }
    (cands, weights)
  }

  /** Index-free O(numEntities) scan with the same conditional as the
    * indexed update: hard zero where a non-distorted observed attribute
    * disagrees (reference "Gibbs-Sequential", GibbsUpdates.scala:434-466). */
  private[er] def sequentialAssignmentWeights(
      st: PartitionState,
      index: ModelIndex,
      r: Int): (Array[Int], Array[Double]) = {
    val nA = index.numAttributes
    val base = r * nA
    val cands = Array.tabulate(st.entities.length)(identity)
    val weights = new Array[Double](cands.length)
    var e = 0
    while (e < cands.length) {
      val vals = st.entities(e)
      var w = 1.0
      var a = 0
      while (w > 0.0 && a < nA) {
        val x = st.values(base + a)
        if (x != MissingValue) {
          val y = vals(a)
          if (!st.distorted(base + a)) {
            if (x != y) w = 0.0
          } else {
            val attr = index.attributes(a)
            w *= attr.expSim(x, y) / attr.simNorms(y)
          }
        }
        a += 1
      }
      weights(e) = w
      e += 1
    }
    (cands, weights)
  }

  /** Partially-collapsed variant: distortions integrated out, weight over
    * every entity in the partition via the per-attribute mixture
    * (1-θ)·1{x=y} + θ·ψ(x|y). Direct O(entities × attrs) scan — the
    * reference formulation, kept as the memoized fast path's oracle
    * (spec asserts fast ≡ direct); the sweep itself uses
    * [[collapsedAssignmentWeightsFast]]. */
  private[er] def collapsedAssignmentWeights(
      st: PartitionState,
      index: ModelIndex,
      theta: Theta,
      r: Int): (Array[Int], Array[Double]) = {
    val cands = Array.tabulate(st.entities.length)(identity)
    val weights = new Array[Double](cands.length)
    var e = 0
    while (e < cands.length) {
      weights(e) = directCollapsedWeight(st.entities(e), index, theta, st, r)
      e += 1
    }
    (cands, weights)
  }

  /** One entity's exact collapsed weight (the direct mixture product). */
  @inline private def directCollapsedWeight(
      vals: Array[Int], index: ModelIndex, theta: Theta,
      st: PartitionState, r: Int): Double = {
    val nA = index.numAttributes
    val f = st.files(r)
    var w = 1.0
    var a = 0
    while (a < nA) {
      val x = st.values(r * nA + a)
      if (x != MissingValue) {
        val attr = index.attributes(a)
        val th = theta(a, f)
        val y = vals(a)
        val hit = if (x == y) 1.0 - th else 0.0
        w *= hit + th * attr.distortionProb(x, y)
      }
      a += 1
    }
    w
  }

  /** Per-assignment-phase scratch for the collapsed (PCG) scan. Entity
    * VALUES are fixed during the assignment phase (only links move), so
    * two structures amortize across all records of the sweep:
    * the (attr, value) → entities inverted index, and per observed-
    * attribute-mask arrays of the entity-side default factor
    * Π_{a∈mask} 1/z(y_ea). With those, a record's weight over every
    * entity is one multiply — except entities whose value equals x_a or
    * lies in x_a's similarity neighborhood on some observed attribute
    * (exactly the inverted-index postings), which get the direct exact
    * recompute. Off-neighborhood expSim is EXACTLY 1.0, so the default
    * factorization drops no term; the only difference from the direct
    * scan is float association order (≪1e-12 relative, spec-pinned).
    * Cuts the collapsed sweep from O(records·entities·attrs) index
    * probes to O(records·entities) multiplies + O(neighborhood)
    * corrections — the constant-factor memoization of the per-(attr,
    * value) mixture terms. */
  private[er] final class CollapsedScratch(
      st: PartitionState, index: ModelIndex) {
    require(index.numAttributes <= 63, "observed-mask packs into a Long")
    val inv: java.util.HashMap[Long, ArrayBuffer[Int]] =
      buildInvertedIndex(st, index.numAttributes)
    private val byMask = new java.util.HashMap[java.lang.Long, Array[Double]]()
    // per-record output buffers, reused across the phase (single-
    // threaded per partition): at 10k entities a fresh pair of arrays
    // per record is ~100 MB of allocation per sweep for nothing
    private[GibbsKernel] val candsBuf: Array[Int] =
      Array.tabulate(st.entities.length)(identity)
    private[GibbsKernel] val weightsBuf: Array[Double] =
      new Array[Double](st.entities.length)

    /** Π_{a∈mask} 1/simNorms_a(y_ea) for every entity; built on first
      * use of each observed-attribute mask (a handful of masks per
      * dataset — one per missingness pattern). */
    def defaults(mask: Long): Array[Double] = {
      var arr = byMask.get(mask)
      if (arr == null) {
        val nA = index.numAttributes
        arr = new Array[Double](st.entities.length)
        var e = 0
        while (e < st.entities.length) {
          val vals = st.entities(e)
          var p = 1.0
          var a = 0
          while (a < nA) {
            if ((mask & (1L << a)) != 0L)
              p *= 1.0 / index.attributes(a).simNorms(vals(a))
            a += 1
          }
          arr(e) = p
          e += 1
        }
        byMask.put(mask, arr)
      }
      arr
    }
  }

  /** Memoized collapsed assignment weights — same candidates (every
    * entity) and the same mixture as [[collapsedAssignmentWeights]],
    * computed as broadcast-default × per-(attr, value) ratio patches.
    * A record's mixture term differs from the default factor
    * θ·φ(x)/z(y) ONLY at y ∈ {x} ∪ N(x); those y are exactly the
    * inverted-index postings, and because the per-attribute factors
    * multiply independently, each posting applies ONE ratio multiply
    * per member entity — the ratio is computed once per (attr, value)
    * per record, never per entity. NOTE: the returned arrays are
    * scratch buffers, valid until the next call. */
  private[er] def collapsedAssignmentWeightsFast(
      st: PartitionState,
      index: ModelIndex,
      theta: Theta,
      r: Int,
      scratch: CollapsedScratch): (Array[Int], Array[Double]) = {
    val nA = index.numAttributes
    val base = r * nA
    val f = st.files(r)
    val nE = st.entities.length
    val cands = scratch.candsBuf
    val weights = scratch.weightsBuf
    // record-side constant Π_{a obs} θ_a·φ_a(x_a) and the observed mask
    var cRec = 1.0
    var mask = 0L
    var zeroTheta = false
    var a = 0
    while (a < nA) {
      val x = st.values(base + a)
      if (x != MissingValue) {
        mask |= 1L << a
        val th = theta(a, f)
        if (th == 0.0) zeroTheta = true
        cRec *= th * index.attributes(a).probs(x)
      }
      a += 1
    }
    if (zeroTheta) {
      // θ = 0.0 is reachable (Beta gamma-underflow limit returns exact
      // 0/1): the ratio patch would compute dTrue/dDef = hit/0 = Inf and
      // weights 0·Inf = NaN. The direct mixture is well-defined there
      // (term = 1{x=y} exactly), so fall back to the exact scan for this
      // record, reusing the scratch buffers.
      var e = 0
      while (e < nE) {
        weights(e) = directCollapsedWeight(st.entities(e), index, theta, st, r)
        e += 1
      }
      return (cands, weights)
    }
    if (mask == 0L) { // nothing observed: flat weights
      java.util.Arrays.fill(weights, 1.0)
      return (cands, weights)
    }
    val defs = scratch.defaults(mask)
    var e = 0
    while (e < nE) { weights(e) = cRec * defs(e); e += 1 }
    a = 0
    while (a < nA) {
      val x = st.values(base + a)
      if (x != MissingValue) {
        val attr = index.attributes(a)
        val th = theta(a, f)
        val px = attr.probs(x)
        // one ratio per special value v: true term / default term
        @inline def patch(v: Int, expSim: Double, hit: Double): Unit = {
          val lst = scratch.inv.get(postingKey(a, v))
          if (lst != null) {
            val dDef = th * (px / attr.simNorms(v))
            val dTrue = hit + th * (px * expSim / attr.simNorms(v))
            val ratio = dTrue / dDef
            var i = 0
            while (i < lst.length) { weights(lst(i)) *= ratio; i += 1 }
          }
        }
        patch(x, math.exp(attr.similarity.maxSimilarity), 1.0 - th)
        val ns = attr.neighbors(x)
        val es = attr.neighborExpSims(x)
        var i = 0
        while (i < ns.length) { patch(ns(i), es(i), 0.0); i += 1 }
      }
      a += 1
    }
    (cands, weights)
  }

  // --- entity value resampling ------------------------------------------

  private def updateEntityValues(
      st: PartitionState, index: ModelIndex, theta: Theta,
      rng: SplittableRandom, collapsedValues: Boolean): Unit = {
    val nA = index.numAttributes
    var e = 0
    while (e < st.entities.length) {
      val vals = st.entities(e)
      val linked = st.links(e)
      var a = 0
      while (a < nA) {
        vals(a) =
          if (collapsedValues)
            sampleEntityValueCollapsed(index.attributes(a), a, linked, st, theta, rng)
          else sampleEntityValue(index.attributes(a), a, linked, st, rng)
        a += 1
      }
      e += 1
    }
  }

  /** Conditional of y_a given the linked records: a non-distorted observed
    * link pins y to its value; otherwise p(y) ∝ φ(y)·z(y)^(-m)·Π_i
    * exp(sim(x_i, y)) over the m distorted observed links — sampled exactly
    * via the base/perturbation mixture (base = cached powered alias table;
    * perturbation lives on the union of the x_i's similarity
    * neighborhoods, where the product differs from 1). */
  private[er] def sampleEntityValue(
      attr: AttributeIndex,
      a: Int,
      linked: ArrayBuffer[Int],
      st: PartitionState,
      rng: SplittableRandom): Int = {

    var m = 0
    var pinned = MissingValue
    var x0 = MissingValue
    var distortedXs: ArrayBuffer[Int] = null
    var li = 0
    while (li < linked.length) {
      val i = linked(li) * st.numAttributes + a
      val x = st.values(i)
      if (x != MissingValue) {
        if (!st.distorted(i)) pinned = x
        else {
          m += 1
          if (m == 1) x0 = x
          else {
            if (distortedXs == null) distortedXs = ArrayBuffer(x0)
            distortedXs += x
          }
        }
      }
      li += 1
    }
    if (pinned != MissingValue) return pinned
    if (m == 0) return attr.samplePowered(0, rng)

    if (m == 1) {
      // fast path for the overwhelmingly common single-distorted-link
      // case: support is {x0} ∪ neighbors(x0), already materialized as
      // arrays — no boxed map, no per-draw allocations beyond the two
      // weight arrays
      val ns = attr.neighbors(x0)
      val es = attr.neighborExpSims(x0)
      val support = new Array[Int](ns.length + 1)
      val pertW = new Array[Double](ns.length + 1)
      support(0) = x0
      pertW(0) = attr.baseWeight(1, x0) *
        (math.exp(attr.similarity.maxSimilarity) - 1.0)
      var s = pertW(0)
      var i = 0
      while (i < ns.length) {
        support(i + 1) = ns(i)
        val w = attr.baseWeight(1, ns(i)) * (es(i) - 1.0)
        pertW(i + 1) = w
        s += w
        i += 1
      }
      val t1 = attr.poweredTotal(1)
      return if (rng.nextDouble() * (t1 + s) < t1) attr.samplePowered(1, rng)
      else support(sampleCategorical(pertW, rng))
    }

    // Perturbation support: values where Π exp(sim(x_i, y)) > 1.
    val factor = new java.util.HashMap[Integer, java.lang.Double]()
    def bump(y: Int, e: Double): Unit = {
      val cur = factor.get(y)
      factor.put(y, if (cur == null) e else cur * e)
    }
    distortedXs.foreach { x =>
      bump(x, math.exp(attr.similarity.maxSimilarity))
      val ns = attr.neighbors(x)
      val es = attr.neighborExpSims(x)
      var i = 0
      while (i < ns.length) { bump(ns(i), es(i)); i += 1 }
    }

    val support = new Array[Int](factor.size)
    val pertW = new Array[Double](factor.size)
    var s = 0.0
    var i = 0
    val it = factor.entrySet().iterator()
    while (it.hasNext) {
      val kv = it.next()
      val y = kv.getKey.intValue()
      val w = attr.baseWeight(m, y) * (kv.getValue.doubleValue() - 1.0)
      support(i) = y
      pertW(i) = w
      s += w
      i += 1
    }

    val tm = attr.poweredTotal(m)
    if (rng.nextDouble() * (tm + s) < tm) attr.samplePowered(m, rng)
    else support(sampleCategorical(pertW, rng))
  }

  /** PCG2 variant: distortion indicators integrated out of the value draw —
    * p(y) ∝ φ(y)·Π_i [(1-θ_i)·1{x_i=y} + θ_i·ψ(x_i|y)] over ALL observed
    * linked records (flags ignored). Same base/perturbation mixture: off
    * the union of neighborhoods every factor collapses to θ_i·φ(x_i)/z(y),
    * so the base is the cached powered distribution f_m scaled by the
    * constant C = Π θ_i·φ(x_i). */
  private[er] def sampleEntityValueCollapsed(
      attr: AttributeIndex,
      a: Int,
      linked: ArrayBuffer[Int],
      st: PartitionState,
      theta: Theta,
      rng: SplittableRandom): Int = {

    var m = 0
    var x0 = MissingValue
    var th0 = 0.0
    var xs: ArrayBuffer[Int] = null
    var ths: ArrayBuffer[Double] = null
    var li = 0
    while (li < linked.length) {
      val rec = linked(li)
      val x = st.values(rec * st.numAttributes + a)
      if (x != MissingValue) {
        val th = theta(a, st.files(rec))
        m += 1
        if (m == 1) { x0 = x; th0 = th }
        else {
          if (xs == null) { xs = ArrayBuffer(x0); ths = ArrayBuffer(th0) }
          xs += x; ths += th
        }
      }
      li += 1
    }
    if (m == 0) return attr.samplePowered(0, rng)

    if (m == 1) {
      // single observed link: support {x0} ∪ neighbors(x0) as arrays,
      // factors from the precomputed neighbor exp-sims — no boxed set
      val c = th0 * attr.probs(x0)
      val ns = attr.neighbors(x0)
      val es = attr.neighborExpSims(x0)
      val support = new Array[Int](ns.length + 1)
      val pertW = new Array[Double](ns.length + 1)
      var s = 0.0
      var j = 0
      while (j < ns.length + 1) {
        val y = if (j == 0) x0 else ns(j - 1)
        val zy = attr.simNorms(y)
        val expSim = if (j == 0) math.exp(attr.similarity.maxSimilarity)
          else es(j - 1)
        val hit = if (j == 0) 1.0 - th0 else 0.0
        val full = attr.probs(y) * (hit + th0 * attr.probs(x0) * expSim / zy)
        val w = full - c * attr.baseWeight(1, y)
        support(j) = y
        pertW(j) = math.max(w, 0.0) // guard fp round-off
        s += pertW(j)
        j += 1
      }
      val baseMass1 = c * attr.poweredTotal(1)
      return if (rng.nextDouble() * (baseMass1 + s) < baseMass1)
        attr.samplePowered(1, rng)
      else support(sampleCategorical(pertW, rng))
    }

    var c = 1.0
    var i = 0
    while (i < m) { c *= ths(i) * attr.probs(xs(i)); i += 1 }

    // support where any factor differs from its default
    val union = new java.util.HashSet[Integer]()
    i = 0
    while (i < m) {
      union.add(xs(i))
      attr.neighbors(xs(i)).foreach(n => union.add(n))
      i += 1
    }

    val support = new Array[Int](union.size)
    val pertW = new Array[Double](union.size)
    var s = 0.0
    var j = 0
    val it = union.iterator()
    while (it.hasNext) {
      val y = it.next().intValue()
      val zy = attr.simNorms(y)
      var full = attr.probs(y)
      i = 0
      while (i < m) {
        val hit = if (xs(i) == y) 1.0 - ths(i) else 0.0
        full *= hit + ths(i) * attr.probs(xs(i)) * attr.expSim(xs(i), y) / zy
        i += 1
      }
      val w = full - c * attr.baseWeight(m, y)
      support(j) = y
      pertW(j) = math.max(w, 0.0) // guard fp round-off
      s += pertW(j)
      j += 1
    }

    val baseMass = c * attr.poweredTotal(m)
    if (rng.nextDouble() * (baseMass + s) < baseMass) attr.samplePowered(m, rng)
    else support(sampleCategorical(pertW, rng))
  }

  // --- distortion indicator resampling ----------------------------------

  private def updateDistortions(
      st: PartitionState,
      index: ModelIndex,
      theta: Theta,
      rng: SplittableRandom): Unit = {
    val nA = index.numAttributes
    var r = 0
    while (r < st.numRecords) {
      val f = st.files(r)
      val entityVals = st.entities(st.assign(r))
      var a = 0
      while (a < nA) {
        st.distorted(r * nA + a) =
          sampleDistortion(index.attributes(a), theta(a, f),
            st.values(r * nA + a), entityVals(a), rng)
        a += 1
      }
      r += 1
    }
  }

  /** z | x, y, θ: forced true on disagreement; Bernoulli-with-odds
    * θ·ψ(x|y) : (1-θ) on agreement; false (by convention — no likelihood
    * contribution) when x is missing. */
  private[er] def sampleDistortion(
      attr: AttributeIndex, theta: Double, x: Int, y: Int,
      rng: SplittableRandom): Boolean = {
    if (x == MissingValue) false
    else if (x != y) true
    else {
      val pDist = theta * attr.distortionProb(x, y)
      val p = pDist / (pDist + (1.0 - theta))
      rng.nextDouble() < p
    }
  }

  /** Intersect ascending int lists: walk the smallest, binary-search the
    * rest. */
  private[er] def intersectSorted(
      smallest: ArrayBuffer[Int], rest: List[ArrayBuffer[Int]]): Array[Int] = {
    if (rest.isEmpty) return smallest.toArray
    val out = ArrayBuffer.empty[Int]
    var i = 0
    while (i < smallest.length) {
      val e = smallest(i)
      var ok = true
      var ls = rest
      while (ok && ls.nonEmpty) {
        if (binarySearch(ls.head, e) < 0) ok = false
        ls = ls.tail
      }
      if (ok) out += e
      i += 1
    }
    out.toArray
  }

  private def binarySearch(xs: ArrayBuffer[Int], key: Int): Int = {
    var lo = 0
    var hi = xs.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = xs(mid)
      if (v < key) lo = mid + 1
      else if (v > key) hi = mid - 1
      else return mid
    }
    -1
  }

  // --- shared helpers ----------------------------------------------------

  private[er] def sampleCategorical(
      weights: Array[Double], rng: SplittableRandom): Int = {
    var total = 0.0
    var i = 0
    while (i < weights.length) { total += weights(i); i += 1 }
    if (total <= 0.0) return rng.nextInt(weights.length)
    var u = rng.nextDouble() * total
    i = 0
    while (i < weights.length - 1) {
      u -= weights(i)
      if (u <= 0.0) return i
      i += 1
    }
    weights.length - 1
  }
}
