package graft.er

import graft.er.model._

/** The per-sweep SummaryVars as a plain fold: `fold` runs once per
  * partition on the executor, and the driver `merge`s the partials in
  * partition order (ERState.summarize). This replaces the reference's
  * AccumulatorV2 map-accumulators, which double-count under task retry:
  * a retried task recomputes its partition's partial, and the empty
  * state folds to `zero`. Counts are dense arrays (attribute × file
  * index, distorted-attribute count) while folding; the partial keeps
  * only the non-zero cells, keyed by file id.
  */
private[er] object SummaryAggregator {

  val zero: SummaryVars = SummaryVars(0L, 0L, 0.0, Map.empty, Map.empty)

  def fold(
      blocks: Iterator[StateBlock],
      table: RecordTable,
      idx: ModelIndex,
      theta: GibbsKernel.Theta): SummaryVars = {
    val nA = idx.numAttributes
    val nF = table.files.length
    var observed = 0L
    var isolates = 0L
    var logLik = 0.0
    val aggDist = new Array[Long](nA * nF)
    val recDist = new Array[Long](nA + 1)

    blocks.foreach { b =>
      var e = 0
      while (e < b.numEntities) {
        val ev = e * nA
        var a = 0
        while (a < nA) {
          logLik += math.log(idx.attributes(a).probs(b.entityValues(ev + a)))
          a += 1
        }
        var m = b.memberOffsets(e)
        while (m < b.memberOffsets(e + 1)) {
          val r = b.members(m)
          val f = table.fileIndex(r)
          var nDist = 0
          a = 0
          while (a < nA) {
            val x = table.values(r * nA + a)
            if (x != MissingValue) {
              val th = theta(a, f)
              if (b.distorted(m, a)) {
                nDist += 1
                aggDist(a * nF + f) += 1
                logLik += math.log(th) +
                  math.log(idx.attributes(a).distortionProb(x, b.entityValues(ev + a)))
              } else {
                logLik += math.log(1.0 - th)
              }
            }
            a += 1
          }
          recDist(nDist) += 1
          m += 1
        }
        if (b.size(e) > 0) observed += 1 else isolates += 1
        e += 1
      }
    }
    SummaryVars(observed, isolates, logLik,
      aggDist.indices.filter(aggDist(_) > 0)
        .map(i => (i / nF, table.files(i % nF)) -> aggDist(i)).toMap,
      recDist.indices.filter(recDist(_) > 0).map(k => k -> recDist(k)).toMap)
  }

  def merge(x: SummaryVars, y: SummaryVars): SummaryVars = SummaryVars(
    x.numObservedEntities + y.numObservedEntities,
    x.numIsolates + y.numIsolates,
    x.logLikelihood + y.logLikelihood,
    mergeCounts(x.aggDistortions, y.aggDistortions),
    mergeCounts(x.recDistortions, y.recDistortions))

  private def mergeCounts[K](a: Map[K, Long], b: Map[K, Long]): Map[K, Long] =
    b.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
}
