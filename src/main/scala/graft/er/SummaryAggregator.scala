package graft.er

import scala.collection.mutable

import graft.er.model._

/** The per-sweep SummaryVars as a plain fold: `fold` runs once per
  * partition on the executor, and the driver `merge`s the partials in
  * partition order (ERState.summarize). This replaces the reference's
  * AccumulatorV2 map-accumulators, which double-count under task retry:
  * a retried task recomputes its partition's partial, and the empty
  * state folds to `zero`.
  */
private[er] object SummaryAggregator {

  val zero: SummaryVars = SummaryVars(0L, 0L, 0.0, Map.empty, Map.empty)

  def fold(
      clusters: Iterator[EntityCluster],
      idx: ModelIndex,
      theta: DistortionProbs): SummaryVars = {
    val nA = idx.numAttributes
    var observed = 0L
    var isolates = 0L
    var logLik = 0.0
    val aggDist = mutable.HashMap.empty[(Int, String), Long]
    val recDist = mutable.HashMap.empty[Int, Long]

    clusters.foreach { c =>
      var a = 0
      while (a < nA) {
        logLik += math.log(idx.attributes(a).probs(c.entityValues(a)))
        a += 1
      }
      c.records.foreach { r =>
        var nDist = 0
        a = 0
        while (a < nA) {
          val x = r.values(a)
          if (x != MissingValue) {
            val th = theta(a, r.fileId)
            if (r.distorted(a)) {
              nDist += 1
              val k = (a, r.fileId)
              aggDist(k) = aggDist.getOrElse(k, 0L) + 1
              logLik += math.log(th) +
                math.log(idx.attributes(a).distortionProb(x, c.entityValues(a)))
            } else {
              logLik += math.log(1.0 - th)
            }
          }
          a += 1
        }
        recDist(nDist) = recDist.getOrElse(nDist, 0L) + 1
      }
      if (c.records.nonEmpty) observed += 1 else isolates += 1
    }
    SummaryVars(observed, isolates, logLik, aggDist.toMap, recDist.toMap)
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
