package graft.er

import graft.core.SimilarityFn

/** Core model types for the Bayesian entity-resolution engine — the
  * Spark-native re-expression of the reference's data model
  * (/root/reference/src/main/scala/com/github/cleanzr/dblink/package.scala:28-138).
  *
  * Values are dictionary-encoded to dense ints per attribute; -1 denotes a
  * missing value. The sampler state itself is held compactly (a broadcast
  * RecordTable plus one StateBlock per partition, StateBlocks.scala);
  * `EntityCluster` is its expanded, record-id form at the edges.
  */
object model {

  val MissingValue: Int = -1

  final case class BetaParams(alpha: Double, beta: Double) {
    require(alpha > 0 && beta > 0, "Beta shape parameters must be positive")
    def mean: Double = alpha / (alpha + beta)
  }

  /** User-facing attribute spec (name = input column). */
  final case class AttributeSpec(
      name: String,
      similarity: SimilarityFn,
      distortionPrior: BetaParams)

  /** A dictionary-encoded input record. */
  final case class EncodedRecord(
      id: String,
      fileId: String,
      values: Array[Int])

  /** A record inside the sampler state: encoded values + per-attribute
    * latent distortion indicators. */
  final case class StateRecord(
      id: String,
      fileId: String,
      values: Array[Int],
      distorted: Array[Boolean])

  /** One latent entity with its currently-linked records (empty = isolate).
    * The unit of MCMC state; `partitionId` keys the entity-space partition. */
  final case class EntityCluster(
      partitionId: Int,
      entityValues: Array[Int],
      records: Array[StateRecord])

  /** One posterior sample of the clustering within one partition —
    * the persisted chain format (reference LinkageState, package.scala:94-96). */
  final case class LinkageSample(
      iteration: Long,
      partitionId: Int,
      linkageStructure: Seq[Seq[String]])

  /** Per-(attribute, file) distortion probabilities θ. */
  final case class DistortionProbs(probs: Map[(Int, String), Double]) {
    def apply(attrId: Int, fileId: String): Double = probs((attrId, fileId))
  }

  /** Per-iteration scalar diagnostics (reference SummaryVars). */
  final case class SummaryVars(
      numObservedEntities: Long,
      numIsolates: Long,
      logLikelihood: Double,
      aggDistortions: Map[(Int, String), Long],
      recDistortions: Map[Int, Long])
}
