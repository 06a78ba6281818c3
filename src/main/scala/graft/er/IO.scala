package graft.er

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.er.model._

/** Sources and sinks for the ER engine (reference SURVEY §2.1):
  * CSV record ingest (S1/S2), chain parquet (S3/S7), state save/resume
  * (S4/S8), clusters CSV (S5/S10), diagnostics CSV (S9), and the wide
  * chain-summary CSVs (S11).
  */
object IO {

  /** S1: headered CSV, all columns as strings, malformed rows dropped,
    * configurable null sentinel (reference Project.scala:173-180). */
  def readRecordsCsv(spark: SparkSession, path: String,
      nullValue: String = "NA"): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .option("nullValue", nullValue)
      .csv(path)

  /** S1 companion: write records as headered CSV under the same
    * null-sentinel contract `readRecordsCsv` expects (nulls → sentinel
    * on disk; fields containing delimiter/quote are quoted by the
    * writer, so the round trip is lossless for newline-free text). */
  def writeRecordsCsv(df: DataFrame, path: String,
      nullValue: String = "NA", partitions: Int = 1): Unit =
    df.repartition(partitions).write
      .option("header", "true")
      .option("nullValue", nullValue)
      .mode("overwrite")
      .csv(path)

  /** S3: read a persisted linkage chain. The schema is the sample's, so
    * opening the chain runs no job to infer it from the Parquet footers. */
  def readChain(spark: SparkSession, path: String): Dataset[LinkageSample] = {
    implicit val enc = Encoders.product[LinkageSample]
    // partitionBy writes partitionId as a directory column (possibly at the
    // end) — reorder through select
    spark.read.schema(enc.schema).parquet(path)
      .select(col("iteration"), col("partitionId").cast("int").as("partitionId"),
        col("linkageStructure"))
      .as[LinkageSample]
  }

  /** P2: burn-in filter at read time — with the chain laid out
    * `partitionBy(partitionId)` and (optionally) per-iteration files, the
    * filter prunes row groups via parquet min/max stats. */
  def chainAfterBurnIn(chain: Dataset[LinkageSample], cutoff: Long): Dataset[LinkageSample] =
    chain.filter(col("iteration") >= cutoff)

  /** S5: clusters from a text file, one comma-separated id list per line. */
  def readClustersCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(split(col("value"), ",\\s*").as("cluster"))

  /** S10: clusters → one comma-joined line per cluster. */
  def writeClustersCsv(clusters: DataFrame, clusterCol: String, path: String): Unit =
    clusters.select(array_join(col(clusterCol), ", ").as("value"))
      .write.mode(SaveMode.Overwrite).text(path)

  /** S9: diagnostics CSV (driver-side single file — one row per recorded
    * iteration, reference DiagnosticsWriter layout). */
  def writeDiagnosticsCsv(diags: Seq[Sampler.Diagnostics], numAttributes: Int,
      files: Seq[String], path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path),
      Sampler.diagnosticsCsv(diags, numAttributes, files))
  }

  /** S11: wide CSV pivots of the chain summaries (small outputs, pivoted
    * driver-side exactly like the reference's collect+sort). The chain
    * forms run one aggregation each; a caller writing both pivots passes
    * one [[Analysis.chainSizeCounts]] to the counts forms instead. */
  def writeClusterSizeDistributionCsv(chain: Dataset[LinkageSample], path: String): Unit =
    writeClusterSizeDistributionCsv(Analysis.chainSizeCounts(chain), path)

  def writeClusterSizeDistributionCsv(counts: Analysis.ChainSizeCounts, path: String): Unit =
    writePivotCsv(counts.clusterSizeDistribution, _.toString, path)

  def writePartitionSizesCsv(chain: Dataset[LinkageSample], path: String): Unit =
    writePartitionSizesCsv(Analysis.chainSizeCounts(chain), path)

  def writePartitionSizesCsv(counts: Analysis.ChainSizeCounts, path: String): Unit =
    writePivotCsv(counts.partitionSizes, p => s"partition-$p", path)

  /** One line per iteration in order, one column per key in order, 0 where
    * an iteration has no cell for a key. */
  private def writePivotCsv(cells: Seq[(Long, Int, Long)], label: Int => String,
      path: String): Unit = {
    val keys = cells.map(_._2).distinct.sorted
    val header = ("iteration" +: keys.map(label)).mkString(",")
    val byIter = cells.groupBy(_._1).toSeq.sortBy(_._1).map { case (it, rs) =>
      val m = rs.map(r => r._2 -> r._3).toMap
      (it.toString +: keys.map(k => m.getOrElse(k, 0L).toString)).mkString(",")
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), (header +: byIter).mkString("\n"))
  }

  // --- state save / resume (S4/S8) ---------------------------------------

  private case class DriverState(
      index: ModelIndex,
      partitioner: EntityPartitioner,
      theta: DistortionProbs,
      iteration: Long,
      baseSeed: Long,
      samplerKind: GibbsKernel.SamplerKind,
      summary: SummaryVars) extends Serializable

  /** S8: persist the full sampler state — partition clusters as parquet,
    * driver variables Java-serialized (as the reference does,
    * State.scala:122-150). */
  def saveState(state: ERState, dir: String): Unit = {
    state.clusters.write.mode(SaveMode.Overwrite).parquet(s"$dir/clusters.parquet")
    Files.createDirectories(Paths.get(dir))
    val oos = new ObjectOutputStream(
      Files.newOutputStream(Paths.get(s"$dir/driver-state.bin")))
    try oos.writeObject(DriverState(state.index.value, state.partitioner,
      state.theta, state.iteration, state.baseSeed, state.samplerKind,
      state.summary))
    finally oos.close()
  }

  /** S4: resume a saved sampler state. The clusters are read with their
    * encoder's schema, as [[readChain]] reads the chain, so the only job
    * is the one `ERState.resume` collects them with. */
  def loadState(spark: SparkSession, dir: String): ERState = {
    val ois = new ObjectInputStream(
      Files.newInputStream(Paths.get(s"$dir/driver-state.bin")))
    val ds = try ois.readObject().asInstanceOf[DriverState] finally ois.close()
    implicit val enc = Encoders.product[EntityCluster]
    val clusters = spark.read.schema(enc.schema)
      .parquet(s"$dir/clusters.parquet").as[EntityCluster]
    ERState.resume(spark, ds.index, ds.partitioner, clusters, ds.theta,
      ds.iteration, ds.baseSeed, ds.samplerKind, ds.summary)
  }
}
