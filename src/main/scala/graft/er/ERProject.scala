package graft.er

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.SimilarityFn
import graft.er.model._

/** Job-spec surface (reference S6 + ProjectSteps): a config names the
  * data, attributes, priors, partitioner, sampler flags and steps; the
  * project compiles that into the sample → summarize → evaluate pipeline.
  * Two front-ends, one [[Conf]]: the native JSON schema (Spark's bundled
  * Jackson) and the reference's own HOCON schema (`.conf` — a verbatim
  * dblink `examples/RLdata500.conf` runs unchanged via the dependency-
  * free [[Hocon]] subset parser).
  */
object ERProject {

  final case class AttributeConf(
      name: String,
      similarity: String = "constant",     // "constant" | "levenshtein"
      threshold: Double = 7.0,
      maxSimilarity: Double = 10.0,
      alpha: Double = 0.5,
      beta: Double = 50.0)

  final case class Conf(
      dataPath: String,
      idColumn: String,
      fileIdColumn: Option[String] = None,
      entityIdColumn: Option[String] = None, // ground truth, evaluation only
      nullValue: String = "NA",
      attributes: Seq[AttributeConf] = Nil,
      partitioner: String = "single",      // "single" | "kdtree"
      numLevels: Int = 0,
      splitAttributes: Seq[String] = Nil,
      seed: Long = 42L,
      sampler: String = "gibbs",   // gibbs | gibbs-sequential | pcg1 | pcg2
      collapsedAssignment: Boolean = false, // legacy alias for pcg1
      sweeps: Int = 100,
      burnIn: Int = 0,
      thin: Int = 1,
      // sweeps per Spark job (shuffle amortization). 0 = auto: use the
      // k=2 blocked sweeps the mixing study showed are free (BASELINE.md
      // blocked-sweep table: same converged F1, ~2x throughput) whenever
      // that keeps the recorded-sample cadence intact, else 1.
      sweepsPerJob: Int = 0,
      resume: Boolean = false,
      outputPath: String,
      steps: Seq[String] = Seq("sample", "summarize", "evaluate"),
      // copy-files step (reference capability: ProjectStep.scala:157-179,
      // ProjectSteps.scala:53-84): copy named outputs (files OR parquet
      // directories) from outputPath to a destination filesystem
      copyFiles: Seq[String] = Seq.empty,
      copyDestination: String = "",
      copyOverwrite: Boolean = true,
      copyDeleteSource: Boolean = false)

  private val mapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def parseConf(json: String): Conf = mapper.readValue(json, classOf[Conf])

  /** Load a config by extension: `.conf` files parse as the reference's
    * HOCON schema (verbatim `examples/RLdata500.conf` syntax — see
    * [[parseDblinkConf]]), anything else as the native JSON schema. */
  def loadConf(path: String): Conf = {
    val text = Files.readString(Paths.get(path))
    if (path.endsWith(".conf")) parseDblinkConf(text) else parseConf(text)
  }

  /** The reference's HOCON config schema (reference `Run.scala:33-35`
    * parses with Typesafe config; field accessors in `Project.scala:
    * 171-223` and `ProjectSteps.scala:45-80`), mapped onto [[Conf]]:
    *
    *  - `dblink.data.{path, recordIdentifier, fileIdentifier,
    *    entityIdentifier, nullValue}` → data/id fields
    *  - `dblink.data.matchingAttributes[]` with
    *    `similarityFunction.name` ∈ {ConstantSimilarityFn,
    *    LevenshteinSimilarityFn} (+`parameters.threshold/maxSimilarity`)
    *    and `distortionPrior.{alpha, beta}` → [[AttributeConf]]
    *  - `dblink.randomSeed` → seed; `dblink.partitioner`
    *    (KDTreePartitioner / numLevels / matchingAttributes) →
    *    partitioner/numLevels/splitAttributes
    *  - `dblink.steps[]`: `sample` (sampleSize = recorded samples →
    *    sweeps = burninInterval + sampleSize·thinningInterval, sampler
    *    names PCG-I/PCG-II/Gibbs/Gibbs-Sequential), `summarize`,
    *    `evaluate`, `copy-files` (fileNames/destinationPath/overwrite/
    *    deleteSource)
    *  - `checkpointPath`, `expectedMaxClusterSize`, `populationSize`
    *    and the per-step cutoff/quantity/metric selectors are accepted
    *    and ignored: lineage is truncated via localCheckpoint (no
    *    checkpoint dir), the population prior is sized from the data,
    *    and summarize/evaluate always emit their full output set.
    */
  def parseDblinkConf(hocon: String): Conf = {
    val c = Hocon.parse(hocon)
    def str(p: String) = Hocon.string(c, s"dblink.$p")
    val attrs = Hocon.list(c, "dblink.data.matchingAttributes")
      .getOrElse(Nil).map {
        case m: Map[_, _] =>
          val a = m.asInstanceOf[Map[String, Any]]
          val simName = Hocon.string(a, "similarityFunction.name")
            .getOrElse("ConstantSimilarityFn") match {
            case "ConstantSimilarityFn" => "constant"
            case "LevenshteinSimilarityFn" => "levenshtein"
            case other => throw new IllegalArgumentException(
              s"unknown similarityFunction.name: $other")
          }
          AttributeConf(
            name = Hocon.string(a, "name").getOrElse(
              throw new IllegalArgumentException("attribute without name")),
            similarity = simName,
            threshold = Hocon.double(a,
              "similarityFunction.parameters.threshold").getOrElse(7.0),
            maxSimilarity = Hocon.double(a,
              "similarityFunction.parameters.maxSimilarity").getOrElse(10.0),
            alpha = Hocon.double(a, "distortionPrior.alpha").getOrElse(0.5),
            beta = Hocon.double(a, "distortionPrior.beta").getOrElse(50.0))
        case other => throw new IllegalArgumentException(
          s"matchingAttributes entry is not an object: $other")
      }
    val (partitioner, numLevels, splitAttrs) =
      Hocon.obj(c, "dblink.partitioner") match {
        case Some(p) => Hocon.string(p, "name") match {
          case Some("KDTreePartitioner") =>
            ("kdtree",
              Hocon.long(p, "parameters.numLevels").getOrElse(0L).toInt,
              Hocon.list(p, "parameters.matchingAttributes").getOrElse(Nil)
                .map(String.valueOf))
          case other => throw new IllegalArgumentException(
            s"unknown partitioner: $other")
        }
        case None => ("single", 0, Nil)
      }
    val steps = Hocon.list(c, "dblink.steps").getOrElse(Nil).map {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case other => throw new IllegalArgumentException(
        s"steps entry is not an object: $other")
    }
    def step(name: String) =
      steps.find(s => Hocon.string(s, "name").contains(name))
    val sample = step("sample")
    val (sweeps, burnIn, thin, resume, sampler) = sample match {
      case Some(s) =>
        val size = Hocon.long(s, "parameters.sampleSize").getOrElse(100L)
        val burn = Hocon.long(s, "parameters.burninInterval").getOrElse(0L)
        val th = math.max(
          Hocon.long(s, "parameters.thinningInterval").getOrElse(1L), 1L)
        val samplerName =
          Hocon.string(s, "parameters.sampler").getOrElse("PCG-I") match {
            case "PCG-I" => "pcg1"
            case "PCG-II" => "pcg2"
            case "Gibbs" => "gibbs"
            case "Gibbs-Sequential" => "gibbs-sequential"
            case other => throw new IllegalArgumentException(
              s"unknown sampler: $other")
          }
        ((burn + size * th).toInt, burn.toInt, th.toInt,
          Hocon.boolean(s, "parameters.resume").getOrElse(false), samplerName)
      case None => (100, 0, 1, false, "pcg1")
    }
    val copy = step("copy-files")
    Conf(
      dataPath = str("data.path").getOrElse(
        throw new IllegalArgumentException("dblink.data.path is required")),
      idColumn = str("data.recordIdentifier").getOrElse(
        throw new IllegalArgumentException(
          "dblink.data.recordIdentifier is required")),
      fileIdColumn = str("data.fileIdentifier"),
      entityIdColumn = str("data.entityIdentifier"),
      nullValue = str("data.nullValue").getOrElse("NA"),
      attributes = attrs,
      partitioner = partitioner,
      numLevels = numLevels,
      splitAttributes = splitAttrs,
      seed = Hocon.long(c, "dblink.randomSeed").getOrElse(42L),
      sampler = sampler,
      sweeps = sweeps,
      burnIn = burnIn,
      thin = thin,
      resume = resume,
      outputPath = str("outputPath").getOrElse(
        throw new IllegalArgumentException("dblink.outputPath is required")),
      steps = steps.flatMap(s => Hocon.string(s, "name")),
      copyFiles = copy.flatMap(s =>
        Hocon.list(s, "parameters.fileNames")).getOrElse(Nil)
        .map(String.valueOf),
      copyDestination = copy.flatMap(s =>
        Hocon.string(s, "parameters.destinationPath")).getOrElse(""),
      copyOverwrite = copy.flatMap(s =>
        Hocon.boolean(s, "parameters.overwrite")).getOrElse(false),
      copyDeleteSource = copy.flatMap(s =>
        Hocon.boolean(s, "parameters.deleteSource")).getOrElse(false))
  }

  def specsOf(conf: Conf): Seq[AttributeSpec] = conf.attributes.map { a =>
    AttributeSpec(a.name,
      SimilarityFn.fromName(a.similarity, a.threshold, a.maxSimilarity),
      BetaParams(a.alpha, a.beta))
  }

  /** Resolve the blocked-sweep factor: an explicit positive setting wins;
    * auto (0) picks k=2 — free per the mixing study — but only when both
    * thin and burnIn are even, so samples/diagnostics still land exactly
    * on the configured cadence (they are only observable at block
    * boundaries). */
  def effectiveSweepsPerJob(conf: Conf): Int =
    if (conf.sweepsPerJob > 0) conf.sweepsPerJob
    else if (conf.thin % 2 == 0 && conf.burnIn % 2 == 0) 2
    else 1

  def samplerKindOf(conf: Conf): GibbsKernel.SamplerKind =
    if (conf.collapsedAssignment) GibbsKernel.PCG1
    else conf.sampler match {
      case "gibbs" => GibbsKernel.Gibbs
      case "gibbs-sequential" => GibbsKernel.GibbsSequential
      case "pcg1" => GibbsKernel.PCG1
      case "pcg2" => GibbsKernel.PCG2
      case other => throw new IllegalArgumentException(s"unknown sampler: $other")
    }

  def partitionerOf(conf: Conf, specs: Seq[AttributeSpec]): ModelIndex => EntityPartitioner =
    conf.partitioner match {
      case "single" => _ => SinglePartition
      case "kdtree" =>
        val attrIds = conf.splitAttributes.map(n => specs.indexWhere(_.name == n))
        require(attrIds.forall(_ >= 0), "unknown split attribute")
        idx => KDTreePartitioner.fit(idx,
          if (attrIds.nonEmpty) attrIds else specs.indices, conf.numLevels)
      case other => throw new IllegalArgumentException(s"unknown partitioner: $other")
    }

  /** Execute the configured steps. Returns the shared most probable
    * clusters, as a lazy uncached plan, when the summarize or the evaluate
    * step ran. */
  def run(spark: SparkSession, conf: Conf): Option[DataFrame] = {
    val out = conf.outputPath
    val specs = specsOf(conf)
    val records = IO.readRecordsCsv(spark, conf.dataPath, conf.nullValue)

    if (conf.steps.contains("sample")) {
      val stateDir = s"$out/saved-state"
      val init =
        if (conf.resume && Files.exists(Paths.get(s"$stateDir/driver-state.bin")))
          IO.loadState(spark, stateDir)
        else
          ERState.initialize(spark, records, conf.idColumn, conf.fileIdColumn,
            specs, partitionerOf(conf, specs), conf.seed, samplerKindOf(conf))
      val result = Sampler.run(init, conf.sweeps, conf.burnIn, conf.thin,
        chainPath = Some(s"$out/linkage-chain.parquet"),
        sweepsPerJob = effectiveSweepsPerJob(conf))
      IO.writeDiagnosticsCsv(result.diagnostics, specs.length,
        init.index.value.fileSizes.keys.toSeq.sorted, s"$out/diagnostics.csv")
      IO.saveState(result.state, stateDir)
      result.state.release()
    }

    val summarizing = conf.steps.contains("summarize")
    val evaluating = conf.steps.contains("evaluate")
    val smpc: Option[DataFrame] =
      if (summarizing || evaluating) {
        val chain = IO.readChain(spark, s"$out/linkage-chain.parquet")
        val counts = Analysis.chainSizeCounts(chain)
        val clusters =
          Analysis.sharedMostProbableClusters(chain, counts.numSamples.toDouble)
        // the clusters CSV and the evaluation read one cached copy
        clusters.persist()
        try {
          if (summarizing) summarize(clusters, counts, out)
          if (evaluating) conf.entityIdColumn.foreach(
            evaluate(clusters, records, conf.idColumn, _, out))
        } finally clusters.unpersist()
        Some(clusters)
      } else None

    if (conf.steps.contains("copy-files")) copyFilesStep(spark, conf)

    smpc
  }

  /** The summarize step: the shared most probable clusters `smpc` as
    * `shared-most-probable-clusters.csv`, and the chain's size counts as
    * the `cluster-size-distribution.csv` and `partition-sizes.csv` pivots. */
  def summarize(smpc: DataFrame, counts: Analysis.ChainSizeCounts,
      out: String): Unit = {
    IO.writeClustersCsv(smpc.select(col("records")), "records",
      s"$out/shared-most-probable-clusters.csv")
    IO.writeClusterSizeDistributionCsv(counts, s"$out/cluster-size-distribution.csv")
    IO.writePartitionSizesCsv(counts, s"$out/partition-sizes.csv")
  }

  /** The evaluate step: pairwise precision, recall and F1 and the adjusted
    * Rand index of the shared most probable clusters `smpc` against the
    * ground-truth `entityIdColumn` of `records`, in one
    * [[Analysis.clusteringMetrics]] query, written to
    * `evaluation-results.txt`. Only labelled records count: a record whose
    * entity id is null (the `nullValue` sentinel) is left out of both
    * sides, and a predicted cluster keeps its other members. */
  def evaluate(smpc: DataFrame, records: DataFrame, idColumn: String,
      entityIdColumn: String, out: String): Unit = {
    val truth = records
      .select(col(idColumn).cast("string").as("recordId"),
        col(entityIdColumn).cast("string").as("clusterId"))
      .filter(col("clusterId").isNotNull)
    val pred = Analysis.membershipFromClusters(smpc.select(col("records")), "records")
      .join(truth.select(col("recordId")), Seq("recordId"), "left_semi")
    val m = Analysis.clusteringMetrics(pred, truth, "recordId", "clusterId").head()
    require(!m.isNullAt(3), s"evaluate: no record has an entity id in $entityIdColumn")
    val text =
      f"""Pairwise metrics
         |  precision: ${m.getDouble(0)}%.6f
         |  recall:    ${m.getDouble(1)}%.6f
         |  f1:        ${m.getDouble(2)}%.6f
         |Cluster metrics
         |  adjusted-rand-index: ${m.getDouble(3)}%.6f
         |""".stripMargin
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/evaluation-results.txt"), text)
  }

  /** The copy-files step: copy each named output (plain file or parquet
    * directory) from `outputPath` to `copyDestination`, skipping names
    * that don't exist — via the Hadoop FileSystem API so source and
    * destination may live on different filesystems (local, HDFS, object
    * store) exactly as on a real cluster. */
  def copyFilesStep(spark: SparkSession, conf: Conf): Unit = {
    require(conf.copyDestination.nonEmpty,
      "copy-files step requires copyDestination")
    val hconf = spark.sparkContext.hadoopConfiguration
    val srcParent = new org.apache.hadoop.fs.Path(conf.outputPath)
    val srcFs = srcParent.getFileSystem(hconf)
    val dstParent = new org.apache.hadoop.fs.Path(conf.copyDestination)
    val dstFs = dstParent.getFileSystem(hconf)
    dstFs.mkdirs(dstParent)
    conf.copyFiles
      .map(n => new org.apache.hadoop.fs.Path(srcParent, n))
      .filter(srcFs.exists)
      .foreach { src =>
        val dst = new org.apache.hadoop.fs.Path(dstParent, src.getName)
        org.apache.hadoop.fs.FileUtil.copy(srcFs, src, dstFs, dst,
          conf.copyDeleteSource, conf.copyOverwrite, hconf)
      }
  }
}

/** CLI entry point, config-format-agnostic (the reference's CLI shape,
  * `Run.scala:27-49`):
  * spark-submit --class graft.er.RunER <jar> config.{json|conf} */
object RunER {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: RunER <config.json|config.conf>")
    val spark = SparkSession.builder()
      .appName("graft-er")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.maxPlanStringLength", "16384")
      .getOrCreate()
    try ERProject.run(spark, ERProject.loadConf(args(0)))
    finally spark.stop()
  }
}
