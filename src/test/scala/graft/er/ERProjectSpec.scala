package graft.er

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.er.model.LinkageSample

/** Config-driven end-to-end project run: CSV in → sample → summarize →
  * evaluate → resume, exercising every source/sink in SURVEY §2.1. */
class ERProjectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writeFixture(dir: String): Unit = {
    val rng = new java.util.SplittableRandom(99L)
    val names = Vector("ANNA", "BERND", "CARSTEN", "DORIS", "ERWIN", "FRIEDA",
      "GERD", "HELGA", "INGO", "JUTTA")
    val sb = new StringBuilder("rec_id,ent_id,fname,by\n")
    (0 until 50).foreach { e =>
      val fn = names(rng.nextInt(names.length))
      val by = (1950 + rng.nextInt(30)).toString
      sb.append(s"r$e-0,$e,$fn,$by\n")
      if (e % 5 == 0) {
        val fn2 = fn.updated(rng.nextInt(fn.length), 'X')
        sb.append(s"r$e-1,$e,$fn2,$by\n")
      }
      if (e == 7) sb.append(s"r$e-2,$e,NA,$by\n") // missing value path
    }
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/records.csv"), sb.toString)
  }

  test("auto blocked sweeps: k=2 only when the sample cadence survives") {
    def conf(thin: Int, burnIn: Int, spj: Int = 0) =
      ERProject.Conf(dataPath = "x", idColumn = "id", outputPath = "y",
        thin = thin, burnIn = burnIn, sweepsPerJob = spj)
    assert(ERProject.effectiveSweepsPerJob(conf(thin = 2, burnIn = 0)) == 2)
    assert(ERProject.effectiveSweepsPerJob(conf(thin = 10, burnIn = 4)) == 2)
    // odd thin or burn-in would shift recorded samples off cadence → k=1
    assert(ERProject.effectiveSweepsPerJob(conf(thin = 1, burnIn = 0)) == 1)
    assert(ERProject.effectiveSweepsPerJob(conf(thin = 2, burnIn = 3)) == 1)
    // explicit setting always wins
    assert(ERProject.effectiveSweepsPerJob(conf(thin = 1, burnIn = 0, spj = 5)) == 5)
  }

  test("verbatim dblink-syntax HOCON config runs end to end") {
    val dir = Files.createTempDirectory("erhocon").toString
    writeFixture(dir)
    // the reference's examples/RLdata500.conf shape, verbatim syntax:
    // substitutions, comments, optional commas, nested step parameters
    val conf =
      s"""dblink : {
         |
         |    // Define distortion hyperparameters (to be referenced below)
         |    lowDistortion : {alpha : 0.5, beta : 50.0}
         |
         |    constSimFn : {
         |        name : "ConstantSimilarityFn",
         |    }
         |
         |    levSimFn : {
         |        name : "LevenshteinSimilarityFn",
         |        parameters : {
         |            threshold : 7.0
         |            maxSimilarity : 10.0
         |        }
         |    }
         |
         |    data : {
         |        path : "$dir/records.csv"
         |        recordIdentifier : "rec_id",
         |        entityIdentifier : "ent_id" // optional
         |        nullValue : "NA"
         |        matchingAttributes : [
         |            {name : "fname", similarityFunction : $${dblink.levSimFn}, distortionPrior : $${dblink.lowDistortion}},
         |            {name : "by", similarityFunction : $${dblink.constSimFn}, distortionPrior : $${dblink.lowDistortion}}
         |        ]
         |    }
         |
         |    randomSeed : 319158
         |    expectedMaxClusterSize : 10
         |
         |    partitioner : {
         |        name : "KDTreePartitioner",
         |        parameters : {
         |            numLevels : 1,
         |            matchingAttributes : ["fname"]
         |        }
         |    }
         |
         |    outputPath : "$dir/out/"
         |
         |    checkpointPath : "/tmp/spark_checkpoint/"
         |
         |    steps : [
         |        {name : "sample", parameters : {
         |            sampleSize : 4,
         |            burninInterval : 4,
         |            thinningInterval : 2,
         |            resume : false,
         |            sampler : "PCG-I"
         |        }},
         |        {name : "summarize", parameters : {
         |            lowerIterationCutoff : 0,
         |            quantities : ["cluster-size-distribution"]
         |        }},
         |        {name : "evaluate", parameters : {
         |            lowerIterationCutoff : 4,
         |            metrics : ["pairwise", "cluster"],
         |            useExistingSMPC : false
         |        }}
         |    ]
         |}""".stripMargin
    val confPath = s"$dir/project.conf"
    Files.writeString(Paths.get(confPath), conf)
    val parsed = ERProject.loadConf(confPath)
    assert(parsed.idColumn == "rec_id")
    assert(parsed.entityIdColumn.contains("ent_id"))
    assert(parsed.seed == 319158L)
    assert(parsed.attributes.map(_.name) == Seq("fname", "by"))
    assert(parsed.attributes.head.similarity == "levenshtein")
    assert(parsed.attributes.head.threshold == 7.0)
    assert(parsed.attributes(1).similarity == "constant")
    assert(parsed.partitioner == "kdtree" && parsed.numLevels == 1)
    assert(parsed.splitAttributes == Seq("fname"))
    assert(parsed.sampler == "pcg1")
    // sampleSize=4 recorded samples, burn-in 4, thinning 2 -> 12 sweeps
    assert(parsed.sweeps == 12 && parsed.burnIn == 4 && parsed.thin == 2)
    assert(parsed.steps == Seq("sample", "summarize", "evaluate"))

    val smpc = ERProject.run(spark, parsed)
    assert(smpc.isDefined)
    assert(Files.exists(Paths.get(s"$dir/out/diagnostics.csv")))
    assert(Files.exists(Paths.get(s"$dir/out/evaluation-results.txt")))
    val eval = Files.readString(Paths.get(s"$dir/out/evaluation-results.txt"))
    assert(eval.contains("precision:") && eval.contains("adjusted-rand-index:"))
  }

  test("config-driven sample/summarize/evaluate run + resume") {
    val dir = Files.createTempDirectory("erproject").toString
    writeFixture(dir)
    val confJson =
      s"""{
         |  "dataPath": "$dir/records.csv",
         |  "idColumn": "rec_id",
         |  "entityIdColumn": "ent_id",
         |  "nullValue": "NA",
         |  "attributes": [
         |    {"name": "fname", "similarity": "levenshtein",
         |     "threshold": 7.0, "maxSimilarity": 10.0,
         |     "alpha": 0.5, "beta": 50.0},
         |    {"name": "by", "similarity": "constant"}
         |  ],
         |  "partitioner": "kdtree", "numLevels": 1,
         |  "splitAttributes": ["fname"],
         |  "seed": 7, "sweeps": 12, "burnIn": 4, "thin": 2,
         |  "outputPath": "$dir/out",
         |  "steps": ["sample", "summarize", "evaluate"]
         |}""".stripMargin
    val conf = ERProject.parseConf(confJson)
    assert(conf.attributes.length == 2)
    assert(conf.fileIdColumn.isEmpty)

    val smpc = ERProject.run(spark, conf)
    assert(smpc.isDefined)

    // every sink exists and has content
    assert(Files.exists(Paths.get(s"$dir/out/diagnostics.csv")))
    val diag = Files.readString(Paths.get(s"$dir/out/diagnostics.csv"))
    assert(diag.linesIterator.next().startsWith("iteration,"))
    assert(diag.linesIterator.size == 5) // header + 4 recorded samples

    assert(Files.exists(Paths.get(s"$dir/out/evaluation-results.txt")))
    val eval = Files.readString(Paths.get(s"$dir/out/evaluation-results.txt"))
    assert(eval.contains("precision:") && eval.contains("adjusted-rand-index:"))

    assert(Files.exists(Paths.get(s"$dir/out/cluster-size-distribution.csv")))
    assert(Files.exists(Paths.get(s"$dir/out/partition-sizes.csv")))
    assert(Files.list(Paths.get(s"$dir/out/shared-most-probable-clusters.csv"))
      .count() > 0)

    // chain is readable + burn-in filter prunes
    val chain = IO.readChain(spark, s"$dir/out/linkage-chain.parquet")
    val n = chain.count()
    assert(n > 0)
    assert(IO.chainAfterBurnIn(chain, Long.MaxValue).count() == 0)

    // clusters CSV round-trips
    val clustersBack = IO.readClustersCsv(spark,
      s"$dir/out/shared-most-probable-clusters.csv")
    assert(clustersBack.count() > 0)

    // resume: saved state picks up at iteration 12 and can step further
    val resumed = IO.loadState(spark, s"$dir/out/saved-state")
    assert(resumed.iteration == 12L)
    assert(resumed.partitioner.numPartitions == 2)
    val stepped = resumed.step()
    assert(stepped.iteration == 13L)
    assert(stepped.summary.numObservedEntities > 0)

    // copy-files step: plain files AND parquet directories land at the
    // destination; missing names are skipped; source left in place
    val dest = s"$dir/archive"
    val copyConf = conf.copy(
      steps = Seq("copy-files"),
      copyFiles = Seq("diagnostics.csv", "evaluation-results.txt",
        "linkage-chain.parquet", "no-such-output.csv"),
      copyDestination = dest)
    ERProject.run(spark, copyConf)
    assert(Files.exists(Paths.get(s"$dest/diagnostics.csv")))
    assert(Files.exists(Paths.get(s"$dest/evaluation-results.txt")))
    assert(IO.readChain(spark, s"$dest/linkage-chain.parquet").count() > 0)
    assert(!Files.exists(Paths.get(s"$dest/no-such-output.csv")))
    assert(Files.exists(Paths.get(s"$dir/out/diagnostics.csv")))
  }

  /** Two snapshot files of 60 voters: every voter is in file A, every
    * other one again in file B, one in three of those with a first-name
    * character replaced. With `unlabelled` set, about one record in ten has
    * the entity id `NA`: every tenth voter, and two voters with a record in
    * each file. */
  private def writeTwoFiles(dir: String, unlabelled: Boolean = false): Unit = {
    val rng = new java.util.SplittableRandom(4242L)
    val names = Vector("ANNA", "BERND", "CARSTEN", "DORIS", "ERWIN", "FRIEDA",
      "GERD", "HELGA", "INGO", "JUTTA", "KLAUS", "LENA")
    val sb = new StringBuilder("rec_id,file_id,ent_id,fname,by\n")
    (0 until 60).foreach { e =>
      val fn = names(rng.nextInt(names.length))
      val by = (1950 + rng.nextInt(20)).toString
      val ent = if (unlabelled && (e % 10 == 3 || e % 30 == 4)) "NA" else e.toString
      sb.append(s"a$e,A,$ent,$fn,$by\n")
      if (e % 2 == 0) {
        val fnB = if (e % 3 == 0) fn.updated(rng.nextInt(fn.length), 'Q') else fn
        sb.append(s"b$e,B,$ent,$fnB,$by\n")
      }
    }
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/records.csv"), sb.toString)
  }

  private def twoFileConf(dir: String, steps: Seq[String]) = ERProject.Conf(
    dataPath = s"$dir/records.csv", idColumn = "rec_id",
    fileIdColumn = Some("file_id"), entityIdColumn = Some("ent_id"),
    attributes = Seq(
      ERProject.AttributeConf("fname", "levenshtein"),
      ERProject.AttributeConf("by", "constant")),
    partitioner = "kdtree", numLevels = 1, splitAttributes = Seq("fname"),
    seed = 319158L, sampler = "gibbs", sweeps = 10, burnIn = 4, thin = 2,
    outputPath = s"$dir/out", steps = steps)

  private def read(path: String) = Files.readString(Paths.get(path))

  /** Spark jobs started while `f` runs. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val (a, shape) = TestSpark.jobShape(f)
    (a, shape.jobs)
  }

  /** The evaluation text as the separate pairwise and ARI queries over the
    * counted SMPC give it. */
  private def separateEvaluation(chain: Dataset[LinkageSample],
      records: DataFrame): String = {
    val truth = records.select(col("rec_id").as("recordId"),
      col("ent_id").as("clusterId"))
    val pred = Analysis.membershipFromClusters(
      Analysis.sharedMostProbableClusters(chain).select(col("records")), "records")
    val pw = Analysis.pairwiseMetrics(pred, truth, "recordId", "clusterId").head()
    val ari = Analysis.adjustedRandIndex(pred, truth, "recordId", "clusterId")
      .head().getDouble(0)
    f"""Pairwise metrics
       |  precision: ${pw.getDouble(0)}%.6f
       |  recall:    ${pw.getDouble(1)}%.6f
       |  f1:        ${pw.getDouble(2)}%.6f
       |Cluster metrics
       |  adjusted-rand-index: $ari%.6f
       |""".stripMargin
  }

  /** A chain summary pivoted the way the summarize step wrote it from
    * `clusterSizeDistribution` and `partitionSizes`: one line per iteration,
    * one column per key, 0 where absent. */
  private def pivot(rows: Seq[(Long, Int, Long)], label: Int => String): String = {
    val keys = rows.map(_._2).distinct.sorted
    val header = ("iteration" +: keys.map(label)).mkString(",")
    val byIter = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (it, rs) =>
      val m = rs.map(r => r._2 -> r._3).toMap
      (it.toString +: keys.map(k => m.getOrElse(k, 0L).toString)).mkString(",")
    }
    (header +: byIter).mkString("\n")
  }

  private def separateSizeDistribution(chain: Dataset[LinkageSample]) =
    pivot(Analysis.clusterSizeDistribution(chain).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))), _.toString)

  private def separatePartitionSizes(chain: Dataset[LinkageSample]) =
    pivot(Analysis.partitionSizes(chain).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2).toLong)), p => s"partition-$p")

  /** The SMPC as its CSV lines, sorted. */
  private def smpcLines(dir: String): Seq[String] =
    spark.read.text(s"$dir/out/shared-most-probable-clusters.csv")
      .collect().map(_.getString(0)).toSeq.sorted

  private def countedSmpcLines(chain: Dataset[LinkageSample]): Seq[String] =
    Analysis.sharedMostProbableClusters(chain)
      .select(array_join(col("records"), ", ")).collect().map(_.getString(0))
      .toSeq.sorted

  test("the sample step starts its chain in one job") {
    val dir = Files.createTempDirectory("ersample").toString
    writeTwoFiles(dir)
    val (_, jobs) = jobsDuring(ERProject.run(spark, twoFileConf(dir, Seq("sample"))))
    // with the index from a melt aggregation and a second pass to encode
    // the records, this step ran 18 jobs on this input; initialize alone
    // took 8 of them. Opening the written chain by inferring its schema
    // from the Parquet footers took one more (11)
    assert(jobs <= 10, s"$jobs jobs")
  }

  test("summarize + evaluate match the separate queries, in at most 14 jobs") {
    val dir = Files.createTempDirectory("erposterior").toString
    writeTwoFiles(dir)
    ERProject.run(spark, twoFileConf(dir, Seq("sample")))
    val (smpc, jobs) = jobsDuring(
      ERProject.run(spark, twoFileConf(dir, Seq("summarize", "evaluate"))))
    assert(smpc.isDefined)
    // the same steps as separate queries (the counted SMPC, a chain scan per
    // pivot, the pairwise and ARI forms) run 41 jobs on this input
    assert(jobs <= 14, s"$jobs jobs")

    val chain = IO.readChain(spark, s"$dir/out/linkage-chain.parquet")
    val records = IO.readRecordsCsv(spark, s"$dir/records.csv")
    val eval = read(s"$dir/out/evaluation-results.txt")
    assert(eval == separateEvaluation(chain, records))
    assert("f1: +([0-9.]+)".r.findFirstMatchIn(eval).get.group(1).toDouble > 0.5, eval)
    assert(read(s"$dir/out/cluster-size-distribution.csv") ==
      separateSizeDistribution(chain))
    assert(read(s"$dir/out/partition-sizes.csv") == separatePartitionSizes(chain))
    assert(read(s"$dir/out/partition-sizes.csv").startsWith(
      "iteration,partition-0,partition-1\n"))
    assert(smpcLines(dir) == countedSmpcLines(chain))
    assert(smpcLines(dir).size == smpc.get.count())

    // the evaluate step alone, on the existing output, writes the same text
    Files.delete(Paths.get(s"$dir/out/evaluation-results.txt"))
    ERProject.run(spark, twoFileConf(dir, Seq("evaluate")))
    assert(read(s"$dir/out/evaluation-results.txt") == eval)
  }

  test("a resumed chain holds both runs' samples; the summaries count them all") {
    val dir = Files.createTempDirectory("erresume").toString
    writeTwoFiles(dir)
    ERProject.run(spark, twoFileConf(dir, Seq("sample")))
    val first = IO.readChain(spark, s"$dir/out/linkage-chain.parquet")
      .select("iteration").distinct().count()
    val smpc = ERProject.run(spark,
      twoFileConf(dir, Seq("sample", "summarize")).copy(resume = true))

    val chain = IO.readChain(spark, s"$dir/out/linkage-chain.parquet")
    val counted = chain.select(countDistinct(col("iteration"))).head().getLong(0)
    assert(first == 3 && counted == 6)
    assert(Analysis.chainSizeCounts(chain).numSamples == counted)
    // the SMPC frequencies divide by the same sample count
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    assert(rows(smpc.get) == rows(Analysis.sharedMostProbableClusters(chain)))
    assert(read(s"$dir/out/cluster-size-distribution.csv") ==
      separateSizeDistribution(chain))
    assert(read(s"$dir/out/partition-sizes.csv") == separatePartitionSizes(chain))
    assert(smpcLines(dir) == countedSmpcLines(chain))
  }

  test("evaluation counts labelled records only when some entity ids are NA") {
    val dir = Files.createTempDirectory("erunlabelled").toString
    writeTwoFiles(dir, unlabelled = true)
    val smpc = ERProject.run(spark,
      twoFileConf(dir, Seq("sample", "summarize", "evaluate"))).get

    val labels = IO.readRecordsCsv(spark, s"$dir/records.csv")
      .collect().map(r => r.getAs[String]("rec_id") -> r.getAs[String]("ent_id"))
      .toMap
    val unlabelled = labels.filter(_._2 == null).keySet
    assert(unlabelled.size >= 0.08 * labels.size &&
      unlabelled.size <= 0.12 * labels.size, unlabelled.size)
    // (predicted cluster, true entity) of every labelled record
    val cells = smpc.select("records").collect().toSeq.zipWithIndex.flatMap {
      case (r, k) => r.getSeq[String](0).filterNot(unlabelled).map(id => (k, labels(id)))
    }
    assert(cells.size == labels.size - unlabelled.size)
    def pairs(groups: Iterable[Int]): Double = groups.map(n => n * (n - 1) / 2.0).sum
    val tp = pairs(cells.groupBy(identity).values.map(_.size))
    val predPairs = pairs(cells.groupBy(_._1).values.map(_.size))
    val truePairs = pairs(cells.groupBy(_._2).values.map(_.size))
    val total = pairs(Seq(cells.size))
    assert(tp > 0)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ari = (tp - predPairs * truePairs / total) /
      ((predPairs + truePairs) / 2.0 - predPairs * truePairs / total)
    val want =
      f"""Pairwise metrics
         |  precision: ${r6(tp / predPairs)}%.6f
         |  recall:    ${r6(tp / truePairs)}%.6f
         |  f1:        ${r6(2.0 * tp / (predPairs + truePairs))}%.6f
         |Cluster metrics
         |  adjusted-rand-index: ${r6(ari)}%.6f
         |""".stripMargin
    assert(read(s"$dir/out/evaluation-results.txt") == want)

    // with no labelled record there is nothing to score
    val noLabels = IO.readRecordsCsv(spark, s"$dir/records.csv")
      .withColumn("ent_id", lit(null).cast("string"))
    val e = intercept[IllegalArgumentException](
      ERProject.evaluate(smpc, noLabels, "rec_id", "ent_id", s"$dir/none"))
    assert(e.getMessage.contains("no record has an entity id"))
  }

  test("the sample step releases the final sampler state") {
    val dir = Files.createTempDirectory("ersamplerelease").toString
    writeTwoFiles(dir)
    val sc = spark.sparkContext
    // holding the map keeps every RDD in it strongly reachable
    val before = sc.getPersistentRDDs
    ERProject.run(spark, twoFileConf(dir, Seq("sample")))
    assert(sc.getPersistentRDDs.keySet == before.keySet)
    assert(Files.exists(Paths.get(s"$dir/out/saved-state/driver-state.bin")))
  }

  test("summarize + evaluate release the SMPC cache, on success and on failure") {
    val dir = Files.createTempDirectory("errelease").toString
    writeTwoFiles(dir)
    ERProject.run(spark, twoFileConf(dir, Seq("sample")))
    val sc = spark.sparkContext
    val cache = spark.sharedState.cacheManager
    val chain = IO.readChain(spark, s"$dir/out/linkage-chain.parquet")
    val smpcPlan = Analysis.sharedMostProbableClusters(chain, 3.0)
    def smpcCached = cache.lookupCachedData(
      smpcPlan.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]).isDefined
    // control: the same plan built over another read of the chain is found
    val control = Analysis.sharedMostProbableClusters(
      IO.readChain(spark, s"$dir/out/linkage-chain.parquet"), 3.0).persist()
    assert(smpcCached)
    control.unpersist()
    // holding the map keeps every RDD in it strongly reachable, so none
    // drops out of the (weak-valued) persistent set mid-test
    val before = sc.getPersistentRDDs
    val wasEmpty = cache.isEmpty
    def released(): Unit = {
      assert(!smpcCached)
      assert(cache.isEmpty == wasEmpty)
      assert(sc.getPersistentRDDs.keySet == before.keySet)
    }

    val smpc = ERProject.run(spark, twoFileConf(dir, Seq("summarize", "evaluate")))
    released()
    // the returned plan runs uncached and caches nothing
    assert(smpc.get.count() > 0)
    released()

    val missing = twoFileConf(dir, Seq("summarize", "evaluate"))
      .copy(entityIdColumn = Some("no_such_column"))
    intercept[org.apache.spark.sql.AnalysisException](ERProject.run(spark, missing))
    // the summarize step ran and filled the cache before evaluate threw
    assert(Files.exists(Paths.get(s"$dir/out/partition-sizes.csv")))
    released()
  }
}
