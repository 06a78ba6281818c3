package graft.er

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.{ConstantSimilarity, LevenshteinSimilarity}
import graft.er.model._

/** The one-pass index and record encoding ([[RecordPass]]) against the
  * grouped melt aggregation and broadcast-index encoding it replaced,
  * kept here as the oracle. */
class RecordPassSpec extends AnyFunSuite {
  import RecordPassSpec._

  lazy val spark = TestSpark.spark

  private val specs = Seq(
    AttributeSpec("fname", LevenshteinSimilarity(3.0, 10.0), BetaParams(0.5, 50.0)),
    AttributeSpec("code", ConstantSimilarity, BetaParams(1.0, 9.0)),
    AttributeSpec("empty", ConstantSimilarity, BetaParams(2.0, 3.0)),
    AttributeSpec("lname", LevenshteinSimilarity(5.0, 8.0), BetaParams(0.5, 20.0)))

  private val schema = StructType(Seq("id", "file", "fname", "code", "empty", "lname")
    .map(StructField(_, StringType)))

  /** `n` records over `numFiles` file ids and a null file id, in `slices`
    * input partitions: short names over an alphabet with astral letters,
    * every attribute null now and then, `empty` always null. */
  private def records(seed: Long, n: Int, numFiles: Int, slices: Int): DataFrame = {
    val rng = new java.util.SplittableRandom(seed)
    val alphabet = Vector("A", "B", "C", "E", "N") ++
      (0 until 3).map(i => new String(Character.toChars(0x1D400 + i)))
    def word(maxLen: Int): String =
      if (rng.nextInt(8) == 0) null
      else (0 until 1 + rng.nextInt(maxLen))
        .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
    val rows = (0 until n).map { i =>
      val file = if (rng.nextInt(10) == 0) null else s"f${rng.nextInt(numFiles)}"
      val code = if (rng.nextInt(6) == 0) null else rng.nextInt(40).toString
      Row(s"r$i${alphabet(i % alphabet.length)}", file, word(4), code, null, word(6))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }

  test("one-pass index and record table equal the melt aggregation's (randomized)") {
    val trials = Seq(
      (1L, 400, 6, 4), (2L, 300, 1, 3), (3L, 250, 2, 5), (4L, 500, 9, 6),
      (5L, 3, 5, 8), (6L, 120, 3, 12))
    trials.foreach { case (seed, n, numFiles, slices) =>
      val df = records(seed, n, numFiles, slices)
      val clue = s"seed $seed, $n records, $numFiles files, $slices slices"
      val want = meltIndex(spark, df, "file", specs)
      val got = ModelIndex.build(spark, df, "file", specs)
      assertSameIndex(got, want, clue)

      val enc = RecordPass.run(spark, df, Some("id"), col("file"), specs)
      assertSameIndex(enc.index, want, clue)
      val (table, _) = RecordTable.build(specs.length, enc.ids, enc.files, enc.values)
      val expected = meltTable(df, specs, want)
      assert(table.size == expected.size, clue)
      assert(table.files.toSeq == expected.files.toSeq, clue)
      assert((0 until table.size).map(table.id) ==
        (0 until expected.size).map(expected.id), clue)
      assert(table.fileIndex.toSeq == expected.fileIndex.toSeq, clue)
      assert(table.values.toSeq == expected.values.toSeq, clue)
    }
    // the inputs do exercise the cases named above
    val big = ModelIndex.build(spark, records(4L, 500, 9, 6), "file", specs)
    assert(big.fileSizes.size == 10 && big.fileSizes.contains(null))
    assert(big.attributes(2).domainSize == 0)
    assert(big.attributes(0).values.exists(_.exists(Character.isSurrogate)))
    assert(big.attributes(0).neighbors.exists(_.nonEmpty))
    assert(records(5L, 3, 5, 8).rdd.glom().collect().exists(_.isEmpty))
  }

  private def assertSameIndex(got: ModelIndex, want: ModelIndex, clue: String): Unit = {
    def bits(xs: Array[Array[Double]]) =
      xs.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq
    assert(got.numAttributes == want.numAttributes, clue)
    got.attributes.zip(want.attributes).foreach { case (g, w) =>
      assert(g.attrId == w.attrId && g.name == w.name, clue)
      assert(g.values.toSeq == w.values.toSeq, s"$clue: ${g.name} values")
      assert(g.counts.toSeq == w.counts.toSeq, s"$clue: ${g.name} counts")
      assert(g.neighbors.map(_.toSeq).toSeq == w.neighbors.map(_.toSeq).toSeq,
        s"$clue: ${g.name} neighbors")
      assert(bits(g.neighborExpSims) == bits(w.neighborExpSims),
        s"$clue: ${g.name} neighbor sims")
    }
    assert(got.fileSizes == want.fileSizes, clue)
    assert(got.fileSizes.keys.toSeq == want.fileSizes.keys.toSeq, s"$clue: file order")
    assert(got.observedCounts == want.observedCounts, clue)
    assert(got.observedCounts.keys.toSeq == want.observedCounts.keys.toSeq,
      s"$clue: observed order")
    assert(got.numRecords == want.numRecords, clue)
    assert(got.priorTheta.probs.toSeq == want.priorTheta.probs.toSeq, s"$clue: prior θ")
  }

  test("an oversized attribute fails inside its task, naming the attribute") {
    val n = AttributeIndex.MaxDomainSize + 1L
    val df = spark.range(0L, n, 1L, numPartitions = 1)
      .select(col("id").cast("string").as("code"), lit("0").as("file"))
    val e = intercept[SparkException] {
      ModelIndex.build(spark, df, "file",
        Seq(AttributeSpec("code", ConstantSimilarity, BetaParams(1.0, 1.0))))
    }
    assert(e.getMessage.contains(s"attribute 'code' has $n distinct values"),
      e.getMessage)
  }
}

object RecordPassSpec {

  /** The index as one grouped aggregation over the melted records built
    * it: counted `(attribute, value, file)` rows, a distributed domain
    * check, a collect, and the maps from those rows. */
  def meltIndex(spark: SparkSession, records: DataFrame, fileIdCol: String,
      specs: Seq[AttributeSpec]): ModelIndex = {
    import spark.implicits._
    val melted = records
      .select(col(fileIdCol).cast("string").as("f"),
        posexplode(array(
          specs.map(s => col(s.name).cast("string")): _*)).as(Seq("aid", "v")))
      .groupBy(col("aid"), col("v"), col("f"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    melted.filter(col("v").isNotNull)
      .groupBy(col("aid")).agg(countDistinct(col("v")).as("n"))
      .as[(Int, Long)].collect()
      .foreach { case (aid, n) =>
        AttributeIndex.requireDomainFits(specs(aid).name, n)
      }
    val rows = melted.as[(Int, String, String, Long)].collect()
    melted.unpersist(blocking = false)

    val fileSizes = rows.filter(_._1 == 0).groupBy(_._3)
      .map { case (f, rs) => f -> rs.map(_._4).sum }
    val observed = rows.filter(_._2 != null)
      .groupBy(r => (r._1, r._3))
      .map { case (k, rs) => k -> rs.map(_._4).sum }
    val byAttr = rows.filter(_._2 != null).groupBy(_._1)
    val attrs = specs.zipWithIndex.map { case (s, i) =>
      val counted = byAttr.getOrElse(i, Array.empty[(Int, String, String, Long)])
        .groupBy(_._2).map { case (v, rs) => (v, rs.map(_._4).sum) }.toArray
      AttributeIndex.fromCounts(spark, counted, i, s)
    }.toIndexedSeq
    new ModelIndex(attrs, fileSizes, observed, fileSizes.values.sum)
  }

  /** The record table as the records (columns `id`, `file` and one per
    * spec) encoded against `index`'s dictionaries in a second pass, in
    * partition order. */
  def meltTable(records: DataFrame, specs: Seq[AttributeSpec],
      index: ModelIndex): RecordTable = {
    val nA = specs.length
    val rows = records.select((col("id").cast("string") :: col("file").cast("string") ::
      specs.map(s => col(s.name).cast("string")).toList): _*).collect()
    val values = rows.flatMap(r => (0 until nA).map(a =>
      index.attributes(a).idOf(if (r.isNullAt(2 + a)) null else r.getString(2 + a))))
    RecordTable.build(nA, rows.map(_.getString(0)), rows.map(_.getString(1)), values)._1
  }
}
