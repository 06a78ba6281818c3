package graft.pipeline

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `Dedup.dedupAgainstCorpus` and `Dedup.dedupAgainstSketch` against a
  * brute-force oracle on the driver: md5 screen against the corpus,
  * in-batch keep-min per md5, then all-pairs exact word-shingle Jaccard
  * (vs the corpus, then within the batch: the higher id of a pair goes).
  * The oracle knows nothing of LSH, so inputs keep every pair at
  * J >= 0.9 or J <= 0.5: 32x4 bands at threshold 0.8 then find each
  * near pair except with probability ~1e-15, and never verify a far one. */
class IngestDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Threshold = 0.8
  private val K = 3

  private def md5Hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private def shingleSet(text: String): Set[String] = {
    val toks = text.trim.toLowerCase.split("\\s+", -1).toSeq
    if (toks.size <= K) Set(toks.mkString(" "))
    else toks.sliding(K).map(_.mkString(" ")).toSet
  }

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingleSet(a), shingleSet(b))
    (x & y).size.toDouble / (x | y).size
  }

  private def oracle(corpus: Seq[(Long, String)],
      batch: Seq[(Long, String)]): Set[Long] = {
    val corpusHashes = corpus.map(c => md5Hex(c._2)).toSet
    val exact = batch.filterNot(d => corpusHashes(md5Hex(d._2)))
      .groupBy(d => md5Hex(d._2)).values.map(_.minBy(_._1)).toSeq
    val vsCorpus = exact.filter(d =>
      corpus.exists(c => jaccard(d._2, c._2) >= Threshold)).map(_._1).toSet
    val inBatch = (for (a <- exact; b <- exact
      if a._1 < b._1 && jaccard(a._2, b._2) >= Threshold) yield b._1).toSet
    exact.map(_._1).toSet -- vsCorpus -- inBatch
  }

  private def ids(df: DataFrame): Set[Long] = df.as[Long].collect().toSet

  private def viaSketch(corpus: DataFrame, batch: DataFrame,
      maxBucket: Int = 4096): Set[Long] = {
    val dir = java.nio.file.Files.createTempDirectory("ingest-sketch").toFile
    try {
      Dedup.writeCorpusSketch(corpus, "doc_id", "text", dir.toString)
      ids(Dedup.dedupAgainstSketch(Dedup.readCorpusSketch(spark, dir.toString),
        batch, "doc_id", "text", threshold = Threshold, maxBucket = maxBucket))
    } finally graft.util.Scratch.deleteRecursively(dir)
  }

  /** Both paths, checked against the oracle. */
  private def check(corpus: Seq[(Long, String)],
      batch: Seq[(Long, String)]): Set[Long] = {
    val c = corpus.toDF("doc_id", "text")
    val b = batch.toDF("doc_id", "text")
    val want = oracle(corpus, batch)
    val inline = ids(Dedup.dedupAgainstCorpus(c, b, "doc_id", "text",
      threshold = Threshold))
    assert(inline == want, s"inline ${inline -- want} extra, ${want -- inline} missing")
    val sketch = viaSketch(c, b)
    assert(sketch == want, s"sketch ${sketch -- want} extra, ${want -- sketch} missing")
    want
  }

  private def words(rng: scala.util.Random, n: Int): Vector[String] =
    Vector.fill(n)(s"w${rng.nextInt(5000)}")

  /** A copy at J >= 0.9: the last word replaced (one shingle of ~40
    * differs), the last word dropped, or one word appended. */
  private def near(rng: scala.util.Random, ws: Vector[String]): Vector[String] =
    rng.nextInt(3) match {
      case 0 => ws.init :+ s"edit${rng.nextInt(1000000)}"
      case 1 => ws.init
      case _ => ws :+ s"tail${rng.nextInt(1000000)}"
    }

  test("randomized batches match the brute-force oracle on both paths") {
    (1 to 3).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val corpusWords = Vector.fill(30)(words(rng, 35 + rng.nextInt(20)))
      val corpus = corpusWords.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" ")) }
      val fresh = Vector.fill(8)(words(rng, 35 + rng.nextInt(20)))
      val batchWords = Seq.tabulate(24) { i =>
        rng.nextInt(6) match {
          case 0 => corpusWords(rng.nextInt(30))              // exact vs corpus
          case 1 => near(rng, corpusWords(rng.nextInt(30)))   // near vs corpus
          case 2 => fresh(rng.nextInt(8))                     // exact in batch
          case 3 => near(rng, fresh(rng.nextInt(8)))          // near in batch
          case 4 => words(rng, 1 + rng.nextInt(3))            // shorter than k
          case _ => words(rng, 35 + rng.nextInt(20))          // fresh
        }
      }
      // ids interleave with the corpus's 0..29, so some coincide
      val batch = rng.shuffle(batchWords.zipWithIndex.map { case (ws, i) =>
        ((i * 7 % 40).toLong + 10, ws.mkString(" ")) }.distinctBy(_._1))
      val kept = check(corpus, batch)
      assert(kept.nonEmpty && kept.size < batch.size, s"seed $seed kept $kept")
    }
  }

  test("a batch id equal to a corpus id is only a name") {
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val corpus = Seq((5L, text), (6L, "one two three four five six seven eight nine ten"))
    val batch = Seq(
      (5L, "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"),
      (6L, text + " extra"))
    assert(check(corpus, batch) == Set(5L))
  }

  test("in-batch exact and near duplicates keep the lowest id") {
    val base = "the river runs past the mill and under the old stone bridge " +
      "toward the sea where the boats wait for the tide to turn again"
    val batch = Seq((30L, base), (20L, base), (25L, base + " tonight"),
      (40L, "an unrelated line about mountains weather and long walks " +
        "across the valley floor in early spring with friends"))
    assert(check(Seq((1L, "corpus text that matches nothing in the batch at all")),
      batch) == Set(20L, 40L))
  }

  test("documents shorter than k words compare as one shingle") {
    val corpus = Seq((1L, "hello world"), (2L, "a much longer corpus document here"))
    val batch = Seq(
      (10L, "Hello World"),  // same shingle, different md5: near dup
      (11L, "hello world"),  // exact dup of corpus 1
      (12L, "goodbye"),
      (13L, "GOODBYE"),      // near dup of 12 within the batch
      (14L, ""))
    assert(check(corpus, batch) == Set(12L, 14L))
  }

  test("an empty batch or an empty corpus") {
    val corpus = Seq((1L, "some corpus text with enough words to shingle"))
    val batch = Seq((2L, "some corpus text with enough words to shingle"),
      (3L, "fresh words entirely unlike anything in the corpus"))
    assert(check(corpus, Nil).isEmpty)
    assert(check(Nil, batch) == Set(2L, 3L))
  }

  test("corpus buckets over maxBucket are not candidates (sketch and inline)") {
    val text = "one fish two fish red fish blue fish black fish blue fish " +
      "old fish new fish this one has a little star"
    // two corpus copies: every bucket of `text` holds 2 corpus docs
    val corpus = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val batch = Seq((10L, text + " today")).toDF("doc_id", "text")
    assert(viaSketch(corpus, batch) == Set.empty[Long])
    assert(viaSketch(corpus, batch, maxBucket = 1) == Set(10L))
    val capped = IngestDedup.Shape(Threshold, K, bands = 32, rowsPerBand = 4,
      maxBucket = 1)
    assert(ids(IngestDedup.againstCorpus(corpus, batch, "doc_id", "text",
      capped)) == Set(10L))
  }

  test("a skewed corpus: a boilerplate bucket over maxBucket drops nothing") {
    val text = "terms of service apply to every page of this site and all " +
      "content on it is provided as is without warranty of any kind"
    // 40 copies over 4 partitions: each partition alone holds 10 > 8 of
    // every bucket of `text`
    val corpus = spark.sparkContext
      .parallelize((1 to 40).map(i => (i.toLong, text)), 4).toDF("doc_id", "text")
    val batch = Seq((100L, text + " today"),
      (101L, "a short note about the weather and the garden and the birds " +
        "that came back to the feeder this morning")).toDF("doc_id", "text")
    val capped = IngestDedup.Shape(Threshold, K, bands = 32, rowsPerBand = 4,
      maxBucket = 8)
    assert(ids(IngestDedup.againstCorpus(corpus, batch, "doc_id", "text",
      capped)) == Set(100L, 101L))
    assert(viaSketch(corpus, batch, maxBucket = 8) == Set(100L, 101L))
    // under the default cap the near copy goes
    assert(ids(Dedup.dedupAgainstCorpus(corpus, batch, "doc_id", "text",
      threshold = Threshold)) == Set(101L))
    assert(viaSketch(corpus, batch) == Set(101L))
  }

  test("a batch sketch over the byte cap fails with a message naming it") {
    val batch = Seq((1L, "a few words of text"), (2L, "and a few more")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      IngestDedup.collectBatch(batch, "doc_id", "text",
        IngestDedup.Shape(Threshold, K, 32, 4, 4096), cap = 64L)
    }
    assert(e.getMessage.contains("exceeds 64 bytes"), e.getMessage)
  }

  test("the corpus pass sends the driver only the keys a partition hit") {
    val rng = new scala.util.Random(11)
    val corpus = spark.sparkContext.parallelize(
      Seq.tabulate(256)(i => (i.toLong, words(rng, 40).mkString(" "))), 64)
      .toDF("doc_id", "text")
    val batch = Seq.tabulate(2000)(i =>
      (100000L + i, words(rng, 40).mkString(" "))).toDF("doc_id", "text")
    val (kept, shape) = TestSpark.jobShape(ids(Dedup.dedupAgainstCorpus(
      corpus, batch, "doc_id", "text", threshold = Threshold)))
    assert(kept.size == 2000)
    // the corpus pass is the last job: 64 scan tasks, merged in a tree. A
    // per-partition count per batch key (2000 docs x 32 bands x 8 B) would
    // be 500 KiB a task, 32 MiB in all.
    assert(shape.resultBytes.last < (256L << 10), shape)
  }

  test("dedupAgainstCorpus runs three jobs on a single-file corpus") {
    import org.apache.spark.sql.functions.col
    // the benchmark's read-only copy of the sf0.01 tables: one Parquet file
    val docs = spark.read.parquet("perfbench/data/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    val batch = docs.filter(col("doc_id") % 30 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      .unionAll(docs.filter(col("doc_id") % 30 === 7)
        .select((col("doc_id") + 300000).as("doc_id"), col("text")))
    // the batch sketch, the corpus fan-out's shuffle and the corpus pass;
    // the plan of joins it replaced ran 44 jobs in the q_dedup_incremental
    // gate at sf0.01
    val (df, shape) = TestSpark.jobShape(
      Dedup.dedupAgainstCorpus(docs, batch, "doc_id", "text"))
    assert(shape.jobs == 3, shape)
    assert(df.count() == 0)
  }
}
