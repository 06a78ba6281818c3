package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard — all expressed as declarative
  * DataFrame pipelines (hash → band → bucket-join), so the only shuffles
  * are the band-bucket groupBys/joins and everything stays in whole-stage
  * codegen (no Python, no RDDs). The ingest dedup is the exception: it
  * resolves a batch-sized sketch on the driver ([[IngestDedup]]).
  */
object Dedup {

  /** Exact duplicates: md5 over the raw text, one hash-aggregation. */
  def exactDuplicateGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("docId"), md5(col(textCol).cast("binary")).as("hash"))
      .groupBy(col("hash"))
      .agg(sort_array(collect_list(col("docId"))).as("docIds"),
        count(lit(1)).as("n"))
      .filter(col("n") >= 2)

  /** Whitespace word tokens, lowercased. */
  def tokens(textCol: Column): Column =
    split(lower(trim(textCol)), "\\s+")

  /** Engine-portable 60-bit string hash: the first 15 hex digits of md5
    * as a positive BIGINT. DuckDB reproduces it exactly as
    * `CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT)`, which is what
    * lets sketch pipelines built on it (SimHash, winnowing) be replayed
    * relationally by the correctness oracle. ~3x the cost of xxhash64 —
    * production paths keep xxhash64 as their default hash; gates pass
    * this one in. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Word k-shingles as strings ("a b c" for k=3). Documents shorter than
    * k words yield their full token string as the single shingle. */
  def shingles(textCol: Column, k: Int): Column = {
    val toks = tokens(textCol)
    array_distinct(when(size(toks) <= k, array(array_join(toks, " ")))
      .otherwise(transform(
        sequence(lit(0), size(toks) - lit(k)),
        i => array_join(slice(toks, i + lit(1), lit(k)), " "))))
  }

  private def fanOut(df: DataFrame): DataFrame = graft.Tables.fanOut(df)

  /** (docId, shingle-array) projection — the shared upstream of both the
    * LSH banding and the exact verification stages. */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    fanOut(docs).select(col(idCol).as("docId"),
      shingles(col(textCol), shingleSize).as("sh"))

  /** Remix of a base hash under seed i — the i-th "permutation" for
    * MinHash from a single string-hash pass. xxhash64 over the 8-byte
    * long is native + codegen'd and gives independent functions per seed
    * (xor/shift schemes are GF(2)-linear → correlated bands; long
    * multiplication trips ANSI overflow checks). */
  private def remix(h: Column, i: Int): Column = xxhash64(lit(i), h)

  /** MinHash signature from a precomputed shingle-hash array: for each of
    * `numHashes` derived hash functions, the minimum remixed hash.
    *
    * Computed by the native one-pass `MinHashSig` expression
    * (graft.functions.Sketches) — bitwise-equal to the column-algebra
    * form below but with no per-slot intermediate arrays. The expensive
    * part (string hashing of every shingle) happens ONCE in the input
    * column; inlining the shingle expression here instead would recompute
    * the string work `numHashes` times per row — measured 16x slower at
    * sf0.1. */
  def minHashSignature(shingleHashCol: Column, numHashes: Int): Column =
    graft.functions.Sketches.minhash_sig(shingleHashCol, numHashes)

  /** Column-algebra reference form of `minHashSignature` (one
    * array_min(transform(...)) per slot) — kept as the parity oracle for
    * the native expression. */
  private[pipeline] def minHashSignatureAlgebra(
      shingleHashCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingleHashCol, h => remix(h, i)))
    }: _*)

  /** LSH banding from a precomputed shingle table: (docId, band,
    * bandHash). bands × rowsPerBand must equal the signature length. */
  def lshBandsFromShingles(shingleDf: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame = {
    shingleDf
      .select(col("docId"), transform(col("sh"), s => xxhash64(s)).as("shHash"))
      .select(col("docId"),
        minHashSignature(col("shHash"), bands * rowsPerBand).as("sig"))
      .select(col("docId"), posexplode(bandHashes(col("sig"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bandHash")
  }

  /** The `bands` LSH bucket keys of a MinHash signature column: band b
    * hashes rows b·r+1 .. b·r+r of the signature, joined as decimal text,
    * under the tag "band" and the band index. Each band's element
    * references `sig` itself, and Spark merges a projection into the
    * next only when its non-trivial expressions are referenced once, so
    * the signature stays computed once in the projection below. */
  private[pipeline] def bandHashes(sig: Column, bands: Int,
      rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit("band"), lit(b),
        array_join(slice(sig, b * rowsPerBand + 1, rowsPerBand), ","))
    }: _*)

  /** LSH banding: docs sharing any (bandIndex, bandHash) bucket are
    * candidate near-duplicates. */
  def lshBands(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, bands: Int, rowsPerBand: Int): DataFrame =
    lshBandsFromShingles(shingleTable(docs, idCol, textCol, shingleSize),
      bands, rowsPerBand)

  /** Candidate pairs from LSH buckets (distinct, canonicalized a < b).
    * The self-join shuffles once on the bucket key. A template-heavy
    * corpus lands MANY docs in one (band, bandHash) bucket; |bucket|²
    * pairs ARE the LSH candidate semantics, but an uncapped self-join
    * runs them as ONE straggler task — buckets past `maxBucket` are
    * therefore SALTED exactly like `Blocking.symspellPairs` (two-sided
    * hash split into g = ⌈bucket/maxBucket⌉ groups per axis; every pair
    * of a bucket meets in exactly one (bucket, ga, gb) composite, so
    * the candidate set is unchanged — lossless, unlike a df cap, and
    * the per-task join input is bounded by ~2·maxBucket rows). */
  def lshCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      maxBucket: Int = 4096): DataFrame = {
    require(maxBucket >= 1, "maxBucket must be >= 1")
    // both sides of the self-join consume the band table — materialize it
    // once instead of recomputing the signatures per side (at scale this
    // is the natural checkpoint of the dedup pipeline)
    // mode-aware cut (GC-reclaimed locally, durable under reliable
    // mode), not persist: the returned pair plan stays lazy over this
    // frame and no caller can unpersist it
    val b = graft.operators.LoopCheckpoint.cut(
        lshBands(docs, idCol, textCol, shingleSize, bands, rowsPerBand))
      .toDF("docId", "band", "bandHash")
    val salted = b
      .withColumn("__kc", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bandHash"))))
      .withColumn("__g",
        floor((col("__kc") + lit(maxBucket - 1L)) / lit(maxBucket.toLong))
          .cast("int"))
      .withColumn("__s",
        pmod(xxhash64(col("docId")), col("__g")).cast("int"))
    val l = salted.select(col("docId").as("a"), col("band"),
      col("bandHash"), col("__s").as("__sa"),
      explode(sequence(lit(0), col("__g") - 1)).as("__sb"))
    val r = salted.select(col("docId").as("b"), col("band"),
      col("bandHash"),
      explode(sequence(lit(0), col("__g") - 1)).as("__sa"),
      col("__s").as("__sb"))
    l.join(r, Seq("band", "bandHash", "__sa", "__sb"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
  }

  /** Exact Jaccard similarity on word-shingle sets for given id pairs —
    * the verification stage after LSH candidate generation. */
  def verifyJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 3): DataFrame =
    joinExactJaccard(shingleTable(docs, idCol, textCol, shingleSize), pairs)

  /** Join candidate (a, b) pairs against a (docId, sh) shingle table and
    * compute exact Jaccard. The shingle table is semi-join-pruned to docs
    * that appear in at least one candidate pair BEFORE its arrays enter
    * the pair joins: at scale the candidate set is a small fraction of the
    * corpus, so the two array-carrying shuffles move only candidate docs'
    * shingles, not the whole table's (and AQE turns the prune itself into
    * a broadcast semi-join when the id list is small). */
  private def joinExactJaccard(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val aCand = sh.join(pairs.select(col("a").as("docId")).distinct(),
      Seq("docId"), "left_semi")
    val bCand = sh.join(pairs.select(col("b").as("docId")).distinct(),
      Seq("docId"), "left_semi")
    pairs
      .join(aCand.toDF("a", "shA"), "a")
      .join(bCand.toDF("b", "shB"), "b")
      .select(col("a"), col("b"),
        (size(array_intersect(col("shA"), col("shB"))).cast("double") /
          size(array_union(col("shA"), col("shB")))).as("jaccard"))
  }

  /** Asymmetric CONTAINMENT near-dup: ordered pairs (a, b) with
    * C(a→b) = |S(a) ∩ S(b)| / |S(a)| ≥ `tau` on distinct word-shingle
    * hash sets — the quote/truncation/doc-in-doc detector Jaccard
    * misses (a short excerpt of a long document has low Jaccard but
    * containment ≈ 1; Broder's original resemblance/containment pair).
    *
    * Shape: one shingle+hash pass (8-byte md5-derived keys so the
    * postings shuffle never carries strings and the oracle replays the
    * hash exactly), a df-cap dropping shingles shared by more than
    * `maxDf` documents (boilerplate carries no containment signal and
    * is what makes the postings self-join quadratic — the same cap
    * discipline as every LSH band stage here), the capped postings
    * self-join counting intersections (≤ maxDf² pairs per shingle,
    * bounded), and one join back to |S(a)|. Both directions emerge
    * naturally (containment is not symmetric). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, tau: Double = 0.8,
      maxDf: Int = 64): DataFrame = {
    val hs = fanOut(docs).select(col(idCol).as("docId"),
        array_distinct(transform(shingles(col(textCol), shingleSize),
          s => md5Long(s))).as("hs"))
      // mode-aware cut, not persist — see lshCandidatePairs; the
      // result plan stays lazy over this frame
      .transform(graft.operators.LoopCheckpoint.cut)
    val sizes = hs.select(col("docId"), size(col("hs")).cast("long").as("n"))
    val ex = hs.select(col("docId"), explode(col("hs")).as("h"))
    val kept = ex.join(
      ex.groupBy(col("h")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select(col("h")), Seq("h"))
    val inter = kept.select(col("h"), col("docId").as("a"))
      .join(kept.select(col("h"), col("docId").as("b")), Seq("h"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("docId").as("a"), col("n").as("n_a")), Seq("a"))
      .filter(col("inter").cast("double") / col("n_a") >= tau)
      .select(col("a"), col("b"), col("inter"), col("n_a"),
        round(col("inter").cast("double") / col("n_a") * lit(1e6)
          + lit(1e-3)).cast("long").as("cont_e6"))
  }

  /** MinHash+LSH near-duplicate pairs above a Jaccard threshold.
    *
    * The shingle table is computed ONCE and persisted: the band/bucket
    * stage consumes its hashes, and the exact-verification stage joins
    * the same arrays back — without this the most expensive projection
    * (tokenize + shingle every document) runs twice.
    *
    * Caching contract: the returned plan references tables persisted at
    * `persistLevel` that stay cached until the session's cache is cleared
    * (Bench/Verify call `spark.catalog.clearCache()` per query). Library
    * callers embedding this in a long-lived session should either clear
    * the cache after consuming the result or pass `StorageLevel.NONE`
    * (correct, but recomputes the shingle projection per consumer). */
  def nearDuplicatePairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, shingleSize: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4,
      maxBucket: Int = 4096,
      persistLevel: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    def cached(df: DataFrame): DataFrame =
      if (persistLevel == org.apache.spark.storage.StorageLevel.NONE) df
      else df.persist(persistLevel)
    val sh = cached(shingleTable(docs, idCol, textCol, shingleSize))
    val b = cached(lshBandsFromShingles(sh, bands, rowsPerBand))
    // candidates via df-capped posting lists, NOT an uncapped bucket
    // self-join: a bucket holding B docs costs B² pairs, and on a
    // template-heavy corpus (many near-identical band signatures) a hot
    // bucket turns the candidate stage quadratic. A bucket larger than
    // `maxBucket` carries no discriminative signal — its members are
    // boilerplate-degree similar and any TRUE near-dup pair in it also
    // collides in other, smaller buckets — so it is dropped, bounding
    // the worst case at maxBucket × bucket count. cands is consumed
    // three times downstream (pair join + both semi-join branches).
    val cands = cached(b
      .groupBy("band", "bandHash")
      .agg(collect_set(col("docId")).as("__ids"))
      .filter(size(col("__ids")).between(2, maxBucket))
      .select(explode(col("__ids")).as("a"), col("__ids"))
      .select(col("a"), explode(col("__ids")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct())
    joinExactJaccard(sh, cands).filter(col("jaccard") >= threshold)
  }

  /** Incremental ingest dedup — the daily-batch story: drop new docs
    * that exactly or nearly duplicate the EXISTING corpus, or an
    * earlier doc in the same batch. Returns the surviving new doc ids
    * (one column, `docId`).
    *
    * Rules:
    *  1. exact vs corpus: a doc whose md5 the corpus contains is dropped;
    *  2. exact within batch: the lowest id per content hash is kept;
    *  3. near vs corpus: a survivor sharing an LSH band bucket with a
    *     corpus doc at exact word-shingle Jaccard >= `threshold` is
    *     dropped, over buckets holding at most `maxBucket` corpus docs
    *     (larger buckets are boilerplate-degree similarity, and their
    *     true near-dups also collide in smaller buckets);
    *  4. near within batch: for each survivor pair sharing a bucket of
    *     2..`maxBucket` survivors at Jaccard >= `threshold`, the higher
    *     id is dropped (whether or not the lower id survives rule 3 —
    *     deterministic and replayable).
    *
    * Shape: the batch is resolved on the DRIVER. One job collects its
    * sketch (id, md5, shingle set, band keys); the driver applies rule 2
    * and rule 4. The corpus is read in ONE pass with that sketch
    * broadcast, which returns the batch hashes the corpus contains, the
    * corpus row count of every batch bucket key, and, per batch doc, the
    * bands it shares with a corpus doc it verifies against — so no
    * candidate pair is ever shuffled and the corpus never joins itself.
    * The premise is a batch that fits the driver (an ingest slice, not a
    * corpus), the one the inline path has always made when it broadcast
    * the batch's band keys. A batch sketch over [[IngestDedup.MaxBatchSketchBytes]]
    * fails with a message to split the batch rather than exhaust the
    * driver. Ids are keys on both sides (a null id is kept and never
    * drops another doc). */
  def dedupAgainstCorpus(corpus: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      bands: Int = 32, rowsPerBand: Int = 4): DataFrame =
    IngestDedup.againstCorpus(corpus, newDocs, idCol, textCol,
      IngestDedup.Shape(threshold, shingleSize, bands, rowsPerBand,
        maxBucket = 4096))

  /** The reusable corpus-side dedup asset: content hashes, the shingle
    * table (docId, sh), and the LSH band table (docId, band, bandHash).
    * Build once per corpus version with `writeCorpusSketch`; per-ingest
    * cost is then proportional to the NEW batch only. */
  final case class CorpusSketch(hashes: DataFrame, shingles: DataFrame,
      bandPostings: DataFrame)

  /** Aggregate a (docId, band, bandHash) table into per-bucket posting
    * lists (band, bandHash, cids). Stored UNCAPPED in the sketch; the
    * ingest-time `maxBucket` filter is applied per query so one sketch
    * serves any cap. */
  private def bandPostingsOf(bandTable: DataFrame): DataFrame =
    bandTable.groupBy("band", "bandHash")
      .agg(collect_set(col("docId")).as("cids"))

  /** Materialize the corpus sketch to parquet (three tables under
    * `path`). Bands are stored as per-bucket POSTING LISTS, aggregated
    * once here — so per-ingest cost genuinely tracks the new batch (an
    * ingest never re-aggregates or re-shuffles the corpus side; it reads
    * the posting rows of the batch's bucket keys). */
  def writeCorpusSketch(corpus: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 3,
      bands: Int = 32, rowsPerBand: Int = 4): Unit = {
    corpus.select(md5(col(textCol).cast("binary")).as("h")).distinct()
      .write.mode("overwrite").parquet(s"$path/hashes.parquet")
    val sh = shingleTable(corpus, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.write.mode("overwrite").parquet(s"$path/shingles.parquet")
    bandPostingsOf(lshBandsFromShingles(sh, bands, rowsPerBand))
      .write.mode("overwrite").parquet(s"$path/bands.parquet")
    sh.unpersist()
  }

  /** Load a sketch previously written by `writeCorpusSketch`.
    *
    * Fails fast with a rebuild message when `bands.parquet` predates the
    * posting-list format (per-row docId/band/bandHash, written before the
    * r4 sketch change) — otherwise a stale sketch surfaces much later as
    * an opaque unresolved-column error on `cids`. */
  def readCorpusSketch(spark: org.apache.spark.sql.SparkSession,
      path: String): CorpusSketch = {
    val bandsDf = spark.read.parquet(s"$path/bands.parquet")
    require(bandsDf.columns.contains("cids"),
      s"$path/bands.parquet has columns [${bandsDf.columns.mkString(", ")}] " +
        "but the posting-list sketch format requires (band, bandHash, cids); " +
        "this sketch was written by an older version — rebuild it with " +
        "writeCorpusSketch")
    CorpusSketch(
      spark.read.parquet(s"$path/hashes.parquet"),
      spark.read.parquet(s"$path/shingles.parquet"),
      bandsDf)
  }

  /** `dedupAgainstCorpus` against prepared corpus assets — the daily-
    * ingest fast path. Only the new batch is hashed, shingled and banded;
    * the corpus side is read from the sketch: the hashes table filtered
    * to the batch's hashes, the posting rows of the batch's bucket keys
    * (`maxBucket` applied to each row's list), and the shingle rows of
    * the candidate corpus ids those lists name, verified against the
    * broadcast batch sketch. Same rules and driver premise as
    * `dedupAgainstCorpus`. */
  def dedupAgainstSketch(assets: CorpusSketch, newDocs: DataFrame,
      idCol: String, textCol: String,
      threshold: Double = 0.8, shingleSize: Int = 3,
      bands: Int = 32, rowsPerBand: Int = 4,
      maxBucket: Int = 4096): DataFrame =
    IngestDedup.againstSketch(assets, newDocs, idCol, textCol,
      IngestDedup.Shape(threshold, shingleSize, bands, rowsPerBand, maxBucket))

  /** Bloom asset over the corpus's xxhash64 content keys — the exact-
    * dedup prefilter for [[exactDedupWithBloom]]. Built by Spark's
    * distributed treeAggregate (`stat.bloomFilter`); the driver holds
    * the merged bitset (~1.2 GB per 1e9 items at 1% fpp — cap fpp or
    * shard above that). One counting pass sizes it; at a known corpus
    * cardinality pass `expectedItems` to skip the count. */
  def buildCorpusBloom(corpus: DataFrame, textCol: String,
      fpp: Double = 0.01, expectedItems: Long = -1L): Array[Byte] = {
    val keys = fanOut(corpus).select(xxhash64(col(textCol)).as("xh"))
    val n = if (expectedItems > 0) expectedItems
      else math.max(keys.count(), 1L)
    graft.functions.Bloom.buildLong(keys, "xh", n, fpp)
  }

  /** Exact incremental dedup with a Bloom prefilter: batch rows whose
    * content key the bloom REJECTS are definitely new and never touch
    * the corpus-hash table; only bloom positives (true duplicates plus
    * the fpp fraction) reach the anti-join. The result EXACTLY equals
    * the plain anti-join (no false negatives), with first-per-group
    * kept within the batch — but at scale the corpus side of the join
    * shrinks from "every ingest row" to the suspect set, and the bloom
    * itself is a broadcast-sized asset instead of a shuffled table. */
  def exactDedupWithBloom(corpusHashes: DataFrame, bloomBytes: Array[Byte],
      newDocs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("docId").asc)
    val hashed = newDocs.select(col(idCol).as("docId"),
      col(textCol).as("text"),
      md5(col(textCol).cast("binary")).as("h"),
      graft.functions.Bloom.might_contain_long(bloomBytes,
        xxhash64(col(textCol))).as("__maybe"))
    val suspects = hashed.filter(col("__maybe"))
      .join(corpusHashes, Seq("h"), "left_anti")
    val fresh = hashed.filter(!col("__maybe"))
    // by NAME: the using-key anti join moved `h` to the front of
    // `suspects`, so a positional union would mis-align the columns
    suspects.unionByName(fresh)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("docId"), col("text"))
  }

  /** 64-bit SimHash from a precomputed token-hash array column: per bit,
    * the sign of the sum of token-hash bits. Computed by the native
    * one-pass `SimHashSig` expression (graft.functions.Sketches) —
    * bitwise-equal to the 64-fold column-algebra form below. Feed it a
    * materialized hash column (see `simHashes`) so tokenization isn't
    * redone 64 times. */
  def simHashFromHashes(hashesCol: Column): Column =
    graft.functions.Sketches.simhash_sig(hashesCol)

  /** Column-algebra reference form (64 conditional `aggregate` folds) —
    * kept as the parity oracle for the native expression. */
  private[pipeline] def simHashFromHashesAlgebra(hashesCol: Column): Column = {
    val bitCols = (0 until 64).map { b =>
      // sum of (bit set ? 1 : -1) over tokens, then sign → bit b
      val bitSum = aggregate(hashesCol, lit(0),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1))
      when(bitSum > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** (id, simhash) for every document — tokenize+hash once, then fold.
    * `hashFn` is the per-token hash: xxhash64 by default, `md5Long` when
    * the result must be replayable outside Spark (the oracle gate). */
  def simHashes(docs: DataFrame, idCol: String, textCol: String,
      hashFn: Column => Column = xxhash64(_)): DataFrame =
    fanOut(docs).select(col(idCol).as("docId"),
      transform(tokens(col(textCol)), t => hashFn(t)).as("th"))
      .select(col("docId"), simHashFromHashes(col("th")).as("sig"))

  /** Convenience single-column form (used in tests/ad-hoc queries). */
  def simHash(textCol: Column): Column =
    simHashFromHashes(transform(tokens(textCol), t => xxhash64(t)))

  /** Hamming distance between two 64-bit signatures. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Smallest chunk count whose pigeonhole guarantee covers `maxHamming`:
    * a pair within that distance cannot differ in every chunk, so it
    * shares at least one and is always found. 4 chunks guarantee
    * hamming <= 3, 8 guarantee <= 7, and so on. The auto rule is the ONE
    * recall default shared by the batch and streaming SimHash paths —
    * r5 shipped batch-guaranteed-3 vs streaming-best-effort-6, a
    * foot-gun this replaces. */
  def autoNumChunks(maxHamming: Int): Int = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64): $maxHamming")
    Seq(4, 8, 16, 32, 64).find(_ > maxHamming).get
  }

  /** SimHash near-duplicate candidates: block on `numChunks` equal bit
    * chunks of the 64-bit signature, then verify the full distance.
    *
    * RECALL CONTRACT (pigeonhole): a pair is guaranteed to share a chunk
    * — and thus be found — only when hamming <= numChunks - 1. The
    * default `numChunks = 0` means AUTO: pick [[autoNumChunks]], the
    * smallest blocking that makes recall at `maxHamming` guaranteed
    * (maxHamming 3 → 4 x 16-bit chunks, 4..7 → 8 x 8-bit chunks, …).
    * Passing an explicit numChunks <= maxHamming opts into BEST-EFFORT
    * recall (a pair whose differing bits land in every chunk is silently
    * missed) in exchange for narrower buckets. The oracle gates replay
    * whatever blocking the query uses, so they check blocking parity,
    * not absolute recall. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      hashFn: Column => Column = xxhash64(_),
      numChunks: Int = 0): DataFrame =
    simHashPairsFromSigs(simHashes(docs, idCol, textCol, hashFn),
      maxHamming, numChunks)

  /** Chunk-blocked candidate-verify over a precomputed (docId, sig)
    * table — see `simHashPairs` for the recall contract (numChunks 0 =
    * auto-guaranteed blocking). */
  def simHashPairsFromSigs(sigs: DataFrame, maxHamming: Int,
      numChunks: Int = 0): DataFrame = {
    val nc = if (numChunks == 0) autoNumChunks(maxHamming) else numChunks
    require(64 % nc == 0, s"numChunks must divide 64: $nc")
    val chunkBits = 64 / nc
    val mask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    val chunks = sigs.select(col("docId"), col("sig"), posexplode(
      array((0 until nc).map(c =>
        shiftright(col("sig"), c * chunkBits).bitwiseAND(lit(mask))): _*)))
      .toDF("docId", "sig", "chunk", "chunkVal")
    val l = chunks.toDF("a", "sigA", "chunk", "chunkVal")
    val r = chunks.toDF("b", "sigB", "chunk", "chunkVal")
    l.join(r, Seq("chunk", "chunkVal"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        hammingDistance(col("sigA"), col("sigB")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Train/test contamination detection: (trainId, testId) pairs whose
    * word-shingle overlap reaches `minOverlap` — the standard eval-set
    * leakage check before training. One shuffle on the shingle key.
    *
    * Hot shingles (boilerplate phrases) are the skew hazard at scale:
    * shingles occurring more than `maxShingleDf` times in training are
    * dropped (they carry no discriminative signal and would fan out
    * quadratically). The df prune and the per-shingle posting list come
    * out of ONE aggregation over the exploded train side, so the train
    * corpus is scanned and shuffled exactly once — no cache needed. */
  def contaminationPairs(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      minOverlap: Int = 5, maxShingleDf: Int = 1000): DataFrame = {
    // shingles travel as xxhash64 longs: every downstream shuffle, sort
    // and equality runs on 8-byte keys instead of strings. Overlap
    // counts are identical absent a 64-bit collision (~1e-8 across a
    // million shingles; the string-based oracle verifies the gate).
    //
    // ONE pass over the train corpus: group occurrences by shingle,
    // carrying the (df-capped) occurrence list — the df prune and the
    // posting list come out of the same aggregation, replacing the
    // persist + count + semi-join + join plan that scanned and shuffled
    // the train shingle table twice. Lists are bounded by maxShingleDf
    // (~8 KB at the default), so the explode after the test join fans
    // out at most df x test-occurrences rows — the same rows the
    // equi-join produced.
    val tr = shingleTable(train, idCol, textCol, shingleSize)
      .select(col("docId").as("trainId"),
        explode(transform(col("sh"), s => xxhash64(s))).as("s"))
    val te = shingleTable(test, idCol, textCol, shingleSize)
      .select(col("docId").as("testId"),
        explode(transform(col("sh"), s => xxhash64(s))).as("s"))
    val postings = tr.groupBy(col("s"))
      .agg(count(lit(1)).as("df"), collect_list(col("trainId")).as("tids"))
      .filter(col("df") <= maxShingleDf)
      .select(col("s"), col("tids"))
    postings.join(te, Seq("s"))
      .select(explode(col("tids")).as("trainId"), col("testId"))
      .groupBy(col("trainId"), col("testId"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** Character n-gram Jaccard similarity between given id pairs. The
    * n-gram table is semi-join-pruned to docs appearing in a pair before
    * its arrays shuffle — at scale the pair list is tiny next to the
    * corpus, so only candidate docs' gram arrays move. */
  def charNgramJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val candIds = pairs.select(col("a").as("docId"))
      .union(pairs.select(col("b").as("docId"))).distinct()
    val g2 = fanOut(docs).select(col(idCol).as("docId"),
      array_distinct(transform(
        sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1))),
        i => col(textCol).substr(i, lit(n)))).as("g"))
      .join(candIds, Seq("docId"), "left_semi")
    pairs
      .join(g2.toDF("a", "gA"), "a")
      .join(g2.toDF("b", "gB"), "b")
      .select(col("a"), col("b"),
        (size(array_intersect(col("gA"), col("gB"))).cast("double") /
          size(array_union(col("gA"), col("gB")))).as("jaccard"))
  }

  /** Cross-group duplicate matrix: fold a near-dup pair list through an
    * id→group mapping into canonicalized (group_a, group_b) pair counts
    * — the overlap report that tells a corpus owner WHICH sources
    * duplicate which (cross-source contamination, mirror detection,
    * ingest-feed overlap) rather than just how many pairs exist.
    * Diagonal entries count within-group duplication.
    *
    * Scale shape: two equi-joins carry only the pair list (tiny next to
    * the corpus — near-dup output is churn-sized) against the id→group
    * mapping, then one hash aggregate over group pairs (output bounded
    * by |groups|², metadata-sized). Canonical (least, greatest) ordering
    * makes the matrix engine-portable. Pairs whose ids are absent from
    * `groups` are dropped by the inner joins — pass a complete mapping
    * (or pre-assign an "unknown" group) if every pair must be counted. */
  def crossGroupMatrix(pairs: DataFrame, groups: DataFrame,
      idCol: String, groupCol: String): DataFrame = {
    val g = groups.select(col(idCol), col(groupCol))
    pairs
      .join(g.toDF("a", "gA"), "a")
      .join(g.toDF("b", "gB"), "b")
      .select(least(col("gA"), col("gB")).as("group_a"),
        greatest(col("gA"), col("gB")).as("group_b"))
      .groupBy("group_a", "group_b")
      .agg(count(lit(1)).cast("long").as("n_pairs"))
  }
}
