package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.pipeline.Dedup

/** Streaming near-duplicate detection over a document stream — the
  * stateful counterpart of the batch SimHash path (`Dedup.simHashPairs`).
  *
  * Design: signature-only state. Each document is reduced to a 64-bit
  * SimHash as a column expression BEFORE the stateful stage, and the
  * per-bucket state holds (docId, sig) pairs only — the stream's text
  * never enters state, so state size is 16 bytes per document per chunk
  * regardless of document size. Buckets are equal-width signature chunks
  * sized by `Dedup.autoNumChunks` (pigeonhole: any pair within the
  * requested Hamming distance shares at least one chunk — the same
  * guaranteed-recall blocking as the batch operator), so an arriving
  * document is compared only against
  * its bucket's members, never the whole history — the same
  * candidate-generate + verify shape as the batch operator, re-expressed
  * as `flatMapGroupsWithState`.
  *
  * A pair colliding in several chunks is emitted once per colliding
  * chunk; consumers take the distinct pair set (the drain-once runner's
  * gate query does exactly that). At scale, state eviction follows the
  * same watermark policy as `dedupWithinWatermark` — a corpus-lifetime
  * dedup instead keeps the bucket map in a compacted store and this
  * operator handles the within-horizon stream.
  */
object DocStreams {

  final case class ChunkRow(docId: Long, sig: Long, chunk: Int, chunkVal: Long)
  final case class SimHashHit(a: Long, b: Long, hamming: Int)

  /** SimHash signature + signature-chunk explosion as column algebra —
    * usable on a streaming DataFrame (stateless projection, fuses into
    * the scan). Same hash pipeline AND same chunk blocking as the batch
    * `Dedup.simHashPairsFromSigs` (the chunk count governs the recall
    * guarantee — see `Dedup.autoNumChunks`). */
  def simHashChunks(docs: DataFrame, idCol: String, textCol: String,
      hashFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        xxhash64(_),
      numChunks: Int = 4): Dataset[ChunkRow] = {
    import docs.sparkSession.implicits._
    require(64 % numChunks == 0, s"numChunks must divide 64: $numChunks")
    val chunkBits = 64 / numChunks
    val mask = if (chunkBits == 64) -1L else (1L << chunkBits) - 1
    docs
      .select(col(idCol).cast("long").as("docId"),
        Dedup.simHashFromHashes(
          transform(Dedup.tokens(col(textCol)), t => hashFn(t))).as("sig"))
      .select(col("docId"), col("sig"), posexplode(
        array((0 until numChunks).map(c =>
          shiftright(col("sig"), c * chunkBits).bitwiseAND(lit(mask))): _*)))
      .toDF("docId", "sig", "chunk", "chunkVal")
      .as[ChunkRow]
  }

  /** The stateful matcher: per (chunk, chunkVal) bucket, compare each
    * arriving signature against the bucket's remembered signatures (and
    * the rest of the arriving micro-batch), emit pairs within
    * `maxHamming`, then fold the arrivals into state. Works identically
    * on streaming and batch Datasets (Spark runs the same kernel). */
  def simHashMatcher(chunks: Dataset[ChunkRow],
      maxHamming: Int): Dataset[SimHashHit] = {
    import chunks.sparkSession.implicits._
    chunks
      .groupByKey(r => (r.chunk, r.chunkVal))
      .flatMapGroupsWithState[List[(Long, Long)], SimHashHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[List[(Long, Long)]]) =>
          val seen = state.getOption.getOrElse(Nil)
          val incoming = rows.map(r => (r.docId, r.sig)).toList
            .distinct.sortBy(_._1)
          // O(1)-indexed view for the pairwise loop: indexing the List
          // itself is O(n) per access, which turned a hot bucket's n²
          // pair scan into n³ list traversals (measured as the matcher
          // stage's CPU hot spot, r12)
          val inc = incoming.toArray
          def hits(x: (Long, Long), y: (Long, Long)): Option[SimHashHit] = {
            val h = java.lang.Long.bitCount(x._2 ^ y._2)
            if (x._1 != y._1 && h <= maxHamming)
              Some(SimHashHit(math.min(x._1, y._1), math.max(x._1, y._1), h))
            else None
          }
          val withinBatch = for {
            i <- inc.indices.iterator
            j <- (i + 1) until inc.length
            hit <- hits(inc(i), inc(j))
          } yield hit
          val againstState = for {
            n <- incoming.iterator
            o <- seen.iterator
            hit <- hits(n, o)
          } yield hit
          state.update(seen ++ incoming)
          withinBatch ++ againstState
      }
  }

  final case class VecBucketRow(vecId: Long, vec: Array[Float],
      probe: Int, bucket: Long)
  final case class EmbeddingHit(a: Long, b: Long, cosine: Double)

  /** Hyperplane LSH sketches for a streaming embedding frame — the
    * stateless projection feeding [[embeddingMatcher]]; same native
    * `HyperplaneSig` expression (and therefore identical buckets) as
    * the batch `VectorOps.lshNeighborPairs`. */
  def vecBuckets(vecs: DataFrame, idCol: String, vecCol: String,
      bits: Int, probes: Int): Dataset[VecBucketRow] = {
    import vecs.sparkSession.implicits._
    vecs.select(col(idCol).cast("long").as("vecId"), col(vecCol).as("vec"))
      .select(col("vecId"), col("vec"), posexplode(
        array((0 until probes).map(seed =>
          graft.pipeline.VectorOps.hyperplaneSketch(
            col("vec"), bits, seed)): _*)))
      .toDF("vecId", "vec", "probe", "bucket")
      .as[VecBucketRow]
  }

  /** Stateful embedding near-dup matcher: per (probe, bucket), compare
    * each arriving vector against the bucket's remembered vectors (and
    * the rest of the micro-batch), emit pairs at cosine >= minCosine,
    * fold arrivals into state. The cosine kernel reproduces the batch
    * operator's arithmetic exactly — float→double promotion, sequential
    * index-order fold, HALF_UP round to 6 — so the emitted pair set is
    * bitwise the batch answer. State carries the raw vectors (the
    * verify step needs them); at scale bound it with a watermark or
    * store int8-quantized vectors + exact re-check downstream. */
  def embeddingMatcher(buckets: Dataset[VecBucketRow],
      minCosine: Double): Dataset[EmbeddingHit] = {
    import buckets.sparkSession.implicits._
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) { s += x(i).toDouble * y(i).toDouble; i += 1 }
      s
    }
    def norm(x: Array[Float]): Double = math.sqrt(dot(x, x))
    buckets
      .groupByKey(r => (r.probe, r.bucket))
      .flatMapGroupsWithState[List[(Long, Array[Float])], EmbeddingHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[List[(Long, Array[Float])]]) =>
          val seen = state.getOption.getOrElse(Nil)
          val incoming = rows.map(r => (r.vecId, r.vec)).toList
            .distinctBy(_._1).sortBy(_._1)
          def hit(x: (Long, Array[Float]),
              y: (Long, Array[Float])): Option[EmbeddingHit] = {
            if (x._1 == y._1) return None
            // zero-norm vectors have undefined cosine and match nothing
            // (the batch path filters them identically); unguarded, the
            // 0/0 = NaN would crash BigDecimal's round here
            val nx = norm(x._2)
            val ny = norm(y._2)
            if (nx == 0.0 || ny == 0.0) return None
            val c = BigDecimal(dot(x._2, y._2) / (nx * ny))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            if (c >= minCosine)
              Some(EmbeddingHit(math.min(x._1, y._1), math.max(x._1, y._1), c))
            else None
          }
          // O(1)-indexed view for the pairwise loop (see simHashMatcher)
          val inc = incoming.toArray
          val withinBatch = for {
            i <- inc.indices.iterator
            j <- (i + 1) until inc.length
            h <- hit(inc(i), inc(j))
          } yield h
          val againstState = for {
            n <- incoming.iterator
            o <- seen.iterator
            h <- hit(n, o)
          } yield h
          state.update(seen ++ incoming)
          withinBatch ++ againstState
      }
  }

  /** Drain-once runner: stream the embeddings table with the SAME
    * planted near-duplicates as the batch full-recall gate
    * (q_ann_lsh_recall: every 10th vector duplicated with components
    * 7 and 39 zeroed), match at the same census-verified full-recall
    * bits=10 × 20-probe configuration, land hits in a memory table
    * (the per-pair probe census behind the 20 is in
    * test:graft.ProbeAnalysis). The distinct
    * drained pair set must equal the batch `lshNeighborPairs` answer —
    * and therefore DuckDB's brute-force all-pairs cosine join. */
  def runStreamingEmbeddingDedupOnce(parent: SparkSession, sfDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      val base = graft.Tables.stream(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        // stream-side fanOut: the per-vector sketch projection is
        // task-serial on the single-file source's 1-2 partitions
        .repartition(parent.sparkContext.defaultParallelism)
      val planted = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i === 7 || i === 39, lit(0.0f)).otherwise(x))
            .as("embedding"))
      val buckets = vecBuckets(base.unionAll(planted), "vec_id", "embedding",
        bits = 10, probes = 20)
      embeddingMatcher(buckets, minCosine = 0.9).toDF()
    }

  /** Streaming LM-perplexity scoring: documents arrive as a stream and
    * are scored under a STATIC char-trigram LM (trained batch-side on
    * the even-id half of the corpus — at scale, a persisted asset). The
    * LM is vocabulary-bounded, so its join broadcasts; the per-doc mean
    * is a streaming aggregation drained in Complete mode. Scores must
    * hash-match the batch operator — and therefore the same DuckDB
    * relational replay that gates q_doc_perplexity. */
  def runStreamingPerplexityOnce(parent: SparkSession, sfDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Complete) { spark =>
      val batchDocs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val lm = graft.pipeline.TextAnalysis.charNgramLm(
        batchDocs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        .localCheckpoint(true)
      val stream = graft.Tables.stream(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 2 === 1)
        // stream-side fanOut: the char-trigram explosion is task-serial
        // on the single-file source's 1-2 partitions
        .repartition(parent.sparkContext.defaultParallelism)
      graft.pipeline.TextAnalysis.perplexityScores(
        stream, lm, "doc_id", "text")
    }

  /** Streaming exact ingest dedup against a STATIC corpus — the
    * streaming face of `Dedup.exactDedupWithBloom`, and the shape a
    * continuous 100 TB ingest actually wants: NO stream state at all.
    * The corpus bloom is a broadcast-sized asset evaluated per row by
    * the codegen `bloom_might_contain_long` expression; rows it rejects
    * are definitely new and pass straight through, while suspects
    * (true duplicates + the fpp fraction) take a stream-static LEFT
    * ANTI join against the corpus hash table. The bloom has no false
    * negatives, so the drained id set EQUALS the plain anti-join — the
    * gate's DuckDB oracle needs no bloom knowledge.
    *
    * The planted batch: exact copies of every 30th corpus doc (must
    * all be dropped) and 30-char truncations of every 30th+7 (all
    * fresh — no within-batch duplicate groups, keeping the streaming
    * result a pure set with no keep-first ordering dependence). */
  def runStreamingBloomDedupOnce(parent: SparkSession, sfDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val bloomBytes = Dedup.buildCorpusBloom(corpus, "text")
      val hashes = corpus.select(md5(col("text").cast("binary")).as("h"))
      val base = graft.Tables.stream(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val batch = base.filter(col("doc_id") % 30 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
        .unionAll(base.filter(col("doc_id") % 30 === 7)
          .select((col("doc_id") + 300000).as("doc_id"),
            col("text").substr(lit(1),
              greatest(length(col("text")) - 30, lit(10))).as("text")))
      val hashed = batch.select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        graft.functions.Bloom.might_contain_long(bloomBytes,
          xxhash64(col("text"))).as("__maybe"))
      val suspects = hashed.filter(col("__maybe"))
        .join(hashes, Seq("h"), "left_anti")
      val fresh = hashed.filter(!col("__maybe"))
      suspects.unionByName(fresh).select(col("doc_id"))
    }

  /** Drain-once runner: stream the documents table (with the same
    * planted near-duplicates the batch gate uses), match, and land hits
    * in an in-memory table. The gate query reads the distinct pair set,
    * which must equal the batch `simHashPairs` answer — and therefore
    * the DuckDB relational replay of the whole SimHash pipeline.
    *
    * ONE recall default with the batch path: the chunk blocking is
    * `Dedup.autoNumChunks(maxHamming)`, so recall at the requested
    * distance is GUARANTEED (maxHamming 3 → 4 x 16-bit chunks, 4..7 →
    * 8 x 8-bit chunks), and the default distance is the batch
    * operator's 3 — r5's streaming-only best-effort 6 is gone. */
  def runStreamingSimHashDedupOnce(parent: SparkSession, sfDir: String,
      queryName: String, maxHamming: Int = 3): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      val base = graft.Tables.stream(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
        // repartition within the micro-batch: the single-file source
        // plans 1-2 input partitions and the 64-bit SimHash projection
        // (tokenize + hash every token) is task-serial without it — the
        // batch gate's fanOut, expressed stream-side (r12; the image
        // runner set the pattern)
        .repartition(parent.sparkContext.defaultParallelism)
      val mutated = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          col("text").substr(lit(1),
            greatest(length(col("text")) - 30, lit(10))).as("text"))
      val chunks = simHashChunks(base.unionAll(mutated), "doc_id", "text",
        hashFn = Dedup.md5Long, numChunks = Dedup.autoNumChunks(maxHamming))
      simHashMatcher(chunks, maxHamming).toDF()
    }

  /** Stateless streaming multimodal fingerprinting: the SAME real
    * PNG-decode + integer aHash kernel the batch gate runs, mapped over
    * the document stream — zero state, and the drained hash set must
    * equal the batch (and therefore the pixel-closed-form oracle)
    * exactly. Proves the multimodal kernels compose into streaming
    * pipelines unchanged. */
  def runStreamingImageHashOnce(parent: SparkSession, sfDir: String,
      queryName: String): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      import spark.implicits._
      // repartition within the micro-batch: the single-file source plans
      // 1-2 input partitions and codec work is task-serial (the batch
      // gate's fanOut, expressed stream-side)
      graft.Tables.stream(spark, sfDir, "documents").select(col("doc_id"))
        .repartition(spark.sparkContext.defaultParallelism).as[Long]
        .map { id =>
          val w = (8 + id % 16).toInt
          val h = (8 + (id / 16) % 8).toInt
          val img = graft.pipeline.Multimodal.grayImage(w, h,
            (x, y) => ((x * 7 + y * 13 + id) % 256).toInt)
          graft.pipeline.Multimodal.aHash64(id,
            graft.pipeline.Multimodal.decodeImage(
              graft.pipeline.Multimodal.encodePng(img)).get)
        }
        .toDF()
    }

  /** Streaming token accounting under a LEARNED BPE model: the merge
    * table compiles into pure column algebra — each token is wrapped
    * (`Bpe`'s U+001F separator scheme) and the k merges fold into k
    * nested non-overlapping `replace` calls in rank order, which
    * replays the trainer's final symbol state exactly. ZERO state, no
    * stream-static join, fuses into the scan: the tokenizer ships as
    * an expression, so redeploying a retrained model is a query
    * restart, not a state migration. Drained rows must hash-match the
    * batch `Bpe.tokenCounts` oracle. */
  def runStreamingBpeCountsOnce(parent: SparkSession, sfDir: String,
      queryName: String, merges: Seq[(String, String)]): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      val S = graft.pipeline.Bpe.S
      def nSyms(tok: org.apache.spark.sql.Column) = {
        val wrapped = merges.foldLeft(
          regexp_replace(tok, "(.)", S + "$1" + S)) { case (w, (l, r)) =>
          replace(w, lit(S + l + S + S + r + S), lit(S + l + r + S))
        }
        size(split(trim(wrapped, S), S + S)).cast("long")
      }
      val toks = filter(Dedup.tokens(col("text")),
        t => t.rlike("^[a-z0-9]+$"))
      graft.Tables.stream(spark, sfDir, "documents")
        .select(col("doc_id"), toks.as("__toks"))
        .filter(size(col("__toks")) > 0) // batch inner-join semantics
        // stream-side fanOut: the per-token merge-fold (k nested replaces
        // per token) is task-serial on the single-file source otherwise
        .repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          size(col("__toks")).cast("long").as("n_words"),
          aggregate(transform(col("__toks"), t => nSyms(t)), lit(0L),
            (acc, n) => acc + n).as("n_bpe_tokens"))
    }

  /** Stateless streaming mixture sampling: the deterministic
    * hash-threshold policy of `pipeline/Sampling.mixtureSample` applied
    * to an arriving document stream unchanged. NO state at all — the
    * keep decision is a pure row-local filter (md5 bucket of the id vs
    * the group's quantized weight), so the operator is scan-bound at
    * any scale, policy redeploys need no state migration, and the
    * emitted set equals the batch sample by construction (the property
    * the gate's oracle checks without knowing the stream exists). */
  def runStreamingMixtureOnce(parent: SparkSession, sfDir: String,
      queryName: String, weights: Map[String, Double],
      defaultWeight: Double): StreamingQuery =
    StreamConf.drainOnce(parent, queryName, OutputMode.Append) { spark =>
      graft.pipeline.Sampling.mixtureSample(
          graft.Tables.stream(spark, sfDir, "documents"), "source", "doc_id",
          weights, defaultWeight)
        .select(col("doc_id"), col("source"), col("n_chars"))
    }
}
