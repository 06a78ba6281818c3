package graft.pipeline

import java.util.{BitSet => JBitSet, HashMap => JHashMap, HashSet => JHashSet}

import scala.collection.mutable
import scala.reflect.ClassTag
import scala.jdk.CollectionConverters._

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  InterpretedOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The ingest dedup behind `Dedup.dedupAgainstCorpus` and
  * `Dedup.dedupAgainstSketch`: the batch is resolved on the driver and
  * the corpus side is read with the batch sketch broadcast.
  *
  * Both paths hash exactly as the rest of `Dedup` does — the same
  * `shingles`, `minHashSignature` and `bandHashes` column expressions,
  * evaluated by Spark — so candidates and survivors equal those of a
  * relational plan over the same tables. What moves to Scala is only the
  * bookkeeping over a batch-sized sketch: the keep-min screen, the
  * within-batch buckets, and set intersections for exact Jaccard. */
private[pipeline] object IngestDedup {

  /** The dedup parameters shared by both paths. */
  final case class Shape(threshold: Double, shingleSize: Int, bands: Int,
      rowsPerBand: Int, maxBucket: Int)

  /** Largest batch sketch (id, md5, shingles, band keys as unsafe rows)
    * the driver collects: 128 MiB, the largest power of two measured to
    * resolve in Spark's default 1 GiB driver heap. Measured on 4 cores,
    * JDK 17, with 54-word documents (about 2 KB of sketch each): a
    * 128 MiB batch of 66k docs ran in 13.6 s against a 20k-doc corpus and
    * in 10.7 s against its sketch, while a 250 MiB batch ran the 1 GiB
    * driver out of heap as its task results arrived. Each batch partition
    * checks its own running size and the driver checks the sum, so an
    * oversized batch fails with a message naming the cap. */
  val MaxBatchSketchBytes: Long = 128L << 20

  /** One batch document as the driver holds it: the id as a Catalyst
    * value, md5 hex, distinct shingle set and band keys (null text gives
    * a null md5 and null shingles). `h` and `sh` read the collected row. */
  private[pipeline] final class Doc(val id: Any, val h: UTF8String,
      val sh: ArrayData, val keys: Array[Long]) {
    /** Can take part in the near stages: a null id never joins a
      * candidate pair and a null shingle set never verifies. */
    def near: Boolean = id != null && sh != null
  }

  /** (docId, h, sh, bk) for `df`: the columns the batch is collected as
    * and the corpus is scanned as. The signature is its own projection,
    * referenced once per band by `bandHashes`, so it is computed once. */
  private def sketchFrame(df: DataFrame, idCol: String, textCol: String,
      s: Shape): DataFrame =
    df.select(col(idCol).as("docId"),
        md5(col(textCol).cast("binary")).as("h"),
        Dedup.shingles(col(textCol), s.shingleSize).as("sh"))
      .select(col("docId"), col("h"), col("sh"),
        Dedup.minHashSignature(transform(col("sh"), x => xxhash64(x)),
          s.bands * s.rowsPerBand).as("sig"))
      .select(col("docId"), col("h"), col("sh"),
        Dedup.bandHashes(col("sig"), s.bands, s.rowsPerBand).as("bk"))

  private def overCap(bytes: Long, cap: Long): Unit =
    if (bytes > cap) throw new IllegalArgumentException(
      s"ingest dedup: the batch sketch exceeds $cap bytes (at least " +
        s"$bytes), the cap for resolving a batch on the driver; split " +
        "the batch into smaller ingests")

  /** The batch sketch, in ONE job, and the id column's type; a sketch
    * over `cap` bytes fails. */
  private[pipeline] def collectBatch(newDocs: DataFrame, idCol: String,
      textCol: String, s: Shape, cap: Long): (DataType, Array[Doc]) = {
    val frame = sketchFrame(newDocs, idCol, textCol, s)
    val schema = frame.schema
    val rows = frame.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var bytes = 0L
      it.map { r =>
        val u = proj(r).copy()
        bytes += u.getSizeInBytes
        overCap(bytes, cap)
        u
      }
    }.collect()
    overCap(rows.iterator.map(_.getSizeInBytes.toLong).sum, cap)
    val idType = schema("docId").dataType
    (idType, rows.map(r => new Doc(
      if (r.isNullAt(0)) null else r.get(0, idType),
      if (r.isNullAt(1)) null else r.getUTF8String(1),
      if (r.isNullAt(2)) null else r.getArray(2),
      r.getArray(3).toLongArray())))
  }

  /** Spark's ascending order on ids (nulls first), the order the
    * keep-min screen and the within-batch `a < b` rule use. */
  private def idOrdering(t: DataType): Ordering[Any] = {
    val rows = new InterpretedOrdering(
      Seq(SortOrder(BoundReference(0, t, nullable = true), Ascending)))
    (a, b) => rows.compare(InternalRow(a), InternalRow(b))
  }

  /** Exact within batch: the lowest id per content hash (null hashes
    * form one group, as in a SQL window). */
  private def keepMin(docs: Array[Doc], ord: Ordering[Any]): Array[Doc] =
    docs.groupBy(d => Option(d.h)).valuesIterator
      .map(_.minBy(_.id)(ord)).toArray

  /** Exact Jaccard of a distinct shingle array against a distinct set,
    * at least `threshold` — the arithmetic of
    * size(array_intersect) / size(array_union) as doubles. */
  private def verifies(sh: ArrayData, set: JHashSet[UTF8String],
      threshold: Double): Boolean = {
    val n = sh.numElements()
    var inter = 0
    var i = 0
    while (i < n) {
      if (set.contains(sh.getUTF8String(i))) inter += 1
      i += 1
    }
    inter.toDouble / (n + set.size - inter) >= threshold
  }

  /** Strings as one UTF-8 byte array and the end offset of each: two
    * objects however many strings. Java serialization, which broadcasts
    * use, tracks every object it writes, and one object per batch
    * shingle ran a 3 GiB driver out of heap at 130k docs. */
  private final class Flat(bytes: Array[Byte], ends: Array[Int])
      extends Serializable {
    def size: Int = ends.length
    def apply(i: Int): UTF8String = {
      val from = if (i == 0) 0 else ends(i - 1)
      UTF8String.fromBytes(bytes, from, ends(i) - from)
    }
  }

  private object Flat {
    def apply(strs: Iterator[UTF8String]): Flat = {
      val out = new java.io.ByteArrayOutputStream
      val ends = mutable.ArrayBuilder.make[Int]
      strs.foreach { u => u.writeTo(out); ends += out.size }
      new Flat(out.toByteArray, ends.result())
    }
  }

  /** The kept docs' distinct hashes, each with an index (the bit a corpus
    * side sets when the corpus contains it). Ships flat; each JVM builds
    * the lookup on first use. */
  private final class Hashes(kept: Array[Doc]) extends Serializable {
    private val flat = Flat(kept.iterator.map(_.h).filter(_ != null).distinct)
    @transient private lazy val index = {
      val m = new JHashMap[UTF8String, Integer](2 * flat.size)
      (0 until flat.size).foreach(i => m.put(flat(i), i))
      m
    }
    def isEmpty: Boolean = flat.size == 0
    /** The index of `h`, or null when no kept doc has it. */
    def get(h: UTF8String): Integer = index.get(h)
  }

  /** The bucket keys of the near docs: per band, bandHash → key index,
    * and per key the docs (indices into the near docs) it holds. Ships
    * as the flat band keys; each JVM builds the lookup on first use. */
  private final class Keys(near: Array[Doc], bands: Int)
      extends Serializable {
    private val flat = near.flatMap(_.keys)
    @transient private lazy val built = {
      val index = Array.fill(bands)(mutable.LongMap.empty[Int])
      val lists = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Int]]
      (0 until flat.length / bands).foreach { a =>
        var b = 0
        while (b < bands) {
          val k = index(b).getOrElseUpdate(flat(a * bands + b), {
            lists += mutable.ArrayBuffer.empty[Int]; lists.size - 1 })
          lists(k) += a
          b += 1
        }
      }
      (index, lists.map(_.toArray).toArray)
    }
    def members: Array[Array[Int]] = built._2
    /** The key index of band `b`'s key `h`, or -1. */
    def keyOf(b: Int, h: Long): Int =
      if (b < 0 || b >= bands) -1 else built._1(b).getOrElse(h, -1)
  }

  /** The near docs' shingle sets. Ships flat; each JVM builds the sets
    * on first use. */
  private final class ShingleSets(near: Array[Doc]) extends Serializable {
    private val flat = Flat(near.iterator.flatMap(d =>
      Iterator.tabulate(d.sh.numElements())(d.sh.getUTF8String)))
    private val ends = near.scanLeft(0)(_ + _.sh.numElements()).tail
    @transient private lazy val sets = Array.tabulate(ends.length) { a =>
      val set = new JHashSet[UTF8String]
      (if (a == 0) 0 else ends(a - 1)).until(ends(a)).foreach(i => set.add(flat(i)))
      set
    }
    def apply(a: Int): JHashSet[UTF8String] = sets(a)
  }

  /** The kept batch as both corpus sides and rule 4 look it up. In local
    * mode a broadcast hands tasks these same objects, so each lookup is
    * built once. */
  private final class Batch(kept: Array[Doc], bands: Int) {
    val near: Array[Doc] = kept.filter(_.near)
    val hashes = new Hashes(kept)
    val keys = new Keys(near, bands)
    val sets = new ShingleSets(near)
    /** Passes rule 1, given the hash indices the corpus contains. */
    def fresh(contained: JBitSet)(d: Doc): Boolean =
      d.h == null || !contained.get(hashes.get(d.h))
  }

  /** What the inline corpus pass looks up, broadcast once. */
  private final class Probe(val hashes: Hashes, val keys: Keys,
      val sets: ShingleSets, val s: Shape) extends Serializable

  /** The inline corpus pass's answer, merged over partitions: batch hash
    * indices the corpus contains, corpus rows per bucket key (non-null
    * ids, as a posting list counts them; only keys some corpus row has),
    * and bit a·bands+b for near doc a and band b when a verifies against
    * a corpus doc sharing its band-b key. */
  private final class Hits(val contained: JBitSet,
      val counts: mutable.LongMap[Long], val shared: JBitSet)
      extends Serializable {
    def this() = this(new JBitSet, mutable.LongMap.empty[Long], new JBitSet)
    def count(k: Int): Long = counts.getOrElse(k, 0L)
    def merge(o: Hits): Hits = {
      contained.or(o.contained)
      shared.or(o.shared)
      o.counts.foreachEntry((k, n) => counts(k) = counts.getOrElse(k, 0L) + n)
      this
    }
  }

  /** One corpus partition's [[Hits]]. A key whose count in this partition
    * passes `maxBucket` passes it in the whole corpus, so its later rows
    * are counted but not verified. */
  private def scanCorpus(p: Probe, rows: Iterator[InternalRow]): Hits = {
    val hits = new Hits
    val candBands = new JHashMap[Int, JBitSet]
    rows.foreach { r =>
      if (!r.isNullAt(1)) {
        val i = p.hashes.get(r.getUTF8String(1))
        if (i != null) hits.contained.set(i)
      }
      if (!r.isNullAt(0) && !r.isNullAt(2)) {
        val bk = r.getArray(3)
        candBands.clear()
        var b = 0
        while (b < p.s.bands) {
          val k = p.keys.keyOf(b, bk.getLong(b))
          if (k >= 0) {
            val n = hits.count(k) + 1
            hits.counts(k) = n
            if (n <= p.s.maxBucket) p.keys.members(k).foreach { a =>
              candBands.computeIfAbsent(a, _ => new JBitSet).set(b)
            }
          }
          b += 1
        }
        if (!candBands.isEmpty) {
          val sh = r.getArray(2)
          candBands.forEach { (a, bs) =>
            if (verifies(sh, p.sets(a), p.s.threshold)) {
              var b = bs.nextSetBit(0)
              while (b >= 0) {
                hits.shared.set(a * p.s.bands + b)
                b = bs.nextSetBit(b + 1)
              }
            }
          }
        }
      }
    }
    hits
  }

  /** Spread a narrow scan over every core before the per-doc sketch
    * work — but never a frame with an exchange: `Tables.fanOut` probes
    * `df.rdd`, which would run that frame's shuffle stages while this
    * query is still being built. */
  private def spread(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.executedPlan
    if (plan.exists(p => p.isInstanceOf[Exchange] ||
        p.isInstanceOf[AdaptiveSparkPlanExec])) df
    else graft.Tables.fanOut(df)
  }

  private def withBroadcast[T: ClassTag, R](spark: SparkSession,
      value: T)(f: Broadcast[T] => R): R = {
    val bc = spark.sparkContext.broadcast(value)
    try f(bc) finally bc.destroy()
  }

  /** `f` over every row of `df` with `value` broadcast, what it returns
    * collected: the sketch path's filters by batch keys, which never
    * put a batch-sized literal list in a plan. `f` must copy what it
    * keeps of a row. */
  private def scanWith[V: ClassTag, T: ClassTag](df: DataFrame, value: V)(
      f: (V, InternalRow) => Iterator[T]): Array[T] =
    withBroadcast(df.sparkSession, value) { bc =>
      df.queryExecution.toRdd.mapPartitions { rows =>
        val v = bc.value
        rows.flatMap(f(v, _))
      }.collect()
    }

  /** Rule 4: per bucket key of 2..maxBucket near docs that pass rule 1,
    * each pair a < b verifying drops b. Returns near-doc indices. */
  private def withinBatchDrops(batch: Batch, fresh: Doc => Boolean,
      s: Shape, ord: Ordering[Any]): JBitSet = {
    val near = batch.near
    val seen = mutable.HashSet.empty[Long]
    val drops = new JBitSet
    batch.keys.members.iterator.filter(_.length >= 2)
      .map(_.filter(a => fresh(near(a))))
      .filter(m => m.length >= 2 && m.length <= s.maxBucket)
      .foreach { m =>
        for (x <- m; y <- m if ord.lt(near(x).id, near(y).id) && !drops.get(y) &&
            seen.add(x.toLong * near.length + y))
          if (verifies(near(x).sh, batch.sets(y), s.threshold)) drops.set(y)
      }
    drops
  }

  private def bits(set: JBitSet): Iterator[Int] =
    Iterator.iterate(set.nextSetBit(0))(i => set.nextSetBit(i + 1))
      .takeWhile(_ >= 0)

  /** The driver side both paths share: collect the batch sketch and apply
    * rule 2; `corpusSide` returns the hash indices the corpus contains
    * (rule 1) and the near docs rule 3 drops; then rule 4, and the
    * surviving ids as a one-column local frame in id order. */
  private def resolve(newDocs: DataFrame, idCol: String, textCol: String,
      s: Shape)(corpusSide: Batch => (JBitSet, JBitSet)): DataFrame = {
    val (idType, docs) =
      collectBatch(newDocs, idCol, textCol, s, MaxBatchSketchBytes)
    val ord = idOrdering(idType)
    val kept = keepMin(docs, ord)
    val ids = if (kept.isEmpty) Array.empty[Any] else {
      val batch = new Batch(kept, s.bands)
      val (contained, corpusDrops) = corpusSide(batch)
      val fresh = batch.fresh(contained) _
      val gone = withinBatchDrops(batch, fresh, s, ord)
      gone.or(corpusDrops)
      val goneDocs = bits(gone).map(batch.near).toSet
      kept.filter(d => fresh(d) && !goneDocs(d)).sortBy(_.id)(ord).map(_.id)
    }
    val toScala = CatalystTypeConverters.createToScalaConverter(idType)
    newDocs.sparkSession.createDataFrame(
      ids.toSeq.map(id => Row(toScala(id))).asJava,
      StructType(Seq(StructField("docId", idType, nullable = true))))
  }

  def againstCorpus(corpus: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String, s: Shape): DataFrame =
    resolve(newDocs, idCol, textCol, s) { batch =>
      val probe = new Probe(batch.hashes, batch.keys, batch.sets, s)
      val scan = sketchFrame(
        spread(corpus.select(col(idCol), col(textCol))), idCol, textCol, s)
      // a tree merge: each partition's counts hold only the keys it hit,
      // and executors merge them before the driver does
      val hits = withBroadcast(newDocs.sparkSession, probe) { bc =>
        scan.queryExecution.toRdd
          .mapPartitions(rows => Iterator(scanCorpus(bc.value, rows)))
          .treeAggregate(new Hits)(_ merge _, _ merge _)
      }
      val drops = new JBitSet
      batch.near.indices.foreach { a =>
        if ((0 until s.bands).exists(b => hits.shared.get(a * s.bands + b) &&
            hits.count(batch.keys.keyOf(b, batch.near(a).keys(b))) <= s.maxBucket))
          drops.set(a)
      }
      (hits.contained, drops)
    }

  def againstSketch(assets: Dedup.CorpusSketch, newDocs: DataFrame,
      idCol: String, textCol: String, s: Shape): DataFrame =
    resolve(newDocs, idCol, textCol, s) { batch =>
      val contained = new JBitSet
      if (!batch.hashes.isEmpty)
        scanWith(assets.hashes.select(col("h")), batch.hashes) { (hs, r) =>
          if (r.isNullAt(0)) Iterator.empty
          else Option(hs.get(r.getUTF8String(0))).iterator.map(_.intValue)
        }.foreach(i => contained.set(i))
      val fresh = (a: Int) => batch.fresh(contained)(batch.near(a))
      // corpus id (a Catalyst value) → the fresh near docs whose capped
      // posting lists name it
      val idT = assets.shingles.schema("docId").dataType
      val cands = mutable.HashMap.empty[Any, mutable.Set[Int]]
      if (batch.near.indices.exists(fresh)) scanWith(assets.bandPostings
          .filter(size(col("cids")) <= s.maxBucket)
          .select(col("band"), col("bandHash"), col("cids")), batch.keys) { (ks, r) =>
        val k =
          if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)) -1
          else ks.keyOf(r.getInt(0), r.getLong(1))
        if (k < 0) Iterator.empty
        else {
          val cids = r.getArray(2)
          (0 until cids.numElements()).iterator.filterNot(cids.isNullAt)
            .map(i => (k, InternalRow.copyValue(cids.get(i, idT))))
        }
      }.foreach { case (k, c) =>
        val as = batch.keys.members(k).filter(fresh)
        if (as.nonEmpty) cands.getOrElseUpdate(c, mutable.Set.empty[Int]) ++= as
      }
      val drops = new JBitSet
      if (cands.nonEmpty) {
        val byId = cands.iterator.map { case (c, as) => c -> as.toArray }.toMap
        scanWith(assets.shingles.select(col("docId"), col("sh")),
            (byId, batch.sets)) { case ((ids, sets), r) =>
          if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
          else {
            val sh = r.getArray(1)
            ids.getOrElse(r.get(0, idT), Array.empty[Int])
              .iterator.filter(a => verifies(sh, sets(a), s.threshold))
          }
        }.foreach(a => drops.set(a))
      }
      (contained, drops)
    }
}
