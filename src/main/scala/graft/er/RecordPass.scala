package graft.er

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.er.model._

/** The one pass over the records that builds the [[ModelIndex]] and
  * encodes every record against it, in ONE Spark job (the reference builds
  * its dictionaries and file statistics in one pass too,
  * RecordsCache.scala:74-107).
  *
  * Each task reads its input partition into one [[RecordPass.Chunk]]: the
  * records' ids and file ids, one dictionary per attribute in first-seen
  * order, and the records' value ids in those local dictionaries. The
  * driver merges the dictionaries, counts (attribute, value, file) and
  * derives every index statistic from that count through the same
  * expressions over `(attribute, value, file, n)` rows that the grouped
  * aggregation of a melt fed before, so the index is that aggregation's,
  * the iteration order of its maps included (`resampleTheta` draws θ in
  * `fileSizes` key order).
  *
  * Driver memory: the driver receives every record id for the record table
  * anyway; the local dictionaries add at most one string per record per
  * attribute. An oversized (free-text) attribute still fails while the
  * data is distributed: a task stops as soon as one of its local
  * dictionaries holds `MaxDomainSize + 1` values, and the driver checks
  * each merged dictionary before it builds the attribute.
  */
private[er] object RecordPass {

  /** One input partition's records: ids (empty when the pass reads none),
    * file ids, per attribute a dictionary in first-seen order, and the
    * value ids in those dictionaries, record-major (`MissingValue` for
    * null). */
  final class Chunk(
      val ids: Array[String],
      val files: Array[String],
      val dictionaries: Array[Array[String]],
      val values: Array[Int]) extends Serializable

  /** The index and, when the pass read ids, every record's id, file id and
    * value ids in the index's dictionaries (record-major), in input
    * order. */
  final class Encoded(
      val index: ModelIndex,
      val ids: Array[String],
      val files: Array[String],
      val values: Array[Int])

  /** Index the records (file ids from `fileId`, one column per spec, all
    * cast to strings) and, when `idCol` is given, encode them. */
  def run(
      spark: SparkSession,
      records: DataFrame,
      idCol: Option[String],
      fileId: Column,
      specs: Seq[AttributeSpec]): Encoded = {
    val names = specs.map(_.name).toArray
    val withIds = idCol.isDefined
    val projected = records.select(
      (idCol.fold(lit(null))(col).cast("string") :: fileId.cast("string") ::
        names.map(n => col(n).cast("string")).toList): _*)
    val chunks = projected.rdd
      .mapPartitions(rows => Iterator(chunkOf(rows, names, withIds)))
      .collect()
    merge(spark, chunks, specs, withIds)
  }

  private def chunkOf(rows: Iterator[Row], names: Array[String],
      withIds: Boolean): Chunk = {
    val nA = names.length
    val ids = ArrayBuffer.empty[String]
    val files = ArrayBuffer.empty[String]
    val known = Array.fill(nA)(new java.util.HashMap[String, Integer])
    val dicts = Array.fill(nA)(ArrayBuffer.empty[String])
    val values = new ArrayBuilder.ofInt
    rows.foreach { row =>
      if (withIds) ids += row.getString(0)
      files += row.getString(1)
      var a = 0
      while (a < nA) {
        values += {
          if (row.isNullAt(2 + a)) MissingValue
          else {
            val v = row.getString(2 + a)
            val id = known(a).get(v)
            if (id != null) id.intValue
            else {
              val next = dicts(a).length
              if (next == AttributeIndex.MaxDomainSize)
                AttributeIndex.requireDomainFits(names(a), next + 1L)
              known(a).put(v, next)
              dicts(a) += v
              next
            }
          }
        }
        a += 1
      }
    }
    new Chunk(ids.toArray, files.toArray, dicts.map(_.toArray), values.result())
  }

  private def merge(spark: SparkSession, chunks: Array[Chunk],
      specs: Seq[AttributeSpec], withIds: Boolean): Encoded = {
    val nA = specs.length
    val files = chunks.flatMap(_.files)
    val n = files.length
    val fileNumber = new java.util.HashMap[String, Integer]
    val fileNames = ArrayBuffer.empty[String]
    val fileOf = files.map { f =>
      val i = fileNumber.get(f)
      if (i != null) i.intValue
      else { fileNumber.put(f, fileNames.length); fileNames += f; fileNames.length - 1 }
    }
    val nF = fileNames.length.toLong

    // per attribute: the merged dictionary, each chunk's local -> merged
    // ids, and the (value, file) cells counted by sorting packed keys
    val merged = new Array[Array[String]](nA)
    val toMerged = new Array[Array[Array[Int]]](nA)
    val rows = ArrayBuffer.empty[(Int, String, String, Long)]
    val keys = new Array[Long](n)
    var a = 0
    while (a < nA) {
      val known = new java.util.HashMap[String, Integer]
      val dict = ArrayBuffer.empty[String]
      toMerged(a) = chunks.map(_.dictionaries(a).map { v =>
        val i = known.get(v)
        if (i != null) i.intValue
        else { known.put(v, dict.length); dict += v; dict.length - 1 }
      })
      AttributeIndex.requireDomainFits(specs(a).name, dict.length.toLong)
      merged(a) = dict.toArray

      var r = 0
      var c = 0
      while (c < chunks.length) {
        val local = chunks(c).values
        var i = 0
        while (i < chunks(c).files.length) {
          val l = local(i * nA + a)
          val v = if (l == MissingValue) -1 else toMerged(a)(c)(l)
          keys(r) = (v + 1L) * nF + fileOf(r)
          r += 1
          i += 1
        }
        c += 1
      }
      java.util.Arrays.sort(keys)
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n && keys(j) == keys(i)) j += 1
        val v = (keys(i) / nF).toInt - 1
        rows += ((a, if (v < 0) null else merged(a)(v),
          fileNames((keys(i) % nF).toInt), (j - i).toLong))
        i = j
      }
      a += 1
    }

    val index = fromRows(spark, rows.toArray, specs)
    if (!withIds) new Encoded(index, Array.empty, Array.empty, Array.empty)
    else {
      val finalOf = Array.tabulate(nA)(a =>
        merged(a).map(index.attributes(a).idOf))
      val values = new Array[Int](n * nA)
      var r = 0
      var c = 0
      while (c < chunks.length) {
        val local = chunks(c).values
        var i = 0
        while (i < local.length) {
          val a = i % nA
          values(r * nA + i) =
            if (local(i) == MissingValue) MissingValue
            else finalOf(a)(toMerged(a)(c)(local(i)))
          i += 1
        }
        r += chunks(c).files.length
        c += 1
      }
      new Encoded(index, chunks.flatMap(_.ids), files, values)
    }
  }

  /** The index from `(attribute, value, file, n)` rows, one per distinct
    * cell (a null value counts the records missing the attribute). The
    * maps come out of `Array.groupBy`, whose key order depends on the keys
    * alone, not on the rows' order. */
  private def fromRows(spark: SparkSession, rows: Array[(Int, String, String, Long)],
      specs: Seq[AttributeSpec]): ModelIndex = {
    // attribute 0's rows cover every record once (null or not) → file sizes
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
}
