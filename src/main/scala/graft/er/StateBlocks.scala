package graft.er

import java.nio.charset.StandardCharsets.UTF_8

import graft.er.model._

/** The static half of the sampler state: every record's id, file and
  * encoded values, indexed by a dense record number. Numbers follow the
  * `String` order of the ids, so "smallest member number" orders clusters
  * exactly as "smallest member id" does. Built once per chain (at
  * `ERState.initialize`, or from the saved clusters on resume) and
  * broadcast; a sweep never ships it again.
  *
  * Ids are one UTF-8 byte array plus offsets and values one flat `Int`
  * array, so the table serializes as a handful of primitive arrays.
  */
final class RecordTable private (
    val numAttributes: Int,
    val files: Array[String],     // file index -> file id, in order
    idBytes: Array[Byte],
    idOffsets: Array[Int],        // record r's id: [idOffsets(r), idOffsets(r + 1))
    val fileIndex: Array[Int],    // record -> file index
    val values: Array[Int])       // record * numAttributes + attribute -> value id
  extends Serializable {

  def size: Int = fileIndex.length

  def id(r: Int): String =
    new String(idBytes, idOffsets(r), idOffsets(r + 1) - idOffsets(r), UTF_8)

  def fileId(r: Int): String = files(fileIndex(r))

  def value(r: Int, a: Int): Int = values(r * numAttributes + a)

  /** θ as a dense array indexed by `attribute * files.length + file index`. */
  def denseTheta(theta: DistortionProbs): Array[Double] =
    Array.tabulate(numAttributes * files.length)(i =>
      theta(i / files.length, files(i % files.length)))
}

object RecordTable {

  /** Number the records `ids(i)`, `fileIds(i)`, `values(i * numAttributes
    * + a)` in `String` order of their ids (ties keep input order). Returns
    * the table and each input position's record number. */
  def build(
      numAttributes: Int,
      ids: Array[String],
      fileIds: Array[String],
      values: Array[Int]): (RecordTable, Array[Int]) = {
    val n = ids.length
    val order = (0 until n).sortBy(ids(_)).toArray
    val numberOf = new Array[Int](n)
    var r = 0
    while (r < n) { numberOf(order(r)) = r; r += 1 }

    val files = fileIds.distinct.sortWith((x, y) =>
      y != null && (x == null || x < y))
    val fileNumber = files.zipWithIndex.toMap
    val encoded = order.map(i => ids(i).getBytes(UTF_8))
    val offsets = new Array[Int](n + 1)
    r = 0
    while (r < n) { offsets(r + 1) = offsets(r) + encoded(r).length; r += 1 }
    val bytes = new Array[Byte](offsets(n))
    r = 0
    while (r < n) {
      System.arraycopy(encoded(r), 0, bytes, offsets(r), encoded(r).length)
      r += 1
    }
    val vals = new Array[Int](n * numAttributes)
    r = 0
    while (r < n) {
      System.arraycopy(values, order(r) * numAttributes, vals, r * numAttributes,
        numAttributes)
      r += 1
    }
    val table = new RecordTable(numAttributes, files, bytes, offsets,
      order.map(i => fileNumber(fileIds(i))), vals)
    (table, numberOf)
  }
}

/** The dynamic half of the sampler state for one logical partition: its
  * entities' values and, per entity, the numbers of its member records
  * with a packed distortion mask per member. Only primitive arrays, so a
  * block (de)serializes in bulk and Spark sizes it without walking an
  * object graph.
  *
  * Entity e holds values `entityValues(e * A until (e + 1) * A)` and
  * members `members(memberOffsets(e) until memberOffsets(e + 1))`; member
  * m's flag for attribute a is bit `a % 32` of
  * `distortion(m * words + a / 32)`. An entity with no members is an
  * isolate.
  */
final class StateBlock(
    val numAttributes: Int,
    val entityValues: Array[Int],
    val memberOffsets: Array[Int],
    val members: Array[Int],
    val distortion: Array[Int]) extends Serializable {

  def numEntities: Int = memberOffsets.length - 1

  def size(e: Int): Int = memberOffsets(e + 1) - memberOffsets(e)

  def entity(e: Int): Array[Int] =
    java.util.Arrays.copyOfRange(entityValues, e * numAttributes,
      (e + 1) * numAttributes)

  def distorted(m: Int, a: Int): Boolean =
    (distortion(m * StateBlock.words(numAttributes) + (a >>> 5)) &
      (1 << (a & 31))) != 0

  /** The member record ids of every entity with members, in entity order. */
  def linkage(table: RecordTable): Iterator[Seq[String]] =
    (0 until numEntities).iterator.filter(size(_) > 0).map(e =>
      (memberOffsets(e) until memberOffsets(e + 1)).map(m => table.id(members(m))))

  /** The block as the `EntityCluster`s of logical partition `partitionId`. */
  def clusters(partitionId: Int, table: RecordTable): Iterator[EntityCluster] = {
    val nA = numAttributes
    (0 until numEntities).iterator.map { e =>
      val recs = (memberOffsets(e) until memberOffsets(e + 1)).map { m =>
        val r = members(m)
        StateRecord(table.id(r), table.fileId(r),
          java.util.Arrays.copyOfRange(table.values, r * nA, (r + 1) * nA),
          Array.tabulate(nA)(distorted(m, _)))
      }.toArray
      EntityCluster(partitionId, entity(e), recs)
    }
  }
}

object StateBlock {

  /** Distortion-mask words per member. */
  def words(numAttributes: Int): Int = (numAttributes + 31) >>> 5

  /** Appends entities one at a time into a block. */
  final class Builder(numAttributes: Int) {
    private val w = words(numAttributes)
    private val values = new IntBuffer
    private val offsets = new IntBuffer
    private val members = new IntBuffer
    private val masks = new IntBuffer
    offsets += 0

    /** Start an entity with these values; its members follow. */
    def entity(vals: Array[Int]): Unit = {
      values ++= vals
      offsets += offsets.last
    }

    /** Add a member to the last entity, with `distorted(a)` for attribute
      * a, read from `flags` at `from + a`. */
    def member(record: Int, flags: Array[Boolean], from: Int): Unit = {
      members += record
      var i = 0
      while (i < w) {
        var word = 0
        var b = 0
        while (b < 32 && (i << 5) + b < numAttributes) {
          if (flags(from + (i << 5) + b)) word |= 1 << b
          b += 1
        }
        masks += word
        i += 1
      }
      offsets.bumpLast()
    }

    def result(): StateBlock = new StateBlock(numAttributes, values.toArray,
      offsets.toArray, members.toArray, masks.toArray)
  }

  /** `clusters` in the compact form: their records numbered in a new
    * table, and each cluster appended to block `blockOf(cluster)` of
    * `numBlocks`, in input order. */
  def fromClusters(
      numAttributes: Int,
      clusters: Array[EntityCluster],
      numBlocks: Int,
      blockOf: EntityCluster => Int): (RecordTable, Array[StateBlock]) = {
    val recs = clusters.flatMap(_.records)
    val (table, numberOf) = RecordTable.build(numAttributes, recs.map(_.id),
      recs.map(_.fileId), recs.flatMap(_.values))
    val blocks = Array.fill(numBlocks)(new Builder(numAttributes))
    var i = 0
    clusters.foreach { c =>
      val b = blocks(blockOf(c))
      b.entity(c.entityValues)
      c.records.foreach { r => b.member(numberOf(i), r.distorted, 0); i += 1 }
    }
    (table, blocks.map(_.result()))
  }

  /** The blocks' entities, concatenated in the given order. */
  def concat(numAttributes: Int, blocks: Seq[StateBlock]): StateBlock =
    if (blocks.size == 1) blocks.head
    else {
      val offsets = new IntBuffer
      offsets += 0
      blocks.foreach { b =>
        val base = offsets.last
        var e = 1
        while (e <= b.numEntities) { offsets += base + b.memberOffsets(e); e += 1 }
      }
      new StateBlock(numAttributes,
        Array.concat(blocks.map(_.entityValues): _*), offsets.toArray,
        Array.concat(blocks.map(_.members): _*),
        Array.concat(blocks.map(_.distortion): _*))
    }

  /** Block `b` of source partition `source` as the bytes a shuffle
    * carries: varints throughout, and each entity's values written only
    * where they differ from its first member's record values in `table` —
    * for a linked entity that is usually no value at all. [[decode]]
    * inverts it with the same table. */
  def encode(source: Int, b: StateBlock, table: RecordTable): Array[Byte] = {
    val nA = b.numAttributes
    val w = words(nA)
    val out = new java.io.ByteArrayOutputStream(16 + 8 * b.numEntities)
    def varint(x: Int): Unit = {
      var v = x & 0xffffffffL
      while (v >= 0x80) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    varint(source)
    varint(b.numEntities)
    var e = 0
    while (e < b.numEntities) {
      val from = b.memberOffsets(e)
      val until = b.memberOffsets(e + 1)
      varint(until - from)
      var i = from * w
      while (i < until * w) { varint(b.distortion(i)); i += 1 }
      var m = from
      while (m < until) { varint(b.members(m)); m += 1 }
      // per 32 attributes, a mask of the values equal to the reference
      val ev = e * nA
      val ref = if (until > from) b.members(from) * nA else -1
      var k = 0
      while (k < w) {
        var same = 0
        var a = k << 5
        while (a < math.min(nA, (k + 1) << 5)) {
          if (ref >= 0 && b.entityValues(ev + a) == table.values(ref + a))
            same |= 1 << (a & 31)
          a += 1
        }
        varint(same)
        a = k << 5
        while (a < math.min(nA, (k + 1) << 5)) {
          if ((same & (1 << (a & 31))) == 0) varint(b.entityValues(ev + a) + 1)
          a += 1
        }
        k += 1
      }
      e += 1
    }
    out.toByteArray
  }

  /** The source partition and block [[encode]] wrote against `table`. */
  def decode(bytes: Array[Byte], table: RecordTable): (Int, StateBlock) = {
    val nA = table.numAttributes
    val w = words(nA)
    var pos = 0
    def varint(): Int = {
      var v = 0L
      var shift = 0
      var byte = 0
      do {
        byte = bytes(pos) & 0xff
        pos += 1
        v |= (byte & 0x7fL) << shift
        shift += 7
      } while (byte >= 0x80)
      v.toInt
    }
    val source = varint()
    val nE = varint()
    val values = new Array[Int](nE * nA)
    val offsets = new Array[Int](nE + 1)
    val members = new IntBuffer
    val masks = new IntBuffer
    var e = 0
    while (e < nE) {
      val size = varint()
      var i = 0
      while (i < size * w) { masks += varint(); i += 1 }
      val first = members.length
      i = 0
      while (i < size) { members += varint(); i += 1 }
      offsets(e + 1) = offsets(e) + size
      val ev = e * nA
      val ref = if (size > 0) members(first) * nA else -1
      var k = 0
      while (k < w) {
        val same = varint()
        var a = k << 5
        while (a < math.min(nA, (k + 1) << 5)) {
          values(ev + a) =
            if ((same & (1 << (a & 31))) != 0) table.values(ref + a)
            else varint() - 1
          a += 1
        }
        k += 1
      }
      e += 1
    }
    (source, new StateBlock(nA, values, offsets, members.toArray, masks.toArray))
  }

  /** A growable `Int` array, unboxed. */
  private final class IntBuffer {
    private var buf = new Array[Int](16)
    var length = 0
    private def grow(n: Int): Unit =
      if (length + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, length + n))
    def +=(x: Int): Unit = { grow(1); buf(length) = x; length += 1 }
    def ++=(xs: Array[Int]): Unit = {
      grow(xs.length)
      System.arraycopy(xs, 0, buf, length, xs.length)
      length += xs.length
    }
    def last: Int = buf(length - 1)
    def apply(i: Int): Int = buf(i)
    def bumpLast(): Unit = buf(length - 1) += 1
    def toArray: Array[Int] = java.util.Arrays.copyOf(buf, length)
  }
}
