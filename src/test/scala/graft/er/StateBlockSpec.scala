package graft.er

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

import graft.er.model._

/** The compact sampler state's two halves: the record table's numbering
  * and id storage, and the blocks' shuffle encoding. */
class StateBlockSpec extends AnyFunSuite {

  /** `n` records over two files with `nA` attributes, some missing. */
  private def table(n: Int, nA: Int, rng: SplittableRandom): (RecordTable, Array[String]) = {
    val ids = Array.tabulate(n)(i => s"r${rng.nextInt(1000)}-$i" + (if (i % 7 == 0) "é𝐀" else ""))
    val files = Array.tabulate(n)(i => if (i % 3 == 0) "B" else "A")
    val values = Array.fill(n * nA)(rng.nextInt(20) - 1)
    val (t, numberOf) = RecordTable.build(nA, ids, files, values)
    (0 until n).foreach { i =>
      val r = numberOf(i)
      assert(t.id(r) == ids(i) && t.fileId(r) == files(i))
      assert((0 until nA).forall(a => t.value(r, a) == values(i * nA + a)))
    }
    (t, ids)
  }

  test("record numbers follow the String order of the ids") {
    val (t, ids) = table(300, 3, new SplittableRandom(1L))
    assert((0 until t.size).map(t.id) == ids.sorted.toSeq)
    assert(t.files.toSeq == Seq("A", "B"))
  }

  test("encode/decode round-trips blocks, isolates and multi-word masks included") {
    val rng = new SplittableRandom(2L)
    Seq(1, 5, 40, 70).foreach { nA =>
      val (t, _) = table(200, nA, rng)
      val b = new StateBlock.Builder(nA)
      val perm = (0 until t.size).map(r => (rng.nextInt(), r)).sorted.map(_._2)
      var next = 0
      while (next < perm.size) {
        val size = if (rng.nextInt(5) == 0) 0 else 1 + rng.nextInt(3)
        val members = perm.slice(next, next + size)
        next += size
        // values: mostly the first member's, some drawn afresh
        b.entity(Array.tabulate(nA)(a =>
          if (members.nonEmpty && rng.nextInt(4) > 0) t.value(members.head, a)
          else rng.nextInt(30)))
        members.foreach(r => b.member(r, Array.fill(nA)(rng.nextBoolean()), 0))
      }
      val block = b.result()
      val (source, back) = StateBlock.decode(StateBlock.encode(nA, block, t), t)
      assert(source == nA)
      assert(back.entityValues.toSeq == block.entityValues.toSeq, s"nA=$nA values")
      assert(back.memberOffsets.toSeq == block.memberOffsets.toSeq, s"nA=$nA offsets")
      assert(back.members.toSeq == block.members.toSeq, s"nA=$nA members")
      assert(back.distortion.toSeq == block.distortion.toSeq, s"nA=$nA masks")
    }
    val (t, _) = table(10, 2, rng)
    val empty = new StateBlock.Builder(2).result()
    assert(StateBlock.decode(StateBlock.encode(0, empty, t), t)._2.numEntities == 0)
  }

  test("a block expands to the clusters it holds") {
    val (t, _) = table(4, 2, new SplittableRandom(3L))
    val b = new StateBlock.Builder(2)
    b.entity(Array(7, 8))
    b.member(2, Array(true, false), 0)
    b.member(0, Array(false, true), 0)
    b.entity(Array(1, 1))
    val Seq(c, iso) = b.result().clusters(5, t).toSeq
    assert(c.partitionId == 5 && c.entityValues.toSeq == Seq(7, 8))
    assert(c.records.map(_.id).toSeq == Seq(t.id(2), t.id(0)))
    assert(c.records.map(_.distorted.toSeq).toSeq == Seq(Seq(true, false), Seq(false, true)))
    assert(c.records(0).values.toSeq == Seq(t.value(2, 0), t.value(2, 1)))
    assert(iso.records.isEmpty && iso.entityValues.toSeq == Seq(1, 1))
  }
}
