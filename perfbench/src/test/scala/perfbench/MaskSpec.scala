package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.h3.H3

class MaskSpec extends AnyFunSuite {

  test("the same seed gives the same mask; another seed gives another") {
    def digest(seed: Long) = Oracle.digest(new World(seed, Main.Roots).take(4))
    assert(digest(7) == digest(7))
    assert(digest(7) != digest(8))
  }

  test("the oracle rejects a result with one row dropped") {
    val oracle = new Oracle
    val region = new World(3, Main.Roots).take(1).head
    oracle.add(Seq(region))
    val probes = Seq(Cells.parent(region.water.head, 7))
    val expected = oracle.expect(probes)
    assert(expected.nonEmpty)
    val rows = expected.toSeq.map(c => (c, 1.0f))
    assert(Oracle.check(expected, rows).isEmpty)
    assert(Oracle.check(expected, rows.tail).nonEmpty)
    assert(Oracle.check(expected, rows :+ rows.head).nonEmpty)
    assert(Oracle.check(expected, rows.updated(0, (rows.head._1, 0.5f))).nonEmpty)
  }

  test("the mask's compacted form covers exactly its water cells") {
    val region = new World(5, Main.Roots).take(1).head
    val expanded = region.compacted.flatMap { c =>
      val (lo, hi) = Cells.descendantRange(c, Cells.MaxRes)
      region.water.filter(w => w >= lo && w <= hi)
    }
    assert(expanded.sorted.sameElements(region.water))
    val sizes = region.compacted.map(c => H3.childrenCount(c, Cells.MaxRes)).sum
    assert(sizes == region.water.length)
  }

  test("the oracle's cell arithmetic agrees with the program's H3") {
    val region = new World(9, Main.Roots).take(1).head
    val cell = region.cell
    assert(H3.isValidCell(cell))
    assert(Cells.children(cell).sorted == H3.toChildren(cell, Cells.res(cell) + 1).toSeq.sorted)
    region.water.take(50).foreach { w =>
      assert(Cells.parent(w, 7) == H3.toParent(w, 7))
      val (lo, hi) = Cells.descendantRange(Cells.parent(w, 7), 10)
      assert((lo, hi) == H3.descendantRange(H3.toParent(w, 7), 10))
    }
  }
}
