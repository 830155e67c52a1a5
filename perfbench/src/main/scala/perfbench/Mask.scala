package perfbench

import scala.collection.mutable
import scala.util.Random

/** H3 index bit arithmetic, kept apart from the program's own H3 code so
  * the oracle does not share a defect with the system it checks. Only
  * hexagon base cells are used, where every digit 0..6 is a valid child. */
object Cells {
  final val MaxRes = 10
  private final val ResOffset = 52
  private final val BaseCellOffset = 45

  val PentagonBaseCells: Set[Int] = Set(4, 14, 24, 38, 49, 58, 63, 72, 83, 97, 107, 117)
  val HexagonBaseCells: IndexedSeq[Int] = (0 until 122).filterNot(PentagonBaseCells)

  def res(h: Long): Int = ((h >>> ResOffset) & 0xF).toInt
  private def shift(r: Int): Int = (15 - r) * 3

  /** Resolution-0 cell of a base cell: mode 1, every digit unused (7). */
  def root(bc: Int): Long = (1L << 59) | (bc.toLong << BaseCellOffset) | ((1L << 45) - 1)

  def child(h: Long, d: Int): Long = {
    val r = res(h) + 1
    val withRes = (h & ~(0xFL << ResOffset)) | (r.toLong << ResOffset)
    (withRes & ~(7L << shift(r))) | (d.toLong << shift(r))
  }

  def parent(h: Long, r: Int): Long = {
    var p = (h & ~(0xFL << ResOffset)) | (r.toLong << ResOffset)
    var k = r + 1
    while (k <= 15) { p |= 7L << shift(k); k += 1 }
    p
  }

  def children(h: Long): Seq[Long] = (0 to 6).map(child(h, _))

  /** Numeric [lo, hi] of the resolution-`r` descendants of `h`. Every valid
    * resolution-`r` cell in the range descends from `h`. */
  def descendantRange(h: Long, r: Int): (Long, Long) = {
    var lo = (h & ~(0xFL << ResOffset)) | (r.toLong << ResOffset)
    var hi = lo
    var k = res(h) + 1
    while (k <= r) {
      lo &= ~(7L << shift(k))
      hi = (hi & ~(7L << shift(k))) | (6L << shift(k))
      k += 1
    }
    (lo, hi)
  }
}

/** One area of the synthetic water mask: a resolution-5 cell whose
  * resolution-10 descendants are water or not. `water` is sorted;
  * `compacted` is the same area after lossless H3 compaction, as the
  * store should hold it. */
final case class Region(cell: Long, water: Array[Long], compacted: Array[Long])

/** Seeded hierarchical "water mask" in the style of the reference's raster
  * test. Resolution-3 roots sit in distinct hexagon base cells; each root's
  * 49 resolution-5 descendants join the pool of regions. Inside a region,
  * resolution 6 always splits; at resolutions 7..9 a cell is full (all
  * water), empty or split further; a resolution-10 leaf is water with
  * probability 0.6, so leaf coverage is about 60% at every level. Regions
  * are handed out in a seeded order: the first ones form the bulk ingest,
  * the rest are the tiles later appended. Regions are disjoint, so every
  * insert compacts completely on its own. */
final class World(val seed: Long, roots: Int) {
  import Cells._
  require(roots >= 1 && roots <= HexagonBaseCells.size)
  private val rng = new Random(seed)
  private val rootCells: Seq[Long] = rng.shuffle(HexagonBaseCells).take(roots).map { bc =>
    (1 to 3).foldLeft(root(bc))((c, _) => child(c, rng.nextInt(7)))
  }
  // round robin over the roots, so any run of `roots` consecutive regions
  // touches every root's base cell once and file counts vary little
  private val pool: Seq[Long] = {
    val perRoot = rootCells.map(r => rng.shuffle(children(r).flatMap(children)))
    perRoot.head.indices.flatMap(i => perRoot.map(_(i)))
  }
  /** Chance that a cell at a resolution is settled (full or empty) rather
    * than split. It grows towards the leaves so that the amount of water
    * per region, and with it each run's load, varies little between seeds;
    * a settled cell is full with chance 0.6, as a leaf is water. */
  private val Settled = Map(7 -> 0.15, 8 -> 0.3, 9 -> 0.5)
  private var next = 0

  def remaining: Int = pool.size - next

  /** The next `n` regions of the seeded order. */
  def take(n: Int): Seq[Region] = {
    require(n <= remaining, s"mask pool exhausted: want $n regions, $remaining left")
    val out = pool.slice(next, next + n).map(fill)
    next += n
    out
  }

  private def fill(region: Long): Region = {
    val r = new Random(seed * 1000003L ^ region)
    val water = mutable.ArrayBuilder.make[Long]
    val compacted = mutable.ArrayBuilder.make[Long]
    // returns the cells of this subtree after compaction; a single element
    // equal to `c` means the whole subtree is water
    def rec(c: Long): Seq[Long] = {
      val cr = res(c)
      if (cr == MaxRes) {
        if (r.nextDouble() < 0.6) { water += c; Seq(c) } else Nil
      } else {
        val u = r.nextDouble()
        val settled = Settled.getOrElse(cr, 0.0)
        if (u < 0.6 * settled) {
          addAll(c)
          Seq(c)
        } else if (u < settled) Nil
        else {
          val kids = children(c).map(rec)
          if (kids.forall(k => k.size == 1 && res(k.head) == cr + 1)) Seq(c)
          else kids.flatten
        }
      }
    }
    // every resolution-10 descendant of a full cell, in sorted order
    def addAll(c: Long): Unit =
      if (res(c) == MaxRes) water += c else children(c).foreach(addAll)
    rec(region).foreach(compacted += _)
    val w = water.result(); java.util.Arrays.sort(w)
    val cp = compacted.result(); java.util.Arrays.sort(cp)
    Region(region, w, cp)
  }
}

/** The expected answer to every read, from the regions ingested so far. */
final class Oracle {
  /** Regions in the store, grouped by the insert that wrote them. */
  val inserts = mutable.ArrayBuffer.empty[Seq[Region]]
  def regions: IndexedSeq[Region] = inserts.flatten.toIndexedSeq
  def add(rs: Seq[Region]): Unit = inserts += rs
  def cells: Long = regions.map(_.water.length.toLong).sum

  /** Water cells at resolution 10 under `probe` (any resolution <= 10). */
  def under(probe: Long): Array[Long] = {
    val (lo, hi) = Cells.descendantRange(probe, Cells.MaxRes)
    val out = mutable.ArrayBuilder.make[Long]
    inserts.foreach(_.foreach { rg =>
      val a = rg.water
      var i = lowerBound(a, lo)
      while (i < a.length && a(i) <= hi) { out += a(i); i += 1 }
    })
    val o = out.result(); java.util.Arrays.sort(o); o
  }

  /** Expected rows of a resolution-10 cell query over `probes`. */
  def expect(probes: Seq[Long]): Array[Long] = {
    val o = probes.distinct.flatMap(under).distinct.toArray
    java.util.Arrays.sort(o); o
  }

  private def lowerBound(a: Array[Long], x: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }
}

object Oracle {
  /** Exact check of a resolution-10 result: the same cells, each once,
    * each with is_water == 1. Returns a reason when the result is wrong. */
  def check(expected: Array[Long], got: Seq[(Long, Float)]): Option[String] = {
    val cells = got.map(_._1).toArray
    java.util.Arrays.sort(cells)
    val badValue = got.find(_._2 != 1.0f)
    if (badValue.nonEmpty) Some(s"is_water ${badValue.get._2} at ${badValue.get._1}")
    else if (!java.util.Arrays.equals(cells, expected)) {
      val e = expected.toSet; val g = cells.toSet
      Some(s"expected ${expected.length} rows, got ${cells.length}: " +
        s"${(e -- g).size} missing, ${(g -- e).size} extra, " +
        s"${cells.length - g.size} duplicated")
    } else None
  }

  /** Traversal round trip: share of expected cells returned, and whether
    * any returned cell was not expected. */
  def coverage(expected: Array[Long], got: Seq[Long]): (Double, Int) = {
    val g = got.toSet
    val e = expected.toSet
    val hit = expected.count(g.contains)
    (if (expected.isEmpty) 1.0 else hit.toDouble / expected.length, (g -- e).size)
  }

  /** Stable digest of a mask, for the generator's determinism test. */
  def digest(regions: Seq[Region]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    regions.foreach(_.water.foreach { c => buf.clear(); buf.putLong(c); md.update(buf.array()) })
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
