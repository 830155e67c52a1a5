package graft.insert

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.h3.H3
import graft.h3.expr.functions._

/** Property tests for compaction (SURVEY §7.5.2 — the reference had a
  * historical compaction bug, CHANGES.md:30-31, so these are mandatory):
  * uncompact(compact(x)) == x on cell sets; partial sibling sets and
  * differing values must NOT merge; pentagons merge at 6. */
class CompactionSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val hexRes3 = H3.fromParts(20, 3, Seq(0, 0, 0))

  private def df(cells: Seq[Long], values: Seq[Int]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(cells.zip(values).map { case (c, v) => Row(c, v) }, 4),
      StructType(Seq(StructField("h3index", LongType, false),
        StructField("v", IntegerType, false))))

  test("complete uniform subtree compacts to the root; uncompact restores it") {
    val cells = H3.toChildren(hexRes3, 6).toSeq // 343 cells
    val d = df(cells, Seq.fill(cells.length)(7))
    val compacted = Compaction.compact(d)
    compacted.count() shouldBe 1
    val root = compacted.head()
    root.getLong(0) shouldBe hexRes3
    root.getInt(1) shouldBe 7

    val restored = Compaction.uncompact(compacted, 6)
    restored.count() shouldBe 343
    restored.select("h3index").collect().map(_.getLong(0)).toSet shouldBe cells.toSet
    restored.select("v").distinct().head().getInt(0) shouldBe 7
  }

  test("differing values block merging") {
    val cells = H3.toChildren(hexRes3, 4).toSeq // 7 siblings
    val d = df(cells, 1 +: Seq.fill(6)(2)) // one child differs
    Compaction.compact(d).count() shouldBe 7
  }

  test("partial sibling set does not merge") {
    val cells = H3.toChildren(hexRes3, 4).toSeq.drop(1) // 6 of 7
    val d = df(cells, Seq.fill(6)(1))
    Compaction.compact(d).count() shouldBe 6
  }

  test("pentagon parent merges at 6 children") {
    val pentagon = H3.fromParts(4, 2, Seq(0, 0)) // pentagon chain
    H3.isPentagon(pentagon) shouldBe true
    val kids = H3.toChildren(pentagon, 3).toSeq
    kids.length shouldBe 6
    val d = df(kids, Seq.fill(6)(9))
    val compacted = Compaction.compact(d)
    compacted.count() shouldBe 1
    compacted.head().getLong(0) shouldBe pentagon
  }

  test("mixed-resolution input compacts recursively (already-compacted cells join sibling sets)") {
    // 6 children at res 4 + the 7 res-5 children of the 7th -> all merge to hexRes3
    val sibs = H3.toChildren(hexRes3, 4).toSeq
    val fine = H3.toChildren(sibs.head, 5).toSeq
    val cells = sibs.drop(1) ++ fine
    val d = df(cells, Seq.fill(cells.length)(3))
    val compacted = Compaction.compact(d)
    compacted.count() shouldBe 1
    compacted.head().getLong(0) shouldBe hexRes3
  }

  test("uncompactRestricted returns exactly the requested descendants, no explosion") {
    import spark.implicits._
    // one res-0 cell, request 5 specific res-8 descendants
    val res0 = H3.fromParts(20, 0, Nil)
    val d = df(Seq(res0), Seq(42))
    val wanted = H3.toChildren(H3.fromParts(20, 7, Seq(0, 1, 2, 3, 0, 1, 2)), 8).take(5).toSeq
    val out = Compaction.uncompactRestricted(d, 8, wanted.toDF("cell")).collect()
    out.length shouldBe 5
    out.map(_.getLong(0)).toSet shouldBe wanted.toSet
    out.map(_.getInt(1)).toSet shouldBe Set(42)
  }

  test("uncompactCoarseToProbes: nested probes do not duplicate output cells") {
    import spark.implicits._
    val c2 = H3.fromParts(20, 2, Seq(1, 1))
    val d = df(Seq(c2), Seq(1))
    // the res-2 probe covers everything the res-4 probe covers
    val probes = Seq(c2, H3.centerChild(c2, 4)).toDF("cell")
    val out = Compaction.uncompactCoarseToProbes(d, 4, probes).collect()
    out.length shouldBe 49
    out.map(_.getLong(0)).distinct.length shouldBe 49
    out.map(_.getInt(1)).toSet shouldBe Set(1)
  }

  test("uncompactCoarseToProbes: fine probes select only their subtree cells") {
    import spark.implicits._
    val c2 = H3.fromParts(20, 2, Seq(1, 1))
    val d = df(Seq(c2), Seq(1))
    val wanted = Seq(H3.centerChild(c2, 4), H3.toChildren(c2, 3).last)
    val out = Compaction.uncompactCoarseToProbes(d, 4, wanted.toDF("cell")).collect()
    // the res-4 probe yields itself; the res-3 probe yields its 7 children
    out.map(_.getLong(0)).toSet shouldBe
      (Set(H3.centerChild(c2, 4)) ++ H3.toChildren(H3.toChildren(c2, 3).last, 4))
    out.length shouldBe 8
  }

  test("one-pass (includeTargetRes) == fine pass-through UNION coarse uncompaction") {
    import spark.implicits._
    // store mixing resolutions: a res-2 compacted cell, a res-3 compacted
    // cell, rows AT the target res 4 (one probe-covered, one not), and an
    // unrelated res-2 cell no probe touches
    val c2 = H3.fromParts(20, 2, Seq(1, 1))
    val c3 = H3.toChildren(c2, 3).last
    val fineIn = H3.centerChild(c2, 4)
    val fineOut = H3.fromParts(21, 4, Seq(2, 2, 2, 2)) // outside every probe
    val other2 = H3.fromParts(22, 2, Seq(0, 3))
    val rows = df(Seq(c2, c3, fineIn, fineOut, other2), Seq(1, 2, 3, 4, 5))
    // single-res probe set (res 3): covers c2's subtree partially, c3
    // exactly, fineIn via its res-3 parent
    val probeCells = Seq(H3.toParent(fineIn, 3), c3)
    val probes = probeCells.toDF("cell")

    val onePass = Compaction.uncompactCoarseToProbes(rows, 4, probes,
        knownProbeRes = Some(Seq(3)), includeTargetRes = true)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).sorted
    // the two-pass form the one-pass replaces: target-res rows that match
    // a probe ancestor pass through; coarser rows take the probe join
    val fine = rows.where(h3_get_resolution(col("h3index")) === 4)
      .where(h3_to_parent(col("h3index"), lit(3)).isin(probeCells: _*))
    val coarse = rows.where(h3_get_resolution(col("h3index")) < 4)
    val twoPass = fine.unionByName(
        Compaction.uncompactCoarseToProbes(coarse, 4, probes,
          knownProbeRes = Some(Seq(3))))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).sorted
    onePass shouldBe twoPass
    // sanity on content: fineIn survives with its own value, fineOut and
    // other2 are gone, c2/c3 expand only under the probes
    onePass.map(_._2).toSet shouldBe Set(1, 2, 3)
    onePass.count(_._2 == 3) shouldBe 1
    // the driver-side probe relation (small driver-known sets) is
    // bit-identical to the Column form
    val onePassLocal = Compaction.uncompactCoarseToProbes(rows, 4, probes,
        knownProbeRes = Some(Seq(3)), includeTargetRes = true,
        driverCells = Some(probeCells))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).sorted
    onePassLocal shouldBe onePass
  }

  test("uncompactRestricted mixes stored resolutions correctly") {
    import spark.implicits._
    // stored: one cell at res 2 (value 1) and one unrelated at res 4 (value 2)
    val c2 = H3.fromParts(20, 2, Seq(1, 1))
    val c4 = H3.fromParts(21, 4, Seq(2, 2, 2, 2))
    val d = df(Seq(c2, c4), Seq(1, 2))
    val wantedUnderC2 = H3.centerChild(c2, 4)
    val out = Compaction.uncompactRestricted(d, 4, Seq(wantedUnderC2, c4).toDF("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out shouldBe Map(wantedUnderC2 -> 1, c4 -> 2)
  }

  // ---- the one-shuffle kernel against the level loop it replaced ----

  private val pairSchema = StructType(Seq(
    StructField("h3index", LongType, false),
    StructField("w", DoubleType, true),
    StructField("tag", StringType, true)))

  /** Value tuples from a small pool, so siblings often agree: a nullable
    * double with NaN and both zeros, and a nullable string. */
  private val wPool: Seq[java.lang.Double] =
    Seq[java.lang.Double](1.5, 1.5, Double.NaN, null, 0.0, -0.0)
  private val tagPool: Seq[String] = Seq("a", "a", null, "b")

  /** A seeded row-distinct input over several base cells (hexagons 20 and
    * 21, pentagon base cell 4): under each root's first child a uniform
    * subtree three levels deep, under the others a random tree whose nodes
    * stop early, lose children or change value, and sometimes carry their
    * complete children with the same value beside themselves; plus rows at
    * resolution 0. */
  private def randomInput(seed: Long): Seq[Row] = {
    val rnd = new Random(seed)
    def value(): (java.lang.Double, String) =
      (wPool(rnd.nextInt(wPool.length)), tagPool(rnd.nextInt(tagPool.length)))
    val out = mutable.ArrayBuffer.empty[Row]
    def emit(c: Long, v: (java.lang.Double, String)): Unit = out += Row(c, v._1, v._2)
    def grow(cell: Long, leafRes: Int, v: (java.lang.Double, String)): Unit = {
      val res = H3.getResolution(cell)
      if (res == leafRes || rnd.nextDouble() < 0.15) {
        emit(cell, v)
        if (res < leafRes && rnd.nextDouble() < 0.3)
          H3.toChildren(cell, res + 1).foreach(emit(_, v)) // overlap
      } else H3.toChildren(cell, res + 1).foreach { k =>
        val q = rnd.nextDouble()
        if (q >= 0.08) grow(k, leafRes, if (q < 0.2) value() else v)
      }
    }
    val roots = Seq(
      H3.fromParts(20, 2, Seq(rnd.nextInt(7), rnd.nextInt(7))),
      H3.fromParts(21, 1, Seq(rnd.nextInt(7))),
      H3.fromParts(4, 1, Seq(2 + rnd.nextInt(5))), // hexagon under a pentagon base cell
      H3.fromParts(4, 1, Seq(0)))                   // the pentagon itself
    roots.foreach { root =>
      val leafRes = H3.getResolution(root) + 4
      val kids = H3.toChildren(root, H3.getResolution(root) + 1)
      val uniform = value()
      H3.toChildren(kids.head, leafRes).foreach(emit(_, uniform))
      kids.drop(1).foreach(k => grow(k, leafRes, value()))
    }
    // res 0: a hexagon beside its complete children (same value), the six
    // children of a pentagon, and a lone cell
    val hexRes0 = H3.fromParts(30, 0, Nil)
    val v0 = value()
    (hexRes0 +: H3.toChildren(hexRes0, 1).toSeq).foreach(emit(_, v0))
    val v1 = value()
    H3.toChildren(H3.fromParts(14, 0, Nil), 1).foreach(emit(_, v1))
    emit(H3.fromParts(38, 0, Nil), value())
    val cells = out.map(_.getLong(0))
    require(cells.distinct.length == cells.length, "generator emitted a cell twice")
    out.toSeq
  }

  /** Multiset form of a compacted frame; doubles by their bits, so 0.0,
    * -0.0 and NaN all stay distinguishable. */
  private def multiset(rows: Array[Row]): Seq[(Long, Option[Long], Option[String])] =
    rows.toSeq.map { r =>
      (r.getLong(0),
        if (r.isNullAt(1)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(1))),
        Option(r.getString(2)))
    }.sorted

  test("one-shuffle compaction equals the level loop on seeded random inputs") {
    (1L to 6L).foreach { seed =>
      val rows = randomInput(seed)
      val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), pairSchema)
      val expected = multiset(LevelLoopCompaction.compact(d).collect())
      withClue(s"seed $seed (${rows.length} rows): ") {
        multiset(Compaction.compact(d).collect()) shouldBe expected
        expected.length should be < rows.length
      }
    }
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], pairSchema)
    Compaction.compact(none).collect() shouldBe empty
    LevelLoopCompaction.compact(none).collect() shouldBe empty
  }

  test("compaction runs a few Spark jobs, however deep the subtree") {
    val cells = H3.toChildren(hexRes3, 7).toSeq // 2401 cells, four levels of merges
    val d = df(cells, Seq.fill(cells.length)(5))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    // the listener bus is asynchronous: marker jobs fence the jobs counted
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("compaction-jobs-start")
      val out = Compaction.compact(d).collect()
      marker("compaction-jobs-end")
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.contains("compaction-jobs-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      jobs should contain("compaction-jobs-end")
      val compactionJobs = jobs.toArray.toSeq.map(_.toString)
        .dropWhile(_ != "compaction-jobs-start").dropWhile(_ == "compaction-jobs-start")
        .takeWhile(_ != "compaction-jobs-end")
      out.map(r => r.getLong(0) -> r.getInt(1)).toSeq shouldBe Seq(hexRes3 -> 5)
      compactionJobs.length should (be >= 1 and be <= 3)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
