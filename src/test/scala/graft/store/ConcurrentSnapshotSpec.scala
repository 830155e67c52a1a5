package graft.store

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.h3.H3
import graft.schema.{AggregationMethod => Agg, GraftDataType => T, _}

/** Multi-writer snapshot safety: concurrent appends must each land as their
  * OWN snapshot (each commit claims its own log version), an as-of read
  * must never duplicate rows, and what a killed writer leaves behind (a
  * temp entry, staged files) must claim nothing. */
class ConcurrentSnapshotSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val name = "conc_snap_ts"

  private def frame(cells: Seq[Long], v: Long) = {
    val rows = cells.map(c => Row(c, v))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 2),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("v", LongType, false))))
  }

  // one disjoint 49-cell res-7 family per writer slot (distinct res-5 parents)
  private def cellsFor(slot: Int): Seq[Long] =
    H3.toChildren(H3.fromParts(20, 5, Seq(0, 0, 0, 0, slot + 1)), 7).toSeq

  test("concurrent inserts each commit their own snapshot; as-of reads stay exact") {
    val root = Files.createTempDirectory("graft_conc_").toString
    val s = CellStore(spark, root)
    s.insert(name, frame(cellsFor(0), 1),
      createSchema = Some(CompactedTableSchema.builder(name)
        .h3BaseResolutions(Seq(7)).useCompaction(false)
        .addAggregatedColumn("v", T.Int64, Agg.Max).build()))

    val writers = 4
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to writers).map { slot =>
      new Thread(() =>
        try s.insert(name, frame(cellsFor(slot), slot.toLong))
        catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    errors shouldBe empty

    // every writer's commit survived: one snapshot per insert, no clobbers
    val ids = s.snapshotIds(name)
    ids.size shouldBe (writers + 1)
    ids shouldBe ids.sorted

    // the full as-of read has every row exactly once — concurrent listings
    // may overlap file-wise, but never duplicate rows
    val latest = s.scanAsOf(name, ids.last)
    latest.count() shouldBe (writers + 1) * 49L
    latest.select("h3index").distinct().count() shouldBe (writers + 1) * 49L
    s.scanForResolution(name, 7).count() shouldBe (writers + 1) * 49L
  }

  test("a crashed commit (orphan temp entry, uncommitted staged files) breaks no read or commit") {
    val root = Files.createTempDirectory("graft_conc2_").toString
    val s = CellStore(spark, root)
    s.insert(name, frame(cellsFor(0), 1),
      createSchema = Some(CompactedTableSchema.builder(name)
        .h3BaseResolutions(Seq(7)).useCompaction(false)
        .addAggregatedColumn("v", T.Int64, Agg.Max).build()))
    // a writer that staged its files, moved one into the data dir and wrote
    // its entry's temp, then died before the rename that claims version 2
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    Seq("_log/.2.json.dead.tmp", "_staging/dead/kind=base/resolution=7/ph3=20/part-0.parquet",
        "data/kind=base/resolution=7/ph3=20/part-dead.parquet").foreach { rel =>
      val o = fs.create(new org.apache.hadoop.fs.Path(s"$root/$name/$rel"), true)
      try o.write("half-written by a killed writer".getBytes("UTF-8")) finally o.close()
    }

    s.insert(name, frame(cellsFor(1), 2))
    // the orphans claim nothing: the next commit is version 2
    s.snapshotIds(name) shouldBe Seq(1L, 2L)
    s.scanAsOf(name, 2L).count() shouldBe 98
    s.scanForResolution(name, 7).count() shouldBe 98
  }
}
