package graft.store

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.h3.H3
import graft.schema.{AggregationMethod => Agg, GraftDataType => T, _}

class AlterPartitioningSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val name = "repart_ts"

  private def freshStore(): (CellStore, String) = {
    val root = Files.createTempDirectory("graft_ap_").toString
    val s = CellStore(spark, root)
    val cells = H3.toChildren(H3.fromParts(20, 5, Seq(0, 0, 0, 0, 0)), 7).toSeq ++
      H3.toChildren(H3.fromParts(25, 5, Seq(0, 0, 0, 0, 0)), 7).toSeq
    val rows = cells.zipWithIndex.map { case (c, i) => Row(c, i.toLong) }
    val input = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("v", LongType, false))))
    s.insert(name, input,
      createSchema = Some(CompactedTableSchema.builder(name)
        .h3BaseResolutions(Seq(7)).useCompaction(false)
        .addAggregatedColumn("v", T.Int64, Agg.Max).build()))
    (s, root)
  }

  private def ph3Dirs(root: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty).toSeq
      kids ++ kids.filter(_.isDirectory).flatMap(walk)
    }
    walk(new java.io.File(s"$root/$name/data"))
      .filter(f => f.isDirectory && f.getName.startsWith("ph3="))
      .map(_.getName).distinct.sorted
  }

  test("rewrite changes the directory layout but not one row") {
    val (s, root) = freshStore()
    val before = s.scanForResolution(name, 7)
      .select("h3index", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    ph3Dirs(root) shouldBe Seq("ph3=20", "ph3=25") // base-cell layout
    s.alterPartitioning(name, H3Partitioning.LowerResolution(2))
    // LowerResolution(2) partitions res-7 rows by their res-5 parent: the
    // ph3 values are now full H3 indexes, not base-cell ordinals
    all(ph3Dirs(root).map(_.stripPrefix("ph3=").toLong)) should be > 1000L
    s.getTableset(name).h3Partitioning shouldBe H3Partitioning.LowerResolution(2)
    val after = s.scanForResolution(name, 7)
      .select("h3index", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    after shouldBe before
    // no staging/old leftovers
    new java.io.File(s"$root/$name").listFiles().map(_.getName)
      .filter(n => n.startsWith("data_stage_") || n.startsWith("data_old_")) shouldBe empty
  }

  test("probe queries stay correct and pruned under the new layout") {
    val (s, _) = freshStore()
    val probe = H3.toChildren(H3.fromParts(20, 5, Seq(0, 0, 0, 0, 0)), 7)(7)
    val expected = s.queryCells(name, Seq(probe), 7, doUncompact = true, template = None)
      .select("h3index", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    s.alterPartitioning(name, H3Partitioning.LowerResolution(2))
    val got = s.queryCells(name, Seq(probe), 7, doUncompact = true, template = None)
      .select("h3index", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    got shouldBe expected
  }

  test("crash between data publish and schema write heals on next read (layout marker)") {
    val (s, root) = freshStore()
    val staleSidecar = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/$name/schema.json"))
    val expected = s.scanForResolution(name, 7)
      .select("h3index", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    s.alterPartitioning(name, H3Partitioning.LowerResolution(2))
    // simulate the crash window: the rewrite's log commit landed (new
    // layout + its tag) but the sidecar write did not
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/$name/schema.json"), staleSidecar)
    // the raw-bytes restore bypasses Hadoop's ChecksumFileSystem — drop the
    // now-stale .crc sidecar so the read sees the (stale) content, not an IO error
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/$name/.schema.json.crc"))
    // a FRESH store (no in-memory state) must heal, not misprune
    val s2 = CellStore(spark, root)
    s2.getTableset(name).h3Partitioning shouldBe H3Partitioning.LowerResolution(2)
    val after = s2.scanForResolution(name, 7)
      .select("h3index", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    after shouldBe expected
    // and the sidecar itself was rewritten (healed durably, not per-read)
    CompactedTableSchema.fromJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/$name/schema.json")), "UTF-8"))
      .h3Partitioning shouldBe H3Partitioning.LowerResolution(2)
  }

  test("same-partitioning alter is a no-op; a layout change keeps file stats") {
    val (s, _) = freshStore()
    s.buildManifest(name)
    val ids = s.snapshotIds(name)
    s.alterPartitioning(name, H3Partitioning.BaseCell) // already BaseCell
    s.snapshotIds(name) shouldBe ids
    s.alterPartitioning(name, H3Partitioning.LowerResolution(1))
    // the rewrite's commit recorded the new files' footer stats
    s.hasManifest(name) shouldBe true
    val probe = H3.toChildren(H3.fromParts(20, 5, Seq(0, 0, 0, 0, 0)), 7)(7)
    val sel = s.selectFilesForProbes(name, 7, Seq(probe)).get
    sel.uncoveredFiles shouldBe 0
    sel.paths.size should be < sel.currentFiles
    s.buildManifest(name) // a checkpoint works against the new layout
    s.queryCells(name, Seq(probe), 7).count() shouldBe 1L
  }
}
