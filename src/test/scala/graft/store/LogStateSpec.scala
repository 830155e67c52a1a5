package graft.store

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.h3.H3
import graft.schema.{AggregationMethod => Agg, GraftDataType => T, _}

/** What a store reader sees of other writers' commits: a reader that
  * listed the tableset's state before an insert committed must not keep a
  * state without it, and a reader that shares no cached state with the
  * writer sees every kind of commit without being told. */
class LogStateSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private def frame(rows: Seq[(Long, Long)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("v", LongType, false))))

  private def schema(name: String, compaction: Boolean) = CompactedTableSchema.builder(name)
    .h3BaseResolutions(Seq(7)).useCompaction(compaction)
    .addAggregatedColumn("v", T.Int64, Agg.Max).build()

  private def scanRows(s: CellStore, name: String): Seq[(Long, Long)] =
    s.scanForResolution(name, 7).select(col("h3index"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

  test("a reader that lists before an insert commits never keeps a state without the insert") {
    spark.sparkContext.hadoopConfiguration.set("fs.pausefs.impl", classOf[PauseFs].getName)
    val name = "listrace_ts"
    val root = "pausefs:" + Files.createTempDirectory("graft_fsrace_").toString
    val s = CellStore(spark, root)
    // three cells of one res-6 parent: no complete sibling set, base rows only
    val parent = H3.fromParts(20, 6, Seq(0, 0, 0, 0, 0, 0))
    val first = H3.toChildren(parent, 7).toSeq.take(3).map(c => (c, 1L))
    s.insert(name, frame(first), createSchema = Some(schema(name, compaction = true)))
    // the racing insert: a complete sibling set, stored as one compacted
    // res-6 row in a partition directory the first insert did not create
    val other = H3.fromParts(20, 6, Seq(0, 0, 0, 0, 0, 1))
    val second = H3.toChildren(other, 7).toSeq.map(c => (c, 2L))
    s.invalidateFileCaches(name) // the reader starts with no cached state

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() =>
      try { s.scanForResolution(name, 7).count(); () }
      catch { case t: Throwable => errors.add(t) })
    PauseFs.arm(reader, s"/$name/")
    reader.start()
    try {
      PauseFs.awaitListed() shouldBe true // the reader listed and is parked
      s.insert(name, frame(second))        // commits while the reader is parked
    } finally PauseFs.release()
    reader.join(60000)
    errors shouldBe empty

    // no invalidation: the cached state must hold the insert's files
    s.scanForResolution(name, 7).where(col("kind") === "compacted").count() shouldBe 1L
    s.scanForResolution(name, 7).count() shouldBe 4L
    s.queryCells(name, second.map(_._1), 7).count() shouldBe 7L
  }

  test("a reader with no shared state sees append, delete, compaction and drop without invalidation") {
    val name = "indep_ts"
    val dir = Files.createTempDirectory("graft_indep_").toString
    val writer = CellStore(spark, dir)
    // the same directory under a second root string: its own cached state
    val reader = CellStore(spark, new java.io.File(dir).toURI.toString)
    val a = H3.toChildren(H3.fromParts(20, 5, Seq(0, 0, 0, 0, 0)), 7).toSeq
    val b = H3.toChildren(H3.fromParts(25, 5, Seq(0, 0, 0, 0, 0)), 7).toSeq
    var model = a.map(c => (c, 1L))
    writer.insert(name, frame(model), createSchema = Some(schema(name, compaction = false)))
    scanRows(reader, name) shouldBe model.sorted

    val added = b.map(c => (c, 2L)) ++ a.take(5).map(c => (c, 3L))
    writer.insert(name, frame(added))
    model = model ++ added
    withClue("append: ") { scanRows(reader, name) shouldBe model.sorted }

    writer.deleteWhere(name, "v = 3")
    model = model.filterNot(_._2 == 3L)
    withClue("deleteWhere: ") { scanRows(reader, name) shouldBe model.sorted }
    reader.pendingDeletes(name) should have size 1

    writer.compactFiles(name)
    withClue("compactFiles: ") { scanRows(reader, name) shouldBe model.sorted }
    reader.pendingDeletes(name) shouldBe empty

    writer.dropPartitionsWhere(name, col("ph3") === 25) shouldBe 1
    model = model.filterNot(r => H3.getBaseCell(r._1) == 25)
    withClue("dropPartitionsWhere: ") { scanRows(reader, name) shouldBe model.sorted }
    reader.queryCells(name, b.take(3), 7).count() shouldBe 0L
    reader.snapshotIds(name) shouldBe writer.snapshotIds(name)
  }
}
