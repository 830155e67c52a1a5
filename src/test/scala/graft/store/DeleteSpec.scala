package graft.store

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.h3.H3
import graft.schema.{GraftDataType => T, _}

/** ClickHouse-style lightweight deletes ([[CellStore.deleteWhere]]): masking
  * on every read path, post-delete inserts unmasked, materialization via
  * rewrite / [[CellStore.applyDeletes]], time travel, mirror invalidation,
  * and the FINAL filter-then-merge contract. */
class DeleteSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val name = "del_ts"
  private val hexRes5 = H3.fromParts(20, 5, Seq(0, 0, 0, 0, 0))
  private def cells = H3.toChildren(hexRes5, 7).toSeq

  private def schema = CompactedTableSchema.builder(name)
    .h3BaseResolutions(Seq(7))
    .useCompaction(false)
    .engine(TableEngine.ReplacingMergeTree(None))
    .addSimpleColumn("v", T.Int64)
    .build()

  private def input(valOf: Int => Long) = {
    val rows = cells.zipWithIndex.map { case (c, i) => Row(c, valOf(i)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("v", LongType, false))))
  }

  private def freshStore(): CellStore = {
    val root = Files.createTempDirectory("graft_del_").toString
    val s = CellStore(spark, root)
    s.insert(name, input(_.toLong), createSchema = Some(schema))
    s
  }

  test("delete masks matching rows on scan, probe and stats paths") {
    val s = freshStore()
    s.scanForResolution(name, 7).count() shouldBe 49L
    val id = s.deleteWhere(name, "v >= 40")
    id should be > 0L
    val kept = s.scanForResolution(name, 7)
    kept.count() shouldBe 40L
    kept.agg(max(col("v"))).collect()(0).getLong(0) shouldBe 39L
    // probe path: a cell whose row is masked comes back empty
    val deletedCell = cells(45)
    s.queryCells(name, Seq(deletedCell), 7).count() shouldBe 0L
    val keptCell = cells(5)
    s.queryCells(name, Seq(keptCell), 7).count() shouldBe 1L
    // stats agree with the scan, not with the raw files
    s.tablesetStats(name).agg(sum(col("num_cells_stored_at_resolution")))
      .collect()(0).getLong(0) shouldBe 40L
    // the data files themselves are untouched (mask, not rewrite)
    spark.read.parquet(s.dataDir(name)).count() shouldBe 49L
  }

  test("rows inserted after the delete are never masked, even when they match") {
    val s = freshStore()
    s.deleteWhere(name, "v >= 40")
    s.insert(name, input(i => 1000L + i)) // all match "v >= 40"
    val out = s.scanForResolution(name, 7)
    out.count() shouldBe (40L + 49L)
    out.where(col("v") >= 1000).count() shouldBe 49L
    out.where(col("v").between(40, 999)).count() shouldBe 0L
  }

  test("compactFiles materializes the delete: markers drain, files shrink") {
    val s = freshStore()
    s.deleteWhere(name, "v % 2 = 0")
    s.pendingDeletes(name) should have size 1
    val masked = s.scanForResolution(name, 7).collect().map(_.getLong(1)).sorted
    s.compactFiles(name)
    s.pendingDeletes(name) shouldBe empty
    // physical removal: the raw files no longer contain the deleted rows
    spark.read.parquet(s.dataDir(name)).count() shouldBe masked.length.toLong
    s.scanForResolution(name, 7).collect().map(_.getLong(1)).sorted shouldBe masked
  }

  test("applyDeletes unlinks files of fully-masked partitions") {
    val s = freshStore()
    s.deleteWhere(name, "true")
    s.scanForResolution(name, 7).count() shouldBe 0L
    s.applyDeletes(name)
    s.pendingDeletes(name) shouldBe empty
    s.scanForResolution(name, 7).count() shouldBe 0L
    // every captured file was 100% deleted rows -> unlinked outright
    val dataDir = new java.io.File(s.dataDir(name))
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty).toSeq
      kids.filter(k => k.isFile && k.getName.endsWith(".parquet")) ++
        kids.filter(_.isDirectory).flatMap(walk)
    }
    walk(dataDir) shouldBe empty
  }

  test("applyDeletes on a partial mask rewrites only captured partitions") {
    val s = freshStore()
    s.deleteWhere(name, "v < 10")
    s.applyDeletes(name)
    s.pendingDeletes(name) shouldBe empty
    val vals = s.scanForResolution(name, 7).collect().map(_.getLong(1)).sorted
    vals shouldBe (10L until 49L).toArray
    spark.read.parquet(s.dataDir(name)).count() shouldBe 39L
  }

  test("a delete is a time-travel point: as-of before it is unmasked") {
    val s = freshStore()
    val preIds = s.snapshotIds(name)
    preIds should have size 1
    val delId = s.deleteWhere(name, "v >= 40")
    s.snapshotIds(name) shouldBe (preIds :+ delId)
    s.scanAsOf(name, preIds.head).count() shouldBe 49L
    s.scanAsOf(name, delId).count() shouldBe 40L
  }

  test("nondeterministic and unresolvable predicates are refused loudly") {
    val s = freshStore()
    an[IllegalArgumentException] should be thrownBy
      s.deleteWhere(name, "rand() < 0.5")
    an[Exception] should be thrownBy s.deleteWhere(name, "no_such_column > 1")
    // neither left a marker behind
    s.pendingDeletes(name) shouldBe empty
    s.scanForResolution(name, 7).count() shouldBe 49L
  }

  test("a delete invalidates bucketed mirrors (stale mirror never serves masked rows)") {
    val s = freshStore()
    s.buildMirror(name, 7, 4)
    s.mirrorFor(name, 7) shouldBe defined
    s.deleteWhere(name, "v >= 40")
    s.mirrorFor(name, 7) shouldBe None
  }

  test("plan audit: no pending deletes -> the raw single-scan fast path (no Union)") {
    val s = freshStore()
    val plan = s.scanForResolution(name, 7).queryExecution.executedPlan
    plan.collect { case u: org.apache.spark.sql.execution.UnionExec => u } shouldBe empty
    plan.collectLeaves().collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    } should have size 1
  }

  test("plan audit: the mask keeps probe range pushdown in every union branch") {
    val s = freshStore()
    s.deleteWhere(name, "v >= 40")
    s.insert(name, input(i => 1000L + i)) // a second, uncaptured file group
    val probe = cells(5)
    val df = s.queryCells(name, Seq(probe), 7)
    df.collect() should have length 2 // one masked-group row + one post-delete row
    // unwrap AQE: the file scans live in the FINAL adaptive plan
    def leaves(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => leaves(q.plan)
      case other => other.collectLeaves().flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => leaves(a)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => leaves(q.plan)
        case l => Seq(l)
      }
    }
    val scans = leaves(df.queryExecution.executedPlan).collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec
        if sc.metadata.get("Location").exists(_.contains("/data")) => sc
    }
    // two file groups (captured + fresh), each its own scan, and the
    // h3index probe envelope must be pushed into BOTH — the mask is a
    // row filter on top, never a pushdown blocker
    scans.size should be >= 2
    scans.foreach { sc =>
      sc.metadata("PushedFilters") should include("h3index")
    }
  }

  test("dropColumn refuses a column a pending delete predicate references") {
    val s = freshStore()
    s.deleteWhere(name, "v >= 40")
    val e = intercept[IllegalArgumentException](s.dropColumn(name, "v"))
    e.getMessage should include("pending delete")
    // materializing unblocks the drop
    s.applyDeletes(name)
    s.dropColumn(name, "v")
    s.getTableset(name).columns.keySet should not contain "v"
  }

  test("pending delete on a PARTITION column does not block dropping an unrelated column") {
    // deleteWhere analyzes against declared + partition columns, so a
    // predicate on `resolution` is legal; dropColumn's probe must carry the
    // partition columns too or every unrelated drop fails (ADVICE r5)
    val s = freshStore()
    s.deleteWhere(name, "resolution = 7")
    s.dropColumn(name, "v") // must NOT throw — the delete never references v
    s.getTableset(name).columns.keySet should not contain "v"
  }

  test("unlink gate counts per-file-masked survivors: delete -> insert -> delete ordering") {
    // ordering delete-A -> insert -> delete-B: the inserted row matches A's
    // predicate but A never captured its file, so it is LIVE. A global
    // conjunction of all pending predicates would score it dead and let the
    // gate unlink a file holding live data (ADVICE r5, medium).
    val s = freshStore()
    val idA = s.deleteWhere(name, "v >= 0") // captures + masks every original row
    s.insert(name, input(i => 100L + i))    // live rows, all matching A's predicate
    s.deleteWhere(name, "v < 0")            // captures everything, masks nothing
    val dels = s.pendingDeletes(name)
    dels should have length 2
    val f2 = dels.find(_.id > idA).get.files
      .filterNot(dels.find(_.id == idA).get.fileSet)
      .map(rel => s"${s.dataDir(name)}/$rel")
    f2 should not be empty
    // per-file masking keeps the live inserted rows of the B-only files
    s.scanForResolution(name, 7).where(col("v") >= 100).count() shouldBe 49L
    // the broken global conjunction would have reported zero:
    val globalKeep = dels
      .map(d => !coalesce(expr(d.predicate), lit(false))).reduce(_ && _)
    spark.read.schema(StructType(Seq(
        StructField("h3index", LongType, true),
        StructField("v", LongType, true))))
      .option("basePath", s.dataDir(name)).parquet(f2: _*)
      .where(globalKeep).count() shouldBe 0L
    // end-to-end: materializing keeps exactly the live inserted rows
    s.applyDeletes(name)
    s.pendingDeletes(name) shouldBe empty
    val after = s.scanForResolution(name, 7)
    after.count() shouldBe 49L
    after.agg(min(col("v"))).collect()(0).getLong(0) shouldBe 100L
  }

  test("graft_deletes TVF surfaces the pending queue and drains after materialization") {
    val root = Files.createTempDirectory("graft_deltvf_").toString
    val s = CellStore(spark, root)
    s.insert(name, input(_.toLong), createSchema = Some(schema))
    graft.Graft.register(spark)
    spark.sql(s"SELECT * FROM graft_deletes('$root', '$name')").count() shouldBe 0L
    val id = s.deleteWhere(name, "v >= 40")
    val row = spark.sql(
      s"SELECT id, predicate, num_files FROM graft_deletes('$root', '$name')").collect()
    row should have length 1
    row(0).getLong(0) shouldBe id
    row(0).getString(1) shouldBe "v >= 40"
    row(0).getLong(2) should be > 0L
    s.applyDeletes(name)
    spark.sql(s"SELECT * FROM graft_deletes('$root', '$name')").count() shouldBe 0L
  }

  test("FINAL is filter-then-merge: deleting the newest version resurrects the older") {
    val root = Files.createTempDirectory("graft_delv_").toString
    val s = CellStore(spark, root)
    val vschema = CompactedTableSchema.builder(name)
      .h3BaseResolutions(Seq(7))
      .useCompaction(false)
      .engine(TableEngine.ReplacingMergeTree(Some("version")))
      .addSimpleColumn("version", T.Int64)
      .addSimpleColumn("val", T.Int64)
      .build()
    def vinput(version: Long, valOf: Int => Long) = {
      val rows = cells.zipWithIndex.map { case (c, i) => Row(c, version, valOf(i)) }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 2),
        StructType(Seq(
          StructField("h3index", LongType, false),
          StructField("version", LongType, false),
          StructField("val", LongType, false))))
    }
    s.insert(name, vinput(1, i => 100L + i), createSchema = Some(vschema))
    s.insert(name, vinput(2, i => 200L + i))
    // without the delete, FINAL keeps version 2
    s.scanForResolutionFinal(name, 7).agg(min(col("val")))
      .collect()(0).getLong(0) shouldBe 200L
    s.deleteWhere(name, "version = 2")
    // ClickHouse lightweight-delete contract: the mask applies BEFORE the
    // merge, so the older surviving version wins FINAL again
    val fin = s.scanForResolutionFinal(name, 7)
    fin.count() shouldBe 49L
    fin.agg(max(col("version"))).collect()(0).getLong(0) shouldBe 1L
    fin.agg(min(col("val"))).collect()(0).getLong(0) shouldBe 100L
  }
}
