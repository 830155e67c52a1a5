package graft.traverse

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.h3.H3
import graft.schema.{AggregationMethod => Agg, GraftDataType => T, _}
import graft.store.CellStore

/** Traversal semantics (reference `tests/clickhouse/test_traversal.py`):
  * traversal res < target res; per-cell frames non-empty; count(bulk) ==
  * sum(count(per-cell)); excluding filter -> 0 frames. */
class TraversalSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val hexRes3 = H3.fromParts(20, 3, Seq(0, 0, 0))
  private val ts = Timestamp.valueOf("2023-06-15 12:00:00")

  private def schema = CompactedTableSchema.builder("trav_ts")
    .h3BaseResolutions(0 to 6)
    .addSimpleColumn("observed_on", T.DateTime64T)
    .addAggregatedColumn("v", T.Float64, Agg.Max)
    .build()

  private lazy val storeRoot: String =
    Files.createTempDirectory("graft_trav_").toString

  private lazy val store: CellStore = {
    val s = CellStore(spark, storeRoot)
    val cells = H3.toChildren(hexRes3, 6) // 343 cells at res 6
    val rows = cells.zipWithIndex.map { case (c, i) => Row(c, ts, (i % 100).toDouble) }
    val input = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("observed_on", TimestampType, false),
        StructField("v", DoubleType, false))))
    s.insert("trav_ts", input, createSchema = Some(schema))
    s
  }

  test("T1: traversal resolution is the coarsest base res within the fetch cap") {
    // 7^(6-3)=343 <= 500 -> res 3; 7^(6-2)=2401 > 500
    Traversal.selectTraversalResolution(schema, 6, 500) shouldBe 3
    Traversal.selectTraversalResolution(schema, 6, 10) shouldBe 5 // 7^1=7 <= 10
    Traversal.selectTraversalResolution(schema, 6, 3) shouldBe 6 // nothing fits
    Traversal.selectTraversalResolution(schema, 6, 100000) shouldBe 1 // 7^6 > 100000, 7^5 fits
  }

  test("T2 bulk: whole AOI, traversal_cell column groups rows; full coverage") {
    val df = Traversal.traverseBulk(store, "trav_ts", Seq(hexRes3), 6,
      Traversal.TraversalOptions(maxFetchCount = 500))
    df.count() shouldBe 343
    val travCells = df.select("traversal_cell").distinct().collect().map(_.getLong(0))
    travCells.foreach(tc => H3.getResolution(tc) shouldBe 3)
    travCells.length shouldBe 1 // single res-3 AOI cell == its own traversal cell
  }

  test("DataFrame-AOI overload: identical rows to the Seq overload, AOI never on the driver") {
    import spark.implicits._
    val opts = Traversal.TraversalOptions(maxFetchCount = 500)
    val seqRows = Traversal.traverseBulk(store, "trav_ts", Seq(hexRes3), 6, opts)
      .select("traversal_cell", "h3index", "v").collect().map(_.toSeq).sortBy(_.toString)
    val dfAoi = Seq(hexRes3).toDF("aoi")
    val viaDf = Traversal.traverseBulk(store, "trav_ts", dfAoi, 6, opts)
    viaDf.select("traversal_cell", "h3index", "v")
      .collect().map(_.toSeq).sortBy(_.toString) shouldBe seqRows
    // plan audit: the only LocalTableScan allowed in the DF path is the
    // one-row AOI literal this test itself built — a collected-then-
    // re-parallelized AOI would surface as a second local relation of
    // traversal/probe cells. A store-scan AOI must plan with NO local
    // relation at all.
    val storeAoi = store.scanForResolution("trav_ts", 6)
      .limit(50).select("h3index")
    val plan = Traversal.traverseBulk(store, "trav_ts", storeAoi, 6, opts)
      .queryExecution.executedPlan.toString
    plan should not include "LocalTableScan"
    plan should not include "scalar-subquery"
    // and the prefiltered variant stays fully distributed too
    val pre = Traversal.traverseBulk(store, "trav_ts", storeAoi, 6,
      Traversal.TraversalOptions(maxFetchCount = 500, prefilterTemplate =
        Some("SELECT * FROM <[table]> WHERE h3index IN <[h3indexes]> AND v >= 0")))
    pre.queryExecution.executedPlan.toString should not include "LocalTableScan"
    pre.count() shouldBe 343
  }

  test("prefilter on a COMPACTED store: coarse matched branches survive; Seq/DataFrame parity") {
    // Round-8 advice regression: a prefilter-matched row stored compacted
    // COARSER than travRes passed through h3_to_parent UNCHANGED, failed
    // the traversal-cell intersection, and its whole branch silently
    // vanished from the traversal output. The reference's
    // prefilter_traversal_cells queries with do_uncompact=true
    // (traversal.rs:357-393, mod.rs:51), so coarse matched rows uncompact
    // to the travRes probe cells they contain and those cells survive.
    // Both overloads must (a) return the compacted branch and (b) agree.
    val s = CellStore(spark, Files.createTempDirectory("graft_trav_cmp_").toString)
    val cSchema = CompactedTableSchema.builder("trav_cmp")
      .h3BaseResolutions(0 to 6)
      .addAggregatedColumn("v", T.Float64, Agg.Max)
      .build()
    val parent2 = H3.fromParts(20, 2, Seq(0, 0))
    // UNIFORM value over the full subtree -> compaction merges the complete
    // sibling groups all the way up to one res-2 compacted row
    val full = H3.toChildren(parent2, 6)
    val partialParent3 = H3.fromParts(20, 3, Seq(1, 0, 0)) // different res-2 branch
    val partial = H3.toChildren(partialParent3, 6).take(100) // partial + varying -> stays res 6
    val rows = full.map(c => Row(c, 7.0)) ++
      partial.zipWithIndex.map { case (c, i) => Row(c, (i % 50).toDouble) }
    s.insert("trav_cmp", spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("v", DoubleType, false)))), createSchema = Some(cSchema))
    // the matched branch REALLY is stored compacted coarser than travRes = 3
    s.scanForResolution("trav_cmp", 6)
      .where(col("kind") === "compacted" && col("resolution") < 3)
      .count() should be >= 1L
    val opts = Traversal.TraversalOptions(maxFetchCount = 500,
      prefilterTemplate =
        Some("SELECT * FROM <[table]> WHERE h3index IN <[h3indexes]> AND v >= 0"))
    val child3 = H3.toChildren(parent2, 3).head
    val aoi = Seq(child3, partialParent3)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("traversal_cell", "h3index")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val a = rowsOf(Traversal.traverseBulk(s, "trav_cmp", aoi, 6, opts))
    import spark.implicits._
    val b = rowsOf(Traversal.traverseBulk(s, "trav_cmp", aoi.toDF("cell"), 6, opts))
    b shouldBe a
    // the COMPACTED branch survives the prefilter: child3's res-6 subtree
    // (343 cells, uncompacted from the res-2 row) plus partial's 100 rows
    a.count(_._1 == child3) shouldBe 343
    a.count(_._1 == partialParent3) shouldBe 100
    a.size shouldBe 443
    a.map(_._2).foreach(H3.getResolution(_) shouldBe 6)
    s.dropTableset("trav_cmp")
  }

  test("graft_traverse_df TVF: TABLE() and SQL-string AOIs, no driver materialization") {
    store.getTableset("trav_ts") // force the lazy store build
    graft.Graft.register(spark)
    val root = storeRoot
    spark.sql(s"SELECT h3index FROM graft_scan('$root', 'trav_ts', 6) LIMIT 50")
      .createOrReplaceTempView("tvf_aoi")
    val viaTable = spark.sql(
      s"""SELECT count(*) AS n FROM graft_traverse_df('$root', 'trav_ts', 6,
         |  TABLE(SELECT h3index FROM tvf_aoi), 500)""".stripMargin)
    val viaString = spark.sql(
      s"""SELECT count(*) AS n FROM graft_traverse_df('$root', 'trav_ts', 6,
         |  'SELECT h3index FROM tvf_aoi', 500)""".stripMargin)
    // all 50 AOI cells share the one res-3 traversal cell -> full subtree
    viaTable.head().getLong(0) shouldBe 343L
    viaString.head().getLong(0) shouldBe 343L
    // the AOI subquery is spliced as a distributed plan: no LocalTableScan
    // (a collected-then-reparallelized AOI would surface as one), including
    // under the prefilter
    val pre = spark.sql(
      s"""SELECT * FROM graft_traverse_df('$root', 'trav_ts', 6,
         |  TABLE(SELECT h3index FROM tvf_aoi), 500,
         |  'SELECT * FROM <[table]> WHERE h3index IN <[h3indexes]> AND v >= 0')""".stripMargin)
    pre.queryExecution.executedPlan.toString should not include "LocalTableScan"
    pre.count() shouldBe 343L
  }

  test("T2 iterator: per-cell frames, count parity with bulk (test_traversal.py:9-60)") {
    // finer traversal: cap 10 -> travRes 5 -> 49 traversal cells under hexRes3
    val it = Traversal.traverseIterator(store, "trav_ts", Seq(hexRes3), 6,
      Traversal.TraversalOptions(maxFetchCount = 10), batchSize = 16).toSeq
    it.length shouldBe 49
    it.foreach { tc =>
      H3.getResolution(tc.cell) shouldBe 5
      val n = tc.df.count()
      n should be > 0L // non-emptiness (T4 skip-empty)
      n shouldBe 7L // each res-5 cell covers 7 res-6 children
    }
    it.map(_.df.count()).sum shouldBe 343L
  }

  test("T2 iterator: an abandoned iterator leaves nothing cached; its frames read with no job") {
    spark.catalog.clearCache()
    val it = Traversal.traverseIterator(store, "trav_ts", Seq(hexRes3), 6,
      Traversal.TraversalOptions(maxFetchCount = 10), batchSize = 16)
    val firstHalf = it.take(24).toList // two of the four batches, then abandoned
    firstHalf should have length 24
    spark.sharedState.cacheManager.isEmpty shouldBe true
    val (counts, jobs) = graft.JobCount.of(spark)(firstHalf.map(_.df.collect().length))
    jobs shouldBe 0
    all(counts) shouldBe 7
    firstHalf.head.df.columns should not contain "_tc"
  }

  test("T3 prefilter: excluding filter query yields zero frames (test_traversal.py:63-83)") {
    val it = Traversal.traverseIterator(store, "trav_ts", Seq(hexRes3), 6,
      Traversal.TraversalOptions(maxFetchCount = 10,
        prefilterTemplate = Some("select * from <[table]> where v < -1 and h3index in <[h3indexes]>")))
    it.isEmpty shouldBe true
  }

  test("partial AOI: traversal coarsening over-fetches (reference semantics); tight cap restores exactness") {
    val sub = H3.toChildren(hexRes3, 4).head // one res-4 cell
    // default cap 500 -> traversal res 3 -> the AOI cell is COARSENED to its
    // res-3 parent and the whole parent is fetched (reference
    // change_resolution semantics, traversal.rs:152-155)
    Traversal.traverseBulk(store, "trav_ts", Seq(sub), 6).count() shouldBe 343
    // cap 49 -> traversal res 4 -> exactly the requested subtree
    Traversal.traverseBulk(store, "trav_ts", Seq(sub), 6,
      Traversal.TraversalOptions(maxFetchCount = 49)).count() shouldBe 49
  }
}
