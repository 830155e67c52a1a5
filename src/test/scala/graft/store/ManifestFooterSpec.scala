package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{JobCount, SparkTestSession}
import graft.h3.H3
import graft.schema.{AggregationMethod => Agg, GraftDataType => T, _}

/** The manifest built from parquet footers: its rows must equal the
  * aggregate over the data that built it before ([[AggregateManifestStats]]),
  * a legacy partitioned manifest must keep working and refresh flat, the
  * writers must run one job at most, and an insert racing a refresh must
  * never leave a cached listing without the insert's files. */
class ManifestFooterSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val bcA = 20
  private val bcB = 25

  /** The res-7 cells under the first res-5 cells of base cells A and B. */
  private val universe: Seq[Long] = Seq(bcA, bcB).flatMap(bc =>
    H3.toChildren(H3.fromParts(bc, 5, Seq(0, 0, 0, 0, 0)), 7).toSeq)

  /** A store over base resolutions 5 and 7, with a secondary ORDER BY
    * column `k` of type `k2` (value per cell from `value`) and an
    * aggregated `v`: seeded inserts that drop some cells, so complete
    * sibling sets compact (kind=compacted) and rollups write base res 5. */
  private def store(prefix: String, ts: String, partitioning: H3Partitioning, k2: T,
      value: (Long, scala.util.Random) => Any, nullableK2: Boolean = false): CellStore = {
    val s = CellStore(spark, Files.createTempDirectory(prefix).toString)
    val schema = CompactedTableSchema.builder(ts)
      .h3BaseResolutions(Seq(5, 7))
      .h3Partitioning(partitioning)
      .addColumn("k", ColumnDef.Simple(k2, nullable = nullableK2, orderKeyPosition = Some(1)))
      .addAggregatedColumn("v", T.Int64, Agg.Max)
      .build()
    val rng = new scala.util.Random(ts.hashCode)
    Seq(0, 1).foreach { round =>
      val cells = universe.filter(_ => rng.nextInt(10) < 8 - 3 * round)
      s.insert(ts, frame(cells.map(c => (c, value(c, rng), round.toLong)), k2.sparkType),
        createSchema = if (round == 0) Some(schema) else None)
    }
    s
  }

  private def frame(rows: Seq[(Long, Any, Long)], k2: DataType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (c, k, v) => Row(c, k, v) }.toIndexedSeq, 4),
      StructType(Seq(StructField("h3index", LongType, false), StructField("k", k2, true),
        StructField("v", LongType, false))))

  /** Sibling cells (one res-6 parent) share a k value, so they compact. */
  private def byParent(c: Long): Long = H3.toParentUnsafe(c, 6)

  private def manifestRows(s: CellStore, ts: String): Map[String, Row] =
    spark.read.parquet(s.manifestPath(ts).toString).collect()
      .map(r => r.getAs[String]("path") -> r).toMap

  private val exactColumns = Seq("kind", "resolution", "ph3", "bc", "min_h3", "max_h3", "rows")

  /** Footer rows equal the oracle's per path; k2 equals it or is null
    * (unknown) — never null when `k2Known`. Returns the footer rows. */
  private def checkEqual(s: CellStore, ts: String, k2Known: Boolean): Map[String, Row] = {
    val got = manifestRows(s, ts)
    val want = AggregateManifestStats.rows(s, ts).collect().map(r => r.getAs[String]("path") -> r).toMap
    got.keySet shouldBe want.keySet
    want.foreach { case (path, w) =>
      val g = got(path)
      withClue(s"$ts $path: ") {
        exactColumns.map(g.getAs[Any]) shouldBe exactColumns.map(w.getAs[Any])
        Seq("k2_min", "k2_max").foreach { c =>
          if (k2Known || g.getAs[Any](c) != null) g.getAs[Any](c) shouldBe w.getAs[Any](c)
        }
      }
    }
    got
  }

  test("footer rows equal the aggregate's rows: partitionings, kinds and k2 types") {
    val day = java.time.LocalDate.of(2024, 1, 1)
    val timestamp = (c: Long, _: scala.util.Random) =>
      new java.sql.Timestamp(1700000000000L + (byParent(c) % 10000) * 1000L)
    val cases = Seq[(String, H3Partitioning, T, (Long, scala.util.Random) => Any, Boolean)](
      ("foot_i64", H3Partitioning.BaseCell, T.Int64,
        (c, _) => (byParent(c) % 1000) - 500L, true),
      ("foot_f64", H3Partitioning.LowerResolution(2), T.Float64,
        (c, rng) => Seq[Any](Double.NaN, -0.0, 0.0, null, (byParent(c) % 97).toDouble)(rng.nextInt(5)),
        false),
      ("foot_str", H3Partitioning.LowerResolution(1), T.StringT,
        (c, _) => Seq("", "a", "Zz", "é", "ÿ-x")((byParent(c) % 5).toInt), true),
      ("foot_date", H3Partitioning.BaseCell, T.DateT,
        (c, _) => java.sql.Date.valueOf(day.plusDays(byParent(c) % 400 - 200)), true),
      // INT96, Spark's default timestamp encoding, has no ordered stats
      ("foot_ts", H3Partitioning.LowerResolution(3), T.DateTimeT, timestamp, false),
      ("foot_ts_micros", H3Partitioning.BaseCell, T.DateTimeT, timestamp, true))
    val kinds = cases.flatMap { case (ts, partitioning, k2, value, known) =>
      val conf = "spark.sql.parquet.outputTimestampType"
      if (ts == "foot_ts_micros") spark.conf.set(conf, "TIMESTAMP_MICROS")
      try {
        val s = store("graft_footer_", ts, partitioning, k2, value, nullableK2 = !known)
        s.buildManifest(ts)
        val built = checkEqual(s, ts, known)
        if (k2 == T.Float64)
          built.values.forall(_.isNullAt(built.head._2.fieldIndex("k2_max"))) shouldBe true
        // a refresh appends the footer rows of an insert's files
        s.insert(ts, frame(universe.take(30).map(c => (c, value(c, new scala.util.Random(3)), 9L)),
          k2.sparkType))
        s.refreshManifest(ts)
        checkEqual(s, ts, known).size should be > built.size
        built.values.map(_.getAs[String]("kind"))
      } finally spark.conf.unset(conf)
    }
    kinds.toSet shouldBe Set("base", "compacted")
  }

  test("with pending deletes, each footer envelope contains the aggregate's") {
    val ts = "foot_del"
    val s = store("graft_footer_del_", ts, H3Partitioning.BaseCell, T.Int64,
      (c, _) => byParent(c) % 1000, nullableK2 = false)
    s.deleteWhere(ts, s"h3index % 3 = 0 OR k % 5 = 0")
    s.pendingDeletes(ts) should not be empty
    s.buildManifest(ts)
    val got = manifestRows(s, ts)
    val want = AggregateManifestStats.rows(s, ts).collect()
    want should not be empty
    want.foreach { w =>
      val g = got(w.getAs[String]("path"))
      withClue(w.getAs[String]("path")) {
        g.getAs[Long]("min_h3") should be <= w.getAs[Long]("min_h3")
        g.getAs[Long]("max_h3") should be >= w.getAs[Long]("max_h3")
        g.getAs[Long]("rows") should be >= w.getAs[Long]("rows")
        g.getAs[Long]("k2_min") should be <= w.getAs[Long]("k2_min")
        g.getAs[Long]("k2_max") should be >= w.getAs[Long]("k2_max")
      }
    }
    got.values.map(_.getAs[Long]("rows")).sum should be >
      want.map(_.getAs[Long]("rows")).sum
  }

  test("a file with rows but no h3index statistics stays uncovered and is read") {
    val ts = "foot_nostats"
    val s = store("graft_footer_nostats_", ts, H3Partitioning.BaseCell, T.Int64,
      (c, _) => byParent(c) % 1000)
    // a data file written without column statistics, where inserts write
    val cell = H3.fromParts(bcA, 7, Seq(1, 0, 0, 0, 0, 0, 0))
    val dir = Paths.get(s.dataDir(ts), "kind=base", "resolution=7", s"ph3=$bcA")
    frame(Seq((cell, 7L, 77L)), LongType).coalesce(1).write
      .option("parquet.column.statistics.enabled", "false")
      .parquet(dir.resolve("nostats").toString)
    val written = Files.list(dir.resolve("nostats")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    written should have size 1
    val footer = ParquetFileReader.readFooter(spark.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(written.head.toUri), ParquetMetadataConverter.NO_FILTER)
    footer.getBlocks.asScala.head.getColumns.asScala
      .find(_.getPath.toDotString == "h3index").get.getStatistics.hasNonNullValue shouldBe false
    val target = dir.resolve("part-nostats.parquet")
    Files.move(written.head, target)
    s.invalidateFileCaches(ts)
    s.buildManifest(ts)
    manifestRows(s, ts).keySet.exists(_.contains("nostats")) shouldBe false
    val sel = s.selectFilesForProbes(ts, 7, Seq(cell)).get
    sel.uncoveredFiles shouldBe 1
    sel.paths.exists(_.endsWith("part-nostats.parquet")) shouldBe true
    s.queryCells(ts, Seq(cell), 7).select("v").collect().map(_.getLong(0)) shouldBe Array(77L)
  }

  test("a legacy partitioned manifest reads, and a refresh rewrites it flat") {
    val ts = "foot_legacy"
    val root = Files.createTempDirectory("graft_footer_legacy_").toString
    val s = CellStore(spark, root)
    s.insert(ts, frame(universe.map(c => (c, byParent(c) % 1000, 0L)), LongType),
      createSchema = Some(CompactedTableSchema.builder(ts)
        .h3BaseResolutions(Seq(5, 7))
        .addColumn("k", ColumnDef.Simple(T.Int64, nullable = true, orderKeyPosition = Some(1)))
        .addAggregatedColumn("v", T.Int64, Agg.Max)
        .build()))
    // the kind=/resolution=/bc= layout the aggregate used to write
    AggregateManifestStats.rows(s, ts).repartition(col("bc")).write.mode("overwrite")
      .partitionBy("kind", "resolution", "bc").parquet(s.manifestPath(ts).toString)
    s.invalidateFileCaches(ts)
    val rng = new scala.util.Random(5)
    def checkSelections(stage: String): Unit = (1 to 6).foreach { _ =>
      val probes = Seq.fill(1 + rng.nextInt(4))(
        H3.toParentUnsafe(universe(rng.nextInt(universe.size)), 5 + rng.nextInt(3))).distinct
      val targetRes = 5 + rng.nextInt(3)
      withClue(s"$stage, res $targetRes, probes $probes: ") {
        SparkProbeSelection.relative(root, ts, s.selectFilesForProbes(ts, targetRes, probes).get.paths) shouldBe
          SparkProbeSelection.select(spark, s, root, ts, targetRes, probes)
      }
    }
    checkSelections("legacy")
    s.selectFilesForValueRange(ts, 7, 0L, 10L) shouldBe defined
    s.insert(ts, frame(universe.take(20).map(c => (c, 3L, 1L)), LongType))
    s.refreshManifest(ts)
    val entries = Files.list(Paths.get(s.manifestPath(ts).toString)).iterator().asScala.toSeq
    entries.filter(Files.isDirectory(_)) shouldBe empty
    entries.count(_.toString.endsWith(".parquet")) shouldBe 1
    s.selectFilesForProbes(ts, 7, Seq(universe.head)).get.uncoveredFiles shouldBe 0
    checkSelections("refreshed flat")
  }

  test("buildManifest runs 1 job, refreshManifest at most 1, and the next query at most 2") {
    val ts = "foot_jobs"
    val s = store("graft_footer_jobs_", ts, H3Partitioning.BaseCell, T.Int64,
      (c, _) => byParent(c) % 1000)
    JobCount.of(spark)(s.buildManifest(ts))._2 shouldBe 1
    JobCount.of(spark)(s.refreshManifest(ts))._2 shouldBe 0 // nothing uncovered
    val cell = H3.fromParts(bcB, 7, Seq(1, 0, 0, 0, 0, 0, 0))
    s.insert(ts, frame(Seq((cell, 4L, 44L)), LongType))
    JobCount.of(spark)(s.refreshManifest(ts))._2 should be <= 1
    s.selectFilesForProbes(ts, 7, Seq(cell)).get.uncoveredFiles shouldBe 0
    val (rows, jobs) = JobCount.of(spark)(
      s.queryCells(ts, Seq(cell), 7).select("h3index", "v").collect())
    jobs should be <= 2
    rows.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((cell, 44L))
  }

  test("a manifest built on an empty tableset: a refresh covers the first insert") {
    val ts = "foot_empty"
    val s = CellStore(spark, Files.createTempDirectory("graft_footer_empty_").toString)
    s.createTableset(CompactedTableSchema.builder(ts)
      .h3BaseResolutions(Seq(7))
      .addColumn("k", ColumnDef.Simple(T.Int64, nullable = true, orderKeyPosition = Some(1)))
      .addAggregatedColumn("v", T.Int64, Agg.Max)
      .build())
    s.buildManifest(ts)
    s.hasManifest(ts) shouldBe true
    s.insert(ts, frame(universe.take(5).map(c => (c, 1L, 2L)), LongType))
    s.refreshManifest(ts)
    s.selectFilesForProbes(ts, 7, universe.take(5)).get.uncoveredFiles shouldBe 0
    s.queryCells(ts, universe.take(5), 7).count() shouldBe 5L
  }

  test("a writer installs its state only over the state it read; otherwise it invalidates") {
    val key = "manifest-footer-spec\u0000cas"
    val read = FileState.get(key)(new FileState(Nil, Nil, None))
    // another writer (an insert) installed its successor meanwhile
    val inserted = read.next(dataFiles = Seq(new org.apache.hadoop.fs.FileStatus(
      0L, false, 1, 0L, 0L, new org.apache.hadoop.fs.Path("file:/cas/part-0.parquet"))))
    FileState.replace(key, Some(read), _ => inserted)
    FileState.peek(key) shouldBe Some(inserted)
    // a refresh that read `read` must not reinstall its older listing
    FileState.replace(key, Some(read), _.next())
    FileState.peek(key) shouldBe None
    // nor install anything when it read no cached state
    FileState.replace(key, None, _ => read)
    FileState.peek(key) shouldBe None
  }

  test("a refresh racing same-JVM inserts never leaves a listing without their files") {
    val ts = "foot_race"
    val s = store("graft_footer_race_", ts, H3Partitioning.BaseCell, T.Int64,
      (c, _) => byParent(c) % 1000)
    s.buildManifest(ts)
    val added = (0 until 4).map(i => H3.fromParts(bcB, 7, Seq(2, 0, 0, 0, 0, 0, i)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val inserts = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = added.foreach(c => s.insert(ts, frame(Seq((c, 1L, 500L)), LongType)))
      })
      val refreshes = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = while (!inserts.isDone) {
          s.refreshManifest(ts)
          s.selectFilesForProbes(ts, 7, Seq(added.head)) // reload the state between writes
        }
      })
      inserts.get(); refreshes.get()
    } finally pool.shutdown()
    // no invalidation here: the cached state must already list every insert
    added.foreach { c =>
      withClue(s"cell $c: ") {
        s.queryCells(ts, Seq(c), 7).select("v").collect().map(_.getLong(0)) shouldBe Array(500L)
      }
    }
    s.refreshManifest(ts)
    s.selectFilesForProbes(ts, 7, added).get.uncoveredFiles shouldBe 0
    added.foreach(c => s.queryCells(ts, Seq(c), 7).count() shouldBe 1L)
  }
}
