package graft.store

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{JobCount, SparkTestSession}
import graft.h3.H3
import graft.schema.{AggregationMethod => Agg, GraftDataType => T, _}

/** The per-file stats the log records from parquet footers: they must
  * equal the aggregate over the data that computed them before
  * ([[AggregateManifestStats]]), an old-layout tableset must convert once
  * to the log, the manifest calls must run no job, and an insert racing a
  * refresh must never leave a cached state without the insert's files. */
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

  /** The log's file records of `ts` as rows of the aggregate's shape. */
  private def manifestRows(s: CellStore, ts: String): Map[String, Row] = {
    val k2 = s.getTableset(ts).columns("k").dataType.sparkType
    val toScala = CatalystTypeConverters.createToScalaConverter(k2)
    val schema = StructType(Seq("kind" -> StringType, "resolution" -> IntegerType,
      "ph3" -> LongType, "bc" -> LongType, "min_h3" -> LongType, "max_h3" -> LongType,
      "rows" -> LongType, "k2_min" -> k2, "k2_max" -> k2).map { case (n, t) => StructField(n, t) })
    s.manifestEntries(ts).map(e => e.path -> (new GenericRowWithSchema(Array(e.kind, e.resolution,
      e.ph3, e.bc, e.minH3, e.maxH3, e.rows, toScala(e.k2Min), toScala(e.k2Max)), schema): Row)).toMap
  }

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
    // an insert whose data files are written without column statistics
    val cell = H3.fromParts(bcA, 7, Seq(1, 0, 0, 0, 0, 0, 0))
    val key = "parquet.column.statistics.enabled"
    spark.conf.set(key, "false")
    try s.insert(ts, frame(Seq((cell, 7L, 77L)), LongType)) finally spark.conf.unset(key)
    val written = s.manifestEntries(ts).filter(e => !e.hasH3Stats && e.resolution == 7)
    written should have size 1
    val footer = ParquetFileReader.readFooter(spark.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(s"${s.dataDir(ts)}/${written.head.path}"),
      ParquetMetadataConverter.NO_FILTER)
    footer.getBlocks.asScala.head.getColumns.asScala
      .find(_.getPath.toDotString == "h3index").get.getStatistics.hasNonNullValue shouldBe false
    s.buildManifest(ts)
    val sel = s.selectFilesForProbes(ts, 7, Seq(cell)).get
    sel.uncoveredFiles shouldBe 1
    sel.paths.exists(_.endsWith(written.head.path)) shouldBe true
    s.queryCells(ts, Seq(cell), 7).select("v").collect().map(_.getLong(0)) shouldBe Array(77L)
  }

  test("an old-layout tableset converts once: same rows, deletes still masked, old metadata ignored") {
    val ts = "foot_convert"
    val root = Files.createTempDirectory("graft_footer_convert_").toString
    val s = CellStore(spark, root)
    s.insert(ts, frame(universe.map(c => (c, byParent(c) % 1000, 0L)), LongType),
      createSchema = Some(CompactedTableSchema.builder(ts)
        .h3BaseResolutions(Seq(5, 7))
        .addColumn("k", ColumnDef.Simple(T.Int64, nullable = true, orderKeyPosition = Some(1)))
        .addAggregatedColumn("v", T.Int64, Agg.Max)
        .build()))
    s.insert(ts, frame(universe.take(20).map(c => (c, 3L, 1L)), LongType))
    val predicate = "h3index % 3 = 0"
    s.deleteWhere(ts, predicate) shouldBe 3L
    def scan(): Seq[(Long, Long, Long)] = s.scanForResolution(ts, 7).select("h3index", "k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val before = scan()
    val captured = s.pendingDeletes(ts).head.files

    // the same tableset in the layout of earlier versions: no log, one
    // snapshot list per commit, a delete marker and a manifest directory
    val dir = Paths.get(root, ts)
    def write(rel: String, text: String): Unit = {
      Files.createDirectories(dir.resolve(rel).getParent)
      Files.write(dir.resolve(rel), text.getBytes("UTF-8"))
    }
    def remove(rel: String): Unit = Files.walk(dir.resolve(rel)).iterator().asScala.toSeq
      .reverse.foreach(Files.delete)
    remove("_log")
    Seq(1, 2).foreach(id => write(s"_snapshots/$id.list", captured.mkString("\n")))
    write("_snapshots/3.list", "")
    write("_snapshots/.4.claim", "")
    val marker = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
      .put("id", 3L).put("predicate", predicate)
    captured.foreach(marker.withArray("files").add(_))
    write("_deletes/3.delete", marker.toString)
    write("manifest/part-0.parquet", "not read")
    s.invalidateFileCaches(ts)

    withClue("converted: ") {
      scan() shouldBe before
      s.pendingDeletes(ts).map(d => (d.id, d.predicate)) shouldBe Seq((3L, predicate))
      s.snapshotIds(ts) shouldBe Seq(3L) // earlier history reads as vacuumed
      an[IllegalArgumentException] should be thrownBy s.scanAsOf(ts, 1L)
      s.scanForResolutionAsOf(ts, 7, 3L).count() shouldBe before.size.toLong
    }
    // converted once: the old metadata is ignored from then on
    Seq("_snapshots", "_deletes", "manifest").foreach(remove)
    s.invalidateFileCaches(ts)
    withClue("old metadata removed: ") {
      scan() shouldBe before
      s.snapshotIds(ts) shouldBe Seq(3L)
    }
    val rng = new scala.util.Random(5)
    (1 to 6).foreach { _ =>
      val probes = Seq.fill(1 + rng.nextInt(4))(
        H3.toParentUnsafe(universe(rng.nextInt(universe.size)), 5 + rng.nextInt(3))).distinct
      val targetRes = 5 + rng.nextInt(3)
      withClue(s"res $targetRes, probes $probes: ") {
        SparkProbeSelection.relative(root, ts, s.selectFilesForProbes(ts, targetRes, probes).get.paths) shouldBe
          SparkProbeSelection.select(spark, s, root, ts, targetRes, probes)
      }
    }
    // and commits go on from the checkpoint's version
    s.insert(ts, frame(Seq((universe.last, 5L, 9L)), LongType))
    s.snapshotIds(ts) shouldBe Seq(3L, 4L)
    s.applyDeletes(ts)
    s.pendingDeletes(ts) shouldBe empty
    scan() shouldBe (before :+ ((universe.last, 5L, 9L))).sorted
  }

  test("buildManifest and refreshManifest run no job, and the next query at most 2") {
    val ts = "foot_jobs"
    val s = store("graft_footer_jobs_", ts, H3Partitioning.BaseCell, T.Int64,
      (c, _) => byParent(c) % 1000)
    JobCount.of(spark)(s.buildManifest(ts))._2 shouldBe 0
    JobCount.of(spark)(s.refreshManifest(ts))._2 shouldBe 0
    val cell = H3.fromParts(bcB, 7, Seq(1, 0, 0, 0, 0, 0, 0))
    s.insert(ts, frame(Seq((cell, 4L, 44L)), LongType))
    JobCount.of(spark)(s.refreshManifest(ts))._2 shouldBe 0
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

  test("the cached state only moves forward: an older version never replaces a newer one") {
    val key = "manifest-footer-spec\u0000forward"
    def file(n: String) = ManifestEntry(s"kind=base/resolution=7/ph3=20/$n.parquet", "base", 7,
      20L, 20L, 0L, 1L, 1L, null, null, 1L)
    val v1 = FileState.empty("file:/fwd").applied(1, LogEntry(LogEntry.Append, Seq(file("a"))))
    val v2 = v1.applied(2, LogEntry(LogEntry.Append, Seq(file("b"))))
    FileState.advance(key, v2) shouldBe v2
    // a reader that replayed the log before the second commit installs late
    FileState.advance(key, v1) shouldBe v2
    FileState.peek(key) shouldBe Some(v2)
    v2.ids shouldBe Seq(1L, 2L)
    v2.dataPaths.map(_.split('/').last) shouldBe Seq("a.parquet", "b.parquet")
    FileState.invalidate(key)
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
