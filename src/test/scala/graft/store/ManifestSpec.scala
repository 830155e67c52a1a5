package graft.store

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.h3.H3
import graft.schema.{AggregationMethod => Agg, GraftDataType => T, _}

/** File-level pruning on the log's per-file stats: the selection must (a)
  * never change query results — after a manifest build, after appends and
  * after rewrites — and (b) actually shrink the file list for a narrow
  * probe. */
class ManifestSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val name = "manifest_ts"
  private val bcA = 20
  private val bcB = 25 // a second base cell -> a second ph3 partition

  private def cellsOf(bc: Int): Seq[Long] =
    H3.toChildren(H3.fromParts(bc, 5, Seq(0, 0, 0, 0, 0)), 7).toSeq

  private def frame(cells: Seq[Long], offset: Int) = {
    val rows = cells.zipWithIndex.map { case (c, i) => Row(c, (offset + i).toLong) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("v", LongType, false))))
  }

  private lazy val (storeRoot, store): (String, CellStore) = {
    val dir = Files.createTempDirectory("graft_manifest_").toString
    val s = CellStore(spark, dir)
    s.insert(name, frame(cellsOf(bcA) ++ cellsOf(bcB), 0),
      createSchema = Some(CompactedTableSchema.builder(name)
        .h3BaseResolutions(Seq(7))
        .useCompaction(false)
        .addAggregatedColumn("v", T.Int64, Agg.Max)
        .build()))
    (dir, s)
  }

  private def query(probes: Seq[Long]): Seq[(Long, Long)] =
    store.queryCells(name, probes, 7, doUncompact = true, template = None)
      .select("h3index", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(identity).toSeq

  private val probe = cellsOf(bcA)(30)

  test("manifest-pruned probe query returns exactly the pre-manifest result") {
    val before = query(Seq(probe))
    before should have size 1
    store.buildManifest(name)
    store.hasManifest(name) shouldBe true
    query(Seq(probe)) shouldBe before
  }

  test("the selection actually prunes files (and respects base cells)") {
    store.buildManifest(name)
    val sel = store.selectFilesForProbes(name, 7, Seq(probe)).get
    sel.uncoveredFiles shouldBe 0
    sel.manifestFiles shouldBe sel.currentFiles
    sel.paths.size should be < sel.currentFiles
    // a probe in base cell 20 must never select base cell 25's directory
    all(sel.paths) should include("ph3=" + bcA)
  }

  test("appends after the build stay visible (uncovered-file union)") {
    store.buildManifest(name)
    val extraCell = cellsOf(bcA).head
    store.insert(name, frame(Seq(extraCell), 900000))
    val sel = store.selectFilesForProbes(name, 7, Seq(extraCell)).get
    sel.uncoveredFiles shouldBe 0 // the append's commit recorded its files' stats
    // the store is append-only (no summing merge across inserts): BOTH the
    // original row (v=0) and the appended one must surface
    query(Seq(extraCell)) shouldBe Seq((extraCell, 0L), (extraCell, 900000L))
    // ...and a probe untouched by the append still answers from pruned files
    query(Seq(probe)) should have size 1
  }

  test("refreshManifest covers appended files without a full rebuild") {
    store.buildManifest(name)
    store.insert(name, frame(Seq(cellsOf(bcB).last), 777000))
    store.selectFilesForProbes(name, 7, Seq(probe)).get.uncoveredFiles shouldBe 0
    store.refreshManifest(name)
    val sel = store.selectFilesForProbes(name, 7, Seq(probe)).get
    sel.uncoveredFiles shouldBe 0
    sel.paths.size should be < sel.currentFiles
    query(Seq(cellsOf(bcB).last)) should contain((cellsOf(bcB).last, 777000L))
    // refresh with nothing new is a no-op
    store.refreshManifest(name)
    store.selectFilesForProbes(name, 7, Seq(probe)).get.uncoveredFiles shouldBe 0
  }

  test("rewrites after the build drop dead manifest entries, results intact") {
    store.buildManifest(name)
    val before = query(Seq(probe))
    store.deduplicate(name) // a rewrite -> new file names everywhere
    val sel = store.selectFilesForProbes(name, 7, Seq(probe)).get
    sel.uncoveredFiles shouldBe 0 // the rewrite's commit recorded its files' stats
    query(Seq(probe)) shouldBe before
    store.buildManifest(name) // rebuild restores pruning
    val sel2 = store.selectFilesForProbes(name, 7, Seq(probe)).get
    sel2.uncoveredFiles shouldBe 0
    sel2.paths.size should be < sel2.currentFiles
  }

  test("manifest read is itself pruned: bc partition filter + pushed h3 envelope") {
    // the selection runs on the driver over the state's stats rows: the
    // probed base cell and the h3 envelope prune, with no Spark job
    store.buildManifest(name)
    store.selectFilesForProbes(name, 7, Seq(cellsOf(bcB).head)) // loads the stats
    val (sel, jobs) = graft.JobCount.of(spark)(store.selectFilesForProbes(name, 7, Seq(probe)).get)
    jobs shouldBe 0
    sel.paths should not be empty
    // the probed base cell prunes to its own directory...
    all(sel.paths) should include("ph3=" + bcA + "/")
    SparkProbeSelection.relative(storeRoot, name, sel.paths) shouldBe
      SparkProbeSelection.select(spark, store, storeRoot, name, 7, Seq(probe))
    // ...and the h3 envelope prunes inside it: a bc-20 cell under another
    // res-5 parent than the stored ones selects no file
    val outside = H3.fromParts(bcA, 7, Seq(1, 0, 0, 0, 0, 0, 0))
    store.selectFilesForProbes(name, 7, Seq(outside)).get.paths shouldBe empty
  }

  /** Synthetic 50k-file log state: TWO base resolutions (7 and 6 — a res-7
    * probe must exclude base-6 entirely) x 250 base cells x 100 files =
    * 50,000 records with k2 stats, committed as one checkpoint entry over a
    * real one-insert store. Returns (store, res-7 cell universe, the
    * records as a frame). */
  private def bigManifestFixture(): (CellStore, Seq[Long], DataFrame) = {
    val dir = Files.createTempDirectory("graft_manifest_big_").toString
    val s = CellStore(spark, dir)
    s.insert(name, frame(cellsOf(bcA).take(8), 0),
      createSchema = Some(CompactedTableSchema.builder(name)
        .h3BaseResolutions(Seq(7))
        .useCompaction(false)
        .addAggregatedColumn("v", T.Int64, Agg.Max)
        .build()))
    val cs = cellsOf(bcA)
    val entries = (0L until 2L * 250 * 100).map { id =>
      val (res, bc, i) = (if (id % 2 == 0) 7 else 6, id / 2 / 100, id / 2 % 100)
      // ~half the entries of any bc straddle real cell values (selected),
      // the rest sit far outside every envelope (row-group skipped)
      val (lo, hi) = if (i % 2 == 0) (cs.head, cs.last) else (Long.MaxValue - 10, Long.MaxValue - 1)
      // k2 stats: each file covers a disjoint [100*i, 100*i+99] slice
      ManifestEntry(s"kind=base/resolution=$res/ph3=$bc/part-$i.parquet", "base", res, bc, bc,
        lo, hi, 100L, i * 100, i * 100 + 99, 0L)
    }
    Files.write(java.nio.file.Paths.get(dir, name, "_log", "2.json"), LogEntry.toJson(
      LogEntry(LogEntry.Checkpoint, entries, ids = Seq(1L), k2Type = Some(LongType))))
    import spark.implicits._
    val records = entries.map(e => (e.path, e.resolution, e.bc, e.k2Min.asInstanceOf[Long]))
      .toDF("path", "resolution", "bc", "k2_min")
    (s, cs, records)
  }

  test("50k-file manifest: selection reads one bc partition, not the manifest") {
    // selection cost must be O(probed bc), flat in the total file count —
    // the round-3 verdict's scale criterion: once the state is loaded, a
    // probe set's selection visits its bc's records on the driver, with no
    // Spark job
    val (s, cs, records) = bigManifestFixture()
    records.where("bc = 20 AND resolution = 7").count() shouldBe 100
    s.invalidateFileCaches(name)
    def entries(sel: CellStore.ManifestSelection): Seq[String] = {
      sel.manifestFiles shouldBe 50000
      sel.paths.dropRight(sel.uncoveredFiles)
    }
    val selected = entries(s.selectFilesForProbes(name, 7, Seq(cs(30))).get)
    selected should have size 50 // the straddling half of bc 20's res-7 entries
    all(selected) should include("ph3=20/")
    val (second, jobs) = graft.JobCount.of(spark)(s.selectFilesForProbes(name, 7, Seq(cs(31))).get)
    jobs shouldBe 0
    entries(second) shouldBe selected
  }

  test("50k-file manifest: value-range selection directory-prunes to the target resolution") {
    // the value dimension crosses base cells, so bc pruning cannot help a
    // k2 range probe: the selection filters every record's resolution and
    // k2 range on the driver, with no Spark job once the state is loaded
    val (s, _, records) = bigManifestFixture()
    val data = java.nio.file.Paths.get(s.dataDir(name))
    s.invalidateFileCaches(name)
    def entries(sel: CellStore.ManifestSelection): Seq[String] = {
      sel.manifestFiles shouldBe 50000
      sel.paths.dropRight(sel.uncoveredFiles)
    }
    entries(s.selectFilesForValueRange(name, 7, 0L, 0L)
      .getOrElse(fail("the log has k2 stats — a selection expected"))) should have size 250
    val (sel, jobs) = graft.JobCount.of(spark)(s.selectFilesForValueRange(name, 7, 120L, 180L).get)
    jobs shouldBe 0
    // [120, 180] intersects exactly files i=1 ([100,199]) of each res-7 bc
    val selected = entries(sel)
    selected should have size 250
    all(selected) should include("kind=base/resolution=7/")
    selected.map(p => data.relativize(java.nio.file.Paths.get(new java.net.URI(p))).toString)
      .toSet shouldBe
      records.where("resolution = 7 AND k2_min = 100").select("path").collect().map(_.getString(0)).toSet
  }

  test("the SQL graft_cells TVF engages the manifest (file-pruned scan from pure SQL)") {
    graft.Graft.register(spark)
    store.buildManifest(name)
    val root = storeRoot
    val df = spark.sql(
      s"SELECT h3index, v FROM graft_cells('$root', '$name', 7, array(${probe}L))")
    val rows = df.collect()
    rows should have length 1
    // unwrap AQE: the semi-join plan is adaptive, and the file scans live
    // in the FINAL physical plan, not the wrapper's initial leaves
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
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.metadata.get("Location").exists(_.contains("/data")) => s
    }
    scans should not be empty
    // the data scan read only the manifest-selected files, not every file
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    filesRead should be < store.selectFilesForProbes(name, 7, Seq(probe)).get.currentFiles.toLong
  }

  test("property: manifest pruning never changes results (seeded random probes)") {
    store.buildManifest(name)
    val rng = new scala.util.Random(42)
    val universe = cellsOf(bcA) ++ cellsOf(bcB)
    (1 to 5).foreach { _ =>
      val probes = Seq.fill(1 + rng.nextInt(8))(universe(rng.nextInt(universe.size))).distinct
      val pruned = query(probes)
      // same probes with the manifest bypassed: drop it, query, rebuild
      val sel = store.selectFilesForProbes(name, 7, probes)
      sel should not be empty // the pruned path actually engaged
      pruned shouldBe pruned.sorted
      // the full-scan answer from first principles: every stored row whose
      // cell is probed (the fixture stores each cell exactly once per
      // insert batch — content as maintained by the earlier tests)
      val full = store.scanForResolution(name, 7)
        .select("h3index", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (c, _) => probes.contains(c) }.sorted.toSeq
      pruned shouldBe full
    }
  }

  test("a probe with no matching data selects nothing and returns nothing") {
    store.buildManifest(name)
    val foreign = H3.fromParts(30, 7, Seq(0, 0, 0, 0, 0, 0, 0))
    val sel = store.selectFilesForProbes(name, 7, Seq(foreign)).get
    sel.paths shouldBe empty
    query(Seq(foreign)) shouldBe empty
  }

  private def freshStore(prefix: String, ts: String, res: Int,
      cells: Seq[Long]): CellStore = {
    val s = CellStore(spark, Files.createTempDirectory(prefix).toString)
    s.insert(ts, frame(cells, 0),
      createSchema = Some(CompactedTableSchema.builder(ts)
        .h3BaseResolutions(Seq(res))
        .useCompaction(false)
        .addAggregatedColumn("v", T.Int64, Agg.Max)
        .build()))
    s
  }

  test("file selections are keyed by probe content, not by the probe Seq's hashCode") {
    // two res-15 cells of hexagon base cell 20 that differ only in digit 4
    // (0 -> 1, bit 33) and digit 15 (0 -> 2, bit 1): Long.## is lo ^ hi,
    // so both one-cell probe Seqs hash alike
    val c1 = H3.fromParts(bcA, 15, Seq.fill(15)(0))
    val c2 = H3.fromParts(bcA, 15, Seq(0, 0, 0, 1) ++ Seq.fill(10)(0) :+ 2)
    c2 shouldBe (c1 | (1L << 33) | (1L << 1))
    Seq(c1).hashCode shouldBe Seq(c2).hashCode
    val ts = "collide_ts"
    val s = freshStore("graft_collide_", ts, 15, Seq(c1))
    s.insert(ts, frame(Seq(c2), 1000)) // its own insert -> its own file
    s.buildManifest(ts)
    def q(c: Long): Seq[(Long, Long)] =
      s.queryCells(ts, Seq(c), 15).select("h3index", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    q(c1) shouldBe Seq((c1, 0L))
    q(c2) shouldBe Seq((c2, 1000L))
  }

  test("concurrent reads neither touch the session conf nor start listing jobs") {
    // 40 hexagon base cells -> 40 ph3 partitions -> more data and manifest
    // files than both the default (32) and the configured (4) threshold
    val bases = (0 until 122).filterNot(H3.isPentagonBaseCell).take(40)
    val cells = bases.map(bc => H3.fromParts(bc, 7, Seq.fill(7)(0)))
    val ts = "nolisting_ts"
    val s = freshStore("graft_nolisting_", ts, 7, cells)
    s.buildManifest(ts)
    val snapshot = s.snapshotIds(ts).last
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    spark.conf.set(key, "4")
    spark.sparkContext.addSparkListener(listener)
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      val results = try {
        (0 until 4).map { i =>
          pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
            def call(): Seq[Long] = {
              val probe = cells(i * 7)
              Seq(s.queryCells(ts, Seq(probe), 7), s.scanForResolution(ts, 7),
                s.scanAsOf(ts, snapshot)).map(_.count())
            }
          })
        }.map(_.get())
      } finally pool.shutdown()
      all(results) shouldBe Seq(1L, 40L, 40L)
      spark.conf.get(key) shouldBe "4"
      // the listener bus is asynchronous: a marker job seen means every
      // earlier job event has been delivered
      spark.sparkContext.setJobDescription("nolisting-marker")
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.contains("nolisting-marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      jobs should contain("nolisting-marker")
      jobs.toArray.toSeq.filter(_.toString.startsWith("Listing leaf files")) shouldBe empty
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset(key)
    }
  }

  /** A compacted store over base resolutions 5 and 7: bcA's res-5 cell is
    * complete (compacts to res 5), bcB's loses three children (compacted
    * res-6 rows beside base res-7 rows), so entries of both kinds and of
    * several resolutions reach the manifest. */
  private def compactedStore(prefix: String, ts: String): (String, CellStore) = {
    val dir = Files.createTempDirectory(prefix).toString
    val s = CellStore(spark, dir)
    s.insert(ts, frame(cellsOf(bcA) ++ cellsOf(bcB).drop(3), 0),
      createSchema = Some(CompactedTableSchema.builder(ts)
        .h3BaseResolutions(Seq(5, 7))
        .addAggregatedColumn("v", T.Int64, Agg.Max)
        .build()))
    (dir, s)
  }

  test("driver-side selection equals the Spark manifest read: fresh, after an append, after a rewrite") {
    val ts = "diff_ts"
    val (root, s) = compactedStore("graft_manifest_diff_", ts)
    s.buildManifest(ts)
    val rng = new scala.util.Random(7)
    val universe = cellsOf(bcA) ++ cellsOf(bcB) ++
      Seq(H3.fromParts(bcA, 7, Seq(1, 0, 0, 0, 0, 0, 0)), H3.fromParts(30, 7, Seq.fill(7)(0)))
    def probeSet(): Seq[Long] = Seq.fill(1 + rng.nextInt(6)) {
      val c = universe(rng.nextInt(universe.size))
      H3.toParentUnsafe(c, 5 + rng.nextInt(3)) // probes at res 5, 6 and 7
    }.distinct
    def check(stage: String): Unit =
      (1 to 8).foreach { _ =>
        val probes = probeSet()
        val targetRes = 5 + rng.nextInt(3)
        val sel = s.selectFilesForProbes(ts, targetRes, probes).get
        withClue(s"$stage, res $targetRes, probes $probes: ") {
          sel.uncoveredFiles shouldBe 0
          SparkProbeSelection.relative(root, ts, sel.paths) shouldBe
            SparkProbeSelection.select(spark, s, root, ts, targetRes, probes)
        }
      }
    check("fresh manifest")
    s.insert(ts, frame(cellsOf(bcB).take(3), 5000)) // recorded at commit
    check("after an append")
    s.deduplicate(ts) // every file replaced, in one commit
    check("after a rewrite")
  }

  test("with the stats loaded, a new probe set selects with no Spark job and queries in at most 2") {
    val ts = "jobs_ts"
    val (_, s) = compactedStore("graft_manifest_jobs_", ts)
    s.buildManifest(ts)
    val cells = cellsOf(bcB)
    s.selectFilesForProbes(ts, 7, Seq(cells(5))) shouldBe defined // loads the stats
    graft.JobCount.of(spark)(s.selectFilesForProbes(ts, 7, Seq(cells(10), cells(11))))._2 shouldBe 0
    val (rows, jobs) = graft.JobCount.of(spark)(
      s.queryCells(ts, Seq(cells(20), cellsOf(bcA)(3)), 7).select("h3index", "v").collect())
    jobs should be <= 2
    rows.map(_.getLong(0)).sorted shouldBe Seq(cells(20), cellsOf(bcA)(3)).sorted
  }
}
