package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.insert.{Compaction, Rollup}
import graft.schema.{AggregationMethod => Agg, CompactedTableSchema, GraftDataType => T}
import graft.store.CellStore
import graft.traverse.Traversal

/** The reference pipeline — raster ingest, compaction and rollup, manifest
  * build, cell queries and area traversal, appends beside reads — driven
  * through the program's public entry points from one client thread.
  *
  * A run sets up its workload from the seed, runs the workload's
  * operations in a closed loop for at least `--seconds`, checks every
  * result against the generator's mask, and writes every sample (and,
  * traced, every span and engine counter) to `--out` as JSON. `run.py`
  * turns that file into the metrics. */
object Main {
  // Sizes. A region is one resolution-5 cell, about 10k water cells.
  val Roots = 8 // resolution-3 roots, 49 regions each
  val ChunkRegions = 8 // regions per insert chunk
  val TargetRes = Cells.MaxRes
  val BaseResolutions = Seq(0, 2, 4, 6, 8, 10)
  val PrefilterTemplate = "select * from <[table]> where is_water > 0 and h3index in <[h3indexes]>"

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: String, work: String, cores: Int)

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Set("raster_ingest", "append_read")(w), s"unknown workload $w")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("out"), need("work"), m.getOrElse("cores", "4").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val work = Paths.get(args.work).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.register(spark)
    log("session up")
    val rec = new Recorder(args.trace, spark.sparkContext)
    val ok =
      try new Run(spark, args, work, rec).run()
      finally spark.stop()
    log("done")
    if (!ok) sys.exit(1)
  }

  /** Progress on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = {
    val up = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    System.err.println(f"perfbench: [$up%6.1f s] $msg")
  }
}

final class Run(spark: SparkSession, args: Main.Args, work: Path, rec: Recorder) {
  import Main._

  private val rng = new Random(args.seed * 31 + 7)
  private val rowSchema = StructType(Seq(
    StructField("h3index", LongType, false), StructField("is_water", FloatType, false)))

  private def schema(name: String): CompactedTableSchema =
    CompactedTableSchema.builder(name)
      .h3BaseResolutions(BaseResolutions)
      .addAggregatedColumn("is_water", T.Float32, Agg.RelativeToCellArea)
      .build()

  /** Input rows of some regions, materialized so an insert times only the
    * program's own work. */
  private def frame(regions: Seq[Region]): DataFrame = {
    val rows = regions.flatMap(_.water.iterator.map(c => Row(c, 1.0f)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, args.cores), rowSchema).localCheckpoint()
    df.count()
    df
  }

  /** One store: a directory, a tableset, the mask it holds. */
  final class Store(val root: Path, val name: String) {
    val cs: CellStore = CellStore(spark, root.toString)
    val oracle = new Oracle
    def dataFiles: Seq[File] =
      Files.walk(root.resolve(name).resolve("data")).iterator().asScala
        .map(_.toFile).filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
  }

  private def newStore(): Store = {
    val root = work.resolve("store")
    def deleteTree(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(deleteTree))
      f.delete()
    }
    deleteTree(root.toFile)
    new Store(root, "water")
  }

  // ------------------------------------------------------------- writes

  /** One insert: the first creates the tableset. */
  private def insert(s: Store, regions: Seq[Region], df: DataFrame, create: Boolean): Unit = {
    rec.op("ingest") {
      val before = if (rec.tracing && !create) dataStats(s) else (0, 0L)
      rec.span("store.insert") {
        s.cs.insert(s.name, df, createSchema = if (create) Some(schema(s.name)) else None)
      }
      if (rec.tracing) {
        val after = dataStats(s)
        rec.value("store.files_written", after._1 - before._1)
        rec.value("store.bytes_written", (after._2 - before._2).toDouble)
      }
      (regions.map(_.water.length.toLong).sum, true)
    }
    s.oracle.add(regions)
  }

  private def buildManifest(s: Store): Unit =
    rec.op("manifest_build") {
      rec.span("store.buildManifest")(s.cs.buildManifest(s.name))
      (1L, true)
    }

  private def dataStats(s: Store): (Int, Long) = {
    val fs = s.dataFiles
    (fs.size, fs.map(_.length).sum)
  }

  /** An append: an insert into the live tableset, then the manifest
    * refresh (together, `append_p50_ms`), then the first query on the
    * fresh data, aimed at it. */
  private def append(s: Store, regions: Seq[Region], df: DataFrame): Unit = {
    insert(s, regions, df, create = false)
    rec.op("manifest_refresh") {
      rec.span("store.refreshManifest")(s.cs.refreshManifest(s.name))
      (1L, true)
    }
    query(s, "query_after_append", probesIn(regions(rng.nextInt(regions.size))))
  }

  // -------------------------------------------------------------- reads

  /** Probe set: the grid disk around a random water cell's ancestor at a
    * random resolution, so consecutive probes rarely repeat. */
  private def probesIn(region: Region): Seq[Long] = {
    val cell = region.water(rng.nextInt(region.water.length))
    val res = 7 + rng.nextInt(4)
    graft.geom.Grid.gridDisk(Cells.parent(cell, res), 1 + rng.nextInt(2))
  }

  private def randomRegion(s: Store): Region = {
    val taken = s.oracle.regions
    taken(rng.nextInt(taken.size))
  }

  /** Rows of a frame already projected to (h3index, is_water). */
  private def collectRows(df: DataFrame): Seq[(Long, Float)] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getFloat(1)))

  private def query(s: Store, kind: String, probes: Seq[Long]): Unit = {
    val expected = s.oracle.expect(probes)
    rec.op(kind) {
      val t0 = System.nanoTime()
      val df = rec.span("store.queryCells")(
        s.cs.queryCells(s.name, probes, TargetRes, doUncompact = true)
          .select("h3index", "is_water"))
      if (rec.tracing) rec.span("store.plan")(df.queryExecution.executedPlan)
      val rows = rec.span("store.exec")(collectRows(df))
      if (rec.tracing) {
        rec.value("insert.uncompact_on_ms", (System.nanoTime() - t0) / 1e6)
        rec.value("insert.uncompact_on_rows", rows.size.toDouble)
        scanMetrics(df, rows.size)
      }
      val verdict = Oracle.check(expected, rows)
      verdict.foreach(rec.fail(kind, _))
      (rows.size.toLong, verdict.isEmpty)
    }
    // traced: the same probes without uncompaction, as an operation of its
    // own so the query's timing stays as untraced
    if (rec.tracing) rec.op("query_no_uncompact") {
      val t1 = System.nanoTime()
      val off = s.cs.queryCells(s.name, probes, TargetRes, doUncompact = false)
        .select("h3index").collect().length
      rec.value("insert.uncompact_off_ms", (System.nanoTime() - t1) / 1e6)
      rec.value("insert.uncompact_off_rows", off.toDouble)
      (off.toLong, true)
    }
  }

  /** Files, bytes and rows read by the scans of an executed plan. */
  private def scanMetrics(df: DataFrame, returned: Int): Unit = {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(scans)
    }
    val ss = scans(df.queryExecution.executedPlan)
    def metric(k: String) = ss.flatMap(_.metrics.get(k)).map(_.value).sum
    rec.value("store.files_read", metric("numFiles").toDouble)
    rec.value("store.bytes_read", metric("filesSize").toDouble)
    rec.value("store.rows_scanned", metric("numOutputRows").toDouble)
    rec.value("store.rows_returned", returned.toDouble)
  }

  private def traverse(s: Store, prefilter: Boolean): Unit = {
    val region = randomRegion(s)
    val aoi = Seq(region.cell)
    val expected = s.oracle.expect(aoi)
    val kind = if (prefilter) "traverse_prefiltered" else "traverse"
    // traced: the traversal's inner steps timed on their own, as an
    // operation of its own so the traversal's timing stays as untraced
    if (rec.tracing) rec.op(kind + "_steps") {
      val travRes = Traversal.selectTraversalResolution(s.cs.getTableset(s.name), TargetRes, 500)
      val tc = rec.span("traverse.traversalCells")(Traversal.traversalCells(aoi, travRes))
      if (prefilter) {
        val kept = rec.span("traverse.prefilter")(
          Traversal.prefilter(s.cs, s.name, tc, travRes, PrefilterTemplate))
        rec.value("traverse.prefilter_in", tc.size.toDouble)
        rec.value("traverse.prefilter_kept", kept.size.toDouble)
      }
      (tc.size.toLong, true)
    }
    rec.op(kind) {
      val opts = Traversal.TraversalOptions(
        prefilterTemplate = if (prefilter) Some(PrefilterTemplate) else None)
      val df = rec.span("traverse.traverseBulk")(
        Traversal.traverseBulk(s.cs, s.name, aoi, TargetRes, opts).select("h3index", "is_water"))
      if (rec.tracing) rec.span("traverse.plan")(df.queryExecution.executedPlan)
      val rows = rec.span("traverse.exec")(collectRows(df))
      val (cov, extra) = Oracle.coverage(expected, rows.map(_._1))
      val badValue = rows.count(_._2 != 1.0f)
      val okay = cov >= 0.995 && extra == 0 && badValue == 0
      if (!okay) rec.fail(kind,
        s"aoi ${region.cell}: coverage $cov, $extra invented cells, $badValue bad values")
      (rows.size.toLong, okay)
    }
  }

  /** `traverseIterator`, drained to its first cell. */
  private def iterFirst(s: Store): Unit = {
    val region = randomRegion(s)
    rec.op("iter_first") {
      val it = rec.span("traverse.traverseIterator")(
        Traversal.traverseIterator(s.cs, s.name, Seq(region.cell), TargetRes))
      val first = rec.span("traverse.iterNext")(if (it.hasNext) Some(it.next()) else None)
      val result = first match {
        case None => Some(s"aoi ${region.cell}: iterator yielded nothing")
        case Some(c) =>
          Oracle.check(s.oracle.under(c.cell), collectRows(c.df.select("h3index", "is_water")))
            .map(r => s"cell ${c.cell}: $r")
      }
      result.foreach(rec.fail("iter_first", _))
      (1L, result.isEmpty)
    }
    // the iterator keeps its current batch cached until it is advanced
    spark.catalog.clearCache()
  }

  /** The reference invariants on a built store, outside the timed
    * operations: stored rows per kind and resolution match the mask after
    * compaction and rollup exactly, no stored value exceeds 1.0, and a
    * fully covered resolution-9 probe queried at 10 returns 7 rows.
    * Returns the stored row counts and largest values. */
  private def checkStore(s: Store): Map[(String, Int), (Long, Float)] = {
    val compacted = s.oracle.regions.flatMap(_.compacted)
    // each insert rolls up its own cells, so a coarse cell two inserts
    // share is stored once per insert
    val rollups = BaseResolutions.filter(_ < TargetRes).map { r =>
      ("base", r) -> s.oracle.inserts.map { ins =>
        ins.flatMap(_.compacted).filter(Cells.res(_) > r).map(Cells.parent(_, r)).distinct.size.toLong
      }.sum
    }
    val expected = (compacted.groupBy(c => Cells.res(c)).map { case (r, cs) =>
      (if (r == TargetRes) "base" else "compacted", r) -> cs.size.toLong
    } ++ rollups).filter(_._2 > 0)
    val stored = storedStats(s)
    rec.checks += 2
    if (stored.map { case (k, (n, _)) => k -> n } != expected)
      rec.fail("check.stored_rows", s"stored $stored, expected $expected")
    stored.collect { case ((k, r), (_, mx)) if mx > 1.0f + 1e-6f =>
      rec.fail("check.rollup_max", s"is_water $mx above 1.0 in $k rows at resolution $r")
    }
    compacted.find(c => Cells.res(c) <= 9).foreach { full =>
      var p = full
      while (Cells.res(p) < 9) p = Cells.child(p, rng.nextInt(7))
      rec.checks += 1
      val n = s.cs.queryCells(s.name, Seq(p), TargetRes).count()
      if (n != 7) rec.fail("check.seven_children", s"probe $p returned $n rows, not 7")
    }
    stored
  }

  /** Row count and largest is_water per (kind, resolution) as stored. */
  private def storedStats(s: Store): Map[(String, Int), (Long, Float)] =
    spark.read.parquet(s.cs.dataDir(s.name)).groupBy("kind", "resolution")
      .agg(count(lit(1)), max("is_water")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getFloat(3))).toMap

  // ---------------------------------------------------------- workloads

  private val cycle = "qTqIqPqTqIqPqTqT"

  /** Read operation `i` of the mix, a fixed cycle so every run has the
    * same shares: in every sixteen operations, eight cell queries (q),
    * four traversals (T), two prefiltered traversals (P) and two
    * iterators (I). The first twelve hold two of each kind but T. */
  private def readOp(i: Int, s: Store, target: => Region): Unit = cycle(i % cycle.length) match {
    case 'T' => traverse(s, prefilter = false)
    case 'P' => traverse(s, prefilter = true)
    case 'I' => iterFirst(s)
    case _ => query(s, "query", probesIn(target))
  }

  /** Set-up of both workloads: one chunk of the mask inserted (the first
    * insert compiles the insert path), the manifest built, the read path
    * warmed. Their samples count only for kinds the measured part lacks. */
  private def setup(world: World): Store = {
    val base = world.take(ChunkRegions)
    val s = newStore()
    insert(s, base, frame(base), create = true)
    buildManifest(s)
    // one read of each kind (q, T, I, P in the mix): the first of a kind
    // in the process costs two to three times a later one
    Seq(0, 1, 3, 5).foreach(readOp(_, s, randomRegion(s)))
    s
  }

  /** raster_ingest: a second chunk appended to the store, then read back
    * once (the mix's first twelve reads). Most of the measured
    * time is the insert. This fixed pass is the measurement, whatever
    * `--seconds`. */
  private def rasterIngest(world: World, s: Store): Seq[Region] = {
    val chunk = world.take(ChunkRegions)
    val df = frame(chunk)
    measure {
      append(s, chunk, df)
      (0 until 12).foreach(i => readOp(i, s, randomRegion(s)))
    }
    chunk
  }

  /** append_read: one tile appended, then a fixed number of reads of the
    * mix, two per second of `--seconds` and at least twelve; three in ten
    * cell queries aim at the tile. A count rather than a deadline, so every
    * run's metrics read the same operations of each kind at the same places
    * in the mix: the first reads after the append are the slowest, and one
    * iterator or traversal fewer in a slow run would move their median. */
  private def appendRead(world: World, s: Store): Seq[Region] = {
    val tile = world.take(1)
    val df = frame(tile)
    measure {
      append(s, tile, df)
      (0 until math.max(12, 2 * args.seconds)).foreach { i =>
        readOp(i, s, if (rng.nextDouble() < 0.3) tile.head else randomRegion(s))
      }
    }
    tile
  }

  /** Compaction and rollup timed on their own, on the last appended data,
    * written to the `noop` sink: the append insert's share spent in each. */
  private def standaloneInsertLayers(s: Store, chunk: DataFrame): Unit = {
    val sch = s.cs.getTableset(s.name)
    rec.op("insert_layers") {
      val compacted = rec.span("insert.compact") {
        val c = Compaction.compact(chunk.dropDuplicates())
        c.write.format("noop").mode("overwrite").save()
        c
      }
      rec.span("insert.rollup") {
        // the insert's rollup chain: each step reads the previous step's
        // output plus the compacted cells between the two resolutions
        val res = graft.h3.expr.functions.h3_get_resolution(col("h3index"))
        var source = compacted.where(res === TargetRes)
        BaseResolutions.sorted.reverse.sliding(2).foreach { case Seq(src, tgt) =>
          val inter = compacted.where(res > tgt && res <= src && res < TargetRes)
          source = Rollup.rollupStep(source.unionByName(inter), sch, src, tgt).localCheckpoint()
        }
      }
      (1L, true)
    }
  }

  private val started = System.nanoTime()
  private var setupS = 0.0
  private var provenance = Map.empty[String, Double]

  /** Runs `f` as the measured phase, recording contention over it;
    * everything before it is set-up. Set-up ends with a full collection,
    * so no pause for set-up's garbage lands in a measured operation. */
  private def measure(f: => Unit): Unit = {
    System.gc()
    setupS = (System.nanoTime() - started) / 1e9
    log(f"set-up took $setupS%.2f s")
    rec.phase = "measure"
    val steal0 = Provenance.cpuTicks
    val load0 = Provenance.loadAvg
    f
    provenance = Map("steal_pct" -> Provenance.stealPct(steal0, Provenance.cpuTicks),
      "load_start" -> load0, "load_end" -> Provenance.loadAvg)
    rec.phase = "end"
    log("measured")
  }

  def run(): Boolean = {
    Files.createDirectories(work)
    val world = new World(args.seed, Roots)
    val store = setup(world)
    val appended = args.workload match {
      case "raster_ingest" => rasterIngest(world, store)
      case "append_read" => appendRead(world, store)
    }
    val stored = checkStore(store)
    log("checked")
    if (rec.tracing) standaloneInsertLayers(store, frame(appended))
    rec.listener.foreach(_ => org.apache.spark.ListenerBusDrain(spark.sparkContext))
    val files = store.dataFiles
    val sizes = Map(
      "input_cells" -> store.oracle.cells,
      "store_files" -> files.size.toLong,
      "store_bytes" -> files.map(_.length).sum,
      "stored_rows" -> stored.map { case ((k, r), (n, _)) => s"$k/$r" -> n })
    spark.catalog.clearCache()
    val heapMb = Provenance.heapAfterGcMb
    Output.write(Paths.get(args.out), args, rec, setupS, sizes, provenance, heapMb)
    rec.failures.isEmpty
  }
}
