package graft


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.h3.expr.functions._
import graft.schema.{AggregationMethod => Agg, GraftDataType => T, _}
import graft.store.CellStore
import graft.util.SessionCache

/**
 * Correctness-gate queries that exercise the COMPACTED-TABLESET ENGINE end
 * to end (insert -> dedup -> [compaction] -> rollup -> partitioned write ->
 * pruned scan -> probe join -> uncompaction), with DuckDB oracles that
 * reproduce the expected results from first principles (bit arithmetic +
 * DISTINCT/GROUP BY) — the engine's output must hash-match an independent
 * relational derivation.
 *
 * ts1: Sum rollup (compaction disabled by Sum, reference agg.rs:33-42):
 *      insert res-9 cells, read back the rolled-up res-5 base table.
 *      Oracle: DISTINCT input rows grouped by the res-5 parent.
 * ts2: compaction round-trip: insert complete uniform sibling groups
 *      (7 siblings per parent, equal values - they compact to res-8 cells),
 *      query back at res 9 via res-8 probe cells with uncompaction.
 *      Oracle: the DISTINCT generated input rows.
 *
 * The tableset is built once per (sfDir, variant) in a temp directory and
 * reused across calls (Bench runs each query twice).
 */
object TablesetQueries {

  private def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(graft.util.Restage.tablePath(spark, dir, "lineitem"))

  /** Root dir holding the tablesets for one sfDir: created lazily once per
    * SparkContext ([[SessionCache]]), removed best-effort at JVM exit. */
  private def rootFor(spark: SparkSession, dir: String): String =
    SessionCache(spark, ("tsRoot", dir))(graft.util.TempDirs.create("graft_ts_gate_"))

  // ------------------------------------------------------------------- ts1

  private def ts1Schema = CompactedTableSchema.builder("gate_sum")
    .h3BaseResolutions(Seq(5, 9))
    .addAggregatedColumn("qty", T.Float64, Agg.Sum)
    .build()

  private def ts1Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_sum")) {
      val input = lineitem(spark, dir)
        .select(Queries.synthCell.as("h3index"), col("l_quantity").as("qty"))
      store.insert("gate_sum", input, createSchema = Some(ts1Schema))
    }
    store
  }

  /** Engine rollup result at res 5 (the coarser base table). */
  def ts1RollupQuery(spark: SparkSession, dir: String): DataFrame = {
    val store = ts1Store(spark, dir)
    store.scanForResolution("gate_sum", 5)
      .select(col("h3index").as("parent5"), round(col("qty"), 2).as("sum_qty"))
      .orderBy(col("parent5"))
  }

  // ------------------------------------------------------------------- ts2

  private def ts2Schema = CompactedTableSchema.builder("gate_compact")
    .h3BaseResolutions(Seq(9))
    .addAggregatedColumn("v", T.Int64, Agg.Max)
    .build()

  /** 7 uniform siblings per parent: take the synthesized cell, stamp digit 9
    * with 0..6; value depends only on the parent -> groups compact fully. */
  private def ts2Input(spark: SparkSession, dir: String): DataFrame = {
    val base = lineitem(spark, dir)
      .where(pmod(col("l_orderkey"), lit(20)) === 0)
      .select(Queries.synthCell.as("cell"), pmod(col("l_orderkey"), lit(50)).as("v"))
    base.select(explode(sequence(lit(0), lit(6))).as("d"), col("cell"), col("v"))
      .select(
        col("cell").bitwiseAND(lit(~(7L << 18)))
          .bitwiseOR(shiftleft(col("d").cast("long"), 18)).as("h3index"),
        col("v"))
  }

  private def ts2Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_compact")) {
      store.insert("gate_compact", ts2Input(spark, dir), createSchema = Some(ts2Schema))
    }
    store
  }

  /** ts2/ts16/ts18 shared probe set: the distinct res-8 parents of the
    * gate_compact input. Memoized (PipelineQueries.memo precedent — the
    * sibling-explosion + distinct otherwise re-executed per consumption
    * AND per gate per bench pass: ts2 consumes it up to three times inside
    * queryCells, ts16/ts18 collect driver-side subsets of it). */
  private def ts2Parents(spark: SparkSession, dir: String): DataFrame =
    PipelineQueries.memo(spark, ("ts2parents", dir)) {
      ts2Input(spark, dir)
        .select(h3_to_parent(col("h3index"), lit(8)).as("p")).distinct()
    }

  /** Compaction round-trip through the full query path: res-8 parent probes,
    * uncompacted back to res 9 — must equal the distinct input rows. */
  def ts2CompactRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val store = ts2Store(spark, dir)
    // probe set stays a DataFrame end to end — no .collect() to the driver
    val parents = ts2Parents(spark, dir)
    store.queryCells("gate_compact", parents, 9, doUncompact = true, template = None)
      .select(col("h3index"), col("v"))
      .orderBy(col("h3index"))
  }

  // ------------------------------------------------------------------- ts3/4

  /** A3/A4/A5 coverage: Average + RelativeToCellArea + SetNullOnConflict in
    * one rollup (compaction off so storage is purely base rows, making the
    * A9/A10 stats in ts4 first-principles derivable too). */
  private def ts3Schema = CompactedTableSchema.builder("gate_mixed")
    .h3BaseResolutions(Seq(5, 9))
    .useCompaction(false)
    .addAggregatedColumn("q_avg", T.Float64, Agg.Average)
    .addAggregatedColumn("a_area", T.Float64, Agg.RelativeToCellArea)
    .addAggregatedColumn("cat", T.UInt8, Agg.SetNullOnConflict, nullable = true)
    .build()

  private def ts3Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_mixed")) {
      val input = lineitem(spark, dir).select(
        Queries.synthCell.as("h3index"),
        col("l_quantity").as("q_avg"),
        col("l_extendedprice").as("a_area"),
        pmod(col("l_partkey"), lit(3)).as("cat"))
      store.insert("gate_mixed", input, createSchema = Some(ts3Schema))
    }
    store
  }

  /** Rolled-up res-5 base table: avg, area-weighted mean, unanimity. */
  def ts3MixedRollup(spark: SparkSession, dir: String): DataFrame = {
    val store = ts3Store(spark, dir)
    store.scanForResolution("gate_mixed", 5)
      .select(col("h3index").as("parent5"),
        round(col("q_avg"), 4).as("avg_qty"),
        round(col("a_area"), 4).as("area_price"),
        col("cat"))
      .orderBy(col("parent5"))
  }

  /** A9/A10 stats over the same tableset (no compaction -> derivable). */
  def ts4Stats(spark: SparkSession, dir: String): DataFrame = {
    val store = ts3Store(spark, dir)
    store.tablesetStats("gate_mixed").orderBy(col("resolution"))
  }

  /** ts22: the same A9/A10 stats from pure SQL via the `graft_stats` TVF —
    * shares ts4's oracle. */
  def ts22SqlStats(spark: SparkSession, dir: String): DataFrame = {
    ts3Store(spark, dir) // ensure gate_mixed exists
    Graft.register(spark)
    spark.sql(
      s"SELECT * FROM graft_stats('${rootFor(spark, dir)}', 'gate_mixed') ORDER BY resolution")
  }

  // ------------------------------------------------------------------ ts24

  /** §3.3 bulk traversal from pure SQL (ts24): ts5's AOI restricted to a
    * deterministic 1/13 subset (literal-array size, ts16 precedent), driven
    * through the `graft_traverse` TVF. Same first-principles oracle family
    * as ts5 with the matching subset predicate. */
  def ts24SqlTraverse(spark: SparkSession, dir: String): DataFrame = {
    val store = ts1Store(spark, dir)
    Graft.register(spark)
    val aoi = store.scanForResolution("gate_sum", 5)
      .where(col("ph3").between(10, 19))
      .where(pmod(col("h3index"), lit(13)) === 0)
      .select(col("h3index")).orderBy(col("h3index"))
      .collect().map(_.getLong(0))
    require(aoi.nonEmpty, "ts24 AOI subset is empty at this scale factor")
    spark.sql(
      s"""SELECT traversal_cell, h3index, round(qty, 2) AS qty
         |FROM graft_traverse('${rootFor(spark, dir)}', 'gate_sum', 9,
         |  array(${aoi.mkString("L, ")}L), 2401)
         |ORDER BY h3index""".stripMargin)
  }

  // ------------------------------------------------------------------- ts5

  /** T1-T4 through the oracle gate: bulk-traverse an AOI (the stored res-5
    * cells living in base cells 10..19) at target res 9 — T1 picks traversal
    * res 5 (7^4 = 2401 <= maxFetchCount), the store query runs once for the
    * whole AOI, and every row is tagged with its traversal cell. The oracle
    * re-derives the same rows relationally (the distinct raw rows — the
    * finest base table aggregates at parent resolutions only — filtered to
    * the AOI's base cells). */
  def ts5Traversal(spark: SparkSession, dir: String): DataFrame = {
    import graft.traverse.Traversal
    val store = ts1Store(spark, dir)
    // ph3 (= base cell) is a partition column -> the AOI scan prunes to
    // 10 of 122 partition directories instead of filtering after the read
    val aoi = store.scanForResolution("gate_sum", 5)
      .where(col("ph3").between(10, 19))
      .select(col("h3index"))
      .collect().map(_.getLong(0)).toSeq
    Traversal.traverseBulk(store, "gate_sum", aoi, 9,
        Traversal.TraversalOptions(maxFetchCount = 2401))
      .select(col("traversal_cell"), col("h3index"), round(col("qty"), 2).as("qty"))
      .orderBy(col("h3index"))
  }

  // ------------------------------------------------------------------- ts7

  /** T3 + P4 through the oracle gate: traversal with a PREFILTER template —
    * only traversal cells whose res-5 rollup row passes `qty > 100` are
    * fetched at res 9. The template exercises the two mandatory
    * placeholders; the oracle keeps exactly the res-5 groups with
    * sum(qty) > 100 (sums of integer-valued quantities are exact in double,
    * so the threshold is engine-independent). */
  def ts7PrefilterTraversal(spark: SparkSession, dir: String): DataFrame = {
    import graft.traverse.Traversal
    val store = ts1Store(spark, dir)
    val aoi = store.scanForResolution("gate_sum", 5)
      .where(col("ph3").between(40, 49))
      .select(col("h3index"))
      .collect().map(_.getLong(0)).toSeq
    Traversal.traverseBulk(store, "gate_sum", aoi, 9,
        Traversal.TraversalOptions(maxFetchCount = 2401,
          prefilterTemplate = Some(
            "SELECT * FROM <[table]> WHERE h3index IN <[h3indexes]> AND qty > 100")))
      .select(col("traversal_cell"), col("h3index"), round(col("qty"), 2).as("qty"))
      .orderBy(col("h3index"))
  }

  /** ts40: ts7's prefiltered traversal through the DataFrame-AOI overload
    * (VERDICT r6 #5) — the AOI is the partition-pruned store scan ITSELF
    * (never collected to the driver); traversal-cell derivation, the
    * prefilter, and the store semi-join all stay distributed, and the
    * result must hash-match ts7's oracle exactly. */
  def ts40TraverseDf(spark: SparkSession, dir: String): DataFrame = {
    import graft.traverse.Traversal
    val store = ts1Store(spark, dir)
    val aoi = store.scanForResolution("gate_sum", 5)
      .where(col("ph3").between(40, 49))
      .select(col("h3index"))
    Traversal.traverseBulk(store, "gate_sum", aoi, 9,
        Traversal.TraversalOptions(maxFetchCount = 2401,
          prefilterTemplate = Some(
            "SELECT * FROM <[table]> WHERE h3index IN <[h3indexes]> AND qty > 100")))
      .select(col("traversal_cell"), col("h3index"), round(col("qty"), 2).as("qty"))
      .orderBy(col("h3index"))
  }

  /** ts41: ts40's prefiltered DataFrame-AOI traversal from PURE SQL via the
    * `graft_traverse_df` TVF (VERDICT r7 #5) — the AOI is a `TABLE(...)`
    * SUBQUERY over the `graft_scan` TVF (never a literal array, never
    * collected), so a continent-sized AOI is expressible without leaving
    * `spark.sql`. Must hash-match ts7/ts40's oracle exactly; the plan-audit
    * spec proves no LocalTableScan of the AOI reaches the executed plan. */
  def ts41SqlTraverseDf(spark: SparkSession, dir: String): DataFrame = {
    ts1Store(spark, dir) // ensure gate_sum exists
    Graft.register(spark)
    val root = rootFor(spark, dir)
    spark.sql(
      s"""SELECT traversal_cell, h3index, round(qty, 2) AS qty
         |FROM graft_traverse_df('$root', 'gate_sum', 9,
         |  TABLE(SELECT h3index FROM graft_scan('$root', 'gate_sum', 5)
         |        WHERE ph3 BETWEEN 40 AND 49),
         |  2401,
         |  'SELECT * FROM <[table]> WHERE h3index IN <[h3indexes]> AND qty > 100')
         |ORDER BY h3index""".stripMargin)
  }

  // ------------------------------------------------------------------- ts6

  /** A11/A12 through the oracle gate: two overlapping insert batches leave
    * cross-batch duplicate rows (insert dedups within a batch only, like the
    * reference's per-insert OPTIMIZE); a PARTITION-SCOPED deduplicateWhere
    * (ph3 < 61) then removes them in the touched partitions ONLY. Expected:
    * distinct rows where ph3 < 61, duplicated rows elsewhere — proving both
    * the dedup and its partition scoping relationally. */
  private def ts6Schema = CompactedTableSchema.builder("gate_optimize")
    .h3BaseResolutions(Seq(9))
    .useCompaction(false)
    .addAggregatedColumn("v", T.Int64, Agg.Max)
    .build()

  private def ts6Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_optimize")) {
      def batch(mod: Int) = lineitem(spark, dir)
        .where(pmod(col("l_orderkey"), lit(mod)) === 0)
        .select(Queries.synthCell.as("h3index"), pmod(col("l_orderkey"), lit(50)).as("v"))
      store.insert("gate_optimize", batch(4), createSchema = Some(ts6Schema))
      store.insert("gate_optimize", batch(2))
      store.deduplicateWhere("gate_optimize", col("ph3") < 61)
    }
    store
  }

  def ts6DedupOptimize(spark: SparkSession, dir: String): DataFrame =
    ts6Store(spark, dir).scanForResolution("gate_optimize", 9)
      .select(col("h3index"), col("v"))
      .orderBy(col("h3index"), col("v"))

  // ------------------------------------------------------------------ ts20

  /** Resolution backfill gate (ts20): create the ts1 dataset with ONLY the
    * res-9 base table, then `addBaseResolution(5)` — the backfilled rollup
    * must be exactly what declaring res 5 up front would have produced, so
    * the gate shares ts1's first-principles oracle. */
  private def ts20Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_backfill")) {
      val input = lineitem(spark, dir)
        .select(Queries.synthCell.as("h3index"), col("l_quantity").as("qty"))
      store.insert("gate_backfill", input,
        createSchema = Some(CompactedTableSchema.builder("gate_backfill")
          .h3BaseResolutions(Seq(9))
          .addAggregatedColumn("qty", T.Float64, Agg.Sum)
          .build()))
      store.addBaseResolution("gate_backfill", 5)
    }
    store
  }

  def ts20BackfillResolution(spark: SparkSession, dir: String): DataFrame =
    ts20Store(spark, dir).scanForResolution("gate_backfill", 5)
      .select(col("h3index").as("parent5"), round(col("qty"), 2).as("sum_qty"))
      .orderBy(col("parent5"))

  // ------------------------------------------------------------------ ts23

  /** Partitioning evolution (ts23): insert under the default BaseCell
    * layout, ALTER to LowerResolution(8) — a staged full rewrite into a
    * DIFFERENT directory structure (ph3 becomes the res-1 ancestor index,
    * ~600 directories; a small d on res-9 data would mean one directory
    * per near-distinct parent, which is the degenerate layout the scheme
    * exists to avoid) — then read the res-5 rollup. Results must be
    * layout-invisible: ts1's first-principles oracle again. */
  private def ts23Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_repart")) {
      val input = lineitem(spark, dir)
        .select(Queries.synthCell.as("h3index"), col("l_quantity").as("qty"))
      store.insert("gate_repart", input,
        createSchema = Some(CompactedTableSchema.builder("gate_repart")
          .h3BaseResolutions(Seq(5, 9))
          .addAggregatedColumn("qty", T.Float64, Agg.Sum)
          .build()))
      store.alterPartitioning("gate_repart", H3Partitioning.LowerResolution(8))
    }
    store
  }

  def ts23AlterPartitioning(spark: SparkSession, dir: String): DataFrame =
    ts23Store(spark, dir).scanForResolution("gate_repart", 5)
      .select(col("h3index").as("parent5"), round(col("qty"), 2).as("sum_qty"))
      .orderBy(col("parent5"))

  // ------------------------------------------------------------------ ts21

  /** Snapshot time travel (ts21): two inserts, then read AS OF the first
    * snapshot — the second insert's rows must be invisible. The oracle is
    * batch a alone (within-batch distinct), re-derived relationally. */
  private def ts21Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_travel")) {
      def batch(mod: Int) = lineitem(spark, dir)
        .where(pmod(col("l_orderkey"), lit(mod)) === 0)
        .select(Queries.synthCell.as("h3index"), pmod(col("l_orderkey"), lit(50)).as("v"))
      store.insert("gate_travel", batch(4),
        createSchema = Some(CompactedTableSchema.builder("gate_travel")
          .h3BaseResolutions(Seq(9))
          .useCompaction(false)
          .addAggregatedColumn("v", T.Int64, Agg.Max)
          .build()))
      store.insert("gate_travel", batch(2))
    }
    store
  }

  def ts21TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val store = ts21Store(spark, dir)
    val first = store.snapshotIds("gate_travel").head
    store.scanForResolutionAsOf("gate_travel", 9, first)
      .select(col("h3index"), col("v"))
      .orderBy(col("h3index"), col("v"))
  }

  /** The same historical read from PURE SQL (ts35): `graft_asof` splices
    * [[CellStore.scanForResolutionAsOf]]'s explicit-file-list scan at
    * analysis time — ts21's oracle, no DataFrame code. Completes the TVF
    * family: scan / cells / traverse / stats / range / asof. */
  def ts35SqlAsof(spark: SparkSession, dir: String): DataFrame = {
    val store = ts21Store(spark, dir)
    Graft.register(spark)
    val first = store.snapshotIds("gate_travel").head
    spark.sql(
      s"""SELECT h3index, v
         |FROM graft_asof('${rootFor(spark, dir)}', 'gate_travel', 9, ${first}L)
         |ORDER BY h3index, v""".stripMargin)
  }

  /** Snapshot-retention gate (ts36): three inserts, then
    * [[CellStore.vacuumSnapshots]](keepLast = 2) — the expiry op that folds
    * every pre-cutoff list forward into the oldest KEPT id before deleting
    * (deleting alone would silently lose the early inserts' files from
    * later states). The gate reads AS OF the folded cutoff id: it must
    * equal inserts 1+2 exactly — the state the cutoff represented BEFORE
    * the vacuum — proving retention rewrites history lists, not history. */
  private def ts36Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_vacuum")) {
      def batch(mod: Int) = lineitem(spark, dir)
        .where(pmod(col("l_orderkey"), lit(mod)) === 0)
        .select(Queries.synthCell.as("h3index"), pmod(col("l_orderkey"), lit(50)).as("v"))
      store.insert("gate_vacuum", batch(4),
        createSchema = Some(CompactedTableSchema.builder("gate_vacuum")
          .h3BaseResolutions(Seq(9))
          .useCompaction(false)
          .addAggregatedColumn("v", T.Int64, Agg.Max)
          .build()))
      store.insert("gate_vacuum", batch(3))
      store.insert("gate_vacuum", batch(2))
      store.vacuumSnapshots("gate_vacuum", keepLast = 2)
    }
    store
  }

  def ts36VacuumSnapshots(spark: SparkSession, dir: String): DataFrame = {
    val store = ts36Store(spark, dir)
    val cutoff = store.snapshotIds("gate_vacuum").head // the folded id
    store.scanForResolutionAsOf("gate_vacuum", 9, cutoff)
      .select(col("h3index"), col("v"))
      .orderBy(col("h3index"), col("v"))
  }

  // ------------------------------------------------------------------ ts37

  /** Lightweight-delete gate (ts37): insert, `DELETE WHERE v >= 25`
    * ([[CellStore.deleteWhere]] — a metadata-only mutation that masks
    * captured rows at read, ClickHouse's lightweight-delete model), then a
    * SECOND insert whose rows all "match" the predicate but arrived after
    * it — they must NOT be masked. The gate reads the store twice: once
    * merge-on-read (phase `mor`, mask applied at scan) and once after
    * [[CellStore.applyDeletes]] physically materialized the mutation
    * (phase `mat`, markers drained, captured files rewritten/unlinked).
    * Both phases must hash-match the same relational derivation — the
    * masked read and the rewrite are two implementations of one delete. */
  private def ts37Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_delete")) {
      def batch(mod: Int) = lineitem(spark, dir)
        .where(pmod(col("l_orderkey"), lit(mod)) === 0)
        .select(Queries.synthCell.as("h3index"), pmod(col("l_orderkey"), lit(50)).as("v"))
      store.insert("gate_delete", batch(4),
        createSchema = Some(CompactedTableSchema.builder("gate_delete")
          .h3BaseResolutions(Seq(9))
          .useCompaction(false)
          .addAggregatedColumn("v", T.Int64, Agg.Max)
          .build()))
      store.deleteWhere("gate_delete", "v >= 25")
      store.insert("gate_delete", batch(3))
    }
    store
  }

  def ts37LightweightDelete(spark: SparkSession, dir: String): DataFrame = {
    val store = ts37Store(spark, dir)
    def scan(phase: String) = store.scanForResolution("gate_delete", 9)
      .select(lit(phase).as("phase"), col("h3index"), col("v"))
    // materialize the merge-on-read result BEFORE applyDeletes rewrites the
    // captured files out from under the lazy plan
    val mor = scan("mor").localCheckpoint()
    store.applyDeletes("gate_delete")
    mor.unionByName(scan("mat"))
      .orderBy(col("phase"), col("h3index"), col("v"))
  }

  // ------------------------------------------------------------------ ts19

  /** Small-file compaction gate (ts19): two overlapping inserts, then
    * [[CellStore.compactFiles]] — the merged layout must preserve rows
    * EXACTLY, including the duplicates that exist ACROSS the two inserts
    * (the op that must NOT dedup, where ts6 gates the op that must). The
    * oracle is each batch's within-batch-distinct rows, UNION ALL. */
  private def ts19Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_filecompact")) {
      def batch(mod: Int) = lineitem(spark, dir)
        .where(pmod(col("l_orderkey"), lit(mod)) === 0)
        .select(Queries.synthCell.as("h3index"), pmod(col("l_orderkey"), lit(50)).as("v"))
      store.insert("gate_filecompact", batch(4),
        createSchema = Some(CompactedTableSchema.builder("gate_filecompact")
          .h3BaseResolutions(Seq(9))
          .useCompaction(false)
          .addAggregatedColumn("v", T.Int64, Agg.Max)
          .build()))
      store.insert("gate_filecompact", batch(2))
      store.compactFiles("gate_filecompact")
    }
    store
  }

  def ts19FileCompaction(spark: SparkSession, dir: String): DataFrame =
    ts19Store(spark, dir).scanForResolution("gate_filecompact", 9)
      .select(col("h3index"), col("v"))
      .orderBy(col("h3index"), col("v"))

  // ------------------------------------------------------------------ ts33

  /** Z-order range-scan gate (ts33): declare a secondary ORDER BY column,
    * [[CellStore.zorderFiles]] the layout, rebuild the manifest (now with
    * per-file k2 stats), then run a secondary-key range query through
    * [[CellStore.scanForValueRange]]'s file-level manifest pruning. The
    * oracle is the plain relational filter — the entire Z-curve/manifest
    * machinery must be result-invisible (ZorderSpec pins that the pruning
    * actually pruned). */
  private def ts33Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_zorder")) {
      val input = lineitem(spark, dir)
        .select(Queries.synthCell.as("h3index"),
          pmod(col("l_orderkey"), lit(1000)).as("v"))
      store.insert("gate_zorder", input,
        createSchema = Some(CompactedTableSchema.builder("gate_zorder")
          .h3BaseResolutions(Seq(9))
          .useCompaction(false)
          .addColumn("v", ColumnDef.Simple(T.Int64, orderKeyPosition = Some(1)))
          .build()))
      store.zorderFiles("gate_zorder")
      store.buildManifest("gate_zorder")
    }
    store
  }

  def ts33ZorderRange(spark: SparkSession, dir: String): DataFrame =
    ts33Store(spark, dir).scanForValueRange("gate_zorder", 9, 100L, 199L)
      .select(col("h3index"), col("v"))
      .orderBy(col("h3index"), col("v"))

  /** The same z-order range read from PURE SQL (ts34): `graft_range`
    * splices [[CellStore.scanForValueRange]]'s manifest-pruned scan at
    * analysis time — same oracle as ts33; SQL users get the file pruning
    * without a line of DataFrame code. */
  def ts34SqlRange(spark: SparkSession, dir: String): DataFrame = {
    ts33Store(spark, dir) // ensure gate_zorder exists, z-ordered + manifested
    Graft.register(spark)
    spark.sql(
      s"""SELECT h3index, v
         |FROM graft_range('${rootFor(spark, dir)}', 'gate_zorder', 9, 100L, 199L)
         |ORDER BY h3index, v""".stripMargin)
  }

  // ------------------------------------------------------------------- ts8

  /** F7 through the oracle gate: temporal partition bucketing. The tableset
    * declares `Months(6)` temporal partitioning on a DateTime column, so
    * every row lands in a `pt=<bucket>` partition directory computed by the
    * reference's formula `ceil((year*100 + 100*(month-1)/12)/n)`
    * (`schema/partitioning.rs:69-91`). The gate scans a pt RANGE (1994-01 ..
    * 1996-12 — a Hive partition-value predicate, pruned at planning) and
    * aggregates per bucket; the oracle re-derives every row's bucket from
    * o_orderdate with the same arithmetic. min/max over v (not sum-of-
    * doubles) keeps the comparison order-insensitive cross-engine. */
  private def ts8Schema = CompactedTableSchema.builder("gate_temporal")
    .h3BaseResolutions(Seq(9))
    .useCompaction(false)
    .addSimpleColumn("d", T.DateTimeT)
    .addSimpleColumn("v", T.Float64)
    .temporalPartitioning(TemporalPartitioning.Months(24))
    .build()

  /** Deterministic valid res-9 cell from the orders keys (same construction
    * as [[Queries.synthCell]], different key columns). Base cells span 12
    * (not 122) values: the gate's partition-directory count is
    * |ph3| x |pt buckets|, and the orders dates span 7 years — 122 base
    * cells would mean thousands of tiny gate-scale directories whose
    * listing/footer overhead swamps the query being measured (ph3-spread
    * pruning is covered by the ts5/ts7 gates). */
  private def synthOrderCell: org.apache.spark.sql.Column = {
    val bc = pmod(col("o_orderkey") * 7 + col("o_custkey"), lit(12))
    val d1 = pmod(col("o_custkey") + col("o_orderkey"), lit(5)) + 2
    val digits = (2 to 9).map { i =>
      shiftleft(pmod(col("o_custkey") + lit(i) * col("o_orderkey"), lit(7)).cast("long"),
        3 * (15 - i))
    }
    val base = shiftleft(lit(1L), 59)
      .bitwiseOR(shiftleft(lit(9L), 52))
      .bitwiseOR(shiftleft(bc.cast("long"), 45))
      .bitwiseOR(shiftleft(d1.cast("long"), 3 * (15 - 1)))
      .bitwiseOR(lit(262143L))
    digits.foldLeft(base)(_ bitwiseOR _)
  }

  // ------------------------------------------------------------------ ts38

  /** Partition-retirement gate (ts38): ts8's temporal layout, then
    * [[CellStore.dropPartitionsWhere]]`(pt < cutoff)` — ClickHouse's
    * `ALTER TABLE ... DROP PARTITION` as instant data retention. The drop
    * is driver-only (predicate evaluated over the parsed partition tuples,
    * directories unlinked — zero rewrite, the O(metadata) retirement a
    * 100 TB store needs for TTL), and the surviving scan must hash-match
    * the oracle's bucket arithmetic with the same cutoff. */
  private val Ts38Cutoff = 8311L
  private def ts38Schema = CompactedTableSchema.builder("gate_retention")
    .h3BaseResolutions(Seq(9))
    .useCompaction(false)
    .addSimpleColumn("d", T.DateTimeT)
    .addSimpleColumn("v", T.Float64)
    .temporalPartitioning(TemporalPartitioning.Months(24))
    .build()

  private def ts38Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_retention")) {
      val input = spark.read.parquet(graft.util.Restage.tablePath(spark, dir, "orders")).select(
        synthOrderCell.as("h3index"),
        col("o_orderdate").as("d"),
        col("o_totalprice").as("v"))
      store.insert("gate_retention", input, createSchema = Some(ts38Schema))
      store.dropPartitionsWhere("gate_retention", col("pt") < Ts38Cutoff)
    }
    store
  }

  def ts38DropPartition(spark: SparkSession, dir: String): DataFrame = {
    val store = ts38Store(spark, dir)
    store.scanForResolution("gate_retention", 9)
      .groupBy(col("pt").cast("long").as("pt"))
      .agg(count(lit(1)).as("n"),
        round(min(col("v")), 2).as("min_v"),
        round(max(col("v")), 2).as("max_v"))
      .orderBy(col("pt"))
  }

  private def ts8Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_temporal")) {
      val input = spark.read.parquet(graft.util.Restage.tablePath(spark, dir, "orders")).select(
        synthOrderCell.as("h3index"),
        col("o_orderdate").as("d"),
        col("o_totalprice").as("v"))
      store.insert("gate_temporal", input, createSchema = Some(ts8Schema))
    }
    store
  }

  // pt buckets for Months(24): Jan 1994 -> ceil(199400/24) = 8309;
  // Dec 1996 -> ceil((199600 + 100*11/12)/24) = 8321 (that bucket also
  // covers early 1997 — bucket-aligned range, same filter on both engines)
  private val Ts8PtLo = 8309L
  private val Ts8PtHi = 8321L

  def ts8TemporalBuckets(spark: SparkSession, dir: String): DataFrame = {
    val store = ts8Store(spark, dir)
    store.scanForResolution("gate_temporal", 9)
      .where(col("pt").between(Ts8PtLo, Ts8PtHi))
      .groupBy(col("pt").cast("long").as("pt"))
      .agg(count(lit(1)).as("n"),
        round(min(col("v")), 2).as("min_v"),
        round(max(col("v")), 2).as("max_v"))
      .orderBy(col("pt"))
  }

  // ------------------------------------------------------------------- ts9

  /** ts9: sidecar-loss recovery — build a Sum-rollup tableset (same input
    * and shape as ts1's), DELETE its schema.json, re-derive the schema from
    * the physical layout alone ([[CellStore.recoverTableset]] — the
    * analogue of the reference's catalog rediscovery, tableset.rs:219-244),
    * then query the RECOVERED tableset. The stored data is untouched, so
    * the scan must still hash-match ts1's first-principles oracle; what the
    * gate proves is that a tableset stays discoverable and queryable from
    * its data layout alone (lost sidecar / foreign writer). */
  private def ts9Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_recover")) {
      // failure-idempotent build: insert appends, so a retry after a crash
      // between the sidecar delete and the recovery write must NOT re-run
      // it — gate the insert on the data directory, not the sidecar
      val dataDir = new org.apache.hadoop.fs.Path(
        s"${rootFor(spark, dir)}/gate_recover/data")
      val fs = dataDir.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(dataDir)) {
        val input = lineitem(spark, dir)
          .select(Queries.synthCell.as("h3index"), col("l_quantity").as("qty"))
        store.insert("gate_recover", input, createSchema = Some(
          CompactedTableSchema.builder("gate_recover")
            .h3BaseResolutions(Seq(5, 9))
            .addAggregatedColumn("qty", T.Float64, Agg.Sum)
            .build()))
      }
      val sidecar = new org.apache.hadoop.fs.Path(
        s"${rootFor(spark, dir)}/gate_recover/schema.json")
      if (fs.exists(sidecar)) fs.delete(sidecar, false)
      store.recoverTableset("gate_recover")
    }
    store
  }

  def ts9RecoverQuery(spark: SparkSession, dir: String): DataFrame = {
    val store = ts9Store(spark, dir)
    store.scanForResolution("gate_recover", 5)
      .select(col("h3index").as("parent5"), round(col("qty"), 2).as("sum_qty"))
      .orderBy(col("parent5"))
  }

  // --------------------------------------------------------------- ts10/11

  /** Versioned ReplacingMergeTree through the oracle gate: batch 1 writes
    * cells at version 1, batch 2 re-writes a subset at version 2 with new
    * values. Collapse keeps the max-version row per cell (ties on the exact
    * version break on the greater payload — synthCell collisions make such
    * ties real at sf scale, so the tiebreak itself is under the oracle).
    * ts10 collapses ON DISK (replace = OPTIMIZE ... FINAL); ts11 collapses
    * AT READ TIME (scanForResolutionFinal = SELECT ... FINAL) over an
    * un-rewritten tableset — both must produce identical relational
    * results. */
  private def replaceSchema(name: String) = CompactedTableSchema.builder(name)
    .h3BaseResolutions(Seq(9))
    .useCompaction(false)
    .engine(TableEngine.ReplacingMergeTree(Some("version")))
    .addSimpleColumn("version", T.Int64)
    .addSimpleColumn("val", T.Int64)
    .build()

  private def versionedBatches(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = lineitem(spark, dir)
    val a = li.where(pmod(col("l_orderkey"), lit(2)) === 0)
      .select(Queries.synthCell.as("h3index"), lit(1L).as("version"),
        pmod(col("l_orderkey"), lit(50)).as("val"))
    val b = li.where(pmod(col("l_orderkey"), lit(6)) === 0)
      .select(Queries.synthCell.as("h3index"), lit(2L).as("version"),
        pmod(col("l_orderkey"), lit(37)).as("val"))
    (a, b)
  }

  private def versionedStore(spark: SparkSession, dir: String, name: String,
      optimize: Boolean): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains(name)) {
      val (a, b) = versionedBatches(spark, dir)
      store.insert(name, a, createSchema = Some(replaceSchema(name)))
      store.insert(name, b)
      if (optimize) store.replace(name)
    }
    store
  }

  def ts10ReplaceOptimize(spark: SparkSession, dir: String): DataFrame =
    versionedStore(spark, dir, "gate_replace", optimize = true)
      .scanForResolution("gate_replace", 9)
      .select(col("h3index"), col("version"), col("val"))
      .orderBy(col("h3index"))

  def ts11FinalRead(spark: SparkSession, dir: String): DataFrame =
    versionedStore(spark, dir, "gate_final", optimize = false)
      .scanForResolutionFinal("gate_final", 9)
      .select(col("h3index"), col("version"), col("val"))
      .orderBy(col("h3index"))

  /** ts11's FINAL read from PURE SQL (ts39): the `graft_final` TVF splices
    * [[CellStore.scanForResolutionFinal]]'s engine collapse at analysis
    * time — same versioned store, same oracle, no DataFrame code. Closes
    * the TVF family over the read surface: scan / cells / traverse /
    * stats / range / asof / deletes / FINAL. */
  def ts39SqlFinal(spark: SparkSession, dir: String): DataFrame = {
    versionedStore(spark, dir, "gate_final", optimize = false)
    Graft.register(spark)
    spark.sql(
      s"""SELECT h3index, version, val
         |FROM graft_final('${rootFor(spark, dir)}', 'gate_final', 9)
         |ORDER BY h3index""".stripMargin)
  }

  // --------------------------------------------------------------- ts25/26

  /** SummingMergeTree through the oracle gate (round-3 verdict: the engine
    * must SUM, not silently behave as Replacing). Two inserts write
    * overlapping cell sets; the engine's collapse must sum `val` and `cnt`
    * per cell across batches — after each batch's own full-row insert dedup,
    * exactly like ClickHouse block dedup before merges. ts25 collapses ON
    * DISK (replace = OPTIMIZE ... FINAL), ts26 AT READ TIME
    * (scanForResolutionFinal = SELECT ... FINAL) — identical results. */
  private def summingSchema(name: String) = CompactedTableSchema.builder(name)
    .h3BaseResolutions(Seq(9))
    .useCompaction(false)
    .engine(TableEngine.SummingMergeTree(Seq("val", "cnt")))
    .addSimpleColumn("val", T.Int64)
    .addSimpleColumn("cnt", T.Int64)
    .build()

  private def summingStore(spark: SparkSession, dir: String, name: String,
      optimize: Boolean): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains(name)) {
      val li = lineitem(spark, dir)
      val a = li.where(pmod(col("l_orderkey"), lit(2)) === 0)
        .select(Queries.synthCell.as("h3index"),
          pmod(col("l_orderkey"), lit(50)).as("val"), lit(1L).as("cnt"))
      val b = li.where(pmod(col("l_orderkey"), lit(6)) === 0)
        .select(Queries.synthCell.as("h3index"),
          pmod(col("l_orderkey"), lit(37)).as("val"), lit(1L).as("cnt"))
      store.insert(name, a, createSchema = Some(summingSchema(name)))
      store.insert(name, b)
      if (optimize) store.replace(name)
    }
    store
  }

  def ts25SummingOptimize(spark: SparkSession, dir: String): DataFrame =
    summingStore(spark, dir, "gate_summing", optimize = true)
      .scanForResolution("gate_summing", 9)
      .select(col("h3index"), col("val"), col("cnt"))
      .orderBy(col("h3index"))

  def ts26SummingFinal(spark: SparkSession, dir: String): DataFrame =
    summingStore(spark, dir, "gate_sumfinal", optimize = false)
      .scanForResolutionFinal("gate_sumfinal", 9)
      .select(col("h3index"), col("val"), col("cnt"))
      .orderBy(col("h3index"))

  // ------------------------------------------------------------------ ts32

  /** D5/D3 catalog predicates through the oracle gate (the last spec-only
    * inventory row): database_exists on a real and a missing root,
    * tableset discovery on a real and a missing name — computed by the
    * engine, pinned as a constant-row oracle (`cellstore.rs:95-110`). */
  def ts32Catalog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = ts1Store(spark, dir)
    Seq((store.databaseExists,
      store.listTablesets().contains("gate_sum"),
      CellStore(spark, rootFor(spark, dir) + "_absent").databaseExists,
      store.listTablesets().contains("gate_absent")))
      .toDF("db_exists", "ts_exists", "missing_db_exists", "missing_ts_exists")
  }

  // ------------------------------------------------------------------ ts31

  /** AggregatingMergeTree OPTIMIZE through the oracle gate: two overlapping
    * batches leave multiple rows per cell; `replace` must collapse each
    * cell with every column's DECLARED method (Min/Max/Sum/unanimity-null —
    * the engine's promise that the rollup discipline also governs merges).
    * Completes the merge-engine triple: Replacing ts10/ts11, Summing
    * ts25/ts26, Aggregating here. */
  private def aggingSchema = CompactedTableSchema.builder("gate_agging")
    .h3BaseResolutions(Seq(9))
    .useCompaction(false)
    .engine(TableEngine.AggregatingMergeTree)
    .addAggregatedColumn("lo", T.Int64, Agg.Min)
    .addAggregatedColumn("hi", T.Int64, Agg.Max)
    .addAggregatedColumn("total", T.Int64, Agg.Sum)
    .addAggregatedColumn("cat", T.Int64, Agg.SetNullOnConflict, nullable = true)
    .build()

  private def aggingStore(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_agging")) {
      def batch(m: Int) = lineitem(spark, dir)
        .where(pmod(col("l_orderkey"), lit(m)) === 0)
        .select(Queries.synthCell.as("h3index"),
          pmod(col("l_orderkey"), lit(70)).as("lo"),
          pmod(col("l_orderkey"), lit(90)).as("hi"),
          lit(1L).as("total"),
          pmod(col("l_partkey"), lit(2)).as("cat"))
      store.insert("gate_agging", batch(3), createSchema = Some(aggingSchema))
      store.insert("gate_agging", batch(5))
      store.replace("gate_agging")
    }
    store
  }

  def ts31AggOptimize(spark: SparkSession, dir: String): DataFrame =
    aggingStore(spark, dir).scanForResolution("gate_agging", 9)
      .select(col("h3index"), col("lo"), col("hi"), col("total"), col("cat"))
      .orderBy(col("h3index"))

  // --------------------------------------------------------------- ts27/28

  /** Shared fixture for the F10/S6 gates: one uncompacted res-9 base table
    * of distinct (cell, v) rows — the physical content is exactly
    * `SELECT DISTINCT synthCell, l_orderkey % 50`, so templates over the
    * raw scan stay oracle-derivable. */
  private val randStoreName = "gate_rand"
  private def randStore(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains(randStoreName)) {
      store.insert(randStoreName, lineitem(spark, dir)
        .select(Queries.synthCell.as("h3index"),
          pmod(col("l_orderkey"), lit(50)).as("v")),
        createSchema = Some(CompactedTableSchema.builder(randStoreName)
          .h3BaseResolutions(Seq(9))
          .useCompaction(false)
          .addSimpleColumn("v", T.Int64)
          .build()))
    }
    store
  }

  /** F10 through the oracle gate: the reference's templated rand() sampling
    * (`test_schema.py:69-73` — `where (rand() % 2) = 0 and h3index in
    * <[h3indexes]>`, asserting sampled < total with identical columns). A
    * PRNG draw can never hash-match across engines, so the gate pins the
    * exact invariants instead: the probed row count is EXACT, and the
    * seeded sample must land within ±15% of half — a broken or degenerate
    * rand() (all-true, all-false, skewed) fails the gate. The row-level
    * reference-shaped assertions (strictly fewer rows, same columns,
    * same seed -> same sample) live in RandTemplateSpec. */
  def ts27RandTemplate(spark: SparkSession, dir: String): DataFrame = {
    val store = randStore(spark, dir)
    val probes = store.scanForResolution(randStoreName, 9)
      .where(col("ph3").between(40, 49)).select("h3index")
      .distinct().collect().map(_.getLong(0)).toSeq
    // doUncompact=false: the template's output is an AGGREGATE, not cell
    // rows — there is no h3index column left to uncompact (and the base
    // table is uncompacted anyway)
    store.queryCells(randStoreName, probes, 9, doUncompact = false,
      template = Some(
        // the draw happens below the aggregation (Spark refuses
        // nondeterministic expressions inside aggregate arguments)
        """SELECT count(*) AS n_rows,
          |  CAST(sum(s) BETWEEN count(*) * 0.35 AND count(*) * 0.65 AS INT)
          |    AS sample_in_bounds
          |FROM (SELECT CASE WHEN rand(42) < 0.5 THEN 1 ELSE 0 END AS s
          |      FROM <[table]> WHERE h3index IN <[h3indexes]>)""".stripMargin))
  }

  /** S6 through the oracle gate: a valid probe that provably matches no
    * stored row (digit-1 = 0 is outside synthCell's generated 2..6 range)
    * must return an EMPTY frame in the declared column shape — the
    * reference types empty results from the schema rather than erroring
    * (`frame.rs` empty-result contract). The driver's schema_match on the
    * 0-row parquet is the dtype assertion. */
  def ts28EmptyProbe(spark: SparkSession, dir: String): DataFrame = {
    val store = randStore(spark, dir)
    val probe = graft.h3.H3.fromParts(50, 9, Seq(0, 0, 0, 0, 0, 0, 0, 0, 0))
    store.queryCells(randStoreName, Seq(probe), 9)
      .select(col("h3index"), col("v"))
  }

  // ------------------------------------------------------------------ ts30

  /** Bucketed mirrors behind the SQL TVF (ts30): build mirrors of the two
    * ts12 rollups once, then run ts12's cross-tableset join from PURE SQL —
    * `graft_scan` serves the bucketed relations while they are fresh, so
    * the join plans with zero Exchange (plan pinned in MirrorTvfSpec); the
    * mirror layer must be result-invisible, hence ts12's oracle. The
    * mirrors build once per root ([[SessionCache]]): they write fixed
    * paths under it, so two concurrent builds must not both run. */
  def ts30SqlMirrorJoin(spark: SparkSession, dir: String): DataFrame = {
    val store = ts1Store(spark, dir)
    ts3Store(spark, dir)
    Graft.register(spark)
    SessionCache(spark, ("ts30mirrors", dir)) {
      store.buildMirror("gate_sum", 5, numBuckets = 8)
      store.buildMirror("gate_mixed", 5, numBuckets = 8)
    }
    spark.sql(
      s"""SELECT a.h3index AS parent5, round(a.qty, 2) AS sum_qty,
         |  round(b.q_avg, 4) AS avg_qty, b.cat
         |FROM graft_scan('${rootFor(spark, dir)}', 'gate_sum', 5) a
         |JOIN graft_scan('${rootFor(spark, dir)}', 'gate_mixed', 5) b
         |  ON a.h3index = b.h3index
         |ORDER BY parent5""".stripMargin)
  }

  // ---------------------------------------------------------------- oracles

  /** parent-at-res arithmetic shared with Queries: replace res field, fill
    * digits below. */
  private def parentSql(cell: String, fromRes: Int, toRes: Int): String = {
    val shift = 3 * (15 - toRes)
    s"((($cell - ($fromRes::BIGINT << 52)) + ($toRes::BIGINT << 52)) | ((1::BIGINT << $shift) - 1))"
  }

  private val synthCellSql: String = {
    // keep in sync with Queries.synthCell / its oracle
    val digits = (2 to 9).map { i =>
      s"(((l_partkey + $i*l_orderkey) % 7)::BIGINT << ${3 * (15 - i)})"
    }.mkString(" | ")
    "((1::BIGINT << 59) | (9::BIGINT << 52)" +
      " | (((l_orderkey * 7 + l_partkey) % 122)::BIGINT << 45)" +
      " | ((((l_partkey + l_orderkey) % 5) + 2)::BIGINT << 42)" +
      s" | $digits | 262143::BIGINT)"
  }

  // SummingMergeTree: per-batch full-row dedup (insert), then SUM the
  // declared sum columns per cell across batches (the engine collapse)
  private val summingOracleSql: String =
    s"""WITH a AS (SELECT DISTINCT $synthCellSql AS cell,
       |    (l_orderkey % 50)::BIGINT AS val, 1::BIGINT AS cnt
       |  FROM lineitem WHERE l_orderkey % 2 = 0),
       |b AS (SELECT DISTINCT $synthCellSql AS cell,
       |    (l_orderkey % 37)::BIGINT AS val, 1::BIGINT AS cnt
       |  FROM lineitem WHERE l_orderkey % 6 = 0),
       |allr AS (SELECT * FROM a UNION ALL SELECT * FROM b)
       |SELECT cell AS h3index, sum(val)::BIGINT AS val, sum(cnt)::BIGINT AS cnt
       |FROM allr GROUP BY cell ORDER BY h3index""".stripMargin

  // the engine dedups full rows before rollup -> DISTINCT first
  private val ts1OracleSql: String =
    s"""WITH cells AS (SELECT DISTINCT $synthCellSql AS cell, l_quantity AS qty FROM lineitem)
       |SELECT ${parentSql("cell", 9, 5)} AS parent5, round(sum(qty), 2) AS sum_qty
       |FROM cells GROUP BY 1 ORDER BY parent5""".stripMargin

  // keep-latest per cell: version decides, exact-version ties break on the
  // greater payload (synthCell collisions make ties real — the tiebreak is
  // part of the contract, not an accident)
  private val versionedOracleSql: String =
    s"""WITH a AS (SELECT DISTINCT $synthCellSql AS cell, 1::BIGINT AS version,
       |    (l_orderkey % 50)::BIGINT AS val FROM lineitem WHERE l_orderkey % 2 = 0),
       |b AS (SELECT DISTINCT $synthCellSql AS cell, 2::BIGINT AS version,
       |    (l_orderkey % 37)::BIGINT AS val FROM lineitem WHERE l_orderkey % 6 = 0),
       |allr AS (SELECT * FROM a UNION ALL SELECT * FROM b)
       |SELECT cell AS h3index, version, val FROM (
       |  SELECT cell, version, val, row_number() OVER (PARTITION BY cell
       |    ORDER BY version DESC, val DESC) AS rn FROM allr)
       |WHERE rn = 1 ORDER BY h3index""".stripMargin

  private val ts2OracleSql: String =
    s"""WITH base AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
       |  FROM lineitem WHERE l_orderkey % 20 = 0),
       |sibs AS (SELECT ((cell & ~(7::BIGINT << 18)) | (d::BIGINT << 18)) AS h3index, v
       |  FROM base, range(0, 7) t(d))
       |SELECT DISTINCT h3index, v FROM sibs ORDER BY h3index""".stripMargin

  // both rollups re-derived from first principles, joined on the cell
  // ts33/ts34: the z-order rewrite + manifest k2 pruning must be result-
  // invisible — the oracle is the naked relational range filter over the
  // within-batch-distinct insert
  private val ts33OracleSql: String =
    s"""WITH a AS (SELECT DISTINCT $synthCellSql AS cell,
       |    (l_orderkey % 1000) AS v FROM lineitem)
       |SELECT cell AS h3index, v FROM a
       |WHERE v BETWEEN 100 AND 199
       |ORDER BY h3index, v""".stripMargin

  private val ts12OracleSql: String =
    s"""WITH cells AS (SELECT DISTINCT $synthCellSql AS cell, l_quantity AS qty FROM lineitem),
       |sums AS (SELECT ${parentSql("cell", 9, 5)} AS p5, sum(qty) AS s
       |         FROM cells GROUP BY 1),
       |rows_ AS (SELECT DISTINCT $synthCellSql AS cell,
       |    l_quantity AS q, l_extendedprice AS a_, (l_partkey % 3) AS cat
       |  FROM lineitem),
       |mixed AS (SELECT ${parentSql("cell", 9, 5)} AS p5, avg(q) AS a,
       |    (CASE WHEN count(DISTINCT cat) = 1 THEN min(cat) END)::SMALLINT AS cat
       |  FROM rows_ GROUP BY 1)
       |SELECT sums.p5 AS parent5, round(s, 2) AS sum_qty,
       |  round(a, 4) AS avg_qty, cat
       |FROM sums JOIN mixed ON sums.p5 = mixed.p5
       |ORDER BY parent5""".stripMargin

  val oracles: Map[String, String] = Map(
    "ts1_rollup_query" -> ts1OracleSql,
    // ts15 re-derives ts1's rollup from the res-9 base via pure SQL
    // (graft_scan TVF + SQL h3_to_parent) — same first-principles oracle
    "ts15_sql_tvf" -> ts1OracleSql,
    // ts20 backfills res 5 AFTER the fact (addBaseResolution) — must equal
    // the declared-up-front rollup, i.e. ts1's oracle
    "ts20_backfill_resolution" -> ts1OracleSql,
    // ts23 rewrites the same data under a DIFFERENT partitioning layout —
    // results must be layout-invisible (ts1's oracle)
    "ts23_alter_partitioning" -> ts1OracleSql,
    // s8's downstream tableset is maintained FROM the CDC tail of gate_sum;
    // its rollup must equal the source's (ts1's oracle)
    "s8_derived_tableset" -> ts1OracleSql,
    "ts10_replace_optimize" -> versionedOracleSql,
    // the exact count of the probed rows + the rand(42) sample's bounds
    // check folded to a constant — see ts27RandTemplate's scaladoc for why
    // a PRNG gate pins invariants, not draws
    "ts27_rand_template" ->
      s"""WITH cells AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem)
         |SELECT count(*) AS n_rows, 1 AS sample_in_bounds
         |FROM cells WHERE ((cell >> 45) & 127) BETWEEN 40 AND 49""".stripMargin,
    // S6: empty result in the declared shape — 0 rows, exact dtypes
    "ts28_empty_probe" ->
      "SELECT cell AS h3index, v FROM (SELECT NULL::BIGINT AS cell, NULL::BIGINT AS v) WHERE false",
    // quarantine + repair loses nothing and invents nothing: the final
    // content equals the all-valid derivation (valid and repaired batches
    // are disjoint by the okey % 5 split, so batch-wise dedup = global)
    "ts29_quarantine_repair" ->
      s"""WITH all_rows AS (SELECT DISTINCT $synthCellSql AS cell, l_orderkey AS okey,
         |    l_partkey AS pkey, (l_orderkey % 50) AS v FROM lineitem)
         |SELECT cell AS h3index, okey, pkey, v FROM all_rows
         |ORDER BY h3index, okey, pkey""".stripMargin,
    // per-batch full-row dedup (insert), then each column's DECLARED
    // aggregation across batches — cross-batch duplicate rows (the m=15
    // overlap) legitimately count twice in the Sum, hence UNION ALL
    "ts32_catalog" ->
      ("SELECT TRUE AS db_exists, TRUE AS ts_exists, " +
        "FALSE AS missing_db_exists, FALSE AS missing_ts_exists"),
    "ts33_zorder_range" -> ts33OracleSql,
    // ts34 = ts33 through the graft_range SQL TVF — identical expected rows
    "ts34_sql_range" -> ts33OracleSql,
    "ts31_agg_optimize" ->
      s"""WITH a AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 70)::BIGINT AS lo,
         |    (l_orderkey % 90)::BIGINT AS hi, 1::BIGINT AS total,
         |    (l_partkey % 2)::BIGINT AS cat
         |  FROM lineitem WHERE l_orderkey % 3 = 0),
         |b AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 70)::BIGINT AS lo,
         |    (l_orderkey % 90)::BIGINT AS hi, 1::BIGINT AS total,
         |    (l_partkey % 2)::BIGINT AS cat
         |  FROM lineitem WHERE l_orderkey % 5 = 0),
         |allr AS (SELECT * FROM a UNION ALL SELECT * FROM b)
         |SELECT cell AS h3index, min(lo)::BIGINT AS lo, max(hi)::BIGINT AS hi,
         |  sum(total)::BIGINT AS total,
         |  (CASE WHEN count(DISTINCT cat) = 1 THEN min(cat) END)::BIGINT AS cat
         |FROM allr GROUP BY cell ORDER BY h3index""".stripMargin,
    "ts25_summing_optimize" -> summingOracleSql,
    // ts26 reads the SAME logical content through the read-time sum
    // collapse (no rewrite) — identical expected rows by construction
    "ts26_summing_final" -> summingOracleSql,
    // ts11 reads the SAME logical content through the read-time collapse
    // (no rewrite) — identical expected rows by construction
    "ts11_final_read" -> versionedOracleSql,
    // ts39 = ts11 through the graft_final TVF: identical oracle
    "ts39_sql_final" -> versionedOracleSql,
    // ts41 = ts40 from pure SQL (graft_traverse_df TVF, TABLE() AOI
    // subquery over graft_scan): same oracle as ts40/ts7
    "ts41_sql_traverse_df" ->
      s"""WITH cells AS (SELECT DISTINCT $synthCellSql AS cell, l_quantity AS qty FROM lineitem),
         |r5 AS (SELECT ${parentSql("cell", 9, 5)} AS p5, sum(qty) AS s
         |       FROM cells GROUP BY 1),
         |keep AS (SELECT p5 FROM r5
         |         WHERE ((p5 >> 45) & 127) BETWEEN 40 AND 49 AND s > 100)
         |SELECT ${parentSql("cell", 9, 5)} AS traversal_cell, cell AS h3index,
         |  round(qty, 2) AS qty
         |FROM cells JOIN keep ON ${parentSql("cell", 9, 5)} = keep.p5
         |ORDER BY h3index""".stripMargin,
    // ts40 = ts7 through the DataFrame-AOI path: same oracle
    "ts40_traverse_df" ->
      s"""WITH cells AS (SELECT DISTINCT $synthCellSql AS cell, l_quantity AS qty FROM lineitem),
         |r5 AS (SELECT ${parentSql("cell", 9, 5)} AS p5, sum(qty) AS s
         |       FROM cells GROUP BY 1),
         |keep AS (SELECT p5 FROM r5
         |         WHERE ((p5 >> 45) & 127) BETWEEN 40 AND 49 AND s > 100)
         |SELECT ${parentSql("cell", 9, 5)} AS traversal_cell, cell AS h3index,
         |  round(qty, 2) AS qty
         |FROM cells JOIN keep ON ${parentSql("cell", 9, 5)} = keep.p5
         |ORDER BY h3index""".stripMargin,
    // s6 ingests the same versioned rows through the STREAMING path and
    // reads via FINAL — a reader must not be able to tell
    "s6_versioned_stream" -> versionedOracleSql,
    // insert-time dedup ran with w still present (DISTINCT over the FULL
    // row); the later metadata-only drop projects w away at read, so
    // (h3index, v) pairs that differed only in w stay duplicated — the
    // oracle reproduces that order of operations
    "ts14_ddl_lifecycle" ->
      s"""SELECT cell AS h3index, v FROM (
         |  SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v,
         |    (l_orderkey % 31) AS w
         |  FROM lineitem WHERE l_orderkey % 5 = 0)
         |ORDER BY h3index, v""".stripMargin,
    // pre-evolution rows carry an explicit NULL for the added column
    "ts13_schema_evolution" ->
      s"""WITH a AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v,
         |    NULL::BIGINT AS w FROM lineitem WHERE l_orderkey % 4 = 0),
         |b AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v,
         |    (l_orderkey % 31)::BIGINT AS w FROM lineitem WHERE l_orderkey % 4 = 1)
         |SELECT cell AS h3index, v, w
         |FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
         |ORDER BY h3index, v, w""".stripMargin,
    // both rollups re-derived from first principles, joined on the cell
    "ts12_cross_tableset_join" -> ts12OracleSql,
    // ts17 runs the SAME join through hash-bucketed parquet mirrors — the
    // storage layer must be result-invisible, so the oracle is ts12's
    "ts17_bucketed_join" -> ts12OracleSql,
    // ts30 drives the SAME join from pure SQL through mirror-backed
    // graft_scan TVFs — plans change, results must not
    "ts30_sql_mirror_join" -> ts12OracleSql,
    // ts9 re-derives the schema from the physical layout after sidecar
    // loss; the stored data is untouched, so ts1's expected rows apply
    "ts9_recover_query" -> ts1OracleSql,
    // s5 ingests the ts1 dataset through the streaming path; a reader must
    // not be able to tell — identical expected rows
    "s5_stream_ingest" -> ts1OracleSql,
    // s15: streaming ingest with interleaved mutations. Per-chunk
    // within-batch-distinct rows; chunk 0 (the only one captured by the
    // batch-0 delete) loses v%11=3 AND v%7=0, chunks 1/2 lose v%7=0 only
    // (the per-batch delete's final issue runs after the last insert).
    // The mid-stream applyDeletes, snapshot vacuum, and res-5 partition
    // drop are all live-content-neutral for the res-9 read.
    // s17: s9's relational banding, with the takedown's capture semantics
    // replayed — the delete ran after batch 0 only, so it masks signature
    // rows of chunk-0 docs (doc_id%3=0) matching the predicate; chunks 1/2
    // arrived after the mutation and keep theirs. The verdict probes the
    // surviving rows: min LIVE doc_id per bucket vs every document's
    // buckets.
    "s17_stream_neardup_store" -> {
      val mh = (0 until 8).map(j => s"${PipelineQueries.mhSql(j)} AS mh$j").mkString(", ")
      val b0 = PipelineQueries.bandSql(Seq("mh0", "mh1", "mh2", "mh3"))
      val b1 = PipelineQueries.bandSql(Seq("mh4", "mh5", "mh6", "mh7"))
      s"""WITH c AS (SELECT doc_id, ${PipelineQueries.codesSql} AS codes FROM documents),
         |s AS (SELECT doc_id, $mh FROM c),
         |bands AS (SELECT doc_id, 0 AS band, $b0 AS bh FROM s
         |          UNION ALL SELECT doc_id, 1, $b1 FROM s),
         |live AS (SELECT * FROM bands
         |         WHERE bh IS NOT NULL
         |           AND NOT (doc_id % 3 = 0 AND doc_id % 17 = 5)),
         |mb AS (SELECT band, bh, min(doc_id) AS min_id FROM live GROUP BY 1, 2),
         |fl AS (SELECT b.doc_id,
         |    max(CASE WHEN mb.min_id < b.doc_id THEN 1 ELSE 0 END) AS f
         |  FROM bands b JOIN mb ON mb.band = b.band AND mb.bh = b.bh
         |  GROUP BY 1)
         |SELECT d.doc_id, coalesce(fl.f, 0) = 1 AS is_near_dup
         |FROM documents d LEFT JOIN fl USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },
    "s15_stream_delete_interleave" ->
      s"""WITH c0 AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 3 = 0),
         |c1 AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 3 = 1),
         |c2 AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 3 = 2),
         |live AS (
         |  SELECT cell, v FROM c0 WHERE v % 11 <> 3 AND v % 7 <> 0
         |  UNION ALL SELECT cell, v FROM c1 WHERE v % 7 <> 0
         |  UNION ALL SELECT cell, v FROM c2 WHERE v % 7 <> 0)
         |SELECT cell AS h3index, v FROM live ORDER BY h3index, v""".stripMargin,
    "ts2_compact_roundtrip" -> ts2OracleSql,
    // ts18 is ts2's round trip with driver-known probes THROUGH THE FILE
    // MANIFEST — the data-skipping layer must be result-invisible
    "ts18_manifest_query" -> ts2OracleSql,
    // ts16 = ts2's round trip restricted to the 1/97 modular probe subset,
    // driven through the pure-SQL graft_cells TVF
    "ts16_sql_cells" ->
      s"""WITH base AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 20 = 0),
         |sibs AS (SELECT ((cell & ~(7::BIGINT << 18)) | (d::BIGINT << 18)) AS h3index, v
         |  FROM base, range(0, 7) t(d)),
         |u AS (SELECT DISTINCT h3index, v FROM sibs)
         |SELECT h3index, v FROM u
         |WHERE (${parentSql("h3index", 9, 8)}) % 97 = 0
         |ORDER BY h3index""".stripMargin,
    // the engine dedups FULL rows before rollup -> DISTINCT tuples first;
    // every input cell is at res 9, so RelativeToCellArea is sum/7^4 with
    // no pre-scaling, and SetNullOnConflict is plain unanimity
    "ts3_mixed_rollup" ->
      s"""WITH rows_ AS (SELECT DISTINCT $synthCellSql AS cell,
         |    l_quantity AS q, l_extendedprice AS a, (l_partkey % 3) AS cat
         |  FROM lineitem)
         |SELECT ${parentSql("cell", 9, 5)} AS parent5,
         |  round(avg(q), 4) AS avg_qty,
         |  round(sum(a) / 2401.0, 4) AS area_price,
         |  (CASE WHEN count(DISTINCT cat) = 1 THEN min(cat) END)::SMALLINT AS cat
         |FROM rows_ GROUP BY 1 ORDER BY parent5""".stripMargin,
    // the finest base table stores the deduplicated RAW rows (aggregation
    // applies at parent resolutions only, matching the reference's base-table
    // semantics) -> the expected rows are the distinct (cell, qty) pairs
    "ts5_traversal" ->
      s"""WITH cells AS (SELECT DISTINCT $synthCellSql AS cell, l_quantity AS qty FROM lineitem)
         |SELECT ${parentSql("cell", 9, 5)} AS traversal_cell, cell AS h3index,
         |  round(qty, 2) AS qty
         |FROM cells WHERE ((cell >> 45) & 127) BETWEEN 10 AND 19
         |ORDER BY h3index""".stripMargin,
    // ts5's AOI restricted to the 1/13 subset, via the graft_traverse TVF
    "ts24_sql_traverse" ->
      s"""WITH cells AS (SELECT DISTINCT $synthCellSql AS cell, l_quantity AS qty FROM lineitem)
         |SELECT ${parentSql("cell", 9, 5)} AS traversal_cell, cell AS h3index,
         |  round(qty, 2) AS qty
         |FROM cells WHERE ((cell >> 45) & 127) BETWEEN 10 AND 19
         |  AND (${parentSql("cell", 9, 5)}) % 13 = 0
         |ORDER BY h3index""".stripMargin,
    "ts7_prefilter_traversal" ->
      s"""WITH cells AS (SELECT DISTINCT $synthCellSql AS cell, l_quantity AS qty FROM lineitem),
         |r5 AS (SELECT ${parentSql("cell", 9, 5)} AS p5, sum(qty) AS s
         |       FROM cells GROUP BY 1),
         |keep AS (SELECT p5 FROM r5
         |         WHERE ((p5 >> 45) & 127) BETWEEN 40 AND 49 AND s > 100)
         |SELECT ${parentSql("cell", 9, 5)} AS traversal_cell, cell AS h3index,
         |  round(qty, 2) AS qty
         |FROM cells JOIN keep ON ${parentSql("cell", 9, 5)} = keep.p5
         |ORDER BY h3index""".stripMargin,
    // as-of the first snapshot only batch a (within-batch distinct) exists
    "ts21_time_travel" ->
      s"""SELECT cell AS h3index, v FROM (
         |  SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 4 = 0)
         |ORDER BY h3index, v""".stripMargin,
    // ts35 = ts21 through the graft_asof TVF: identical oracle
    "ts35_sql_asof" ->
      s"""SELECT cell AS h3index, v FROM (
         |  SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 4 = 0)
         |ORDER BY h3index, v""".stripMargin,
    // ts36: as-of the VACUUMED cutoff = inserts 1+2, each distinct within
    // itself (insert-time dedup), cross-batch duplicates preserved
    "ts36_vacuum_snapshots" ->
      s"""SELECT cell AS h3index, v FROM (
         |  SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 4 = 0
         |  UNION ALL
         |  SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 3 = 0)
         |ORDER BY h3index, v""".stripMargin,
    // ts37: batch-4 rows minus the deleted v-range, plus batch-3 rows
    // UNMASKED (inserted after the delete — ClickHouse lightweight-delete
    // semantics: a mutation affects only rows that existed when it ran);
    // the merge-on-read and materialized phases share one derivation
    "ts37_lightweight_delete" ->
      s"""WITH kept AS (
         |  SELECT cell, v FROM (
         |    SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |    FROM lineitem WHERE l_orderkey % 4 = 0)
         |  WHERE NOT (v >= 25)
         |  UNION ALL
         |  SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 3 = 0)
         |SELECT phase, cell AS h3index, v
         |FROM (SELECT 'mor' AS phase, cell, v FROM kept
         |      UNION ALL
         |      SELECT 'mat' AS phase, cell, v FROM kept)
         |ORDER BY phase, h3index, v""".stripMargin,
    // compactFiles preserves rows exactly: each batch distinct WITHIN
    // itself (insert-time dedup), cross-batch duplicates kept (mod-4 rows
    // are a subset of mod-2 rows -> appear twice)
    "ts19_file_compaction" ->
      s"""WITH a AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 4 = 0),
         |b AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 2 = 0)
         |SELECT cell AS h3index, v
         |FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
         |ORDER BY h3index, v""".stripMargin,
    // a's rows (mod 4) are a subset of b's (mod 2) -> they appear twice in
    // storage; the scoped optimize distinct-s only the ph3 < 61 partitions
    "ts6_dedup_optimize" ->
      s"""WITH a AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 4 = 0),
         |b AS (SELECT DISTINCT $synthCellSql AS cell, (l_orderkey % 50) AS v
         |  FROM lineitem WHERE l_orderkey % 2 = 0),
         |allr AS (SELECT * FROM a UNION ALL SELECT * FROM b)
         |SELECT cell AS h3index, v FROM (
         |  SELECT DISTINCT cell, v FROM allr WHERE ((cell >> 45) & 127) < 61
         |  UNION ALL
         |  SELECT cell, v FROM allr WHERE ((cell >> 45) & 127) >= 61)
         |ORDER BY h3index, v""".stripMargin,
    "ts8_temporal_buckets" ->
      temporalBucketOracle(s"pt BETWEEN $Ts8PtLo AND $Ts8PtHi"),
    "ts4_stats" -> ts4StatsOracleSql,
    // ts22 reads the SAME stats through the graft_stats SQL TVF
    "ts22_sql_stats" -> ts4StatsOracleSql,
    // ts38: ts8's bucket arithmetic with the retention cutoff — every
    // surviving (pt >= cutoff) bucket, dropped buckets simply absent
    "ts38_drop_partition" -> temporalBucketOracle(s"pt >= $Ts38Cutoff")
  )

  /** ts8/ts38's shared oracle body — one synthetic-cell + bucket
    * derivation, parameterized only by the pt range predicate, so the two
    * gates can never silently diverge. */
  private lazy val temporalBucketOracle: String => String = {
    val synthOrderCellSql = {
      val digits = (2 to 9).map { i =>
        s"(((o_custkey + $i*o_orderkey) % 7)::BIGINT << ${3 * (15 - i)})"
      }.mkString(" | ")
      "((1::BIGINT << 59) | (9::BIGINT << 52)" +
        " | (((o_orderkey * 7 + o_custkey) % 12)::BIGINT << 45)" +
        " | ((((o_custkey + o_orderkey) % 5) + 2)::BIGINT << 42)" +
        s" | $digits | 262143::BIGINT)"
    }
    where =>
      s"""WITH rows_ AS (SELECT DISTINCT $synthOrderCellSql AS cell,
         |    o_orderdate AS d, o_totalprice AS v FROM orders),
         |b AS (SELECT ceil((year(d)*100 + 100.0*(month(d)-1)/12.0)/24)::BIGINT AS pt, v
         |  FROM rows_)
         |SELECT pt, count(*) AS n, round(min(v), 2) AS min_v, round(max(v), 2) AS max_v
         |FROM b WHERE $where
         |GROUP BY pt ORDER BY pt""".stripMargin
  }

  private lazy val ts4StatsOracleSql: String =
    s"""WITH rows_ AS (SELECT DISTINCT $synthCellSql AS cell,
       |    l_quantity AS q, l_extendedprice AS a, (l_partkey % 3) AS cat
       |  FROM lineitem),
       |r9 AS (SELECT count(*) AS n FROM rows_),
       |r5 AS (SELECT count(DISTINCT ${parentSql("cell", 9, 5)}) AS n FROM rows_)
       |SELECT 5 AS resolution, n AS num_cells_stored_at_resolution,
       |  0::BIGINT AS num_cells_stored_compacted, n AS num_cells FROM r5
       |UNION ALL
       |SELECT 9, n, 0::BIGINT, n FROM r9
       |ORDER BY resolution""".stripMargin

  // ------------------------------------------------------------------- s5

  /** s5 gate: the ts1 dataset ingested through an ACTUAL streaming query —
    * file source, `StreamOps.insertStream` (foreachBatch -> the full
    * insert/dedup/rollup/partitioned-write pipeline), Trigger.AvailableNow —
    * then read back rolled up at res 5. The result must hash-match the SAME
    * first-principles oracle as the batch ts1 path: streaming ingest and
    * batch ingest are required to be indistinguishable to a reader. */
  private def s5Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_stream")) {
      val raw = lineitem(spark, dir)
      val src = spark.readStream.schema(raw.schema).parquet(s"$dir/lineitem.*")
        .select(Queries.synthCell.as("h3index"), col("l_quantity").as("qty"))
      val ckpt = graft.util.TempDirs.create("graft_s5_ckpt_")
      val q = graft.streaming.StreamOps.insertStream(
        src, store, "gate_stream", ckpt, createSchema = Some(s5Schema),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
      // The stream==batch equivalence gated here holds for SINGLE-batch
      // ingest: CellStore.insert dedups full rows per batch, so a duplicate
      // row pair SPLIT ACROSS batches would survive into the Sum rollup
      // (the documented cure is the post-ingest optimize pass, covered by
      // ts6 and the insertStream spec). AvailableNow processes all files in
      // one batch unless maxFilesPerTrigger is set — assert that here so a
      // fixture-layout or option change fails loudly instead of silently
      // bending the gate's contract.
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"s5 gate expects single-batch ingest, saw $dataBatches data batches")
    }
    store
  }

  private def s5Schema = CompactedTableSchema.builder("gate_stream")
    .h3BaseResolutions(Seq(5, 9))
    .addAggregatedColumn("qty", T.Float64, Agg.Sum)
    .build()

  def s5StreamIngest(spark: SparkSession, dir: String): DataFrame =
    s5Store(spark, dir).scanForResolution("gate_stream", 5)
      .select(col("h3index").as("parent5"), round(col("qty"), 2).as("sum_qty"))
      .orderBy(col("parent5"))

  // ------------------------------------------------------------------- s15

  /** Streaming ingest with INTERLEAVED store mutations (s15): the rows
    * arrive as three single-file micro-batches (`maxFilesPerTrigger = 1`;
    * batch order pinned via strictly increasing file modification times —
    * the file source schedules oldest-first) and [[graft.streaming.StreamOps
    * .insertStream]]'s per-batch hook runs REAL maintenance between them:
    *
    *   - after batch 0 only: `deleteWhere("v % 11 = 3")` — captures ONLY
    *     chunk 0's files. Chunks 1/2 rows matching the predicate arrive
    *     AFTER the mutation and must survive (the ClickHouse lightweight-
    *     delete contract, ts37's semantics, through the streaming path);
    *   - after EVERY batch: `deleteWhere("v % 7 = 0")` — the last one runs
    *     after the last insert, so every such row is masked;
    *   - after batch 1: [[graft.store.CellStore.applyDeletes]] — mid-stream
    *     materialization; rewrites captured files while the source keeps
    *     feeding; live rows must be invariant.
    *
    * After termination: `vacuumSnapshots(keepLast = 2)` (retention must not
    * disturb the current state) and `dropPartitionsWhere(resolution = 5)` —
    * retiring the coarse rollup's partitions prunes their delete-marker
    * capture entries but must leave the res-9 masks (and rows) untouched.
    *
    * Oracle: per-chunk within-batch-distinct rows; chunk 0 loses
    * `v%11=3` and `v%7=0`, chunks 1/2 lose `v%7=0` only. */
  private def s15Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_stream_del")) {
      // Staging.stageChunks pins strictly increasing mtimes so batch i ==
      // chunk i (FileStreamSource schedules oldest-modification-first)
      val staging = graft.util.Staging.stageChunks(
        lineitem(spark, dir)
          .select(col("l_orderkey"),
            Queries.synthCell.as("h3index"),
            pmod(col("l_orderkey"), lit(50)).as("v")),
        "l_orderkey", 3, "s15", dropKey = true)
      val schema = CompactedTableSchema.builder("gate_stream_del")
        .h3BaseResolutions(Seq(5, 9))
        .useCompaction(false)
        .addAggregatedColumn("v", T.Int64, Agg.Max)
        .build()
      val src = spark.readStream
        .schema(spark.read.parquet(staging).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
      val ckpt = graft.util.TempDirs.create("graft_s15_ckpt_")
      val q = graft.streaming.StreamOps.insertStream(
        src, store, "gate_stream_del", ckpt, createSchema = Some(schema),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        onBatch = (st, nm, batchId) => {
          if (batchId == 0L) st.deleteWhere(nm, "v % 11 = 3")
          st.deleteWhere(nm, "v % 7 = 0")
          if (batchId == 1L) st.applyDeletes(nm)
        })
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 3,
        s"s15 gate expects 3 single-file micro-batches, saw $dataBatches")
      store.vacuumSnapshots("gate_stream_del", keepLast = 2)
      val dropped = store.dropPartitionsWhere("gate_stream_del",
        col("resolution") === 5)
      require(dropped > 0, "s15 gate expected to retire res-5 rollup partitions")
    }
    store
  }

  def s15StreamDeleteInterleave(spark: SparkSession, dir: String): DataFrame =
    s15Store(spark, dir).scanForResolution("gate_stream_del", 9)
      .select(col("h3index"), col("v"))
      .orderBy(col("h3index"), col("v"))

  // ------------------------------------------------------------------- s17

  /** Streaming near-dup against a MAINTAINED signature store (s17) — the
    * composition of s9 (streaming MinHash-LSH banding) and s15 (streaming
    * ingest with interleaved store mutations), the last uncomposed pair of
    * the streaming surface (VERDICT r7 #6). s9 keeps min-per-bucket in the
    * STREAMING state store; the production shape for a long-lived dedup
    * service is a PERSISTED signature table — takedowns are store deletes,
    * new corpora probe it as a plain bucket join, and the state survives
    * the streaming query. Here:
    *
    *   - documents arrive as three pinned-mtime micro-batches
    *     (doc_id % 3, s15's staging device); each batch's STATELESS
    *     projection computes t2's two LSH band hashes per row (the same
    *     codegen'd [[TextOps.lshBandHash]] as s9) and inserts
    *     (h3index = synthetic cell from (bh, band), band, bh, doc_id) rows
    *     into the `gate_sig` tableset through the full insert pipeline;
    *   - after batch 0 only: `deleteWhere("doc_id % 17 = 5")` — a takedown
    *     request. It captures ONLY batch 0's files, so signature rows of
    *     later-arriving docs matching the predicate survive (the
    *     lightweight-delete capture contract, s15/ts37 semantics);
    *   - after batch 1: `applyDeletes` — mid-stream materialization.
    *
    * The verdict query then probes the LIVE store: every document is
    * near-dup iff some surviving signature row in one of its buckets has a
    * smaller doc_id. The oracle re-derives bands relationally and replays
    * the capture semantics (chunk-0 rows with doc_id%17=5 masked, chunks
    * 1/2 keep theirs).
    *
    * Scale shape: signature maintenance is map-only per batch (no
    * streaming state at all — the STORE is the state, one slim row per
    * (doc, band)); the verdict is one groupBy(band, bh) over the store scan
    * plus one bucket equi-join, ids and 2 longs wide — never text, never
    * all-pairs. At 100 TB the store is partitioned by the synthetic cell's
    * base cell like any tableset, so bucket probes partition-prune. */
  private def s17Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_sig")) {
      val staging = graft.util.Staging.stageChunks(
        spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text")),
        "doc_id", 3, "s17")
      val schema = CompactedTableSchema.builder("gate_sig")
        .h3BaseResolutions(Seq(9))
        .useCompaction(false)
        .addSimpleColumn("band", T.Int64)
        .addSimpleColumn("bh", T.Int64)
        .addSimpleColumn("doc_id", T.Int64)
        .build()
      val src = spark.readStream
        .schema(spark.read.parquet(staging).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staging)
      // docs shorter than a shingle have NULL band hashes (s9 semantics:
      // they match nothing) — they carry no signature row, and a NULL
      // synthetic cell would rightly fail P5 validation at insert
      val sigs = s17BandsOf(src)
        .where(col("bh").isNotNull)
        .select(Queries.synthCellFrom(col("bh"), col("band")).as("h3index"),
          col("band"), col("bh"), col("doc_id"))
      val ckpt = graft.util.TempDirs.create("graft_s17_ckpt_")
      val q = graft.streaming.StreamOps.insertStream(
        sigs, store, "gate_sig", ckpt, createSchema = Some(schema),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        onBatch = (st, nm, batchId) => {
          if (batchId == 0L) st.deleteWhere(nm, "doc_id % 17 = 5")
          if (batchId == 1L) st.applyDeletes(nm)
        })
      q.awaitTermination()
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 3,
        s"s17 gate expects 3 single-file micro-batches, saw $dataBatches")
    }
    store
  }

  /** t2's two LSH band hashes per document row — the same per-row
    * codegen'd expression on the streaming projection and the batch
    * verdict probe (s9's device, shared here so both sides agree by
    * construction). */
  private def s17BandsOf(df: DataFrame): DataFrame =
    df.select(col("doc_id"), explode(array(
      struct(lit(0L).as("band"),
        graft.text.TextOps.lshBandHash(col("text"), 0).as("bh")),
      struct(lit(1L).as("band"),
        graft.text.TextOps.lshBandHash(col("text"), 1).as("bh")))).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))

  def s17StreamNearDupStore(spark: SparkSession, dir: String): DataFrame = {
    val store = s17Store(spark, dir)
    val live = store.scanForResolution("gate_sig", 9)
      .groupBy(col("band"), col("bh"))
      .agg(min(col("doc_id")).as("min_id"))
    val docsDf = spark.read.parquet(graft.util.Restage.tablePath(spark, dir, "documents"))
    val flags = s17BandsOf(docsDf).join(live, Seq("band", "bh"), "left")
      .groupBy(col("doc_id"))
      .agg(max((col("min_id") < col("doc_id")).cast("int")).as("f"))
    docsDf.select(col("doc_id")).join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("f") === 1, lit(false)).as("is_near_dup"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------ ts12

  /** Cross-tableset analytics: join the res-5 rollups of two independently
    * built tablesets on the cell key — the "overlay two datasets on the
    * same grid" op every H3 store user runs (the reference composes it in
    * client SQL over two compacted tables). Both sides are already
    * aggregated to the coarse resolution, so the join input is the rolled-
    * up cell count, not the base data; the oracle re-derives both rollups
    * relationally and joins them. */
  def ts12CrossTablesetJoin(spark: SparkSession, dir: String): DataFrame = {
    val sums = ts1Store(spark, dir).scanForResolution("gate_sum", 5)
      .select(col("h3index"), col("qty"))
    val mixed = ts3Store(spark, dir).scanForResolution("gate_mixed", 5)
      .select(col("h3index"), col("q_avg"), col("cat"))
    sums.join(mixed, "h3index")
      .select(col("h3index").as("parent5"),
        round(col("qty"), 2).as("sum_qty"),
        round(col("q_avg"), 4).as("avg_qty"),
        col("cat"))
      .orderBy(col("parent5"))
  }

  // ------------------------------------------------------------------ ts13

  /** Schema evolution through the oracle gate: insert, ALTER ADD COLUMN
    * (metadata-only — no rewrite, no backfill), insert again with the new
    * column, read everything back. Historical rows must surface NULL for
    * the added column; post-evolution rows carry their values. The oracle
    * re-derives both batches relationally with an explicit NULL column for
    * the pre-evolution rows. */
  private def ts13Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_evolve")) {
      val li = lineitem(spark, dir)
      store.insert("gate_evolve",
        li.where(pmod(col("l_orderkey"), lit(4)) === 0)
          .select(Queries.synthCell.as("h3index"),
            pmod(col("l_orderkey"), lit(50)).as("v")),
        createSchema = Some(CompactedTableSchema.builder("gate_evolve")
          .h3BaseResolutions(Seq(9))
          .useCompaction(false)
          .addSimpleColumn("v", T.Int64)
          .build()))
      store.addColumn("gate_evolve", "w",
        ColumnDef.Simple(T.Int64, nullable = true))
      store.insert("gate_evolve",
        li.where(pmod(col("l_orderkey"), lit(4)) === 1)
          .select(Queries.synthCell.as("h3index"),
            pmod(col("l_orderkey"), lit(50)).as("v"),
            pmod(col("l_orderkey"), lit(31)).as("w")))
    }
    store
  }

  def ts13SchemaEvolution(spark: SparkSession, dir: String): DataFrame =
    ts13Store(spark, dir).scanForResolution("gate_evolve", 9)
      .select(col("h3index"), col("v"), col("w"))
      .orderBy(col("h3index"), col("v"), col("w"))

  // ------------------------------------------------------------------ ts14

  /** DDL lifecycle through the oracle gate: insert two columns, DROP one
    * (metadata-only), RENAME the tableset (O(1) directory move), read under
    * the NEW name — the dropped column must be projected away for ALL rows
    * (including those physically carrying it), and the rename must lose
    * nothing. The oracle re-derives the surviving projection relationally. */
  private def ts14Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_renamed")) {
      // the build guard checks the POST-rename name but inserts under the
      // pre-rename one — drop any half-built leftover first so a failed
      // earlier attempt can't double-insert or re-drop on retry
      store.dropTableset("gate_ddl")
      val li = lineitem(spark, dir)
      store.insert("gate_ddl",
        li.where(pmod(col("l_orderkey"), lit(5)) === 0)
          .select(Queries.synthCell.as("h3index"),
            pmod(col("l_orderkey"), lit(50)).as("v"),
            pmod(col("l_orderkey"), lit(31)).as("w")),
        createSchema = Some(CompactedTableSchema.builder("gate_ddl")
          .h3BaseResolutions(Seq(9))
          .useCompaction(false)
          .addSimpleColumn("v", T.Int64)
          .addSimpleColumn("w", T.Int64)
          .build()))
      store.dropColumn("gate_ddl", "w")
      store.renameTableset("gate_ddl", "gate_renamed")
    }
    store
  }

  def ts14DdlLifecycle(spark: SparkSession, dir: String): DataFrame =
    ts14Store(spark, dir).scanForResolution("gate_renamed", 9)
      .select(col("h3index"), col("v"))
      .orderBy(col("h3index"), col("v"))

  // ------------------------------------------------------------------ ts15

  /** Pure-SQL store access (ts15): the `graft_scan` table-valued function +
    * SQL-registered `h3_to_parent` re-derive ts1's res-5 rollup FROM THE
    * RES-9 BASE TABLE with no DataFrame code at all — what a SQL-only
    * consumer (BI tool, notebook) runs. Same oracle as ts1: the engine's
    * insert-time rollup at res 5 and SQL's own parent aggregation of the
    * res-9 base must agree to the last bit. */
  def ts15SqlTvf(spark: SparkSession, dir: String): DataFrame = {
    ts1Store(spark, dir) // ensure gate_sum exists
    Graft.register(spark)
    spark.sql(
      s"""SELECT h3_to_parent(h3index, 5) AS parent5,
         |  round(sum(qty), 2) AS sum_qty
         |FROM graft_scan('${rootFor(spark, dir)}', 'gate_sum', 9)
         |GROUP BY 1 ORDER BY parent5""".stripMargin)
  }

  // ------------------------------------------------------------------ ts16

  /** §3.1 cell query from pure SQL (ts16): `graft_cells` with a literal
    * res-8 probe array (a deterministic 1/97 subset of ts2's parents) must
    * uncompact back exactly the input rows under those parents — ts2's
    * round-trip contract, driven through the SQL TVF surface with the
    * analysis-time probe planting (ph3 pruning + OR-of-ranges predicate)
    * of the Seq-probe API. */
  def ts16SqlCells(spark: SparkSession, dir: String): DataFrame = {
    ts2Store(spark, dir) // ensure gate_compact exists
    Graft.register(spark)
    // the driver-side probe Seq is cached per (session, dir) like the frame
    // itself: re-collecting it per execution re-derived an identical Seq
    val probes = SessionCache(spark, ("probes", "ts16", dir)) {
      ts2Parents(spark, dir)
        .where(pmod(col("p"), lit(97)) === 0)
        .orderBy(col("p")).collect().map(_.getLong(0)).toSeq
    }
    require(probes.nonEmpty, "ts16 probe subset is empty at this scale factor")
    spark.sql(
      s"""SELECT h3index, v
         |FROM graft_cells('${rootFor(spark, dir)}', 'gate_compact', 9,
         |  array(${probes.mkString("L, ")}L))
         |ORDER BY h3index""".stripMargin)
  }

  // ------------------------------------------------------------------ ts18

  /** File-manifest probe query (ts18): build the file-level min/max manifest
    * on ts2's compacted tableset, then run the SAME round trip with
    * driver-known probes — the manifest prunes the file list before Spark
    * plans a single task, and the result must still hash-match ts2's
    * first-principles oracle. */
  def ts18ManifestQuery(spark: SparkSession, dir: String): DataFrame = {
    val store = ts2Store(spark, dir)
    if (!store.hasManifest("gate_compact")) store.buildManifest("gate_compact")
    val probes = SessionCache(spark, ("probes", "ts18", dir)) {
      ts2Parents(spark, dir).collect().map(_.getLong(0)).toSeq
    }
    store.queryCells("gate_compact", probes, 9, doUncompact = true, template = None)
      .select(col("h3index"), col("v"))
      .orderBy(col("h3index"))
  }

  // ------------------------------------------------------------------ ts17

  /** Bucketed-mirror co-located join (ts17): persist the two res-5 rollups
    * of ts12 ONCE as hash-bucketed, per-bucket-sorted parquet mirrors, then
    * run the same cross-tableset join through [[graft.store.Bucketing]] —
    * the shuffle-free storage layout a 100 TB deployment uses when a
    * cell-keyed table is joined repeatedly. Same oracle as ts12: the mirror
    * layer must be result-indistinguishable from the direct join (the
    * no-Exchange/no-Sort plan shape itself is pinned by BucketingSpec). */
  private val mirrorTags = new java.util.concurrent.atomic.AtomicLong()

  def ts17BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // catalog table names are session-global — each build takes a fresh
    // tag, so mirrors of different sfDirs can never share a table name
    val tag = SessionCache(spark, ("ts17mirrors", dir)) {
      val t = mirrorTags.incrementAndGet()
      val sums = ts1Store(spark, dir).scanForResolution("gate_sum", 5)
        .select(col("h3index"), col("qty"))
      val mixed = ts3Store(spark, dir).scanForResolution("gate_mixed", 5)
        .select(col("h3index"), col("q_avg"), col("cat"))
      val root = rootFor(spark, dir)
      graft.store.Bucketing.writeMirror(spark, sums,
        s"gate_mirror_sums_$t", s"$root/mirror_sums", numBuckets = 8)
      graft.store.Bucketing.writeMirror(spark, mixed,
        s"gate_mirror_mixed_$t", s"$root/mirror_mixed", numBuckets = 8)
      t
    }
    graft.store.Bucketing.colocatedJoin(spark,
        s"gate_mirror_sums_$tag", s"gate_mirror_mixed_$tag")
      .select(col("h3index").as("parent5"),
        round(col("qty"), 2).as("sum_qty"),
        round(col("q_avg"), 4).as("avg_qty"),
        col("cat"))
      .orderBy(col("parent5"))
  }

  // ------------------------------------------------------------------ ts29

  /** Quarantine repair flow (ts29): ingest a batch where every 5th row
    * carries a GARBAGE h3index under InvalidPolicy.Quarantine — the valid
    * remainder inserts, the garbage dead-letters to rejects/ — then repair
    * the rejected rows (recompute the cell from their carried keys) and
    * reinsert them. The final read must equal the all-valid derivation:
    * the quarantine loop loses nothing and invents nothing. */
  private def ts29Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_quarantine")) {
      val li = lineitem(spark, dir)
      val base = li.select(
        Queries.synthCell.as("good_cell"),
        col("l_orderkey").as("okey"), col("l_partkey").as("pkey"),
        pmod(col("l_orderkey"), lit(50)).as("v"))
      // garbage = the raw orderkey (mode bits 0 -> h3_is_valid false)
      val poisoned = base.select(
        when(pmod(col("okey"), lit(5)) === 0, col("okey"))
          .otherwise(col("good_cell")).as("h3index"),
        col("okey"), col("pkey"), col("v"))
      store.insert("gate_quarantine", poisoned,
        createSchema = Some(CompactedTableSchema.builder("gate_quarantine")
          .h3BaseResolutions(Seq(9))
          .useCompaction(false)
          .addSimpleColumn("okey", T.Int64)
          .addSimpleColumn("pkey", T.Int64)
          .addAggregatedColumn("v", T.Int64, Agg.Max)
          .build()),
        invalidPolicy = CellStore.InvalidPolicy.Quarantine)
      // repair: the rejects carry the original keys -> recompute the cell
      val repaired = store.rejects("gate_quarantine")
        .select(Queries.synthCellFrom(col("okey"), col("pkey")).as("h3index"),
          col("okey"), col("pkey"), col("v"))
      store.insert("gate_quarantine", repaired)
    }
    store
  }

  def ts29QuarantineRepair(spark: SparkSession, dir: String): DataFrame =
    ts29Store(spark, dir).scanForResolution("gate_quarantine", 9)
      .select(col("h3index"), col("okey"), col("pkey"), col("v"))
      .orderBy(col("h3index"), col("okey"), col("pkey"))

  // ------------------------------------------------------------------- s8

  /** Derived tableset from the CDC tail (s8): subscribe to gate_sum's res-9
    * base rows with [[graft.streaming.StreamOps.tailTableset]] and feed
    * them through [[graft.streaming.StreamOps.insertStream]] into a SECOND
    * tableset — the incremental materialized-view pipeline (downstream
    * stores maintain themselves from upstream commits, no batch re-read).
    * The downstream res-5 rollup must equal the source's: ts1's oracle. */
  private def s8Store(spark: SparkSession, dir: String): CellStore = {
    val store = ts1Store(spark, dir)
    if (!store.listTablesets().contains("gate_downstream")) {
      val src = graft.streaming.StreamOps.tailTableset(store, "gate_sum", 9)
      val ckpt = graft.util.TempDirs.create("graft_s8_ckpt_")
      val q = graft.streaming.StreamOps.insertStream(
        src, store, "gate_downstream", ckpt,
        createSchema = Some(CompactedTableSchema.builder("gate_downstream")
          .h3BaseResolutions(Seq(5, 9))
          .addAggregatedColumn("qty", T.Float64, Agg.Sum)
          .build()),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
    }
    store
  }

  def s8DerivedTableset(spark: SparkSession, dir: String): DataFrame =
    s8Store(spark, dir).scanForResolution("gate_downstream", 5)
      .select(col("h3index").as("parent5"), round(col("qty"), 2).as("sum_qty"))
      .orderBy(col("parent5"))

  // ------------------------------------------------------------------- s6

  /** s6 gate: CDC-style VERSIONED ingest through the streaming path — both
    * version batches arrive in one streaming micro-batch (insert never
    * collapses versions, exactly like ClickHouse merges vs inserts), and
    * the read goes through scanForResolutionFinal. Stream ingest + FINAL
    * read must equal the batch replace oracle: the whole
    * stream-upsert-read pipeline is under one relational derivation. */
  private def s6Store(spark: SparkSession, dir: String): CellStore = {
    val store = CellStore(spark, rootFor(spark, dir))
    if (!store.listTablesets().contains("gate_vstream")) {
      val raw = lineitem(spark, dir)
      val versioned = spark.readStream.schema(raw.schema).parquet(s"$dir/lineitem.*")
        .select(explode(array(
          struct(Queries.synthCell.as("h3index"), lit(1L).as("version"),
            pmod(col("l_orderkey"), lit(50)).as("val"),
            (pmod(col("l_orderkey"), lit(2)) === 0).as("keep")),
          struct(Queries.synthCell.as("h3index"), lit(2L).as("version"),
            pmod(col("l_orderkey"), lit(37)).as("val"),
            (pmod(col("l_orderkey"), lit(6)) === 0).as("keep")))).as("r"))
        .where(col("r.keep"))
        .select(col("r.h3index"), col("r.version"), col("r.val"))
      val ckpt = graft.util.TempDirs.create("graft_s6_ckpt_")
      val q = graft.streaming.StreamOps.insertStream(
        versioned, store, "gate_vstream", ckpt,
        createSchema = Some(replaceSchema("gate_vstream")),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
    }
    store
  }

  def s6VersionedStreamIngest(spark: SparkSession, dir: String): DataFrame =
    s6Store(spark, dir).scanForResolutionFinal("gate_vstream", 9)
      .select(col("h3index"), col("version"), col("val"))
      .orderBy(col("h3index"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts1_rollup_query" -> ts1RollupQuery,
    "s6_versioned_stream" -> s6VersionedStreamIngest,
    "s5_stream_ingest" -> s5StreamIngest,
    "s15_stream_delete_interleave" -> s15StreamDeleteInterleave,
    "s17_stream_neardup_store" -> s17StreamNearDupStore,
    "ts2_compact_roundtrip" -> ts2CompactRoundtrip,
    "ts3_mixed_rollup" -> ts3MixedRollup,
    "ts4_stats" -> ts4Stats,
    "ts5_traversal" -> ts5Traversal,
    "ts6_dedup_optimize" -> ts6DedupOptimize,
    "ts7_prefilter_traversal" -> ts7PrefilterTraversal,
    "ts8_temporal_buckets" -> ts8TemporalBuckets,
    "ts9_recover_query" -> ts9RecoverQuery,
    "ts10_replace_optimize" -> ts10ReplaceOptimize,
    "ts11_final_read" -> ts11FinalRead,
    "ts12_cross_tableset_join" -> ts12CrossTablesetJoin,
    "ts13_schema_evolution" -> ts13SchemaEvolution,
    "ts14_ddl_lifecycle" -> ts14DdlLifecycle,
    "ts15_sql_tvf" -> ts15SqlTvf,
    "ts16_sql_cells" -> ts16SqlCells,
    "ts17_bucketed_join" -> ts17BucketedJoin,
    "ts18_manifest_query" -> ts18ManifestQuery,
    "ts19_file_compaction" -> ts19FileCompaction,
    "ts20_backfill_resolution" -> ts20BackfillResolution,
    "ts21_time_travel" -> ts21TimeTravel,
    "ts35_sql_asof" -> ts35SqlAsof,
    "ts36_vacuum_snapshots" -> ts36VacuumSnapshots,
    "ts37_lightweight_delete" -> ts37LightweightDelete,
    "ts38_drop_partition" -> ts38DropPartition,
    "ts39_sql_final" -> ts39SqlFinal,
    "ts40_traverse_df" -> ts40TraverseDf,
    "ts41_sql_traverse_df" -> ts41SqlTraverseDf,
    "ts22_sql_stats" -> ts22SqlStats,
    "ts23_alter_partitioning" -> ts23AlterPartitioning,
    "ts24_sql_traverse" -> ts24SqlTraverse,
    "ts25_summing_optimize" -> ts25SummingOptimize,
    "ts26_summing_final" -> ts26SummingFinal,
    "ts27_rand_template" -> ts27RandTemplate,
    "ts28_empty_probe" -> ts28EmptyProbe,
    "ts29_quarantine_repair" -> ts29QuarantineRepair,
    "ts30_sql_mirror_join" -> ts30SqlMirrorJoin,
    "ts31_agg_optimize" -> ts31AggOptimize,
    "ts32_catalog" -> ts32Catalog,
    "ts33_zorder_range" -> ts33ZorderRange,
    "ts34_sql_range" -> ts34SqlRange,
    "s8_derived_tableset" -> s8DerivedTableset
  )
}
