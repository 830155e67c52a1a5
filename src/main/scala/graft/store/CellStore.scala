package graft.store

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.h3.H3
import graft.h3.expr.functions._
import graft.insert.{Compaction, Rollup}
import graft.schema._

/**
 * Compacted-tableset store on a partitioned Parquet layout — the Spark-native
 * equivalent of the reference's `CompactedTablesStore`
 * (`clickhouse/compacted_tables/mod.rs`).
 *
 * Where the reference materializes one physical ClickHouse table per
 * (resolution x {base, compacted}) (`tableset.rs:37-104`), this store keeps
 * ONE partitioned dataset per tableset:
 *
 *   <root>/<name>/schema.json                  declared schema (JSON, §1.3)
 *   <root>/<name>/data/kind=.../resolution=.../ph3=.../[pt=.../]  parquet
 *
 * Partition columns:
 *  - `kind`: base | compacted  (the reference's table-name suffix)
 *  - `resolution`: the H3 resolution of every cell in the partition
 *  - `ph3`: h3-derived partition key (`schema/partitioning.rs:98-130`):
 *    BaseCell -> base cell number; LowerResolution(d) -> parent cell at
 *    max(resolution - d, 0)
 *  - `pt`: temporal bucket (`schema/partitioning.rs:63-94`) when the schema
 *    has temporal partitioning and a single temporal column, or the explicit
 *    partitionBy columns.
 *
 * At scale this layout gives Hive-style partition pruning on kind/resolution
 * (the D7 query predicate), spatial pruning on ph3, and temporal pruning on
 * pt — the same skip-index effects the reference gets from ClickHouse
 * PARTITION BY, but free in Catalyst. Temporary staging tables (D6) collapse
 * into Spark job lineage: data becomes visible only on successful write.
 */
class CellStore(spark: SparkSession, rootPath: String) {
  import CellStore._

  private def fs = new Path(rootPath).getFileSystem(spark.sessionState.newHadoopConf())
  private def tablesetPath(name: String) = new Path(rootPath, name)
  private def schemaPath(name: String) = new Path(tablesetPath(name), "schema.json")
  private def dataPath(name: String) = new Path(tablesetPath(name), "data")
  /** The tableset's data directory (for file-stream consumers — see
    * [[graft.streaming.StreamOps.tailTableset]]). */
  def dataDir(name: String): String = dataPath(name).toString
  private def rejectsPath(name: String) = new Path(tablesetPath(name), "rejects")

  /** Key of the tableset's [[FileState]] and commit lock: JVM-wide, so
    * every instance at this root shares them. */
  private def cacheKey(name: String): String = rootPath + "\u0000" + name

  /** The tableset's cached [[FileState]], loaded on first use. */
  private def fileState(name: String): FileState =
    FileState.get(cacheKey(name)) {
      val dels = {
        val p = deletesPath(name)
        if (!fs.exists(p)) Seq.empty
        else fs.listStatus(p).toSeq.map(_.getPath.getName)
          .filter(_.endsWith(".delete")).map(_.stripSuffix(".delete").toLong)
          .sorted.map(readDeleteMarker(name, _))
      }
      val manifest = Some(listParquet(manifestPath(name)))
        .filter(files => files.nonEmpty && hasManifest(name))
        .map(files => (files, parquetSchema(files.head)))
      new FileState(listParquet(dataPath(name)), dels, manifest)
    }

  /** Drop the cached [[FileState]] of `name` — required after out-of-band
    * writes (another JVM, manual file surgery). All same-JVM mutators call
    * it automatically, whichever instance they go through. */
  def invalidateFileCaches(name: String): Unit = FileState.invalidate(cacheKey(name))

  // ---------------------------------------------------------------- catalog

  /** D5: does the store's namespace (root directory) exist?
    * (reference `cellstore.rs:95-110` database_exists). */
  def databaseExists: Boolean = fs.exists(new Path(rootPath))

  /** D5: create the store's namespace (idempotent), the analogue of
    * CREATE DATABASE IF NOT EXISTS. */
  def createDatabase(): Unit = { fs.mkdirs(new Path(rootPath)); () }

  /** Rebuild a lost schema.json sidecar from the data layout — the recovery
    * analogue of the reference's catalog rediscovery (it re-derives tablesets
    * from a noisy catalog by name-regex + column intersection,
    * `tableset.rs:219-244`, `mod.rs:138-213`; here the physical partition
    * layout plays the catalog's role). Best-effort, like the reference's:
    *  - base resolutions come from the kind=base partition directories;
    *  - h3 partitioning is re-derived by comparing ph3 against the base
    *    cell / parent of a sampled h3index;
    *  - column types map back from the parquet footer (unsigned widths are
    *    not distinguishable from signed — recovered as the narrowest fit);
    *  - aggregation methods and the temporal bucket granularity are NOT
    *    physically recoverable (the reference loses them too); aggregated
    *    columns come back as Simple, and a present `pt` partition recovers
    *    as Months(1) so future writes stay layout-compatible.
    * Writes the recovered sidecar and returns the schema. Refuses to
    * clobber an intact sidecar unless `overwrite = true` — recovery is
    * lossy (aggregations come back as Simple), so silently replacing a
    * healthy schema would corrupt future rollups. */
  def recoverTableset(name: String, overwrite: Boolean = false): CompactedTableSchema = {
    val dp = dataPath(name)
    require(fs.exists(dp), s"tableset '$name' has no data directory to recover from")
    require(overwrite || !fs.exists(schemaPath(name)),
      s"tableset '$name' already has a schema.json; recovery is lossy — " +
        "pass overwrite = true to replace it anyway")
    // mergeSchema: files written before an addColumn lack the added column;
    // recovery must see the UNION of file schemas, not a random footer.
    // Known hazard of that union: a dropColumn'd column whose bytes still
    // sit in pre-drop files (the drop is metadata-only until a rewrite)
    // comes BACK — with its stale values — because nothing in the data
    // distinguishes "added later" from "dropped later". Run an optimize
    // (deduplicate/replace) after a drop if the column must not survive a
    // future recovery; recovery is documented lossy, this is part of it.
    val df = spark.read.option("mergeSchema", "true").parquet(dp.toString)
    val partCols = Set("kind", "resolution", "ph3") ++
      df.columns.filter(c => c == "pt" || c.startsWith("pt_"))
    val base = df.where(col("kind") === "base")
    val resolutions = base.select("resolution").distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    // sample the FINEST-resolution base row: LowerResolution(d) clamps ph3
    // to res 0 for rows with resolution < d, which would corrupt the
    // recovered delta; the max-res row is unclamped whenever any row is
    val sample = base.select(col(CompactedTableSchema.ColH3Index), col("ph3"))
      .orderBy(col("resolution").desc).head()
    val ph3 = sample.get(1) match { case n: Number => n.longValue() }
    val h3Part =
      if (ph3 == H3.getBaseCell(sample.getLong(0)).toLong) H3Partitioning.BaseCell
      else H3Partitioning.LowerResolution(
        H3.getResolution(sample.getLong(0)) - H3.getResolution(ph3))
    val b = CompactedTableSchema.builder(name)
      .h3BaseResolutions(resolutions)
      .h3Partitioning(h3Part)
    df.schema.fields
      .filter(f => !partCols.contains(f.name) && f.name != CompactedTableSchema.ColH3Index)
      .foreach { f =>
        val dt = GraftDataType.all.find(_.sparkType == f.dataType).getOrElse(
          throw new IllegalArgumentException(
            s"cannot recover a GraftDataType for column '${f.name}': ${f.dataType}"))
        b.addSimpleColumn(f.name, dt, nullable = f.nullable)
      }
    if (df.columns.contains("pt")) b.temporalPartitioning(TemporalPartitioning.Months(1))
    val schema = b.build()
    val p = schemaPath(name)
    val out = fs.create(p, true)
    try out.write(schema.toJson.getBytes("UTF-8")) finally out.close()
    invalidateFileCaches(name)
    schema
  }

  /** D1: create the tableset (idempotent). */
  def createTableset(schema: CompactedTableSchema): Unit = {
    val validated = schema.validated
    // through the hardened temp-write + atomic-rename path (writeSchema):
    // an in-place fs.create(overwrite) truncates first, so a writer killed
    // mid-write would leave a short schema.json that bricks every later
    // getTableset — the exact failure class the r6 hardening closed for
    // schema MUTATIONS; creation must not be the one unhardened site
    if (!fs.exists(schemaPath(validated.name))) writeSchema(validated.name, validated)
  }

  /** Schema evolution: add a column to an existing tableset (the
    * `ALTER TABLE ... ADD COLUMN` analogue). The column MUST be nullable —
    * historical files don't carry it, and every read resolves it to NULL
    * for pre-evolution rows (declared-schema reads, no file rewrite, no
    * backfill job: at 100 TB an ALTER must be a metadata operation).
    * Subsequent inserts conform to the widened schema; rollup aggregation
    * of the new column treats historical rows as absent (NULL-skipping
    * agg semantics), matching ClickHouse's added-column defaults. */
  def addColumn(name: String, colName: String, cdef: ColumnDef): Unit =
    // read-modify-write under the commit lock: two concurrent ALTERs would
    // otherwise both read the old schema and the loser's column silently
    // vanish (the locked writeSchema alone only prevents file loss)
    CellStore.commitLock(cacheKey(name)).synchronized {
      val schema = getTableset(name)
      require(!schema.columns.contains(colName),
        s"tableset '$name' already has a column '$colName'")
      require(cdef.nullable,
        s"added column '$colName' must be nullable: historical rows have no value for it")
      val widened = schema.copy(columns = schema.columns + (colName -> cdef)).validated
      writeSchema(name, widened)
    }

  /** Schema evolution: drop a column (`ALTER TABLE ... DROP COLUMN`
    * analogue). Metadata-only like [[addColumn]]: historical files keep
    * the bytes, but every read resolves through the DECLARED schema, so
    * the column is projected away at scan time; the next partition
    * rewrite ([[deduplicateWhere]]/[[replaceWhere]]) physically sheds it
    * from the partitions it touches. Structural columns cannot be
    * dropped: the h3index key, explicit partition columns, and the
    * engine's version column. */
  def dropColumn(name: String, colName: String): Unit =
      CellStore.commitLock(cacheKey(name)).synchronized {
    val schema = getTableset(name)
    require(schema.columns.contains(colName),
      s"tableset '$name' has no column '$colName'")
    require(schema.columns(colName) != ColumnDef.H3Index,
      "cannot drop the h3index column")
    require(!schema.partitionBy.contains(colName),
      s"cannot drop partition column '$colName'")
    require(!schema.versionColumn.contains(colName),
      s"cannot drop ReplacingMergeTree version column '$colName'")
    // ClickHouse refuses to drop key columns for the same reason: removing
    // an ORDER BY key column silently NARROWS the sort/replace key, so a
    // later replaceWhere/FINAL collapses rows that were distinct keys
    // (ADVICE r3)
    require(!schema.orderByKey.contains(colName),
      s"cannot drop ORDER BY key column '$colName' — dropping it would " +
        "narrow the sort key and collapse previously-distinct rows")
    val narrowed = schema.copy(columns = schema.columns - colName).validated
    // refuse dropping a column a pending lightweight delete still needs:
    // every read path resolves the stored predicate strings against the
    // declared schema, so the narrowed schema would make the tableset
    // unreadable AND un-materializable (applyDeletes reads masked too).
    // The probe frame must carry the PARTITION columns too (kind/resolution/
    // ph3/pt*): deleteWhere analyzes against readDeclaredRaw, which includes
    // them, so a pending delete on e.g. `resolution = 7` is perfectly legal —
    // probing the narrowed declared columns alone would make EVERY unrelated
    // dropColumn fail with a misleading "references it" error (ADVICE r5).
    // Built as a LEAF frame (createDataFrame of the narrowed struct), not
    // emptyDeclared(name).drop(colName): a Filter over a Project resolves
    // missing references THROUGH the Project (ResolveMissingReferences), so
    // the dropped column would still resolve and the guard would never fire
    val probeSchema = org.apache.spark.sql.types.StructType(
      emptyDeclared(name).schema.fields.filterNot(_.name == colName))
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], probeSchema)
    pendingDeletes(name).foreach { d =>
      val resolves =
        try { probe.where(expr(d.predicate)).queryExecution.analyzed; true }
        catch { case _: org.apache.spark.sql.AnalysisException => false }
      require(resolves,
        s"cannot drop column '$colName' of '$name': pending delete ${d.id} " +
          s"(${d.predicate}) references it — applyDeletes first")
    }
    writeSchema(name, narrowed)
  }

  /** Schema evolution WITH backfill: add a new (coarser) base resolution to
    * an existing tableset and materialize its rollup table from the stored
    * data — the "add a materialized view after the fact" op. Unlike
    * [[addColumn]]/[[dropColumn]] this is not metadata-only: one rollup
    * pass over the nearest finer base table (plus the compacted cells in
    * between, the same source window [[insert]] uses) derives the new
    * partitions; existing partitions are never touched.
    *
    * Parity contract: for a tableset whose stored base rows equal one
    * deduplicated batch (a single insert, or any history after
    * [[deduplicate]]), the backfilled table is exactly what inserting with
    * the resolution declared up front would have produced (pinned by the
    * ts20 gate against ts1's oracle). A multi-insert history carries one
    * rollup row PER INSERT per cell, which a single backfill pass cannot
    * reproduce — run [[deduplicate]] first for exact parity. */
  def addBaseResolution(name: String, newRes: Int): Unit = {
    val schema = getTableset(name)
    require(!schema.baseResolutions.contains(newRes),
      s"tableset '$name' already has base resolution $newRes")
    require(newRes >= 0 && newRes < schema.maxBaseResolution,
      s"backfill derives COARSER resolutions from the finest base: " +
        s"$newRes must be in [0, ${schema.maxBaseResolution})")
    val updated = schema.copy(
      baseResolutions = (schema.baseResolutions :+ newRes).distinct.sorted).validated
    val srcRes = schema.baseResolutions.filter(_ > newRes).min
    val cols = schema.columns.keys.map(col).toIndexedSeq
    val stored = readDeclared(name)
    val base = stored
      .where(col("kind") === "base" && col("resolution") === srcRes)
      .select(cols: _*)
    val interCompacted = stored
      .where(col("kind") === "compacted" &&
        col("resolution") > newRes && col("resolution") <= srcRes)
      .select(cols: _*)
    val target = Rollup.rollupStep(base.unionByName(interCompacted),
      updated, srcRes, newRes)
      .withColumn("resolution", lit(newRes))
      .withColumn("kind", lit("base"))
    // retry safety: a previous attempt that died mid-write left partial
    // kind=base/resolution=newRes files WITHOUT the schema update (it is
    // written last) — since the schema says newRes does not exist, any such
    // directory is garbage from a failed run; drop it so the retry cannot
    // double-append
    fs.delete(new Path(dataPath(name), s"kind=base/resolution=$newRes"), true)
    // same append-commit critical section as insert() (shared _temporary
    // staging + atomic listing diff)
    CellStore.commitLock(cacheKey(name)).synchronized {
      val preexisting =
        if (fs.exists(dataPath(name))) listDataFiles(name).toSet else Set.empty[String]
      writePartitioned(target, updated, name)
      invalidateFileCaches(name)
      recordSnapshot(name, preexisting) // the backfill is its own commit
      writeSchema(name, updated)
    }
  }

  /** Schema sidecar commit, temp + [[publishAtomic]] like every other
    * metadata commit: an in-place overwrite truncates first, so a writer
    * dying mid-write would leave a SHORT schema.json that bricks every
    * later [[getTableset]] — crash-consistent publish instead.
    *
    * The temp name is UNIQUE per write (UUID suffix, like the snapshot /
    * delete-marker paths) and the publish runs under the per-tableset
    * commit lock: with a FIXED temp name and no lock, two concurrent
    * schema writers raced — the loser's tmp was consumed by the winner's
    * rename, its first rename returned false, and the delete+rename
    * fallback then destroyed the just-published schema.json with no temp
    * left to promote, leaving the tableset with NO sidecar (ADVICE r6). */
  private def writeSchema(name: String, schema: CompactedTableSchema): Unit = {
    val tmp = new Path(tablesetPath(name),
      s".schema.json.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    CellStore.commitLock(cacheKey(name)).synchronized {
      val out = fs.create(tmp, true)
      try out.write(schema.toJson.getBytes("UTF-8")) finally out.close()
      publishAtomic(tmp, schemaPath(name), s"schema of '$name'")
    }
    invalidateFileCaches(name) // the cached read schema derives from it
  }

  /** Publish a fully-written temp file at `dst`, preferring the ATOMIC
    * overwriting rename: on POSIX-semantics filesystems (local FS, HDFS
    * rename into a free name) the single rename either fully replaces `dst`
    * or leaves the old content intact — no window where `dst` is missing.
    * Only when the FS refuses an occupied destination (HDFS-style
    * rename-no-clobber returns false) does it fall back to delete + rename;
    * that fallback window (crash after the delete loses `dst` until the
    * temp is manually promoted) is the FS's rename contract, not
    * recoverable client-side, and is documented in the store's
    * crash-consistency notes (README). */
  private def publishAtomic(tmp: Path, dst: Path, what: String): Unit = {
    if (fs.rename(tmp, dst)) return
    // the fallback destroys dst — NEVER take that step unless the temp
    // that will replace it still exists. A rename can return false because
    // the SOURCE vanished (another writer consumed it, FS hiccup); deleting
    // dst then would destroy good metadata right before the loud throw
    // (ADVICE r6)
    if (!fs.exists(tmp))
      throw new IllegalStateException(
        s"$what: publish rename failed and temp $tmp is gone — " +
          "refusing to delete the published copy")
    fs.delete(dst, false)
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(s"$what: publish rename failed")
  }

  /** `RENAME TABLE` analogue: one directory rename (schema name is kept in
    * sync in the sidecar). Like the reference's ClickHouse backend this is
    * a metadata move, not a data copy — O(1) regardless of data size. */
  def renameTableset(from: String, to: String): Unit = {
    val schema = getTableset(from)
    require(!fs.exists(tablesetPath(to)), s"tableset '$to' already exists")
    val renamed = schema.copy(name = to).validated
    writeSchema(from, renamed)
    // rollback is BEST-EFFORT: if the filesystem is down, the rollback
    // write fails too — suppress it so the ORIGINAL rename cause surfaces
    def rollback(cause: Throwable): Throwable = {
      try writeSchema(from, schema)
      catch { case rb: Exception => cause.addSuppressed(rb) }
      cause
    }
    val moved =
      try fs.rename(tablesetPath(from), tablesetPath(to))
      catch {
        case e: Exception =>
          throw rollback(new IllegalStateException(
            s"rename of tableset '$from' to '$to' failed", e))
      }
    if (!moved)
      throw rollback(new IllegalStateException(
        s"rename of tableset '$from' to '$to' failed"))
    // both names: the old key must not serve the moved listing, and a
    // previously-cached target (from a dropped namesake) must not resurface
    invalidateFileCaches(from)
    invalidateFileCaches(to)
  }

  /** D2: drop all data of the tableset; tolerates absence. */
  def dropTableset(name: String): Unit = {
    val p = tablesetPath(name)
    if (fs.exists(p)) { fs.delete(p, true); () }
    invalidateFileCaches(name)
  }

  /** D3: discover tablesets from storage (directories with a schema.json). */
  def listTablesets(): Map[String, CompactedTableSchema] = {
    val root = new Path(rootPath)
    if (!fs.exists(root)) return Map.empty
    fs.listStatus(root).iterator
      .filter(_.isDirectory)
      .flatMap { st =>
        val sp = new Path(st.getPath, "schema.json")
        if (fs.exists(sp)) {
          val in = fs.open(sp)
          val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
          Some(st.getPath.getName -> CompactedTableSchema.fromJson(json))
        } else None
      }
      .toMap
  }

  /** D4: get one tableset's schema, error if absent. Reconciles the sidecar
    * against the data dir's layout marker ([[alterPartitioning]]'s crash
    * window): the marker travels with the data through the publish renames,
    * so a sidecar that still declares the OLD h3Partitioning is healed here
    * instead of silently mispruning ph3 (ADVICE r3, medium). */
  def getTableset(name: String): CompactedTableSchema =
    reconcileLayout(name, listTablesets().getOrElse(name,
      throw new IllegalArgumentException(s"tableset '$name' does not exist under $rootPath")))

  private def layoutMarkerPath(name: String) = new Path(dataPath(name), "_layout.json")

  private def layoutTag(p: H3Partitioning): String = p match {
    case H3Partitioning.BaseCell => "basecell"
    case H3Partitioning.LowerResolution(d) => s"lower:$d"
  }

  private def parseLayoutTag(s: String): H3Partitioning = s.trim match {
    case "basecell" => H3Partitioning.BaseCell
    case t if t.startsWith("lower:") =>
      H3Partitioning.LowerResolution(t.stripPrefix("lower:").toInt)
    case other => throw new IllegalStateException(
      s"unrecognized h3-partitioning layout marker: '$other'")
  }

  /** If the data dir carries a layout marker that disagrees with the
    * sidecar's declared h3Partitioning, the sidecar is STALE (a crash
    * between [[alterPartitioning]]'s data publish and its schema write) —
    * trust the marker (it is atomic with the directory layout it describes)
    * and heal the sidecar. No marker (tableset never re-partitioned) is a
    * clean pass-through. */
  private def reconcileLayout(name: String,
      schema: CompactedTableSchema): CompactedTableSchema = {
    val mp = layoutMarkerPath(name)
    if (!fs.exists(mp)) return schema
    val in = fs.open(mp)
    val tag = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val actual = parseLayoutTag(tag)
    if (actual == schema.h3Partitioning) schema
    else {
      val healed = schema.copy(h3Partitioning = actual).validated
      writeSchema(name, healed)
      healed
    }
  }

  /** The h3index column wrapped in an inline validity assertion: invalid
    * cells fail the evaluating job (codegen'd, no extra scan). */
  private def validatedH3Column: org.apache.spark.sql.Column = {
    val h3Col = CompactedTableSchema.ColH3Index
    when(h3_is_valid(col(h3Col)), col(h3Col))
      .otherwise(raise_error(concat(
        lit("input contains an invalid h3index: "), col(h3Col).cast("string")))
        .cast("long"))
  }

  /** S3: read an arbitrary parquet path as a validated H3 DataFrame
    * (reference `execute_into_h3dataframe`, cellstore.rs:69-79): the
    * `h3index` column must exist with LONG type, and with `validate` every
    * cell is asserted valid inline as the data flows. NOTE the assert lives
    * in the column expression: a plan that prunes the h3index column away
    * (e.g. a bare count) never evaluates it — any query that actually READS
    * cells trips the check. */
  def readH3Parquet(path: String, validate: Boolean = true): DataFrame = {
    val h3Col = CompactedTableSchema.ColH3Index
    val df = spark.read.parquet(path)
    require(df.columns.contains(h3Col), s"dataframe is missing the '$h3Col' column")
    require(df.schema(h3Col).dataType == org.apache.spark.sql.types.LongType,
      s"'$h3Col' must be LONG, got ${df.schema(h3Col).dataType}")
    if (validate) df.withColumn(h3Col, validatedH3Column) else df
  }

  // ----------------------------------------------------------------- insert

  /** Full insert pipeline (§3.2): conform -> dedup -> compact (A6) -> split
    * by resolution (A8) -> rollup to coarser base resolutions (A1-A5) ->
    * single partitioned append. */
  def insert(name: String, input: DataFrame, createSchema: Option[CompactedTableSchema] = None,
      invalidPolicy: InvalidPolicy = InvalidPolicy.Fail): Unit = {
    createSchema.foreach(createTableset)
    val schema = getTableset(name)
    val h3Col = CompactedTableSchema.ColH3Index

    require(input.columns.contains(h3Col), s"input is missing the '$h3Col' column")
    // conform: project to declared columns, cast to declared Spark types.
    // A nullable column the writer doesn't supply (it was addColumn'd after
    // the writer was deployed) fills with typed NULL — the ALTER contract:
    // existing ingest jobs keep working, their rows read as NULL for the
    // new column. Missing NON-nullable columns still fail (below, in the
    // select) — there is no value to invent for those.
    // presence check mirrors Spark's resolution semantics: case-insensitive
    // unless spark.sql.caseSensitive — a writer supplying 'W' for declared
    // 'w' must keep being ingested, not silently NULL-filled
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    val inputCols = input.columns.toSet
    def supplied(n: String): Boolean =
      if (caseSensitive) inputCols.contains(n)
      else inputCols.exists(_.equalsIgnoreCase(n))
    val projected = input.select(schema.columns.toSeq.map { case (n, cdef) =>
      if (supplied(n)) col(n)
      else if (cdef.nullable) lit(null).cast(cdef.dataType.sparkType).as(n)
      else col(n) // unresolved -> AnalysisException naming the column
    }.toIndexedSeq: _*)
    val conformed0 = schema.columns.toSeq.foldLeft(projected) {
      case (df, (n, cdef)) => df.withColumn(n, col(n).cast(cdef.dataType.sparkType))
    }
    // P5/S3: reject invalid h3 indexes at the ingest boundary (the reference's
    // DataframeInvalidH3IndexType, utils.rs:9-20) — without this, garbage
    // longs get plausible partitions from h3_get_resolution and poison the
    // layout. Under Fail the inline raise_error keeps the check single-pass
    // and codegen'd (fires during the insert job, no separate validation
    // scan). Under Quarantine the invalid rows divert to rejects/ first —
    // one extra pushed-filter pass over the input, the price of not letting
    // a single garbage cell wedge a continuous ingest.
    val conformed = invalidPolicy match {
      case InvalidPolicy.Fail => conformed0.withColumn(h3Col, validatedH3Column)
      case InvalidPolicy.Quarantine =>
        // ONE materialization feeds both sides: a non-deterministic input
        // frame re-evaluated per job could otherwise route a row to both or
        // neither side (ADVICE r3). Retry caveat, documented: rejects/ is
        // append-only, so an insert that failed AFTER the rejects append and
        // was retried appends its invalid rows twice — dedupe on read if a
        // pipeline retries ([[rejects]] returns full rows; dropDuplicates
        // restores exactly-once).
        val mat = conformed0.localCheckpoint()
        val invalid = mat.where(!h3_is_valid(col(h3Col)))
        if (!invalid.isEmpty)
          invalid.write.mode(SaveMode.Append).parquet(rejectsPath(name).toString)
        mat.where(h3_is_valid(col(h3Col)))
    }

    if (conformed.isEmpty) return

    // full-row dedup: the exact-write strengthening of the reference's
    // ReplacingMergeTree + OPTIMIZE DEDUPLICATE semantics (SURVEY §7.5.4)
    val deduped = conformed.dropDuplicates()

    val compacted =
      (if (schema.compactionEnabled) Compaction.compact(deduped, h3Col) else deduped)
        .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val maxRes = schema.maxBaseResolution
      val maxFound = compacted.select(max(h3_get_resolution(col(h3Col)))).head()
      if (maxFound.isNullAt(0)) return
      if (maxFound.getInt(0) > maxRes)
        throw new IllegalArgumentException(
          s"dataframe contains higher resolution (${maxFound.getInt(0)}) than the tableset supports ($maxRes)")

      val withRes = compacted.withColumn("resolution", h3_get_resolution(col(h3Col)))

      // A8 + kind assignment: cells at max res -> base, coarser -> compacted
      // (reference `ResolutionMetadata::new(res, res != max)`, insert.rs:152-170)
      val kindified = withRes.withColumn("kind",
        when(col("resolution") === maxRes, lit("base")).otherwise(lit("compacted")))
      var frames = mutable.ListBuffer[DataFrame](kindified)

      // rollup over consecutive base-resolution windows fine->coarse;
      // sources per step: base data at srcRes + COMPACTED cells in
      // (tgtRes, srcRes] (`insert.rs:352-378`) — the kind filter matters:
      // at the first window the max-res rows are base, not compacted.
      val resDesc = schema.baseResolutions.sorted.reverse
      var sourceBase = withRes.where(col("resolution") === maxRes).drop("resolution")
      resDesc.sliding(2).filter(_.length == 2).foreach { case Seq(srcRes, tgtRes) =>
        val interCompacted = kindified
          .where(col("kind") === "compacted" &&
            col("resolution") > tgtRes && col("resolution") <= srcRes)
          .drop("resolution", "kind")
        val source = sourceBase.unionByName(interCompacted)
        val target = Rollup.rollupStep(source, schema, srcRes, tgtRes)
          .persist(StorageLevel.MEMORY_AND_DISK)
        frames += target
          .withColumn("resolution", lit(tgtRes))
          .withColumn("kind", lit("base"))
        sourceBase = target
      }

      val all = frames.reduce(_ unionByName _)
      // the commit critical section — serialized per (root, tableset) JVM-wide:
      // (a) Hadoop's FileOutputCommitter stages EVERY job under the same
      // <data>/_temporary/0 dir, so a concurrent writer's cleanupJob would
      // delete this writer's in-flight task files (lost rows, not just lost
      // metadata); (b) the before/after listing diff must not interleave with
      // another commit, or this snapshot would list the other writer's files
      // (phantom rows in earlier-id as-of reads). Cross-JVM writers: snapshot
      // id claims stay collision-safe (exclusive create), but concurrent data
      // commits to the SAME tableset from separate drivers share _temporary
      // and need an external coordinator — the documented multi-writer
      // contract (per-writer tablesets + cross-tableset union, or serialize).
      CellStore.commitLock(cacheKey(name)).synchronized {
        val preexisting =
          if (fs.exists(dataPath(name))) listDataFiles(name).toSet else Set.empty[String]
        writePartitioned(all, schema, name)
        invalidateFileCaches(name)
        recordSnapshot(name, preexisting)
      }
    } finally {
      compacted.unpersist()
    }
  }

  private def writePartitioned(framesWithKindRes: DataFrame,
      schema: CompactedTableSchema, name: String): Unit =
    writePartitionedTo(framesWithKindRes, schema, dataPath(name))

  private def writePartitionedTo(framesWithKindRes: DataFrame,
      schema: CompactedTableSchema, target: Path): Unit = {
    val h3Col = CompactedTableSchema.ColH3Index
    val withPh3 = framesWithKindRes.withColumn("ph3", schema.h3Partitioning match {
      case H3Partitioning.BaseCell => h3_get_base_cell(col(h3Col))
      case H3Partitioning.LowerResolution(d) =>
        h3_to_parent(col(h3Col), greatest(col("resolution") - d, lit(0)).cast("int"))
    })
    val (withParts, partCols) = partitionColumns(withPh3, schema)
    val allPartCols = "kind" +: "resolution" +: "ph3" +: partCols
    sortedForWrite(rangedForWrite(withParts, schema, allPartCols), schema, allPartCols).write
      .mode(SaveMode.Append)
      .option("compression", parquetCodec(schema))
      .partitionBy(allPartCols: _*)
      .parquet(target.toString)
  }

  /** The schema's declared codec applied at TABLE level (parquet has no
    * per-column codecs — the documented intentional loss, SURVEY §1.4).
    * The reference's default ZSTD(6) maps to parquet zstd (level is a
    * parquet-mr conf, not a write option — not plumbed); ClickHouse
    * specialty codecs (Delta/Gorilla/T64/DoubleDelta) have no parquet
    * equivalent and fall back to snappy. */
  private def parquetCodec(schema: CompactedTableSchema): String =
    schema.defaultCodec match {
      case ColumnCodec.ZSTD(_) => "zstd"
      case ColumnCodec.LZ4HC(_) => "lz4"
      case _ => "snappy"
    }

  /** `ALTER TABLE ... PARTITION BY` analogue: change the spatial
    * partitioning scheme (BaseCell <-> LowerResolution(d)) — the one layout
    * change dynamic partition overwrite cannot express, because the
    * DIRECTORY STRUCTURE itself changes. Full rewrite, staged then swapped:
    * the new layout is written completely to a staging dir (failure there
    * deletes the staging and leaves the live data untouched), then two
    * renames publish it. A crash between the renames leaves a
    * `data_old_*` dir to restore by hand — the narrow window is documented
    * rather than hidden; a transactional commit log is the lakehouse-grade
    * upgrade path. The staged data carries a `_layout.json` marker naming
    * its h3Partitioning, so schema and layout publish ATOMICALLY: a crash
    * after the publish renames but before the sidecar write is healed by
    * [[reconcileLayout]] on the next read instead of silently mispruning
    * (ADVICE r3, medium). Rewritten paths invalidate the manifest (dropped
    * here; rebuild at will) and snapshot history (fails loudly at
    * [[scanAsOf]]). */
  def alterPartitioning(name: String, newPartitioning: H3Partitioning): Unit =
      CellStore.commitLock(cacheKey(name)).synchronized {
    // serialized with deleteWhere/insert: the staged full rewrite reads
    // masked rows and replaces the whole data dir, then prunes every
    // marker — a marker committed mid-stage would be pruned unapplied
    val schema = getTableset(name)
    if (schema.h3Partitioning == newPartitioning) return
    val updated = schema.copy(h3Partitioning = newPartitioning).validated
    val keep = (schema.columns.keys.toSeq :+ "kind" :+ "resolution").map(col)
    val all = readDeclared(name).select(keep: _*)
    val staging = new Path(tablesetPath(name), s"data_stage_${System.nanoTime()}")
    try {
      writePartitionedTo(all, updated, staging)
      val mk = fs.create(new Path(staging, "_layout.json"), true)
      try mk.write(layoutTag(updated.h3Partitioning).getBytes("UTF-8")) finally mk.close()
    } catch { case t: Throwable => fs.delete(staging, true); throw t }
    val old = new Path(tablesetPath(name), s"data_old_${System.nanoTime()}")
    if (!fs.rename(dataPath(name), old))
      throw new IllegalStateException(s"alterPartitioning: cannot move live data of '$name'")
    if (!fs.rename(staging, dataPath(name))) {
      fs.rename(old, dataPath(name)) // restore; staging left for inspection
      throw new IllegalStateException(s"alterPartitioning: publish failed for '$name'")
    }
    fs.delete(old, true)
    fs.delete(manifestPath(name), true)
    writeSchema(name, updated)
    invalidateFileCaches(name)
    // the staged rewrite read masked rows and the whole data dir was
    // replaced — every pending delete is materialized, markers empty out
    pruneDeleteMarkers(name)
  }

  /** Range-repartition on (partition cols ++ ORDER BY key) before a
    * partitioned write. Without this, a `partitionBy` write fans every
    * upstream task across every Hive partition directory: N tasks x P dirs
    * small files (measured: one sf0.1 insert produced 15,614 files of ~8 KB —
    * every later scan pays one footer read per file, and the per-file h3index
    * min/max ranges overlap so page skipping never prunes). Range
    * partitioning keys each output task to a contiguous (partition, h3index)
    * slice: small directories land in one file, oversized directories split
    * across tasks at key boundaries (bounded file sizes — no single-task
    * hot partition at scale), and together with [[sortedForWrite]] the files
    * within a directory carry DISJOINT h3index ranges, which is what makes
    * min/max row-group skipping actually effective (SURVEY §4). Cost per
    * insert: one extra shuffle PLUS repartitionByRange's bounds-sampling
    * job, which re-executes the upstream plan — the insert pipeline persists
    * its compaction/rollup frames, so the sampling pass reads cached blocks;
    * deduplicateWhere checkpoints before ranging for the same reason.
    * Amortized against every subsequent read. */
  private def rangedForWrite(df: DataFrame, schema: CompactedTableSchema,
      partCols: Seq[String]): DataFrame = {
    val key = (partCols ++ schema.orderByKey).filter(df.columns.contains).distinct
    if (key.isEmpty) df
    else df.repartitionByRange(spark.sessionState.conf.numShufflePartitions, key.map(col): _*)
  }

  /** Apply the schema's ORDER BY key (h3index-first primary key,
    * `schema/mod.rs:169-199`) within each write task: rows land in parquet
    * sorted by h3index, so every row group's min/max statistics form disjoint
    * h3 ranges and probe joins / IN-list scans skip pages — the Spark-side
    * analogue of ClickHouse primary-key skipping (SURVEY §4).
    *
    * The sort key is (partition columns ++ order-by key): FileFormatWriter
    * requires its input ordered by the partition columns and would otherwise
    * inject its own partition-column-only (unstable) sort, destroying the
    * h3index order. Prefixing the partition columns satisfies that
    * requirement, so no extra sort is injected and the key order survives
    * into each file. Per-task sort — no shuffle added. */
  private def sortedForWrite(df: DataFrame, schema: CompactedTableSchema,
      partCols: Seq[String]): DataFrame = {
    val key = (partCols ++ schema.orderByKey).filter(df.columns.contains).distinct
    if (key.isEmpty) df else df.sortWithinPartitions(key.map(col): _*)
  }

  /** Temporal / explicit partition columns (`schema/mod.rs:244-282`). */
  private def partitionColumns(df: DataFrame,
      schema: CompactedTableSchema): (DataFrame, Seq[String]) = {
    def bucket(c: String): org.apache.spark.sql.Column = schema.temporalPartitioning match {
      case Some(TemporalPartitioning.Months(n)) =>
        // ceil((year*100 + 100*(month-1)/12)/n)  (`partitioning.rs:69-91`)
        ceil((year(col(c)) * 100 + lit(100.0) * (month(col(c)) - 1) / 12.0) / n).cast("long")
      case Some(TemporalPartitioning.Years(n)) =>
        (floor(year(col(c)) / n) * n).cast("long")
      case None => col(c)
    }
    if (schema.partitionBy.nonEmpty) {
      val cols = schema.partitionBy
      val out = cols.foldLeft(df) { (d, c) =>
        if (schema.columns(c).dataType.isTemporal) d.withColumn(s"pt_$c", bucket(c))
        else d.withColumn(s"pt_$c", col(c))
      }
      (out, cols.map(c => s"pt_$c"))
    } else (schema.temporalColumns, schema.temporalPartitioning) match {
      case (Seq(tc), Some(_)) => (df.withColumn("pt", bucket(tc)), Seq("pt"))
      case _ => (df, Nil)
    }
  }

  // ------------------------------------------------------------------ query

  /** Unified pruned scan for a query at `targetRes` — D7: all compacted
    * partitions at res <= target plus the base partition at target.
    * The filter lands on Hive partition columns -> partition pruning. */
  def scanForResolution(name: String, targetRes: Int): DataFrame =
    readDeclared(name).where(resolutionFilter(targetRes))

  /** D7 partition predicate: all compacted partitions at res <= target plus
    * the base partition at target — evaluated on Hive partition columns
    * (planning-time pruning) and re-derivable driver-side from a manifest
    * row's partition values. */
  private[graft] def resolutionFilter(targetRes: Int): org.apache.spark.sql.Column =
    (col("kind") === "compacted" && col("resolution") <= targetRes) ||
      (col("kind") === "base" && col("resolution") === targetRes)

  /** Data read under the DECLARED schema (partition columns are inferred
    * from the layout and appended): a column added by [[addColumn]] is
    * absent from historical files, and a footer-inferred read would pick a
    * random file's schema — declared reads resolve it to NULL everywhere
    * instead. */
  private def readDeclared(name: String): DataFrame = {
    val st = fileState(name)
    if (st.deletes.isEmpty) readDeclaredRaw(name)
    else readFilesMasked(name, st.dataFiles, st.deletes)
  }

  /** The declared-schema read WITHOUT the lightweight-delete mask —
    * validation probes and the masked reader's own schema prototype. A
    * tableset with ZERO live data files (possible once [[applyDeletes]] can
    * unlink a fully-masked store) still reads as an empty frame with the
    * partition columns a directory read would have inferred — downstream
    * resolution/kind/ph3 predicates must keep resolving. */
  private def readDeclaredRaw(name: String): DataFrame =
    readDataFiles(name, fileState(name).dataFiles)

  /** Data files of `name` under the declared schema, planned from the
    * cached [[FileState]] listing ([[FileState#read]]): a directory read
    * would re-walk the partition tree on every query, and an explicit
    * path list would re-stat every file — past
    * `parallelPartitionDiscovery.threshold` as a Spark listing job. */
  private def readDataFiles(name: String, files: Seq[FileStatus]): DataFrame =
    if (files.isEmpty) emptyDeclared(name)
    else {
      val st = fileState(name)
      st.read(spark, fs.makeQualified(dataPath(name)), st.dataFiles, files,
        st.readSchema(emptyDeclared(name).schema))
    }

  /** Empty frame in the shape a nonempty directory read infers: declared
    * columns, then kind (string) / resolution (int) / ph3 (int for BaseCell
    * dirs whose values are 0..121, long for LowerResolution's full h3
    * indexes) / pt buckets (int — directory inference types year/month
    * bucket values as integers, unlike the long the write path computes
    * with; driver code must see ONE shape for both empty and nonempty
    * stores). */
  private def emptyDeclared(name: String): DataFrame = {
    val schema = getTableset(name)
    val ph3Type = schema.h3Partitioning match {
      case H3Partitioning.BaseCell => "int"
      case H3Partitioning.LowerResolution(_) => "long"
    }
    val base = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema.toStructType)
      .withColumn("kind", lit(null).cast("string"))
      .withColumn("resolution", lit(null).cast("int"))
      .withColumn("ph3", lit(null).cast(ph3Type))
    val (withParts, partCols) = partitionColumns(base, schema)
    // align the temporal buckets with directory inference (int, not the
    // write path's long)
    partCols.foldLeft(withParts) { (df, c) =>
      val src = if (c == "pt") None else Some(c.stripPrefix("pt_"))
      val temporal = src.forall(s => schema.columns.get(s).exists(_.dataType.isTemporal))
      if (temporal) df.withColumn(c, col(c).cast("int")) else df
    }
  }

  /** §3.1 `query_tableset_cells`: fetch the data of the given cells (any
    * resolutions) at `targetRes`.
    *
    * @param cells       requested cells; converted per physical resolution
    *                    (P3: to_parent for coarser, children for finer)
    * @param doUncompact expand compacted coarse cells to exactly the
    *                    requested target-res cells (A7)
    * @param template    optional SQL template (P4) with placeholders
    *                    `<[table]>` (mandatory) and `<[h3indexes]>`
    */
  def queryCells(name: String, cells: Seq[Long], targetRes: Int,
      doUncompact: Boolean = true, template: Option[String] = None): DataFrame = {
    import spark.implicits._
    // a Seq probe set is small by construction -> force the broadcast hint;
    // probe resolutions, base cells AND index ranges are known driver-side,
    // so the scan is ph3-partition-pruned and h3index-range-restricted with
    // no discovery job
    queryCellsImpl(name, cells.toDF("qcell"), targetRes, doUncompact, template,
      broadcastProbes = true, knownCells = Some(cells))
  }

  /** DataFrame-probe overload of [[queryCells]]: no user-side `.collect()` —
    * cell sets produced by another query (polyfill output, a traversal
    * batch, a join result) flow straight into the semi-join. NOTE the join
    * strategy is left to Catalyst/AQE here rather than hinted: a broadcast
    * still materializes the probe set through the driver, so forcing it
    * would defeat the point of this overload for large probe sets; small
    * probe frames still end up broadcast by AQE's size estimate. `cells`
    * must have exactly one LONG column. */
  def queryCells(name: String, cells: DataFrame, targetRes: Int,
      doUncompact: Boolean, template: Option[String]): DataFrame =
    queryCellsImpl(name, cells, targetRes, doUncompact, template, broadcastProbes = false)

  /** DataFrame-probe path for callers that KNOW every probe's resolution
    * (the traversal overloads: traversal cells are derived at one fixed
    * resolution) — skips the probe-resolution discovery job the generic
    * overload runs over the probe frame. */
  private[graft] def queryCellsFrame(name: String, cells: DataFrame, targetRes: Int,
      doUncompact: Boolean, template: Option[String],
      probeRes: Seq[Int]): DataFrame =
    queryCellsImpl(name, cells, targetRes, doUncompact, template,
      broadcastProbes = false, knownRes = Some(probeRes))

  /** Driver-known probes -> an OR-of-ranges predicate on the RAW h3index
    * column: for each physical resolution r, every stored row matching some
    * probe lies (numerically) inside that resolution's probe envelope
    * [min, max] — ancestors are exact parent values, descendants fall in
    * [[H3.descendantRange]]. A row at res r sits in envelope_r, so the OR
    * over all physical resolutions covers every possible match; non-matches
    * that slip through die in the semi-join. Because the predicate
    * references ONLY the data column (no resolution/kind conjuncts), Spark
    * pushes the whole disjunction into the parquet scan (`PushedFilters`),
    * where row groups whose min/max h3index stats intersect no envelope are
    * skipped — this is what turns the write-side h3index ordering
    * (sortedForWrite/rangedForWrite) into actual IO skipping, the
    * ClickHouse primary-key-skip analogue realized. (A formulation with
    * per-resolution conjuncts would mix partition and data columns inside
    * an OR, which neither partition-prunes nor pushes.)
    *
    * Envelopes are computed PER BASE CELL: the base cell lives in the high
    * bits of the index, so one global [min, max] over probes spanning
    * distant base cells covers most of the keyspace and skips nothing —
    * grouping keeps each range inside one base cell's keyspan. The
    * disjunct count is |physRes| x |probe base cells|, capped at 256
    * leaves (beyond that, fall back to per-resolution global envelopes:
    * a probe set spanning 30+ base cells is an area scan, where ph3
    * partition pruning is the effective mechanism anyway). */
  private def probeRangeFilter(cells: Seq[Long],
      physRes: Seq[Int]): org.apache.spark.sql.Column = {
    val h3Col = CompactedTableSchema.ColH3Index
    probeEnvelopes(cells, physRes)
      .map { case (lo, hi) => col(h3Col).between(lo, hi) }
      .reduce(_ || _)
  }

  /** The [min, max] h3index envelopes (one per (physical resolution, probe
    * base-cell group)) that bound every stored row matching some probe —
    * shared by the pushed row-group filter ([[probeRangeFilter]]) and the
    * manifest's file-level pruning, so both prune from the SAME bounds. */
  private def probeEnvelopes(cells: Seq[Long],
      physRes: Seq[Int]): Seq[(Long, Long)] = {
    val groups: Seq[Seq[Long]] = {
      val byBc = cells.groupBy(H3.getBaseCell).values.toSeq
      if (byBc.size * physRes.size <= 256) byBc else Seq(cells)
    }
    physRes.flatMap { r =>
      groups.map { g =>
        val bounds = g.map { c =>
          if (H3.getResolution(c) >= r) { val v = H3.toParentUnsafe(c, r); (v, v) }
          else H3.descendantRange(c, r)
        }
        (bounds.map(_._1).min, bounds.map(_._2).max)
      }
    }
  }

  private def queryCellsImpl(name: String, cells: DataFrame, targetRes: Int,
      doUncompact: Boolean, template: Option[String],
      broadcastProbes: Boolean,
      knownCells: Option[Seq[Long]] = None,
      knownRes: Option[Seq[Int]] = None): DataFrame = {
    val schema = getTableset(name)
    require(targetRes <= schema.maxBaseResolution,
      s"query resolution $targetRes exceeds tableset max ${schema.maxBaseResolution}")
    require(cells.columns.length == 1,
      s"probe DataFrame must have exactly one column, got ${cells.columns.mkString(", ")}")
    val h3Col = CompactedTableSchema.ColH3Index
    val cellsDf = cells.toDF("qcell")
    val knownProbeRes = knownRes.map(_.distinct.sorted)
      .orElse(knownCells.map(_.map(H3.getResolution).distinct.sorted))
    val knownBaseCells = knownCells.map(_.map(H3.getBaseCell(_).toLong).distinct)

    val physRes = (0 to targetRes).toSeq
    // Spatial partition pruning: every stored cell matching a probe (ancestor
    // OR descendant) shares the probe's base cell, so a driver-known probe
    // set prunes `ph3` directories before any IO. With BaseCell partitioning
    // ph3 IS the base cell; with LowerResolution ph3 is an H3 index whose
    // base cell is extractable — both are partition-value predicates, so
    // pruning happens at planning, not per row. Driver-known probes
    // additionally push [[probeRangeFilter]]'s h3index range disjunction to
    // the parquet scan (row-group skipping) — except under a template,
    // whose `<[table]>` placeholder must expose the unrestricted pruned
    // scan (the reference splices the physical table; exotic templates may
    // look beyond the probe set's own rows).
    val scan = {
      val base = knownBaseCells match {
        case Some(bcs) if bcs.nonEmpty =>
          val pruned = schema.h3Partitioning match {
            case H3Partitioning.BaseCell =>
              col("ph3").isin(bcs: _*)
            case H3Partitioning.LowerResolution(_) =>
              h3_get_base_cell(col("ph3")).cast("long").isin(bcs: _*)
          }
          // file-level manifest pruning (never under a template — file
          // envelopes are a row-range restriction in disguise, and the
          // template contract exposes the UNRESTRICTED pruned scan); all
          // row-level filters still apply on top, so manifest staleness can
          // only cost IO, never rows
          val fileSel =
            if (template.isEmpty) selectFilesForProbes(name, targetRes, knownCells.get)
            else None
          fileSel match {
            case Some(sel) =>
              manifestScan(name, sel).where(resolutionFilter(targetRes)).where(pruned)
            case None => scanForResolution(name, targetRes).where(pruned)
          }
        case _ => scanForResolution(name, targetRes)
      }
      (knownCells, template) match {
        case (Some(cs), None) if cs.nonEmpty =>
          base.where(probeRangeFilter(cs, physRes))
        case _ => base
      }
    }

    // P3 probe normalization, two shapes:
    //  - KEY-JOIN (default): probes emit at most |physRes| (res, key) rows
    //    each — parents only, never children — and stored rows FINER than
    //    the probe resolution compute the matching key via h3_to_parent on
    //    the scan side. Same ancestor-or-descendant predicate as the
    //    expanded set (parent-at-min-resolution equality), but the probe
    //    side stays ~16 rows/probe where the expansion is 7^(targetRes -
    //    probeRes): a 20k-cell res-5 AOI queried at res 9 is 200k key rows
    //    vs 56M expanded cells (measured 25s -> ~3s of the sf0.1 bench).
    //  - EXPANDED (template + mixed-res fallback): every probe converted to
    //    every physical resolution; exact for any probe mix, and the shape
    //    templates splice as `cell IN (...)`. One combined set is exact
    //    because an H3 index encodes its resolution.
    // NOT persisted: the expansion is consumed once per execution, and a
    // per-query persist with no owner to unpersist it accrues executor
    // storage forever (the traverseIterator leak, round 1 advice, in a new
    // coat). The expansion itself is cheap codegen'd arithmetic; a probe
    // frame that is expensive to COMPUTE is the caller's checkpoint
    // responsibility (as ts2's localCheckpoint does).
    lazy val expandedProbes = changeResolutions(cellsDf, "qcell", physRes)
    val probeResSet: Seq[Int] = knownProbeRes.getOrElse(cellsDf
      .select(h3_get_resolution(col("qcell")).as("p")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted)

    val filtered = template match {
      case Some(t) =>
        applyTemplate(t, scan, expandedProbes)
      case None if probeResSet.lengthCompare(1) == 0 =>
        // J1 as a key equi-join; broadcast hinted for driver-provided Seq
        // probes (now always small — keys, not expansions), AQE-decided
        // for DataFrame probes
        val p = probeResSet.head
        // dedup BEFORE the size gate (round-12 ADVICE): a duplicate-heavy
        // probe Seq that collapses under the gate takes the plan-time path
        val probeKeys = knownCells.map(_.distinct) match {
          case Some(cs) if cs.nonEmpty && cs.length * physRes.length <= 8192 =>
            // driver-known SMALL probe sets: the (res, key) rows are a pure
            // function of the probe Seq, so build them AT PLAN TIME as a
            // local relation — the distributed explode + distinct + its
            // exchange cost one extra Spark job per probe query for keys
            // the driver already holds. H3ExprUtil.toParentTotal IS the
            // h3_to_parent expression's eval, so the keys are bit-identical
            // to the Column form this replaces. Size-gated (measured): a
            // 30k-row local relation costs more in per-pass plan
            // serialization than the job it saves (ts18 2.3 -> 2.7 s),
            // while small sets win (ts5 1.5 -> 1.1 s) — past the gate the
            // distributed form below stays the right shape.
            import spark.implicits._
            physRes.flatMap { r =>
              cs.map(c =>
                (r, if (r < p) graft.h3.expr.H3ExprUtil.toParentTotal(c, r) else c))
            }.distinct.toDF("_pr", "_pk")
          case _ =>
            val keys = physRes.map { r =>
              struct(lit(r).as("_pr"),
                (if (r < p) h3_to_parent(col("qcell"), lit(r)) else col("qcell")).as("_pk"))
            }
            cellsDf.select(explode(array(keys: _*)).as("_x"))
              .select(col("_x._pr").as("_pr"), col("_x._pk").as("_pk")).distinct()
        }
        val probeSide = if (broadcastProbes) broadcast(probeKeys) else probeKeys
        val sres = h3_get_resolution(col(h3Col))
        val skey = when(sres >= p, h3_to_parent(col(h3Col), lit(p))).otherwise(col(h3Col))
        scan.join(probeSide, sres === col("_pr") && skey === col("_pk"), "left_semi")
      case None =>
        // mixed-resolution probe sets (rare): exact expanded-set fallback —
        // per-row keys would need one join per probe resolution plus a
        // result dedup, which only pays off for single-res sets
        val probeSide = if (broadcastProbes) broadcast(expandedProbes) else expandedProbes
        scan.join(probeSide, scan(h3Col) === expandedProbes("cell"), "left_semi")
    }

    // P1 auto-projection applies to the engine's own cell-row shape; a
    // TEMPLATE's output is whatever its SQL selects (reference select.rs —
    // the template owns the projection), so only the internal partition
    // columns are stripped from it (a `SELECT *` template would leak
    // kind/resolution/ph3 otherwise)
    val projected = template match {
      case Some(_) =>
        val internal = Set("kind", "resolution", "ph3", "pt")
        val keep = filtered.columns.filterNot(c =>
          internal.contains(c) || c.startsWith("pt_"))
        filtered.select(keep.map(col).toIndexedSeq: _*)
      case None => filtered.select(schema.columns.keys.map(col).toIndexedSeq: _*)
    }
    // a template that aggregated away the h3index column has no cells left
    // to uncompact — pass its result through untouched
    if (!doUncompact || !projected.columns.contains(h3Col)) projected
    else if (!hasCompactedBelow(name, targetRes)) projected
    else if (template.isEmpty && probeResSet.lengthCompare(1) == 0) {
      // A7, ONE-pass form (round 12): the uncompaction inner join applies
      // EXACTLY the semi-join's (res, parent-key) predicate, and with the
      // key set extended to targetRes inclusive, rows already AT the target
      // resolution ride the same join (equal-res children-explosion is the
      // row itself). The previous fine/coarse union scanned the store TWICE
      // and built the probe relation once per branch (plan-audited: 2 scans
      // + 3 probe builds -> 1 + 1); results are identical — same predicate,
      // same expansion, re-verified against the DuckDB oracles at
      // sf0.001/0.01 (guide §1.2/§2.4).
      val rows = scan.select(schema.columns.keys.map(col).toIndexedSeq: _*)
      Compaction.uncompactCoarseToProbes(rows, targetRes, cellsDf, h3Col,
        knownProbeRes = Some(probeResSet), includeTargetRes = true,
        driverCells = knownCells, broadcastProbes = broadcastProbes)
    } else {
      // A7, template / mixed-resolution form: rows already AT targetRes pass
      // through untouched (the semi-join / template proved probe coverage);
      // only COARSER (compacted) rows take the uncompaction join, sized by
      // its actual output
      val fine = projected.where(h3_get_resolution(col(h3Col)) === targetRes)
      val coarse = projected.where(h3_get_resolution(col(h3Col)) < targetRes)
      fine.unionByName(
        Compaction.uncompactCoarseToProbes(coarse, targetRes, cellsDf, h3Col,
          knownProbeRes = knownProbeRes, broadcastProbes = broadcastProbes))
    }
  }

  /** True iff the tableset stores ANY compacted partition strictly below
    * `targetRes` — the only rows a doUncompact query could see coarser
    * than the target (scanForResolution returns base rows at exactly
    * targetRes plus compacted rows at res <= targetRes; a compacted row AT
    * targetRes needs no expansion). Driver-side partition metadata (the
    * cached [[FileState]] listing's Hive segments), so compaction-free tablesets —
    * the Sum engine disables compaction entirely — skip the fine/coarse
    * split and the uncompaction join in EVERY cell query's plan. Same
    * plan-time file-set semantics as the directory scan itself (a file
    * index is fixed when the frame is built; mutations invalidate the
    * [[FileState]] for frames built after them). */
  private def hasCompactedBelow(name: String, targetRes: Int): Boolean =
    fileState(name).dataPaths.exists { p =>
      // segment-wise parse, not a raw substring match: if the listing ever
      // yields a differently-normalized layout, a silent non-match here
      // would skip uncompaction and return coarse rows (wrong results with
      // no error) — so a compacted segment whose resolution= neighbor does
      // not parse fails LOUDLY instead (ADVICE r8)
      val segs = p.split('/')
      val i = segs.indexOf("kind=compacted")
      i >= 0 && {
        val res = segs.lift(i + 1).filter(_.startsWith("resolution="))
          .map(_.stripPrefix("resolution=")).filter(s => s.nonEmpty && s.forall(_.isDigit))
          .getOrElse(throw new IllegalStateException(
            s"tableset '$name': kind=compacted segment without a parseable " +
              s"resolution= segment in data file path: $p"))
        res.toInt < targetRes
      }
    }

  /** P4: templated query. `<[table]>` is replaced by a temp view over the
    * pruned scan, `<[h3indexes]>` by a subquery of the probe cells
    * (validation of mandatory placeholders: `select.rs:30-44`). */
  private def applyTemplate(template: String, scan: DataFrame, probes: DataFrame): DataFrame = {
    // BOTH placeholders are mandatory (reference TableSetQuery::validate,
    // select.rs:30-44, MissingQueryPlaceholder): a template without
    // <[h3indexes]> would silently skip all cell filtering and scan the
    // whole pruned dataset — a correctness and scale hazard.
    if (!template.contains("<[table]>"))
      throw new IllegalArgumentException("query template is missing the mandatory <[table]> placeholder")
    if (!template.contains("<[h3indexes]>"))
      throw new IllegalArgumentException("query template is missing the mandatory <[h3indexes]> placeholder")
    val id = java.util.UUID.randomUUID().toString.replace("-", "")
    val tableView = s"graft_scan_$id"
    val cellsView = s"graft_cells_$id"
    scan.createOrReplaceTempView(tableView)
    probes.createOrReplaceTempView(cellsView)
    try {
      val sql = template
        .replace("<[table]>", tableView)
        .replace("<[h3indexes]>", s"(SELECT cell FROM $cellsView)")
      spark.sql(sql)
    } finally {
      // the returned DataFrame keeps its resolved plan; views can be dropped lazily
    }
  }

  /** Convert cells to each resolution in `resolutions`: to_parent when the
    * cell is finer, children expansion when coarser (reference
    * `change_resolution`, used by `select.rs:139-162`). Output: (res, cell).
    *
    * Oversized expansions fail LOUDLY here: `h3_to_children` itself is total
    * (returns empty past the 2^28 cap, safe under speculative evaluation),
    * but a probe set silently losing its expansion would make queryCells
    * return incomplete results — so the store wraps the expansion in an
    * explicit inline raise_error. Probes that coarse should traverse
    * ([[graft.traverse.Traversal]]) rather than enumerate. */
  private def changeResolutions(cellsDf: DataFrame, cellCol: String,
      resolutions: Seq[Int]): DataFrame = {
    val perRes = resolutions.map { r =>
      val guardedChildren =
        when(h3_children_count(col(cellCol), lit(r)) > (1L << 28),
          raise_error(concat(lit("probe cell expansion to resolution "), lit(r),
            lit(" exceeds 2^28 children for cell "), col(cellCol).cast("string"),
            lit("; use traversal for areas this large")))
            .cast("array<bigint>"))
          .otherwise(h3_to_children(col(cellCol), lit(r)))
      struct(lit(r).as("res"),
        when(h3_get_resolution(col(cellCol)) >= r, array(h3_to_parent(col(cellCol), lit(r))))
          .otherwise(guardedChildren).as("cells"))
    }
    cellsDf
      .select(explode(array(perRes: _*)).as("x"))
      .select(col("x.res").as("res"), explode(col("x.cells")).as("cell"))
      .distinct()
  }

  // ------------------------------------------------------------------ stats

  /** A9 + A10: per-resolution stored counts and derived totals
    * (`mod.rs:381-513`). Columns: resolution, num_cells_stored_at_resolution,
    * num_cells_stored_compacted, num_cells; sorted by resolution. */
  def tablesetStats(name: String): DataFrame = {
    val schema = getTableset(name)
    import spark.implicits._
    // declared read so pending lightweight deletes are reflected — stats
    // must agree with what a scan returns, not with raw file contents
    val counts = readDeclared(name)
      .groupBy("kind", "resolution").count()
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    def cnt(kind: String, r: Int): Long = counts.getOrElse((kind, r), 0L)
    val compactedRes = counts.keys.collect { case ("compacted", r) => r }.toSeq
    val rows = schema.baseResolutions.sorted.map { r =>
      val storedAtRes = cnt("base", r) + cnt("compacted", r)
      val storedCompacted = compactedRes.filter(_ < r).map(cnt("compacted", _)).sum
      val numCells = cnt("base", r) + cnt("compacted", r) +
        compactedRes.filter(_ < r).map(rc => cnt("compacted", rc) * H3.pow7(r - rc)).sum
      (r, storedAtRes, storedCompacted, numCells)
    }
    rows.toDF("resolution", "num_cells_stored_at_resolution",
      "num_cells_stored_compacted", "num_cells")
  }

  // ----------------------------------------------------------------- mirror

  private def mirrorDir(name: String, targetRes: Int) =
    new Path(tablesetPath(name), s"mirror_r$targetRes")
  private def mirrorMarker(name: String, targetRes: Int) =
    new Path(mirrorDir(name, targetRes), "_mirror.meta")

  /** Freshness token of a mirror: sha-256 over the sorted relative data-file
    * listing — any insert/optimize/compaction changes it, so a stale mirror
    * can never answer a query. */
  private def listingToken(name: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    fileState(name).dataPaths.map(relToData(name, _)).sorted
      .foreach(p => md.update(p.getBytes("UTF-8")))
    // a lightweight delete changes no file, but it changes what every read
    // returns — fold pending mutations in so stale mirrors can never serve
    // masked rows (capture size shrinks as markers prune, re-invalidating)
    pendingDeletes(name).foreach(d =>
      md.update(s"delete:${d.id}:${d.files.size}".getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Catalog identity of a mirror — unique per (store root, tableset, res),
    * so stores at different roots sharing one session never collide. */
  private def mirrorTableName(name: String, targetRes: Int): String =
    s"graft_mirror_${Integer.toHexString(rootPath.hashCode)}_${name}_r$targetRes"

  /** Persist the D7 resolution scan of `name` as a hash-BUCKETED,
    * per-bucket-sorted mirror ([[Bucketing.writeMirror]]) registered in the
    * session catalog, and record a freshness marker. While the marker's
    * listing token matches the live table, [[mirrorFor]] — and through it
    * the `graft_scan` SQL TVF — serves the bucketed relation instead of the
    * raw scan, so repeated cell-keyed joins (the 100 TB overlay workload)
    * plan with ZERO Exchange from pure SQL. Any write to the tableset
    * invalidates the mirror (queries silently fall back to the live scan);
    * rebuild at will — the mirror is derived data, like the manifest.
    * Returns the catalog table name. */
  def buildMirror(name: String, targetRes: Int, numBuckets: Int): String = {
    val key = CompactedTableSchema.ColH3Index
    val df = scanForResolution(name, targetRes)
    val table = mirrorTableName(name, targetRes)
    Bucketing.writeMirror(spark, df, table,
      fs.makeQualified(mirrorDir(name, targetRes)).toString, numBuckets, key)
    // 4 lines: buckets / key / freshness token / schema DDL (no newlines
    // in toDDL) — same hand-rolled style as the layout marker
    val meta = Seq(numBuckets.toString, key, listingToken(name),
      spark.table(table).schema.toDDL).mkString("\n")
    val out = fs.create(mirrorMarker(name, targetRes), true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
    table
  }

  /** The registered FRESH mirror table for (name, targetRes): None when no
    * mirror was built or the tableset changed since (freshness token
    * mismatch — the caller must fall back to the live scan). A fresh JVM
    * that did not run [[buildMirror]] re-registers the external bucketed
    * table from the marker, so mirrors survive session restarts. */
  def mirrorFor(name: String, targetRes: Int): Option[String] = {
    val mp = mirrorMarker(name, targetRes)
    if (!fs.exists(mp)) return None
    val in = fs.open(mp)
    val meta = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val Array(buckets, key, token, ddl) = meta.split("\n", 4)
    if (token != listingToken(name)) return None
    val table = mirrorTableName(name, targetRes)
    if (!spark.catalog.tableExists(table))
      spark.sql(s"CREATE TABLE `$table` ($ddl) USING parquet " +
        s"CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS " +
        s"LOCATION '${fs.makeQualified(mirrorDir(name, targetRes))}'")
    Some(table)
  }

  // -------------------------------------------------------------- snapshots

  private def snapshotsPath(name: String) = new Path(tablesetPath(name), "_snapshots")

  /** Record the file set an insert just added as snapshot N+1 (paths
    * RELATIVE to the data dir, so a tableset rename keeps history valid).
    * Local listing diff; a distributed commit protocol would report the
    * written files directly — same contract, cheaper capture. */
  private def recordSnapshot(name: String, before: Set[String]): Unit = {
    val added = listDataFiles(name).filterNot(before).map(relToData(name, _)).sorted
    if (added.isEmpty) return
    writeSnapshotList(name, claimSnapshotId(name), added)
  }

  /** Atomically claim the next snapshot id via exclusive create of a hidden
    * `.N.claim` marker. Two concurrent inserts would otherwise both compute
    * last+1 and the second `.list` publish would silently REPLACE the first
    * writer's history entry (rename overwrites on POSIX). `create(path,
    * overwrite = false)` is the one Hadoop primitive that refuses an
    * existing path (atomic on HDFS; best-effort exists-check on local FS —
    * the loser of the rare local race bumps and retries on the next
    * conflict). Claims are never deleted: a crash between claim and publish
    * just leaves a skipped id (readers iterate actual `.list` files, so id
    * gaps cost nothing), and a few empty marker files per tableset lifetime
    * is noise next to the data. Same-JVM appends are fully serialized by
    * insert()'s commit lock (listing diffs never interleave); claims protect
    * the CROSS-JVM metadata case, where concurrent listings can still
    * overlap — [[scanAsOf]] reads the union distinct, so cross-JVM overlap
    * affects bytes listed, never duplicates rows (an unclaimed concurrent
    * writer's files may surface one id early there; same-JVM they cannot).
    * SCOPE: the cross-JVM claim is atomic only on filesystems with atomic
    * exclusive create (HDFS-like). On local FS and S3A, create(path,
    * overwrite=false) is check-then-create, so two cross-JVM writers can
    * both "win" — [[writeSnapshotList]]'s read-back verify turns the
    * resulting silent overwrite into a loud, retryable failure. */
  private def claimSnapshotId(name: String): Long = {
    val dir = snapshotsPath(name)
    fs.mkdirs(dir)
    val claimed = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith(".") && n.endsWith(".claim") =>
        n.stripPrefix(".").stripSuffix(".claim").toLong }
    var id = (snapshotIds(name) ++ claimed).foldLeft(0L)(math.max) + 1
    var out = -1L
    var attempts = 0
    while (out < 0) {
      val claim = new Path(dir, s".$id.claim")
      try {
        fs.create(claim, false).close()
        out = id
      } catch {
        case e: java.io.IOException =>
          // only a GENUINE collision (someone else holds the claim) means
          // "bump and retry" — a persistent FS failure (permissions, disk
          // full) must surface, not spin forever
          if (!fs.exists(claim)) throw e
          attempts += 1
          if (attempts > 10000) throw new IllegalStateException(
            s"claimSnapshotId('$name'): $attempts consecutive claim collisions — " +
              "claims directory corrupt or a runaway writer", e)
          id += 1
      }
    }
    out
  }

  /** Write a .list via temp + rename: an in-place overwrite truncates first,
    * so a crash mid-write would leave a silently SHORT list — scanAsOf
    * would then return fewer rows than the historical state with no error
    * (the files still exist, so the invalidation check can't catch it).
    *
    * After the rename the list is READ BACK and compared: on filesystems
    * without atomic exclusive create (local FS, S3A) two cross-JVM writers
    * can both "win" the same claim (check-then-create race), and the later
    * publish would silently replace the earlier history entry — exactly
    * the loss the claim exists to prevent. The read-back turns that silent
    * loss into a loud failure for the overwritten writer (whose caller can
    * retry the insert's metadata commit). The residual window — the rival
    * publishing AFTER this writer's verify — is the FS's non-atomicity,
    * not recoverable client-side: the cross-JVM claim guarantee is atomic
    * only on stores with atomic exclusive create (HDFS-like); elsewhere
    * this check narrows the race from "any concurrent claim" to
    * "concurrent publish within the verify round-trip". */
  private def writeSnapshotList(name: String, id: Long, rels: Seq[String]): Unit = {
    val payload = rels.mkString("\n")
    val tmp = new Path(snapshotsPath(name), s".$id.list.tmp")
    val out = fs.create(tmp, true)
    try out.write(payload.getBytes("UTF-8")) finally out.close()
    val dst = new Path(snapshotsPath(name), s"$id.list")
    publishAtomic(tmp, dst, s"snapshot $id of '$name'")
    val back = {
      val buf = new Array[Byte](fs.getFileStatus(dst).getLen.toInt)
      val in = fs.open(dst)
      try in.readFully(0, buf) finally in.close()
      new String(buf, "UTF-8")
    }
    if (back != payload)
      throw new IllegalStateException(
        s"snapshot $id of '$name': read-back mismatch after publish — a " +
          "concurrent cross-JVM writer claimed the same id (non-atomic " +
          "exclusive create on this filesystem) and overwrote this list; " +
          "retry the commit")
  }

  private def relToData(name: String, abs: String): String = {
    val qualified = qualifiedDataDir(name) + "/"
    val schemeless = dataPath(name).toUri.getPath.stripSuffix("/") + "/"
    if (abs.startsWith(qualified)) abs.stripPrefix(qualified)
    else if (abs.startsWith(schemeless)) abs.stripPrefix(schemeless)
    else abs
  }

  /** Snapshot ids in commit order (empty if the tableset predates snapshot
    * support or was never inserted into). */
  def snapshotIds(name: String): Seq[Long] = {
    val p = snapshotsPath(name)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".list")).map(_.stripSuffix(".list").toLong).sorted
  }

  /** Time travel: the tableset's rows as of snapshot `snapshotId` (that
    * insert and every earlier one). Append-only history reads exactly; an
    * optimize/compaction REWRITES files, which invalidates earlier
    * snapshots — that surfaces as a loud error here, not silently-wrong
    * rows (rewrites preserve current content, not history; a store that
    * must keep history vacuums instead of rewriting). */
  def scanAsOf(name: String, snapshotId: Long): DataFrame = {
    val ids = snapshotIds(name)
    require(ids.contains(snapshotId), s"tableset '$name' has no snapshot $snapshotId (have: ${ids.mkString(", ")})")
    val base = qualifiedDataDir(name)
    // distinct: concurrent appends can each list the other's files into
    // their own snapshot (see claimSnapshotId) — reading a file once per
    // appearance would duplicate its rows
    val paths = ids.filter(_ <= snapshotId)
      .flatMap(readSnapshotList(name, _)).distinct.map(rel => s"$base/$rel")
    val st = fileState(name)
    val missing = paths.filterNot(st.byPath.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"snapshot $snapshotId of '$name' was invalidated by a rewrite " +
        s"(deduplicate/replace/compactFiles): ${missing.size} file(s) no longer exist")
    // deletes are time-travel points too: a mutation committed at id d
    // masks this snapshot's rows iff d <= snapshotId (captured files only)
    readFilesMasked(name, paths.map(st.byPath), st.deletes.filter(_.id <= snapshotId))
  }

  /** [[scanForResolution]] against a snapshot. */
  def scanForResolutionAsOf(name: String, targetRes: Int, snapshotId: Long): DataFrame =
    scanAsOf(name, snapshotId).where(resolutionFilter(targetRes))

  /** Snapshot retention: keep the last `keepLast` snapshots time-travelable
    * and fold everything older into ONE cumulative checkpoint list (the
    * oldest kept id) — as-of states are cumulative, so early lists can only
    * be dropped by merging them forward, never by deleting alone (that
    * would silently lose files from later states). Vacuumed ids then fail
    * [[scanAsOf]]'s existence check — "history starts at the checkpoint",
    * the same contract as lakehouse snapshot expiry. Metadata-only: no data
    * file is touched. */
  def vacuumSnapshots(name: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val ids = snapshotIds(name)
    if (ids.size <= keepLast) return
    val cutoff = ids(ids.size - keepLast) // oldest id that stays readable
    val merged = ids.filter(_ <= cutoff).flatMap(readSnapshotList(name, _))
      .distinct.sorted
    writeSnapshotList(name, cutoff, merged) // temp+rename, never truncate-in-place
    ids.filter(_ < cutoff).foreach { id =>
      fs.delete(new Path(snapshotsPath(name), s"$id.list"), false)
    }
  }

  private def readSnapshotList(name: String, id: Long): Seq[String] = {
    val in = fs.open(new Path(snapshotsPath(name), s"$id.list"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty)
  }

  // ---------------------------------------------------------------- deletes

  private def deletesPath(name: String) = new Path(tablesetPath(name), "_deletes")
  private def deleteMarkerPath(name: String, id: Long) =
    new Path(deletesPath(name), s"$id.delete")

  /** ClickHouse-style LIGHTWEIGHT DELETE: `DELETE FROM name WHERE pred`
    * masks matching rows at read time and removes them physically only when
    * a later rewrite merges the files — the reference's ClickHouse backend
    * inherits exactly this mutation model (`DELETE` sets a row mask applied
    * at SELECT; OPTIMIZE/merges materialize it). Here the mutation is a
    * PREDICATE + the captured current file list:
    *
    *  - no data file is touched — the marker is O(metadata), like a
    *    snapshot commit, which is what makes deletes viable at 100 TB
    *    (a 100-file delete and a 1M-file delete both cost one marker write);
    *  - every read path ([[scanForResolution]], [[queryCells]], manifest
    *    reads, [[scanAsOf]]) applies `NOT coalesce(pred, false)` to the rows
    *    of CAPTURED files only — rows inserted AFTER the delete are never
    *    masked even when they match the predicate (ClickHouse semantics:
    *    DELETE affects rows that existed when it ran);
    *  - predicate-masking is IDEMPOTENT, so partial rewrites need no
    *    coordination: a rewrite reads masked rows, writes the survivors, and
    *    the rewritten files drop out of the captured sets
    *    ([[pruneDeleteMarkers]]); untouched captured files stay masked;
    *  - `id` is claimed from the snapshot sequence and publishes an empty
    *    snapshot list, so the delete is a time-travel point: `scanAsOf(id)`
    *    sees it applied, `scanAsOf(id - 1)` does not.
    *
    * The predicate must be deterministic (a `rand()` mask would change
    * per read) and resolvable against the declared + partition columns —
    * both checked here, loudly. Returns the claimed mutation id, or -1 when
    * the tableset holds no data files (nothing to capture). [[dropColumn]]
    * refuses to drop a column a pending delete's predicate references —
    * materialize first. */
  def deleteWhere(name: String, predicateSql: String): Long = {
    getTableset(name) // existence + schema check
    val pred = expr(predicateSql)
    val analyzed = readDeclaredRaw(name).where(pred).queryExecution.analyzed
    val det = analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.deterministic
    }.forall(identity)
    require(det, s"deleteWhere predicate must be deterministic, got: $predicateSql")
    CellStore.commitLock(cacheKey(name)).synchronized {
      val files = fileState(name).dataPaths.map(relToData(name, _)).sorted
      if (files.isEmpty) return -1L
      val id = claimSnapshotId(name)
      writeDeleteMarker(name, DeleteMutation(id, predicateSql, files))
      writeSnapshotList(name, id, Seq.empty)
      invalidateFileCaches(name)
      id
    }
  }

  /** Pending (unmaterialized) delete mutations in id order, from the
    * cached [[FileState]]; any same-JVM mutation invalidates. */
  def pendingDeletes(name: String): Seq[DeleteMutation] = fileState(name).deletes

  /** Materialize every pending delete: rewrite exactly the partitions that
    * contain captured files ([[compactFilesWhere]] — the masked read drops
    * deleted rows on the way through), then remove captured files the
    * dynamic overwrite could not replace (a partition whose every row is
    * masked produces no output rows, so its directory is never overwritten —
    * those files are 100% deleted rows by construction and are unlinked
    * directly). Afterwards no marker remains and scans take the unmasked
    * fast path again. Like any rewrite, invalidates earlier snapshots. */
  def applyDeletes(name: String): Unit =
      CellStore.commitLock(cacheKey(name)).synchronized {
    // The commit lock spans snapshot -> rewrite -> unlink gate -> prune: a
    // same-JVM deleteWhere can no longer commit a marker between the
    // pending-delete snapshot and the rewrite's masked read (which would
    // make the rewrite mask with a delete this call's unlink gate doesn't
    // know, tripping the survivors check spuriously), nor between the
    // rewrite and prune (which would lose the marker — see
    // optimizePartitionsClustered's scaladoc). The entry-scoping below
    // stays as the cross-JVM defense.
    val dels = pendingDeletes(name)
    if (dels.isEmpty) return
    val dirs = dels.flatMap(_.files).map { r =>
      val i = r.lastIndexOf('/')
      if (i < 0) "" else r.substring(0, i)
    }.distinct.filter(_.nonEmpty)
    val touched = dirs.map { d =>
      d.split('/').toSeq.flatMap { seg =>
        val j = seg.indexOf('=')
        if (j < 0) None
        else Some(segmentPredicate(name, seg.substring(0, j), seg.substring(j + 1)))
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))
    compactFilesWhere(name, touched)
    // Scope the unlink pass to the ENTRY-TIME markers only (by id): a
    // CROSS-JVM deleteWhere racing this materialization (same-JVM racers
    // are excluded by the commit lock above) publishes a NEW marker
    // capturing every current file — including untouched partitions full
    // of live rows. Folding that marker into `leftover` would (a) trip the
    // survivors gate spuriously and (b) mask survivor-counting with a
    // delete this call never set out to materialize. The concurrent marker
    // stays pending and is materialized by the NEXT applyDeletes — correct
    // lightweight-delete semantics, not a skipped delete.
    val entryIds = dels.map(_.id).toSet
    val leftover = pendingDeletes(name).filter(d => entryIds(d.id))
    if (leftover.nonEmpty) {
      val files = leftover.flatMap(_.files).distinct
        .map(rel => new Path(dataPath(name), rel)).filter(p => fs.exists(p))
      if (files.nonEmpty) {
        // SAFETY GATE before unlinking: a captured file that survived the
        // touched-partition rewrite should contain ONLY masked rows (its
        // partition produced no dynamic-overwrite output). VERIFY rather
        // than assume — if any row survives the masks, the reconstructed
        // partition predicate under-matched this layout (an escaping or
        // typing edge) and unlinking would destroy live rows. Survivors are
        // computed with the SAME per-file capture-group masking as reads
        // ([[readFilesMasked]]), NOT a global conjunction of every pending
        // predicate: in the ordering delete-A → insert → delete-B, a row in
        // a delete-B-only file that happens to match delete-A's predicate is
        // LIVE (A never captured that file) and must count as a survivor.
        val survivors = liveRowsInCaptured(name, files.map(_.toString), leftover)
        if (survivors > 0) throw new IllegalStateException(
          s"applyDeletes('$name'): captured file(s) the partition-scoped rewrite " +
            "did not replace still contain live rows — the reconstructed partition " +
            "predicate under-matched this layout; run compactFiles(name) (full " +
            "materializing rewrite) and retry. No file was unlinked.")
        files.foreach { p => fs.delete(p, false); () }
        invalidateFileCaches(name)
        pruneDeleteMarkers(name)
      }
    }
  }

  /** Count (bounded at 1) of LIVE rows in `absFiles` under merge-on-read
    * semantics — [[applyDeletes]]'s unlink safety gate. Uses the SAME
    * per-file capture-group masking as reads ([[readFilesMasked]]): each
    * file is masked only by the deletes that CAPTURED it. A global
    * conjunction of every pending predicate would wrongly zero out a live
    * row that matches an older delete which never captured its file
    * (ordering delete-A → insert → delete-B), letting the gate pass on a
    * file that still holds live data (ADVICE r5, medium). */
  private[store] def liveRowsInCaptured(name: String, absFiles: Seq[String],
      dels: Seq[DeleteMutation]): Long =
    readFilesMasked(name, statusesOf(name, absFiles), dels).limit(1).count()

  /** File statuses of live data files `paths`, from the cached listing. */
  private def statusesOf(name: String, paths: Seq[String]): Seq[FileStatus] = {
    val known = fileState(name).byPath
    paths.map(p => known(fs.makeQualified(new Path(p)).toString))
  }

  /** Typed equality predicate for one `col=value` partition-directory
    * segment (shared by [[applyDeletes]]'s touched-partition reconstruction):
    * values are Hive-unescaped, the NULL partition sentinel matches isNull,
    * and the numeric partition columns compare with typed literals — a raw
    * string comparison coerces BOTH sides to DOUBLE, corrupting ph3
    * equality past 2^53 (the [[dropPartitionsWhere]] hazard). */
  private def segmentPredicate(name: String, colName: String,
      raw: String): org.apache.spark.sql.Column = {
    val value = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(raw)
    if (value == "__HIVE_DEFAULT_PARTITION__") return col(colName).isNull
    colName match {
      case "resolution" => col(colName) === lit(value.toInt)
      case "ph3" | "pt" => col(colName) === lit(value.toLong)
      case c if c.startsWith("pt_") =>
        val declared = getTableset(name)
        val src = c.stripPrefix("pt_")
        if (declared.columns.get(src).exists(_.dataType.isTemporal))
          col(c) === lit(value.toLong)
        else declared.toStructType.fields.find(_.name == src)
          .map(f => col(c) === lit(value).cast(f.dataType))
          .getOrElse(col(c) === lit(value))
      case _ => col(colName) === lit(value)
    }
  }

  /** Drop captured-file entries that no longer exist (rewritten away) from
    * every pending marker; a marker whose capture set empties is removed —
    * the delete is fully materialized. Called after every rewrite. */
  private def pruneDeleteMarkers(name: String): Unit = {
    val st = fileState(name)
    if (st.deletes.isEmpty) return
    val current = st.dataPaths.map(relToData(name, _)).toSet
    st.deletes.foreach { d =>
      val remaining = d.files.filter(current)
      if (remaining.isEmpty) { fs.delete(deleteMarkerPath(name, d.id), false); () }
      else if (remaining.size < d.files.size)
        writeDeleteMarker(name, d.copy(files = remaining))
    }
    invalidateFileCaches(name)
  }

  /** ClickHouse `ALTER TABLE ... DROP PARTITION` generalized to a partition
    * predicate: instantly retire whole partition DIRECTORIES — the 100 TB
    * data-retention move (expire last decade's `pt` buckets, withdraw a bad
    * resolution backfill) that costs O(dropped directories) of metadata and
    * ZERO rewrite, where a row-level [[deleteWhere]] of the same data would
    * mask and eventually rewrite it. Complements the lightweight delete the
    * same way ClickHouse's DROP PARTITION complements its DELETE mutation.
    *
    * The predicate must reference ONLY partition columns
    * (kind/resolution/ph3/pt/pt_*) — the [[deduplicateWhere]] contract, and
    * here it is also what makes the operation DRIVER-ONLY: the distinct
    * partition tuples are parsed from the cached file listing and the
    * predicate is evaluated over that tiny LOCAL frame (partition-count
    * rows), so the only Spark job is the one-partition local-frame
    * evaluation — no data file is ever opened. NULL evaluates to
    * not-dropped. Like any rewrite, dropping invalidates earlier snapshots
    * (scanAsOf fails loudly on missing files) and prunes pending delete
    * markers whose captured files vanish; stale manifest entries are
    * dropped against the live listing by construction. Returns the number
    * of directories removed. */
  def dropPartitionsWhere(name: String, touched: org.apache.spark.sql.Column): Int =
      CellStore.commitLock(cacheKey(name)).synchronized {
    // serialized with deleteWhere/insert for the same reason as
    // optimizePartitionsClustered: listing -> unlink -> prune must not
    // interleave with a marker commit capturing the dirs being dropped
    getTableset(name)
    if (!fs.exists(dataPath(name))) return 0
    val rels = fileState(name).dataPaths.map(relToData(name, _))
    val dirs = rels.flatMap { r =>
      val i = r.lastIndexOf('/')
      if (i < 0) None else Some(r.substring(0, i))
    }.distinct
    if (dirs.isEmpty) return 0
    val colNames = dirs.head.split('/').toSeq.flatMap { seg =>
      val j = seg.indexOf('=')
      if (j < 0) None else Some(seg.substring(0, j))
    }
    // every directory must share ONE partition-column sequence: a mixed-depth
    // layout (e.g. files at differing nesting after a partial/aborted layout
    // change) would zip a short dir's values against the wrong columns and
    // blow up with a Row-arity mismatch deep inside createDataFrame — fail
    // loudly HERE, naming the odd directory (ADVICE r5)
    dirs.foreach { d =>
      val cs = d.split('/').toSeq.flatMap { seg =>
        val j = seg.indexOf('=')
        if (j < 0) None else Some(seg.substring(0, j))
      }
      require(cs == colNames,
        s"dropPartitionsWhere('$name'): inconsistent partition layout — " +
          s"directory '$d' has partition columns $cs but '${dirs.head}' has " +
          s"$colNames; repair the layout (compactFiles) before dropping")
    }
    val rows = dirs.map { d =>
      // Hive-unescape the directory values and map the NULL-partition
      // sentinel to an actual NULL, so predicates see the real values —
      // a raw 'a%20b' string would silently never match col === "a b"
      val vals = d.split('/').toSeq.flatMap { seg =>
        val j = seg.indexOf('=')
        if (j < 0) None
        else Some(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.substring(j + 1)))
      }.map(v => if (v == "__HIVE_DEFAULT_PARTITION__") null else v)
      org.apache.spark.sql.Row.fromSeq(d +: vals)
    }
    val schemaT = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__dir",
        org.apache.spark.sql.types.StringType, false) +:
        colNames.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType, true)))
    val untyped = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schemaT)
    // type the partition values: a string-vs-long comparison coerces BOTH
    // sides to DOUBLE in Spark, which silently corrupts equality on ph3
    // values past 2^53 (LowerResolution partitioning stores full h3 longs)
    val declared = getTableset(name)
    val declaredT = declared.toStructType
    val local = colNames.foldLeft(untyped) { (df, c) =>
      c match {
        case "resolution" => df.withColumn(c, col(c).cast("int"))
        case "ph3" | "pt" => df.withColumn(c, col(c).cast("long"))
        case _ if c.startsWith("pt_") =>
          val src = c.stripPrefix("pt_")
          if (declared.columns.get(src).exists(_.dataType.isTemporal))
            df.withColumn(c, col(c).cast("long"))
          else declaredT.fields.find(_.name == src)
            .map(f => df.withColumn(c, col(c).cast(f.dataType)))
            .getOrElse(df)
        case _ => df
      }
    }
    // resolve the predicate against the local frame: a non-partition column
    // reference fails analysis loudly (UNRESOLVED_COLUMN) — the same
    // contract deduplicateWhere enforces, discovered one step later
    val matching = local.where(coalesce(touched, lit(false)))
      .select(col("__dir")).collect().map(_.getString(0))
    matching.foreach(d => fs.delete(new Path(dataPath(name), d), true))
    if (matching.nonEmpty) {
      invalidateFileCaches(name)
      pruneDeleteMarkers(name)
    }
    matching.length
  }

  /** Marker JSON, written temp + rename like every other metadata commit. */
  private def writeDeleteMarker(name: String, d: DeleteMutation): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    node.put("id", d.id)
    node.put("predicate", d.predicate)
    val arr = node.putArray("files")
    d.files.foreach(arr.add)
    val payload = m.writerWithDefaultPrettyPrinter().writeValueAsBytes(node)
    fs.mkdirs(deletesPath(name))
    val tmp = new Path(deletesPath(name), s".${d.id}.delete.tmp")
    val out = fs.create(tmp, true)
    try out.write(payload) finally out.close()
    val dst = deleteMarkerPath(name, d.id)
    publishAtomic(tmp, dst, s"delete marker ${d.id} of '$name'")
  }

  private def readDeleteMarker(name: String, id: Long): DeleteMutation = {
    val in = fs.open(deleteMarkerPath(name, id))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    val files = (0 until node.get("files").size())
      .map(i => node.get("files").get(i).asText())
    DeleteMutation(node.get("id").asLong(), node.get("predicate").asText(), files)
  }

  /** Read `files` under the declared schema with the delete mask applied
    * per file group. Files are grouped DRIVER-SIDE (over the cached listing,
    * the same O(files) class as manifest selection) by which mutations
    * captured them — typically 2 groups: "captured by all pending deletes"
    * and "inserted since" — and each group reads with the conjunction of
    * its applicable `NOT coalesce(pred, false)` filters. Row-level filters
    * and partition pruning push into each union branch unchanged; a file in
    * no capture set reads raw, so post-delete inserts pay nothing. */
  private def readFilesMasked(name: String, files: Seq[FileStatus],
      dels: Seq[DeleteMutation]): DataFrame = {
    if (files.isEmpty) return emptyDeclared(name)
    val groups = files.groupBy { st =>
      val rel = relToData(name, st.getPath.toString)
      dels.collect { case d if d.fileSet(rel) => d.id }
    }
    groups.map { case (ids, group) =>
      val df = readDataFiles(name, group)
      if (ids.isEmpty) df
      else {
        val keep = dels.filter(d => ids.contains(d.id))
          .map(d => !coalesce(expr(d.predicate), lit(false)))
          .reduce(_ && _)
        df.where(keep)
      }
    }.reduce(_ unionByName _)
  }

  // --------------------------------------------------------------- manifest

  private[store] def manifestPath(name: String) = new Path(tablesetPath(name), "manifest")

  /** Whether [[buildManifest]] has published file statistics for `name`. */
  def hasManifest(name: String): Boolean =
    fs.exists(new Path(manifestPath(name), "_SUCCESS"))

  /** Build the FILE-LEVEL data-skipping index: one row per data file with
    * its partition values and the h3index min/max + row count — the
    * Iceberg-manifest idea applied to this layout. With millions of files at
    * 100 TB, partition pruning alone still leaves every file of a surviving
    * directory to be listed, footer-read, and task-scheduled; the manifest
    * lets the DRIVER intersect a probe query's h3index envelopes with each
    * file's [min, max] and hand Spark only the files that can match —
    * typically one or two per touched partition, because
    * [[rangedForWrite]]/[[sortedForWrite]] give files DISJOINT h3index
    * ranges within a directory.
    *
    * An explicit maintenance op (like [[deduplicate]]): one parallel scan of
    * the data, one tiny parquet overwrite. Queries stay CORRECT without
    * rebuilding after writes — [[selectFilesForProbes]] unions files the
    * manifest doesn't cover (post-build appends) and drops entries whose
    * file vanished (post-build rewrites); rebuild to restore full pruning. */
  def buildManifest(name: String): Unit = {
    manifestStats(name, readDeclared(name))
      .repartition(col("bc"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("kind", "resolution", "bc")
      .parquet(manifestPath(name).toString)
    invalidateFileCaches(name)
  }

  /** Round-4 manifests were partitioned by `bc` alone; round 5 nests
    * kind/resolution ABOVE bc so [[selectFilesForValueRange]]'s
    * resolution predicate directory-prunes too (the value dimension
    * crosses base cells, so bc pruning can never help it). Appending the
    * new layout into a legacy directory would corrupt partition
    * discovery, so refresh falls back to a full rebuild there. */
  private def manifestIsLegacyLayout(name: String): Boolean =
    fs.listStatus(manifestPath(name))
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("bc="))

  /** Incremental manifest maintenance: stat ONLY the files the manifest
    * does not cover (inserts since the last build/refresh) and append their
    * rows — one scan of the new files, never the table. Entries whose file
    * a rewrite deleted stay behind harmlessly (selection intersects the
    * live listing); a full [[buildManifest]] clears them. */
  def refreshManifest(name: String): Unit = {
    require(hasManifest(name),
      s"tableset '$name' has no manifest to refresh — run buildManifest first")
    if (manifestIsLegacyLayout(name)) { buildManifest(name); return }
    val st = fileState(name)
    val (_, uncoveredRel) = manifestCoverage(name, st)
    if (uncoveredRel.isEmpty) return
    val base = qualifiedDataDir(name)
    manifestStats(name, readDataFiles(name, uncoveredRel.map(rel => st.byPath(s"$base/$rel"))))
      .repartition(col("bc"))
      .write.mode(SaveMode.Append)
      .partitionBy("kind", "resolution", "bc")
      .parquet(manifestPath(name).toString)
    invalidateFileCaches(name)
  }

  /** One stats row per data file. `path` is RELATIVE to the data dir (like
    * the snapshot lists: scheme-free, so manifests survive a filesystem
    * move and compare exactly against relativized listings); `bc` is the
    * file's base cell — the manifest's own PARTITION column, so a probe
    * query's manifest read prunes to the probed base cells' directories
    * instead of scanning stats for every file in the store. */
  private def manifestStats(name: String, data: DataFrame): DataFrame = {
    val h3Col = CompactedTableSchema.ColH3Index
    // input_file_name is a fully-qualified URI whose exact scheme spelling
    // (file:/// vs file:/) differs from Path normalization — relativize on
    // the scheme-less data-dir marker, which is identical in every spelling
    val marker = dataPath(name).toUri.getPath.stripSuffix("/") + "/"
    val schema = getTableset(name)
    val bc = schema.h3Partitioning match {
      case H3Partitioning.BaseCell => col("ph3")
      case H3Partitioning.LowerResolution(_) => h3_get_base_cell(col("ph3")).cast("long")
    }
    // secondary-key file stats: when the ORDER BY declares a column after
    // h3index, record its per-file min/max too — after [[zorderFiles]] these
    // ranges are tight, so [[scanForValueRange]] prunes at FILE level (the
    // Z-ORDER + manifest-stats combination, per Delta/Iceberg practice).
    // Older manifests lack the columns; every reader guards on presence.
    val k2Aggs = secondaryOrderKey(schema).toSeq.flatMap(k2 =>
      Seq(min(col(k2)).as("k2_min"), max(col(k2)).as("k2_max")))
    data
      .groupBy(substring_index(input_file_name(), marker, -1).as("path"),
        col("kind"),
        col("resolution").cast("int").as("resolution"),
        col("ph3").cast("long").as("ph3"))
      .agg(min(col(h3Col)).as("min_h3"),
        (max(col(h3Col)).as("max_h3") +: count(lit(1)).as("rows") +: k2Aggs): _*)
      .withColumn("bc", bc)
  }

  /** The first ORDER BY column after h3index, if the schema declares one —
    * the key [[zorderFiles]] co-clusters with h3index and whose per-file
    * min/max the manifest records for [[scanForValueRange]] pruning. */
  private def secondaryOrderKey(schema: CompactedTableSchema): Option[String] =
    schema.orderByKey.filterNot(_ == CompactedTableSchema.ColH3Index).headOption

  /** (manifest entry count, current files the manifest does NOT cover) —
    * the coverage diff [[selectFilesForProbes]] needs to union post-build
    * appends. Computed as a distributed anti-join (the manifest's path
    * column is never collected whole to the driver — at 100 TB it is
    * millions of rows) and memoized in the [[FileState]] until the next
    * write or manifest build invalidates it; per probe query this is a map
    * lookup. */
  private def manifestCoverage(name: String, st: FileState): (Long, Seq[String]) =
    st.coverage {
      val m = manifestFrame(name, st).select("path")
      val currentRel = st.dataPaths.map(relToData(name, _))
      val uncovered =
        if (currentRel.isEmpty) Seq.empty[String]
        else spark.createDataset(currentRel)(org.apache.spark.sql.Encoders.STRING)
          .toDF("path")
          .join(m, Seq("path"), "left_anti")
          .collect().map(_.getString(0)).toSeq
      (m.count(), uncovered)
    }

  /** Every parquet file under `dir`, with fully-qualified paths
    * (fs.makeQualified — ADVICE r3: scheme-less paths fed back into
    * spark.read resolve against the DEFAULT filesystem, which breaks
    * rootPaths on s3a:// or a non-default HDFS namenode). */
  private def listParquet(dir: Path): Seq[FileStatus] = {
    // manual walk, NOT fs.listFiles(recursive): a concurrent writer's
    // transient `_temporary` subtree must be (a) skipped — its in-flight
    // part files end in .parquet and would otherwise enter listings and
    // snapshot lists, then vanish at that writer's commit — and (b)
    // tolerated when it vanishes between list and stat (the recursive
    // iterator throws instead)
    val out = mutable.ArrayBuffer.empty[FileStatus]
    val stack = mutable.Stack[Path](dir)
    while (stack.nonEmpty) {
      val entries =
        try fs.listStatus(stack.pop())
        catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
      entries.foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (!n.startsWith("_") && !n.startsWith(".")) stack.push(st.getPath)
        } else if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")) {
          st.setPath(fs.makeQualified(st.getPath))
          out += st
        }
      }
    }
    out.toSeq
  }

  /** All current data files of `name`, uncached — the mutation-side
    * before/after diffs; query paths read the cached [[FileState]]. */
  private def listDataFiles(name: String): Seq[String] =
    listParquet(dataPath(name)).map(_.getPath.toString)

  /** The Spark schema of one parquet file, from its footer on the driver. */
  private def parquetSchema(file: FileStatus): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val footer = ParquetFileReader.readFooter(conf, file, ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The data dir as a fully-qualified URI string (no trailing slash) —
    * the base every relative file path resolves against for reading. */
  private def qualifiedDataDir(name: String): String =
    fs.makeQualified(dataPath(name)).toString.stripSuffix("/")

  /** The manifest read over the [[FileState]]'s manifest files: partition
    * DISCOVERY over the manifest's own kind/resolution/bc tree would
    * re-list 122+ directories on EVERY probe query (the manifest exists to
    * avoid per-query file work). Callers check that a manifest exists. */
  private def manifestFrame(name: String, st: FileState): DataFrame = {
    val (files, schema) = st.manifest.get
    st.read(spark, fs.makeQualified(manifestPath(name)), files, files, schema)
  }

  /** The filtered manifest read a probe selection collects — every predicate
    * is DECLARATIVE so it prunes before any row reaches the driver: `bc` is
    * the manifest's partition column (probed base cells -> directory
    * pruning on the manifest itself), kind/resolution reuse
    * [[resolutionFilter]] and the h3index envelope disjunction lands in
    * `PushedFilters` (row-group skipping on the manifest's own files).
    * Exposed for the spec that audits exactly that plan. */
  private[graft] def manifestCandidates(name: String, targetRes: Int,
      cells: Seq[Long]): DataFrame = {
    val envs = probeEnvelopes(cells, (0 to targetRes).toSeq)
    val bcs = cells.map(H3.getBaseCell(_).toLong).distinct
    val envOk = envs.map { case (lo, hi) =>
      col("min_h3") <= lit(hi) && col("max_h3") >= lit(lo) }.reduce(_ || _)
    manifestFrame(name, fileState(name))
      .where(col("bc").isin(bcs: _*))
      .where(resolutionFilter(targetRes))
      .where(envOk)
      .select("path")
  }

  /** Driver-side file selection for a probe query: manifest entries that
    * survive the SAME three predicates the scan would apply — kind/resolution
    * (D7), probe base cells (bc), and h3index envelope intersection — plus
    * every current file the manifest does not cover (appended since the
    * build; no stats -> must be read). Entries whose file no longer exists
    * (rewritten partitions) are dropped against the live listing. None when
    * no manifest exists.
    *
    * Per-query driver cost is O(selected + uncovered), NOT O(all files):
    * the manifest read is partition-pruned/pushed ([[manifestCandidates]]),
    * and the listing + coverage diff come from the cached [[FileState]]
    * (round-3 verdict: the previous full-manifest collect per query was the
    * one remaining driver-side scale bottleneck). */
  private[graft] def selectFilesForProbes(name: String, targetRes: Int,
      cells: Seq[Long]): Option[ManifestSelection] = {
    val st = fileState(name)
    if (cells.isEmpty || st.manifest.isEmpty) return None
    // memoized per probe set in the FileState: uncached, every execution
    // of a manifest probe query re-ran the manifest-collect JOB to
    // recompute an identical file list (round 13; ts18 paid it twice per
    // bench pass)
    Some(st.selection(targetRes, cells) {
      val selected = manifestCandidates(name, targetRes, cells).collect().map(_.getString(0))
      manifestSelection(name, st, selected)
    })
  }

  /** A [[ManifestSelection]] from the manifest entries (relative paths) a
    * pruned manifest read kept: those whose file is still live, plus every
    * live file the manifest does not cover. */
  private def manifestSelection(name: String, st: FileState,
      selectedRel: Seq[String]): ManifestSelection = {
    val base = qualifiedDataDir(name)
    val (manifestEntries, uncoveredRel) = manifestCoverage(name, st)
    val uncovered = uncoveredRel.map(rel => s"$base/$rel")
    ManifestSelection(
      (selectedRel.map(rel => s"$base/$rel").filter(st.byPath.contains) ++ uncovered).distinct,
      manifestFiles = manifestEntries.toInt, currentFiles = st.dataFiles.size,
      uncoveredFiles = uncovered.size)
  }

  /** The filtered manifest read a value-range selection collects — the
    * k2 analogue of [[manifestCandidates]]. kind/resolution are the
    * manifest's OUTER partition directories (round-5 layout), so
    * [[resolutionFilter]] directory-prunes to the target resolutions
    * before any file is opened — bc pruning cannot help here (the value
    * dimension crosses base cells), but the per-resolution nesting keeps
    * the read O(files at target resolution), flat in the total manifest
    * size; the k2 interval predicate lands in `PushedFilters` (row-group
    * skipping inside the surviving directories). Exposed for the spec
    * that audits exactly that plan. None when the manifest predates k2
    * stats. */
  private[graft] def valueRangeCandidates(name: String, targetRes: Int,
      lo: Any, hi: Any): Option[DataFrame] = {
    val m = manifestFrame(name, fileState(name))
    if (!m.columns.contains("k2_min")) return None
    Some(m
      .where(resolutionFilter(targetRes))
      .where(col("k2_max") >= lit(lo) && col("k2_min") <= lit(hi))
      .select("path"))
  }

  /** Driver-side file selection for a secondary-key range query: manifest
    * entries whose [k2_min, k2_max] interval intersects [lo, hi] at the
    * target resolution, plus uncovered (post-build) files — the same
    * contract as [[selectFilesForProbes]] but pruning on the VALUE
    * dimension. Only effective after [[zorderFiles]] has co-clustered the
    * secondary key (unclustered files span the whole value domain and
    * nothing prunes — correct either way, the row filter still applies).
    * None when no manifest exists or the manifest predates k2 stats. */
  private[graft] def selectFilesForValueRange(name: String, targetRes: Int,
      lo: Any, hi: Any): Option[ManifestSelection] = {
    val st = fileState(name)
    if (st.manifest.isEmpty) return None
    valueRangeCandidates(name, targetRes, lo, hi)
      .map(cand => manifestSelection(name, st, cand.collect().map(_.getString(0))))
  }

  /** Secondary-key range scan at `targetRes`: rows whose declared secondary
    * ORDER BY column lands in [lo, hi], with file-level manifest pruning
    * when available ([[selectFilesForValueRange]]) and the row filter always
    * applied on top — manifest staleness can only cost extra reads, never
    * wrong rows. The scan that makes [[zorderFiles]] pay off. */
  def scanForValueRange(name: String, targetRes: Int, lo: Any, hi: Any): DataFrame = {
    val schema = getTableset(name)
    val k2 = secondaryOrderKey(schema).getOrElse(throw new IllegalArgumentException(
      s"tableset '$name' declares no ORDER BY column after h3index — " +
        "scanForValueRange needs a secondary sort key"))
    val base = selectFilesForValueRange(name, targetRes, lo, hi) match {
      case Some(sel) => manifestScan(name, sel)
      case None => readDeclared(name)
    }
    base.where(resolutionFilter(targetRes))
      .where(col(k2) >= lit(lo) && col(k2) <= lit(hi))
  }

  /** Read exactly the manifest-selected files, with the full partition-aware
    * schema (the data dir as base path keeps the Hive partition columns; the
    * declared read schema pins their types independently of which subset of
    * directories survived). An empty selection is an empty frame, not a scan. */
  private def manifestScan(name: String, sel: ManifestSelection): DataFrame =
    readFilesMasked(name, statusesOf(name, sel.paths), pendingDeletes(name))

  // --------------------------------------------------------------- optimize

  /** A12: full-row dedup across all accumulated inserts — the explicit
    * equivalent of `OPTIMIZE TABLE ... DEDUPLICATE` (`optimize.rs:20-113`).
    * Publishes per-partition via dynamic partition overwrite (see
    * [[deduplicateWhere]]); with the always-true predicate every partition
    * is touched, but each is still swapped atomically at job commit. */
  def deduplicate(name: String): Unit = deduplicateWhere(name, lit(true))

  /** A11 + A12 partial optimization: dedup ONLY the partitions matched by
    * `touched` (a predicate over the partition columns kind/resolution/ph3),
    * the analogue of the reference's per-touched-partition
    * `OPTIMIZE ... PARTITION p DEDUPLICATE` (`optimize.rs:20-83`, partition
    * list from A11 `optimize.rs:41-56`).
    *
    * I/O is partition-scoped for real: the predicate prunes the scan to the
    * touched partitions, the deduped result is staged (cutting the
    * read-write-same-path conflict), and the staged partitions are published
    * with DYNAMIC partition overwrite — untouched partition directories are
    * never read, rewritten, or renamed. At 100 TB a post-insert optimize
    * costs O(touched partitions), not a full-table rewrite.
    *
    * The predicate MUST reference only partition columns — enforced by
    * analyzing its attribute references. This is a correctness requirement,
    * not pedantry: since only matched rows are rewritten into their
    * partitions, a row-level predicate would silently DELETE the
    * non-matching rows of any partition that contains at least one match.
    * The reference has the same contract (partitions, not rows,
    * `optimize.rs:41-56`).
    *
    * The predicate is null-coalesced to false: a row for which `touched`
    * evaluates to NULL belongs to no touched partition and is left in place
    * (a naive where(p)/where(!p) split would silently delete it).
    *
    * Touched data is written ONCE: localCheckpoint materializes the deduped
    * partitions (breaking the read-the-overwrite-target lineage), then a
    * single dynamic-overwrite write publishes them. A failure before the
    * job's commit leaves the live directory untouched; rerun to retry. */
  def deduplicateWhere(name: String, touched: org.apache.spark.sql.Column): Unit =
    optimizePartitions(name, touched, (all, _) => all.dropDuplicates())

  /** ClickHouse `OPTIMIZE ... FINAL`: collapse each sort key within the
    * touched partitions, with the ENGINE deciding what "collapse" means
    * (`schema/other.rs:11-15` declares the engines; here their merge
    * semantics are realized explicitly instead of inherited from ClickHouse
    * merges):
    *  - ReplacingMergeTree(version): keep the row with the LARGEST version
    *    per sort key. Exact-version ties break deterministically on the
    *    remaining payload columns (greatest wins) — ClickHouse keeps an
    *    arbitrary row of the tied set; a distributed engine must not.
    *  - SummingMergeTree(cols): SUM the declared columns across the rows of
    *    each sort key ([[sumCollapse]]).
    *  - AggregatingMergeTree: collapse each aggregated column with its
    *    declared method ([[aggCollapse]]).
    *
    * Like ClickHouse merges, the collapse is per PARTITION: two rows of one
    * sort key that land in different partition directories (e.g. a temporal
    * partition column that changed between versions) are both kept — the
    * same contract as ClickHouse's partition-local merges. */
  def replaceWhere(name: String, touched: org.apache.spark.sql.Column): Unit =
    optimizePartitions(name, touched, (all, schema) => mergeCollapse(all, schema))

  def replace(name: String): Unit = replaceWhere(name, lit(true))

  /** Small-file compaction (OPTIMIZE without semantics): every insert
    * appends its own file set, so a continuously-ingested partition
    * accumulates one small file per insert — and every later scan pays a
    * footer read and a task per file, while the per-file h3index ranges
    * OVERLAP across inserts, so min/max skipping degrades toward useless.
    * This rewrite merges the touched partitions' files back to the
    * write-path layout (range-partitioned, h3index-sorted, disjoint file
    * ranges) while preserving rows EXACTLY — duplicates across inserts
    * included ([[deduplicateWhere]] is the op that collapses those; keeping
    * the two separate mirrors ClickHouse's merge vs OPTIMIZE DEDUPLICATE
    * distinction). Same partition-scoped dynamic-overwrite publication as
    * the other optimize ops: untouched directories are never read or
    * rewritten. Rebuild the manifest afterwards to restore file pruning. */
  def compactFilesWhere(name: String, touched: org.apache.spark.sql.Column): Unit =
    optimizePartitions(name, touched, (all, _) => all)

  def compactFiles(name: String): Unit = compactFilesWhere(name, lit(true))

  /** Z-ORDER rewrite: re-cluster the touched partitions' files on the
    * interleaved bits of (h3index, secondary ORDER BY key) instead of the
    * plain h3index-first sort — after it, files within a directory carry
    * ranges that are tight on BOTH dimensions, so h3 probes keep their
    * row-group skipping AND secondary-key range queries prune at file level
    * through the manifest's k2 stats ([[scanForValueRange]]). The
    * multi-dimensional clustering Delta's OPTIMIZE ZORDER / Iceberg's
    * sort-order rewrite apply to the same problem; linearization follows
    * the classic Z-curve (Morton order).
    *
    * Semantics-preserving like [[compactFiles]]: rows are moved, never
    * merged or dropped. Scale shape: per-column min/max is one aggregate
    * (a single driver row); the Z-value is pure codegen'd bit arithmetic;
    * clustering is one repartitionByRange on (partition cols, zval) — the
    * same shuffle budget as any optimize rewrite. Rebuild the manifest
    * afterwards to refresh file stats. */
  def zorderFiles(name: String): Unit = zorderFilesWhere(name, lit(true))

  def zorderFilesWhere(name: String, touched: org.apache.spark.sql.Column): Unit = {
    val schema = getTableset(name)
    val k2 = secondaryOrderKey(schema).getOrElse(throw new IllegalArgumentException(
      s"tableset '$name' declares no ORDER BY column after h3index — " +
        "zorderFiles needs a second dimension to interleave"))
    // the Morton bucketing normalizes via a double cast — a non-numeric key
    // would cast to NULL and interleave garbage SILENTLY (range reads stay
    // type-agnostic: manifest min/max and the filters work on any ordered
    // type; only the z-order rewrite needs numbers)
    require(schema.columns(k2).dataType.isNumber,
      s"zorderFiles: secondary ORDER BY column '$k2' is " +
        s"${schema.columns(k2).dataType} — z-order interleaving needs a numeric key")
    optimizePartitionsClustered(name, touched, (all, _) => all,
      df => {
        val h3Col = CompactedTableSchema.ColH3Index
        // one tiny aggregate per rewrite: the normalization bounds
        val b = df.agg(
          min(col(h3Col).cast("double")), max(col(h3Col).cast("double")),
          min(col(k2).cast("double")), max(col(k2).cast("double"))).collect()(0)
        def bucket16(c: org.apache.spark.sql.Column, mn: Double, mx: Double) = {
          val range = if (mx > mn) mx - mn else 1.0
          least(greatest(
            floor((c.cast("double") - mn) / range * 65535.0), lit(0.0)),
            lit(65535.0)).cast("long")
        }
        val bh = bucket16(col(h3Col), b.getDouble(0), b.getDouble(1))
        val bv = bucket16(col(k2), b.getDouble(2), b.getDouble(3))
        (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
          acc
            .bitwiseOR(shiftleft(shiftright(bh, i).bitwiseAND(lit(1L)), 2 * i + 1))
            .bitwiseOR(shiftleft(shiftright(bv, i).bitwiseAND(lit(1L)), 2 * i))
        }
      })
  }

  /** Engine dispatch for the FINAL/optimize collapse — every engine's merge
    * semantics are real, none fall back silently to another's (round-3
    * verdict: a declared SummingMergeTree must sum, not keep-latest). */
  private def mergeCollapse(df: DataFrame, schema: CompactedTableSchema): DataFrame =
    schema.engine match {
      case TableEngine.ReplacingMergeTree(_) => keepLatest(df, schema)
      case TableEngine.SummingMergeTree(sumCols) => sumCollapse(df, schema, sumCols)
      case TableEngine.AggregatingMergeTree => aggCollapse(df, schema)
    }

  /** The sort key a collapse groups on: the physical partition columns (a
    * ClickHouse merge is partition-local) plus the schema's replace key. */
  private def collapseKey(df: DataFrame, schema: CompactedTableSchema): Seq[String] = {
    val partCols = df.columns.filter(c =>
      c == "kind" || c == "resolution" || c == "ph3" || c == "pt" || c.startsWith("pt_"))
    (partCols ++ schema.replaceKey.filter(df.columns.contains)).distinct
  }

  /** Keep-latest collapse of a frame holding tableset rows (+ partition
    * columns): group by (partition cols ++ replaceKey), survivor = the
    * lexicographic max of (version, remaining payload) — one shuffle with
    * map-side partial aggregation, no window sort. */
  private def keepLatest(df: DataFrame, schema: CompactedTableSchema): DataFrame = {
    val ver = schema.versionColumn.getOrElse(throw new IllegalArgumentException(
      s"tableset '${schema.name}' declares no ReplacingMergeTree version column"))
    val keyCols = collapseKey(df, schema)
    val payload = ver +: df.columns.filterNot(c => keyCols.contains(c) || c == ver)
    df.groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(max(struct(payload.map(col).toIndexedSeq: _*)).as("_latest"))
      .select(df.columns.map(c =>
        (if (keyCols.contains(c)) col(c) else col(s"_latest.$c")).as(c)).toIndexedSeq: _*)
  }

  /** SummingMergeTree collapse (`schema/other.rs:11-15`; ClickHouse sums
    * rows sharing a sort key at merge): SUM the declared sum columns per
    * sort key; an EMPTY declaration sums every numeric non-key column
    * (ClickHouse's default). Non-summed payload columns take their values
    * from ONE surviving row — the lexicographic max, so the choice is
    * deterministic where ClickHouse's "any row of the set" is not. Sums are
    * cast back to the declared column type. Divergence, documented:
    * ClickHouse DELETES a row whose summed columns are all zero after the
    * merge; here zero is an ordinary value — dropping data on a numeric
    * coincidence has no place in a lakehouse store. One shuffle, map-side
    * partial aggregation. */
  private def sumCollapse(df: DataFrame, schema: CompactedTableSchema,
      sumCols: Seq[String]): DataFrame = {
    val keyCols = collapseKey(df, schema)
    val summed =
      if (sumCols.nonEmpty) sumCols.filter(df.columns.contains)
      else schema.columns.collect {
        case (n, c) if !keyCols.contains(n) && c.dataType.isNumber &&
          df.columns.contains(n) => n
      }.toSeq
    val rest = df.columns.filterNot(c => keyCols.contains(c) || summed.contains(c))
    val aggs = summed.map(c =>
      sum(col(c)).cast(schema.columns(c).dataType.sparkType).as(c)) ++
      (if (rest.nonEmpty) Seq(max(struct(rest.map(col).toIndexedSeq: _*)).as("_rest")) else Nil)
    df.groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(c =>
        (if (keyCols.contains(c) || summed.contains(c)) col(c)
         else col(s"_rest.$c")).as(c)).toIndexedSeq: _*)
  }

  /** AggregatingMergeTree collapse: each aggregated column merges duplicate
    * sort keys with its DECLARED method — the engine's promise is that the
    * rollup's aggregation discipline also governs merges. Sum/Min/Max are
    * merge-associative and collapse directly; SetNullOnConflict keeps the
    * unanimous value or nulls. Average and RelativeToCellArea are NOT
    * re-mergeable from their finalized values (an average of averages is
    * wrong without counts; ClickHouse stores aggregate STATES for exactly
    * this reason) — collapsing them here must refuse loudly rather than
    * return silently-wrong numbers. Simple non-key payload columns take the
    * deterministic max-struct survivor, as in [[sumCollapse]]. */
  private def aggCollapse(df: DataFrame, schema: CompactedTableSchema): DataFrame = {
    val keyCols = collapseKey(df, schema)
    val aggCols = schema.aggregatedColumns.filter(c => df.columns.contains(c._1))
    val bad = aggCols.collect {
      case (n, _, AggregationMethod.Average) => s"$n (average)"
      case (n, _, AggregationMethod.RelativeToCellArea) => s"$n (relativetocellarea)"
    }
    require(bad.isEmpty,
      s"AggregatingMergeTree collapse of '${schema.name}' is undefined for " +
        s"non-re-mergeable aggregations: ${bad.mkString(", ")} — an average of " +
        "finalized averages is wrong without counts. Use ReplacingMergeTree, or " +
        "store the sum and count as separate Sum columns")
    val aggNames = aggCols.map(_._1)
    val rest = df.columns.filterNot(c => keyCols.contains(c) || aggNames.contains(c))
    val aggs = aggCols.map { case (n, dt, agg) =>
      (agg match {
        case AggregationMethod.Sum => sum(col(n))
        case AggregationMethod.Min => min(col(n))
        case AggregationMethod.Max => max(col(n))
        case AggregationMethod.SetNullOnConflict =>
          when(size(collect_set(col(n))) === 1, first(col(n), ignoreNulls = true))
            .otherwise(lit(null))
        case other => throw new IllegalStateException(s"unreachable: $other")
      }).cast(dt.sparkType).as(n)
    } ++ (if (rest.nonEmpty) Seq(max(struct(rest.map(col).toIndexedSeq: _*)).as("_rest")) else Nil)
    df.groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(df.columns.map(c =>
        (if (keyCols.contains(c) || aggNames.contains(c)) col(c)
         else col(s"_rest.$c")).as(c)).toIndexedSeq: _*)
  }

  /** Rows quarantined by [[InvalidPolicy.Quarantine]] inserts, in the
    * tableset's declared column shape (empty frame if nothing was ever
    * rejected). The quarantine is append-only; reprocessing and cleanup
    * are the operator's workflow, not the store's. */
  def rejects(name: String): DataFrame = {
    val schema = getTableset(name)
    val rp = rejectsPath(name)
    // declared-schema read, like readDeclared: rejects files written before
    // an addColumn lack the new column (-> NULL), files predating a
    // dropColumn carry the old one (-> projected away); a footer-inferred
    // read would pick a random file's shape
    if (fs.exists(rp)) spark.read.schema(schema.toStructType).parquet(rp.toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema.toStructType)
  }

  /** `SELECT ... FINAL`: the resolution scan with the ENGINE's collapse
    * applied AT READ TIME ([[mergeCollapse]]: keep-latest for versioned
    * Replacing, sum for Summing, declared-method for Aggregating) — no
    * rewrite, stale rows stay on disk until [[replaceWhere]] merges them
    * away. Partition pruning is unaffected (the collapse groups on the
    * partition columns, above any pushed filters). */
  def scanForResolutionFinal(name: String, targetRes: Int): DataFrame =
    mergeCollapse(scanForResolution(name, targetRes), getTableset(name))

  private def optimizePartitions(name: String, touched: org.apache.spark.sql.Column,
      collapse: (DataFrame, CompactedTableSchema) => DataFrame): Unit =
    optimizePartitionsClustered(name, touched, collapse, clusterKey = null)

  /** [[optimizePartitions]] with a pluggable cluster key: when `clusterKey`
    * is non-null it is evaluated against the STAGED (checkpointed) frame
    * and replaces the default (partition cols ++ ORDER BY) range/sort key —
    * the hook [[zorderFilesWhere]] uses to linearize on the Z-curve. The
    * key is an expression over row columns, so nothing extra lands in the
    * written files. */
  /** SERIALIZED with [[deleteWhere]]/insert on the per-tableset commit
    * lock (held across the whole rewrite): a marker committed between this
    * rewrite's masked read and its pruneDeleteMarkers would capture files
    * the dynamic overwrite then replaces WITHOUT the new mask applied —
    * prune would see every captured file gone, unlink the marker, and an
    * ACKNOWLEDGED delete would silently un-happen. Same-JVM writers are
    * the documented consistency domain; cross-JVM markers keep the
    * entry-scoped defenses in [[applyDeletes]]. */
  private def optimizePartitionsClustered(name: String,
      touched: org.apache.spark.sql.Column,
      collapse: (DataFrame, CompactedTableSchema) => DataFrame,
      clusterKey: DataFrame => org.apache.spark.sql.Column): Unit =
      CellStore.commitLock(cacheKey(name)).synchronized {
    val schema = getTableset(name)
    val dp = dataPath(name)
    if (!fs.exists(dp)) return
    // declared-schema read: a partition-scoped rewrite must carry added
    // columns (NULL for historical rows), not silently drop them because a
    // random file's footer predates the ALTER
    val all = readDeclared(name)
    val partCols0 = partitionColumns(all, schema)._2
    val allPartCols = "kind" +: "resolution" +: "ph3" +: partCols0
    val allowed = (allPartCols ++ Seq("pt")).toSet ++
      all.columns.filter(_.startsWith("pt_")).toSet
    // analyze the filter to resolve the predicate's column references
    // (Spark 4 Columns are opaque ColumnNode wrappers until analysis)
    val referenced = all.where(touched).queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.references.map(_.name).toSet
    }.headOption.getOrElse(Set.empty[String])
    val bad = referenced -- allowed
    require(bad.isEmpty,
      s"deduplicateWhere predicate may reference only partition columns " +
        s"(${allowed.mkString(", ")}); found: ${bad.mkString(", ")} — a row-level " +
        "predicate would delete the unmatched rows of partially-matched partitions")
    val touchedSafe = coalesce(touched, lit(false))
    val deduped = collapse(all.where(touchedSafe), schema)
    if (deduped.isEmpty) return
    // checkpoint BEFORE the range repartition: repartitionByRange computes
    // its bounds with a separate SAMPLING job that re-executes the upstream
    // plan — without the checkpoint here, that sampling pass would re-run
    // the whole touched-partition dedup a second time (and the checkpoint
    // is needed anyway to break the read-the-overwrite-target lineage)
    val (withParts, _) = partitionColumns(deduped, schema)
    val staged = withParts.localCheckpoint()
    val clustered =
      if (clusterKey == null)
        sortedForWrite(rangedForWrite(staged, schema, allPartCols), schema, allPartCols)
      else {
        val z = clusterKey(staged)
        val key = allPartCols.map(col) :+ z
        staged
          .repartitionByRange(spark.sessionState.conf.numShufflePartitions, key: _*)
          .sortWithinPartitions(key: _*)
      }
    clustered
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", parquetCodec(schema))
      .partitionBy(allPartCols: _*)
      .parquet(dp.toString)
    invalidateFileCaches(name)
    // the rewrite read masked rows, so the rewritten partitions' files have
    // their deletes materialized — drop them from the capture sets
    pruneDeleteMarkers(name)
  }

}

object CellStore {
  def apply(spark: SparkSession, rootPath: String): CellStore = new CellStore(spark, rootPath)

  /** Per-(root, tableset) append-commit monitors — see insert()'s critical
    * section. TrieMap getOrElseUpdate gives one canonical lock per key. */
  private val commitLocks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private[store] def commitLock(key: String): Object =
    commitLocks.getOrElseUpdate(key, new Object)

  /** A pending lightweight-delete mutation ([[CellStore.deleteWhere]]): rows
    * of `files` (paths RELATIVE to the data dir, like snapshot lists — a
    * tableset rename keeps them valid) matching `predicate` are masked at
    * every read until a rewrite materializes the delete. `id` comes from the
    * same claim sequence as snapshot ids, so inserts and deletes are totally
    * ordered for time travel. */
  final case class DeleteMutation(id: Long, predicate: String, files: Seq[String]) {
    @transient lazy val fileSet: Set[String] = files.toSet
  }

  /** Result of the manifest's driver-side file pruning (counts exposed so
    * specs/ops can assert the pruning actually pruned). */
  private[graft] case class ManifestSelection(paths: Seq[String],
      manifestFiles: Int, currentFiles: Int, uncoveredFiles: Int)

  /** What to do with rows whose h3index fails validation at the ingest
    * boundary (P5, reference utils.rs:9-20 rejects the whole frame).
    *  - [[InvalidPolicy.Fail]] (default, reference parity): the insert job
    *    dies on the first invalid cell.
    *  - [[InvalidPolicy.Quarantine]]: invalid rows are diverted to the
    *    tableset's `rejects/` directory (readable via [[CellStore.rejects]])
    *    and the valid remainder inserts normally — the operational choice
    *    for continuous ingest, where one garbage cell must not wedge a
    *    100 TB stream. */
  sealed trait InvalidPolicy
  object InvalidPolicy {
    case object Fail extends InvalidPolicy
    case object Quarantine extends InvalidPolicy
  }
}
