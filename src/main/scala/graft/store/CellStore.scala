package graft.store

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

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
 *   <root>/<name>/_log/<version>.json           the commit log ([[FileState]])
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
 * PARTITION BY, but free in Catalyst. Temporary staging tables (D6) become
 * a per-job `_staging/<uuid>` dir: data becomes visible only when one log
 * entry commits it, so the log, not the directory listing, is the
 * tableset's state — every instance and JVM sees the same commits.
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

  /** Drop the cached [[FileState]] of `name`, so the next read replays the
    * log from disk — needed only after manual surgery on the tableset's
    * files. Commits through any instance or JVM are seen without it. */
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
    // ph3/pt*): deleteWhere analyzes against the unmasked declared read,
    // which includes them, so a pending delete on e.g. `resolution = 7` is
    // perfectly legal —
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
    // the backfill is its own append commit. Retry safety: an attempt that
    // committed but died before the schema update (written last) left live
    // kind=base/resolution=newRes files the schema does not declare — this
    // commit removes them, so a retry never double-appends
    withStaging(name) { staging =>
      writePartitionedTo(target, updated, staging)
      CellStore.commitLock(cacheKey(name)).synchronized {
        val st = fileState(name)
        val leftover = st.files.collect { case f if f.kind == "base" && f.resolution == newRes => f.path }
        commitStaged(name, st, updated, staging, LogEntry.Append, removes = leftover)
        writeSchema(name, updated)
      }
    }
  }

  /** Schema sidecar commit, temp + [[publishAtomic]] like every other
    * metadata commit: an in-place overwrite truncates first, so a writer
    * dying mid-write would leave a SHORT schema.json that bricks every
    * later [[getTableset]] — crash-consistent publish instead.
    *
    * The temp name is UNIQUE per write (UUID suffix, like log entry
    * temps) and the publish runs under the per-tableset
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
      .flatMap(st => readSidecar(st.getPath.getName).map(st.getPath.getName -> _))
      .toMap
  }

  /** The tableset's schema.json as written, if it has one. */
  private def readSidecar(name: String): Option[CompactedTableSchema] =
    Some(schemaPath(name)).filter(fs.exists).map(p => CompactedTableSchema.fromJson(readText(p)))

  private def readText(p: Path): String = new String(readBytes(p), "UTF-8")

  private def readBytes(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** D4: get one tableset's schema, error if absent. Reconciles the sidecar
    * against the layout the log records ([[alterPartitioning]]'s crash
    * window): the tag is committed with the rewritten files, so a sidecar
    * that still declares the OLD h3Partitioning is healed here instead of
    * silently mispruning ph3 (ADVICE r3, medium). */
  def getTableset(name: String): CompactedTableSchema =
    reconcileLayout(name, readSidecar(name).getOrElse(
      throw new IllegalArgumentException(s"tableset '$name' does not exist under $rootPath")))

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

  /** If the log records a layout that disagrees with the sidecar's declared
    * h3Partitioning, the sidecar is STALE (a crash between
    * [[alterPartitioning]]'s commit and its schema write) — trust the log
    * and heal the sidecar. No recorded layout (tableset never
    * re-partitioned) is a clean pass-through. */
  private def reconcileLayout(name: String,
      schema: CompactedTableSchema): CompactedTableSchema =
    fileState(name).layout.map(parseLayoutTag) match {
      case Some(actual) if actual != schema.h3Partitioning =>
        val healed = schema.copy(h3Partitioning = actual).validated
        writeSchema(name, healed)
        healed
      case _ => schema
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
    // every rollup step's persisted output, released with `compacted`
    val rolledUp = mutable.ListBuffer.empty[DataFrame]
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
        rolledUp += target
        frames += target
          .withColumn("resolution", lit(tgtRes))
          .withColumn("kind", lit("base"))
        sourceBase = target
      }

      val all = frames.reduce(_ unionByName _)
      // the job writes to this insert's own staging dir, so concurrent
      // inserts share no committer state; only the commit (move into
      // data/, one log entry) is serialized per (root, tableset) JVM-wide
      withStaging(name) { staging =>
        writePartitionedTo(all, schema, staging)
        CellStore.commitLock(cacheKey(name)).synchronized {
          commitStaged(name, fileState(name), schema, staging, LogEntry.Append)
        }
      }
    } finally {
      rolledUp.foreach(_.unpersist())
      compacted.unpersist()
    }
  }

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
    * DIRECTORY STRUCTURE itself changes. Full rewrite as one log commit:
    * the new layout is staged completely (a failure there leaves the live
    * data untouched), moved into the data dir, and committed in one entry
    * that removes every old file and records the new layout's tag, so
    * schema and layout publish ATOMICALLY: a crash after the commit but
    * before the sidecar write is healed by [[reconcileLayout]] on the next
    * read instead of silently mispruning. Like any rewrite, it invalidates
    * earlier snapshots (fails loudly at [[scanAsOf]]). */
  def alterPartitioning(name: String, newPartitioning: H3Partitioning): Unit =
      CellStore.commitLock(cacheKey(name)).synchronized {
    // serialized with deleteWhere/insert: the rewrite reads masked rows and
    // removes every file it read, which materializes every pending delete
    val schema = getTableset(name)
    if (schema.h3Partitioning == newPartitioning) return
    val updated = schema.copy(h3Partitioning = newPartitioning).validated
    val keep = (schema.columns.keys.toSeq :+ "kind" :+ "resolution").map(col)
    val st = fileState(name)
    withStaging(name) { staging =>
      writePartitionedTo(readDeclared(name, st).select(keep: _*), updated, staging)
      commitStaged(name, st, updated, staging, LogEntry.Rewrite, removes = st.files.map(_.path),
        layout = Some(layoutTag(newPartitioning)))
    }
    writeSchema(name, updated)
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
    * (planning-time pruning) and re-derivable driver-side from a log
    * record's partition values. */
  private[graft] def resolutionFilter(targetRes: Int): org.apache.spark.sql.Column =
    (col("kind") === "compacted" && col("resolution") <= targetRes) ||
      (col("kind") === "base" && col("resolution") === targetRes)

  /** [[resolutionFilter]] on one file's driver-known partition values. */
  private def keepsResolution(kind: String, resolution: Int, targetRes: Int): Boolean =
    (kind == "compacted" && resolution <= targetRes) ||
      (kind == "base" && resolution == targetRes)

  /** Data read under the DECLARED schema (partition columns are inferred
    * from the layout and appended): a column added by [[addColumn]] is
    * absent from historical files, and a footer-inferred read would pick a
    * random file's schema — declared reads resolve it to NULL everywhere
    * instead. */
  private[store] def readDeclared(name: String, st: FileState): DataFrame =
    if (st.deletes.isEmpty) readDataFiles(name, st, st.dataFiles)
    else readFilesMasked(name, st, st.dataFiles, st.deletes)

  private[store] def readDeclared(name: String): DataFrame = readDeclared(name, fileState(name))

  /** Data files of `name` under the declared schema, planned from the
    * [[FileState]] ([[FileState#read]]): a directory read would re-walk the
    * partition tree on every query, and an explicit path list would
    * re-stat every file — past `parallelPartitionDiscovery.threshold` as a
    * Spark listing job. No files (a new or fully-deleted tableset) still
    * reads as an empty frame with the partition columns a directory read
    * would have inferred — downstream resolution/kind/ph3 predicates must
    * keep resolving. */
  private def readDataFiles(name: String, st: FileState, files: Seq[FileStatus]): DataFrame =
    if (files.isEmpty) emptyDeclared(name)
    else st.read(spark, fs.makeQualified(dataPath(name)), files,
      st.readSchema(emptyDeclared(name).schema))

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
    * log stats' file-level pruning, so both prune from the SAME bounds. */
  private[store] def probeEnvelopes(cells: Seq[Long],
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
    val st = fileState(name)
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
          // file-level pruning on the log's stats, never under a template
          // (whose contract exposes the UNRESTRICTED pruned scan); row
          // filters still apply on top
          val files =
            if (template.isEmpty) probeSelection(st, targetRes, knownCells.get).paths.map(st.byPath)
            else st.dataFiles
          readFilesMasked(name, st, files, st.deletes).where(resolutionFilter(targetRes)).where(pruned)
        case _ => readDeclared(name, st).where(resolutionFilter(targetRes))
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
    // no stored compacted partition below the target (compaction-free
    // tablesets, the Sum engine): no row is coarser than the target, so the
    // plan skips the uncompaction join
    else if (!st.files.exists(f => f.kind == "compacted" && f.resolution < targetRes)) projected
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

  /** Freshness token of a mirror: sha-256 over the sorted relative paths of
    * the live files — any insert/optimize/compaction changes it, so a stale mirror
    * can never answer a query. */
  private def listingToken(name: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val st = fileState(name)
    st.files.map(_.path).sorted.foreach(p => md.update(p.getBytes("UTF-8")))
    // a lightweight delete changes no file, but it changes what every read
    // returns — fold pending mutations in so stale mirrors can never serve
    // masked rows (capture size shrinks as rewrites retire files)
    st.deletes.foreach(d =>
      md.update(s"delete:${d.id}:${d.files.size}".getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Catalog identity of a mirror — unique per (store root, tableset, res),
    * so stores at different roots sharing one session never collide. The
    * root is named by 128 bits of the sha-256 of its qualified path: a
    * 32-bit `hashCode` lets two roots ("Aa" and "BB") share one table. */
  private def mirrorTableName(name: String, targetRes: Int): String = {
    val root = java.security.MessageDigest.getInstance("SHA-256")
      .digest(fs.makeQualified(new Path(rootPath)).toString.getBytes("UTF-8"))
    s"graft_mirror_${root.take(16).map("%02x".format(_)).mkString}_${name}_r$targetRes"
  }

  /** Persist the D7 resolution scan of `name` as a hash-BUCKETED,
    * per-bucket-sorted mirror ([[Bucketing.writeMirror]]) registered in the
    * session catalog, and record a freshness marker. While the marker's
    * listing token matches the live table, [[mirrorFor]] — and through it
    * the `graft_scan` SQL TVF — serves the bucketed relation instead of the
    * raw scan, so repeated cell-keyed joins (the 100 TB overlay workload)
    * plan with ZERO Exchange from pure SQL. Any write to the tableset
    * invalidates the mirror (queries silently fall back to the live scan);
    * rebuild at will — the mirror is derived data.
    * Returns the catalog table name. */
  def buildMirror(name: String, targetRes: Int, numBuckets: Int): String = {
    val key = CompactedTableSchema.ColH3Index
    val df = scanForResolution(name, targetRes)
    val table = mirrorTableName(name, targetRes)
    Bucketing.writeMirror(spark, df, table,
      fs.makeQualified(mirrorDir(name, targetRes)).toString, numBuckets, key)
    // 4 lines: buckets / key / freshness token / schema DDL (no newlines
    // in toDDL) — plain text, like the schema sidecar
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

  // -------------------------------------------------------------------- log

  private def logPath(name: String) = new Path(tablesetPath(name), "_log")
  private def entryPath(name: String, v: Long) = new Path(logPath(name), s"$v.json")
  private val EntryName = """(\d+)\.json""".r

  /** The tableset's [[FileState]]: the cached one caught up with newer log
    * entries (one `exists` call when there are none), or the log replayed
    * on first use. */
  private def fileState(name: String): FileState = {
    val key = cacheKey(name)
    val cached = FileState.peek(key).getOrElse(FileState.advance(key, loadState(name)))
    var st = cached
    while (fs.exists(entryPath(name, st.version + 1)))
      st = st.applied(st.version + 1, readEntry(name, st.version + 1).get)
    if (st eq cached) st else FileState.advance(key, st)
  }

  /** The log replayed to its latest version; an old-layout tableset (data
    * files, no log) converts first ([[convertOldLayout]]). */
  private def loadState(name: String): FileState =
    logVersions(name).orElse {
      if (!fs.exists(dataPath(name))) None
      else { convertOldLayout(name); logVersions(name) }
    }.filter(_.nonEmpty).fold(FileState.empty(qualifiedDataDir(name)))(vs => replay(name, vs.max))

  private def logVersions(name: String): Option[Seq[Long]] =
    try Some(fs.listStatus(logPath(name)).toSeq.map(_.getPath.getName)
      .collect { case EntryName(v) => v.toLong })
    catch { case _: java.io.FileNotFoundException => None }

  /** The state at version `to`: the entries back to the latest checkpoint
    * at or below it (else to the first entry), applied forward. */
  private def replay(name: String, to: Long): FileState = {
    @annotation.tailrec
    def back(v: Long, acc: List[(Long, LogEntry)]): List[(Long, LogEntry)] =
      readEntry(name, v) match {
        case Some(e) if e.op != LogEntry.Checkpoint && v > 0 => back(v - 1, (v -> e) :: acc)
        case Some(e) => (v -> e) :: acc
        case None => acc
      }
    back(to, Nil).foldLeft(FileState.empty(qualifiedDataDir(name))) {
      case (st, (v, e)) => st.applied(v, e)
    }
  }

  private def readEntry(name: String, v: Long): Option[LogEntry] =
    try Some(LogEntry.fromJson(readBytes(entryPath(name, v))))
    catch { case _: java.io.FileNotFoundException => None }

  /** One-time conversion of an old-layout tableset (data files, no log):
    * one checkpoint from a listing plus footers, folding in the pending
    * `_deletes` markers so masked rows stay masked, numbered at the highest
    * old snapshot id so that earlier history reads as vacuumed. The old
    * `_snapshots`, `_deletes` and `manifest` are ignored from then on; a
    * `_layout.json` marker of an interrupted [[alterPartitioning]] becomes
    * the checkpoint's layout. */
  private def convertOldLayout(name: String): Unit = {
    def listed(dir: String): Seq[Path] =
      try fs.listStatus(new Path(tablesetPath(name), dir)).toSeq.map(_.getPath)
      catch { case _: java.io.FileNotFoundException => Nil }
    val marker = new Path(dataPath(name), "_layout.json")
    val layout = Some(marker).filter(fs.exists).map(readText(_).trim)
    val sidecar = readSidecar(name).getOrElse(throw new IllegalStateException(
      s"tableset '$name' has data but no schema.json to convert it with — run recoverTableset"))
    val schema = layout.fold(sidecar)(t => sidecar.copy(h3Partitioning = parseLayoutTag(t)))
    val adds = footerEntries(name, schema, listParquet(dataPath(name)))
    val live = adds.map(_.path).toSet
    val deletes = listed("_deletes").filter(_.getName.endsWith(".delete"))
      .map(p => LogEntry.deleteMarker(readBytes(p)))
      .map(d => d.copy(files = d.files.filter(live))).filter(_.files.nonEmpty).sortBy(_.id)
    val top = (listed("_snapshots").map(_.getName).collect {
      case n if n.endsWith(".list") => n.stripSuffix(".list").toLong
    } ++ deletes.map(_.id)).foldLeft(0L)(math.max)
    fs.mkdirs(logPath(name))
    // a concurrent converter may win the version: both checkpoint one listing
    publish(name, top, LogEntry.toJson(LogEntry(LogEntry.Checkpoint, adds, deletes = deletes,
      ids = Seq(top).filter(_ > 0), k2Type = secondaryOrderKey(schema).map(_._2), layout = layout)))
    ()
  }

  /** Publish `entry` as the next log version over `read`, the state its
    * writer read, and install the state it leads to. A commit landing
    * since `read` (another JVM's: same-JVM writers hold the commit lock)
    * fails it loudly, as its writer read a superseded state, unless it is
    * a plain append, which just goes after that commit. */
  private def commit(name: String, read: FileState, entry: LogEntry): FileState = {
    val payload = LogEntry.toJson(entry)
    val plainAppend = entry.op == LogEntry.Append && entry.removes.isEmpty
    fs.mkdirs(logPath(name))
    @annotation.tailrec
    def attempt(st: FileState): FileState = {
      if (st.version != read.version && !plainAppend) throw new IllegalStateException(
        s"'$name' changed during this ${entry.op}: version ${st.version} was committed " +
          s"after version ${read.version}, which it read — retry")
      if (publish(name, st.version + 1, payload))
        FileState.advance(cacheKey(name), st.applied(st.version + 1, entry))
      else {
        val next = fileState(name)
        if (next.version == st.version)
          throw new IllegalStateException(s"cannot publish version ${st.version + 1} of '$name'")
        attempt(next)
      }
    }
    attempt(fileState(name))
  }

  /** Claim log version `v` by publishing `payload` as its entry: temp write,
    * rename, read-back, like every metadata commit, except that a taken name
    * is never replaced. False when another writer holds `v`: the name
    * exists, a no-clobber rename (HDFS) refuses, or, where rename clobbers
    * (local FS, S3A), the read-back finds the other writer's entry. The
    * residual window, a rival renaming after this read-back, is that
    * filesystem's missing exclusive rename, not recoverable client-side. */
  private def publish(name: String, v: Long, payload: Array[Byte]): Boolean = {
    val dst = entryPath(name, v)
    if (fs.exists(dst)) return false
    val tmp = new Path(logPath(name), s".$v.json.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, false)
    try out.write(payload) finally out.close()
    if (!fs.rename(tmp, dst)) { fs.delete(tmp, false); false }
    else java.util.Arrays.equals(readBytes(dst), payload)
  }

  /** A fresh `_staging/<uuid>` dir for one job's output, removed afterwards
    * (best-effort: a leftover is an ignored orphan). */
  private def withStaging[T](name: String)(body: Path => T): T = {
    val staging = new Path(tablesetPath(name), s"_staging/${java.util.UUID.randomUUID()}")
    try body(staging) finally scala.util.Try(fs.delete(staging, true))
  }

  /** Commit the files a job wrote under `staging`: move them into the data
    * dir, record them with their footer stats (read on the driver) in one
    * log entry over `read`, with `removes`, the files a rewrite read, then
    * unlink those. Until the entry is published the moved files are
    * orphans no read sees. Callers hold the commit lock. */
  private def commitStaged(name: String, read: FileState, schema: CompactedTableSchema,
      staging: Path, op: String, removes: Seq[String] = Nil,
      layout: Option[String] = None): FileState = {
    fs.mkdirs(logPath(name)) // a log exists first: moved files never read as an old layout
    val base = fs.makeQualified(staging).toString + "/"
    val moved = listParquet(staging).map { f =>
      val dst = new Path(dataPath(name), f.getPath.toString.stripPrefix(base))
      fs.mkdirs(dst.getParent)
      if (!fs.rename(f.getPath, dst))
        throw new IllegalStateException(s"cannot move staged file ${f.getPath} into '$name'")
      f.setPath(fs.makeQualified(dst))
      f
    }
    val st = commit(name, read, LogEntry(op, footerEntries(name, schema, moved), removes,
      k2Type = secondaryOrderKey(schema).map(_._2), layout = layout))
    unlink(name, removes)
    st
  }

  /** Best-effort removal of files (relative paths) a published entry
    * removed, with the partition directories that leaves empty: the entry
    * already took them out of the tableset, so a failure only leaves
    * orphans. */
  private def unlink(name: String, rels: Seq[String]): Unit = scala.util.Try {
    rels.foreach(r => fs.delete(new Path(dataPath(name), r), false))
    rels.flatMap(_.split('/').toSeq.init.inits.filter(_.nonEmpty).map(_.mkString("/"))).distinct
      .sortBy(d => -d.count(_ == '/')).map(new Path(dataPath(name), _))
      .foreach(d => if (fs.listStatus(d).isEmpty) fs.delete(d, false))
  }

  private def relToData(name: String, abs: String): String = {
    val qualified = qualifiedDataDir(name) + "/"
    val schemeless = dataPath(name).toUri.getPath.stripSuffix("/") + "/"
    if (abs.startsWith(qualified)) abs.stripPrefix(qualified)
    else if (abs.startsWith(schemeless)) abs.stripPrefix(schemeless)
    else abs
  }

  /** Every parquet file under `dir`, with fully-qualified paths (scheme-less
    * ones would resolve against the DEFAULT filesystem in spark.read).
    * Manual walk, NOT fs.listFiles(recursive): a job's transient
    * `_temporary` subtree is skipped, and tolerated when it vanishes
    * between list and stat (the recursive iterator throws instead). */
  private def listParquet(dir: Path): Seq[FileStatus] = {
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

  /** The data dir as a fully-qualified URI string (no trailing slash) —
    * the base every relative file path resolves against for reading. */
  private def qualifiedDataDir(name: String): String =
    fs.makeQualified(dataPath(name)).toString.stripSuffix("/")

  // -------------------------------------------------------------- snapshots

  /** Snapshot ids in commit order: the append and delete versions of the
    * log that time travel still reads (empty if nothing was committed). */
  def snapshotIds(name: String): Seq[Long] = fileState(name).ids

  /** Time travel: the tableset's rows as of snapshot `snapshotId` (that
    * commit and every earlier one), replayed from the log. Append-only
    * history reads exactly; a rewrite (optimize, compaction, drop) REMOVES
    * the files it read, which invalidates earlier snapshots — that surfaces
    * as a loud error here, not silently-wrong rows (rewrites preserve
    * current content, not history; a store that must keep history vacuums
    * instead of rewriting). */
  def scanAsOf(name: String, snapshotId: Long): DataFrame = {
    val st = fileState(name)
    require(st.ids.contains(snapshotId),
      s"tableset '$name' has no snapshot $snapshotId (have: ${st.ids.mkString(", ")})")
    val asOf = replay(name, snapshotId)
    val missing = asOf.files.map(_.path).filterNot(st.byRel.contains)
    if (missing.nonEmpty) throw new IllegalStateException(
      s"snapshot $snapshotId of '$name' was invalidated by a rewrite " +
        s"(deduplicate/replace/compactFiles): ${missing.size} file(s) no longer exist")
    // deletes are time-travel points too: the as-of state masks with the
    // deletes committed up to it, on their captured files
    readFilesMasked(name, st, asOf.dataFiles, asOf.deletes)
  }

  /** [[scanForResolution]] against a snapshot. */
  def scanForResolutionAsOf(name: String, targetRes: Int, snapshotId: Long): DataFrame =
    scanAsOf(name, snapshotId).where(resolutionFilter(targetRes))

  /** Snapshot retention: keep the last `keepLast` snapshots time-travelable;
    * older ids then fail [[scanAsOf]]'s existence check — "history starts
    * at the oldest kept id", the lakehouse snapshot-expiry contract. Writes
    * one checkpoint entry with the kept ids, which also bounds what a cold
    * reader replays. Metadata-only: no data file is touched. */
  def vacuumSnapshots(name: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    CellStore.commitLock(cacheKey(name)).synchronized {
      val st = fileState(name)
      if (st.ids.size > keepLast) checkpoint(name, st, st.ids.takeRight(keepLast))
    }
  }

  /** A checkpoint entry: the whole state `st`, with snapshot ids `ids`. */
  private def checkpoint(name: String, st: FileState, ids: Seq[Long]): Unit = {
    commit(name, st, LogEntry(LogEntry.Checkpoint, st.files, deletes = st.deletes, ids = ids,
      k2Type = st.k2Type, layout = st.layout))
    ()
  }

  // ---------------------------------------------------------------- deletes

  /** ClickHouse-style LIGHTWEIGHT DELETE: `DELETE FROM name WHERE pred`
    * masks matching rows at read time and removes them physically only when
    * a later rewrite reads their files — the reference's ClickHouse backend
    * inherits exactly this mutation model (`DELETE` sets a row mask applied
    * at SELECT; OPTIMIZE/merges materialize it). Here the mutation is a
    * PREDICATE + the captured current file list, one log entry:
    *
    *  - no data file is touched — the entry is O(metadata), like a
    *    snapshot commit, which is what makes deletes viable at 100 TB;
    *  - every read path ([[scanForResolution]], [[queryCells]], value-range
    *    reads, [[scanAsOf]]) applies `NOT coalesce(pred, false)` to the rows
    *    of CAPTURED files only — rows inserted AFTER the delete are never
    *    masked even when they match the predicate (ClickHouse semantics:
    *    DELETE affects rows that existed when it ran);
    *  - a rewrite reads masked rows, writes the survivors and removes the
    *    files it read, so the delete stays pending exactly while a captured
    *    file is live;
    *  - the returned id is the entry's log version, a snapshot id, so the
    *    delete is a time-travel point: `scanAsOf(id)` sees it applied,
    *    earlier snapshots do not.
    *
    * The predicate must be deterministic (a `rand()` mask would change
    * per read) and resolvable against the declared + partition columns —
    * both checked here, loudly. Returns -1 when the tableset holds no data
    * files (nothing to capture). [[dropColumn]] refuses to drop a column a
    * pending delete's predicate references — materialize first. */
  def deleteWhere(name: String, predicateSql: String): Long = {
    getTableset(name) // existence + schema check
    val pred = expr(predicateSql)
    val raw = fileState(name)
    val analyzed = readDataFiles(name, raw, raw.dataFiles).where(pred).queryExecution.analyzed
    val det = analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.deterministic
    }.forall(identity)
    require(det, s"deleteWhere predicate must be deterministic, got: $predicateSql")
    CellStore.commitLock(cacheKey(name)).synchronized {
      val st = fileState(name)
      if (st.files.isEmpty) return -1L
      commit(name, st, LogEntry(LogEntry.Delete,
        deletes = Seq(DeleteMutation(-1L, predicateSql, st.files.map(_.path).sorted)))).version
    }
  }

  /** Pending (unmaterialized) delete mutations in id order. */
  def pendingDeletes(name: String): Seq[DeleteMutation] = fileState(name).deletes

  /** Materialize every pending delete: rewrite exactly the captured files
    * still live ([[rewriteFiles]]: the masked read drops deleted rows on
    * the way through, and the commit removes every file it read, so no
    * captured file is left and no delete stays pending). Scans then take
    * the unmasked fast path again. Like any rewrite, invalidates earlier
    * snapshots. */
  def applyDeletes(name: String): Unit =
      CellStore.commitLock(cacheKey(name)).synchronized {
    val st = fileState(name)
    val captured = st.deletes.flatMap(_.files).distinct
    if (captured.nonEmpty) rewriteFiles(name, st, captured, (all, _) => all, clusterKey = null)
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
    * here it is also what makes the operation DRIVER-ONLY
    * ([[partitionDirsWhere]]): no data file is ever opened. NULL evaluates
    * to not-dropped. One log entry removes the directories' files, which
    * are then unlinked; like any rewrite, dropping invalidates earlier
    * snapshots (scanAsOf fails loudly) and retires the dropped files from
    * pending deletes' capture sets. Returns the number of directories
    * removed. */
  def dropPartitionsWhere(name: String, touched: org.apache.spark.sql.Column): Int =
      CellStore.commitLock(cacheKey(name)).synchronized {
    getTableset(name)
    val st = fileState(name)
    val dirs = partitionDirsWhere(name, st, touched).toSet
    val files = st.files.map(_.path).filter(p => dirs(p.substring(0, p.lastIndexOf('/') max 0)))
    if (files.nonEmpty) {
      commit(name, st, LogEntry(LogEntry.Rewrite, removes = files))
      unlink(name, files)
    }
    dirs.size
  }

  /** The partition directories (relative to the data dir) of `st`'s files
    * whose partition values satisfy `touched`: the distinct directories are
    * parsed from the log's paths and the predicate is evaluated over that
    * tiny LOCAL frame (partition-count rows, no Spark job). A reference to a
    * non-partition column fails analysis loudly (UNRESOLVED_COLUMN). */
  private def partitionDirsWhere(name: String, st: FileState,
      touched: org.apache.spark.sql.Column): Seq[String] = {
    val dirs = st.files.map(_.path).flatMap { r =>
      val i = r.lastIndexOf('/')
      if (i < 0) None else Some(r.substring(0, i))
    }.distinct
    if (dirs.isEmpty) return Nil
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
        s"partition predicate on '$name': inconsistent partition layout — " +
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
      Row.fromSeq(d +: vals)
    }
    val schemaT = StructType(StructField("__dir", StringType, false) +:
      colNames.map(c => StructField(c, StringType, true)))
    val untyped = spark.createDataFrame(rows.asJava, schemaT)
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
    local.where(coalesce(touched, lit(false)))
      .select(col("__dir")).collect().map(_.getString(0)).toSeq
  }

  /** Read `files` under the declared schema with the delete mask applied
    * per file group. Files are grouped DRIVER-SIDE by which mutations
    * captured them — typically 2 groups: "captured by all pending deletes"
    * and "inserted since" — and each group reads with the conjunction of
    * its applicable `NOT coalesce(pred, false)` filters. Row-level filters
    * and partition pruning push into each union branch unchanged; a file in
    * no capture set reads raw, so post-delete inserts pay nothing. */
  private def readFilesMasked(name: String, st: FileState, files: Seq[FileStatus],
      dels: Seq[DeleteMutation]): DataFrame = {
    if (files.isEmpty) return emptyDeclared(name)
    val groups = files.groupBy { f =>
      val rel = relToData(name, f.getPath.toString)
      dels.collect { case d if d.fileSet(rel) => d.id }
    }
    groups.map { case (ids, group) =>
      val df = readDataFiles(name, st, group)
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

  /** Whether the tableset has per-file statistics: true once it has a log,
    * as every commit records its files' footer stats. */
  def hasManifest(name: String): Boolean = {
    fileState(name) // an old layout converts first
    fs.exists(logPath(name))
  }

  /** The FILE-LEVEL data-skipping index, the Iceberg/Delta manifest applied
    * to this layout, is the log itself: every commit records its files'
    * partition values, h3index min/max, row count and k2 range from their
    * parquet footers ([[footerEntries]]), so the DRIVER hands Spark only the
    * files whose range meets a probe's envelopes — typically one or two per
    * partition, as [[sortedForWrite]] gives them DISJOINT ranges. Building
    * it writes a checkpoint entry of the current state (Delta's checkpoint,
    * Armbrust et al., VLDB 2020), so a cold reader replays one entry: no
    * Spark job, no data or footer read. */
  def buildManifest(name: String): Unit =
    CellStore.commitLock(cacheKey(name)).synchronized {
      val st = fileState(name)
      checkpoint(name, st, st.ids)
    }

  /** Kept for callers of the manifest API: every commit already records its
    * files' stats, so there is nothing to refresh. */
  def refreshManifest(name: String): Unit =
    require(hasManifest(name),
      s"tableset '$name' has no manifest to refresh — run buildManifest first")

  /** The log records of `files` from their parquet footers, read on the
    * driver: partition values from the path relative to the data dir, the
    * h3index and k2 ranges and row count from the row groups (k2 null,
    * "unknown", unless its stats order values as Spark does; h3index the
    * full Long range without stats, so every probe selects the file). Stats
    * cover the physical rows, a safe superset of the live ones under
    * deletes. */
  private def footerEntries(name: String, schema: CompactedTableSchema,
      files: Seq[FileStatus]): Seq[ManifestEntry] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { file =>
      val rel = relToData(name, file.getPath.toString)
      val parts = rel.split('/').map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      def part[T](k: String, parse: String => Option[T]): T = parts.get(k).flatMap(parse)
        .getOrElse(throw new IllegalStateException(
          s"tableset '$name': data file outside the kind=/resolution=/ph3= layout: $rel"))
      val (kind, res, ph3) =
        (part("kind", Some(_)), part("resolution", _.toIntOption), part("ph3", _.toLongOption))
      val groups = ParquetFileReader.readFooter(conf, file, ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.toSeq.filter(_.getRowCount > 0)
      // column `c`'s stats per row group, when every group has a value range
      def stats(c: String) = Some(groups.map(_.getColumns.asScala
        .find(_.getPath.toDotString == c).map(_.getStatistics).orNull))
        .filter(ss => ss.nonEmpty && ss.forall(s => s != null && s.hasNonNullValue))
      val h3 = stats(CompactedTableSchema.ColH3Index)
      val bc = if (schema.h3Partitioning == H3Partitioning.BaseCell) ph3
        else H3.getBaseCell(ph3).toLong
      val k2 = for {
        (c, t) <- secondaryOrderKey(schema); ss <- stats(c); f <- k2Value(t, ss.head.`type`)
      } yield {
        val ord = TypeUtils.getInterpretedOrdering(t)
        (ss.map(s => f(s.genericGetMin)).min(ord), ss.map(s => f(s.genericGetMax)).max(ord))
      }
      ManifestEntry(rel, kind, res, ph3, bc,
        h3.fold(Long.MinValue)(_.map(_.genericGetMin.asInstanceOf[Long]).min),
        h3.fold(Long.MaxValue)(_.map(_.genericGetMax.asInstanceOf[Long]).max),
        groups.map(_.getRowCount).sum, k2.map(_._1).orNull, k2.map(_._2).orNull, file.getLen)
    }
  }

  /** The Catalyst value of a footer stat of type `p`, for a k2 of type `t`
    * whose parquet order is Spark's: signed integers, dates, microsecond
    * timestamps, UTF-8 strings (bytewise). Float stats skip NaN, which Spark
    * orders last, and INT96 timestamps have none: both stay unknown. */
  private def k2Value(t: DataType, p: PrimitiveType): Option[Any => Any] = {
    import LogicalTypeAnnotation._
    import PrimitiveType.PrimitiveTypeName._
    (t, p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
      case (LongType, INT64, null) | (IntegerType, INT32, null) |
          (DateType, INT32, _: DateLogicalTypeAnnotation) => Some(identity)
      case (TimestampType, INT64, ts: TimestampLogicalTypeAnnotation)
          if ts.isAdjustedToUTC && ts.getUnit == TimeUnit.MICROS => Some(identity)
      case (StringType, BINARY, _: StringLogicalTypeAnnotation) =>
        Some(v => UTF8String.fromBytes(v.asInstanceOf[Binary].getBytes))
      case _ => None
    }
  }

  /** The first ORDER BY column after h3index and its type, if declared:
    * the key [[zorderFiles]] co-clusters with h3index and whose per-file
    * range the log records for [[scanForValueRange]]. */
  private def secondaryOrderKey(schema: CompactedTableSchema): Option[(String, DataType)] =
    schema.orderByKey.filterNot(_ == CompactedTableSchema.ColH3Index).headOption
      .map(k2 => k2 -> schema.columns(k2).dataType.sparkType)

  /** The log records of `name`'s live files. */
  private[store] def manifestEntries(name: String): Seq[ManifestEntry] = fileState(name).files

  /** Driver-side file selection for a probe query, with no Spark job: the
    * probed base cells' files that pass the scan's own kind/resolution
    * ([[resolutionFilter]]) and [[probeEnvelopes]] predicates. None for no
    * probes. */
  private[graft] def selectFilesForProbes(name: String, targetRes: Int,
      cells: Seq[Long]): Option[ManifestSelection] =
    Some(cells).filter(_.nonEmpty).map(probeSelection(fileState(name), targetRes, _))

  private def probeSelection(st: FileState, targetRes: Int, cells: Seq[Long]): ManifestSelection = {
    val envs = probeEnvelopes(cells, (0 to targetRes).toSeq)
    selection(st, cells.map(H3.getBaseCell(_).toLong).distinct
      .flatMap(bc => st.byBc.getOrElse(bc, Nil))
      .filter(e => keepsResolution(e.kind, e.resolution, targetRes) &&
        envs.exists { case (lo, hi) => e.minH3 <= hi && e.maxH3 >= lo }))
  }

  private def selection(st: FileState, kept: Seq[ManifestEntry]): ManifestSelection =
    ManifestSelection(kept.map(e => s"${st.dataDir}/${e.path}"),
      manifestFiles = st.files.count(_.hasH3Stats), currentFiles = st.files.size,
      uncoveredFiles = kept.count(!_.hasH3Stats))

  /** [[selectFilesForProbes]]'s contract on the VALUE dimension: files at
    * the target resolution whose [k2_min, k2_max] meets [lo, hi] by Spark's
    * own comparison (analyzed, for coercion and time zone, then evaluated
    * on the driver), or whose k2 is unknown. Prunes once [[zorderFiles]]
    * co-clusters the key. None without k2 stats. */
  private[graft] def selectFilesForValueRange(name: String, targetRes: Int,
      lo: Any, hi: Any): Option[ManifestSelection] =
    valueRangeSelection(fileState(name), targetRes, lo, hi)

  private def valueRangeSelection(st: FileState, targetRes: Int,
      lo: Any, hi: Any): Option[ManifestSelection] =
    st.k2Type.map { t =>
      val stats = LocalRelation(Seq("k2_min", "k2_max").map(AttributeReference(_, t)()))
      val Filter(cond, _) = shims.ofRows(spark, stats)
        .where(col("k2_max") >= lit(lo) && col("k2_min") <= lit(hi)).queryExecution.analyzed
      val inRange = Predicate.createInterpreted(BindReferences.bindReference(cond, stats.output))
      selection(st, st.files.filter(e =>
        keepsResolution(e.kind, e.resolution, targetRes) &&
          (e.k2Min == null || e.k2Max == null || inRange.eval(InternalRow(e.k2Min, e.k2Max)))))
    }

  /** Secondary-key range scan at `targetRes`: rows whose secondary ORDER BY
    * column lands in [lo, hi], file-pruned by [[selectFilesForValueRange]]
    * when it can, with the row filter always on top. */
  def scanForValueRange(name: String, targetRes: Int, lo: Any, hi: Any): DataFrame = {
    val schema = getTableset(name)
    val (k2, _) = secondaryOrderKey(schema).getOrElse(throw new IllegalArgumentException(
      s"tableset '$name' declares no ORDER BY column after h3index — " +
        "scanForValueRange needs a secondary sort key"))
    val st = fileState(name)
    val base = valueRangeSelection(st, targetRes, lo, hi) match {
      case Some(sel) => readFilesMasked(name, st, sel.paths.map(st.byPath), st.deletes)
      case None => readDeclared(name, st)
    }
    base.where(resolutionFilter(targetRes))
      .where(col(k2) >= lit(lo) && col(k2) <= lit(hi))
  }

  // --------------------------------------------------------------- optimize

  /** A12: full-row dedup across all accumulated inserts — the explicit
    * equivalent of `OPTIMIZE TABLE ... DEDUPLICATE` (`optimize.rs:20-113`).
    * Publishes as one log commit (see [[deduplicateWhere]]); with the
    * always-true predicate every partition is touched. */
  def deduplicate(name: String): Unit = deduplicateWhere(name, lit(true))

  /** A11 + A12 partial optimization: dedup ONLY the partitions matched by
    * `touched` (a predicate over the partition columns kind/resolution/ph3),
    * the analogue of the reference's per-touched-partition
    * `OPTIMIZE ... PARTITION p DEDUPLICATE` (`optimize.rs:20-83`, partition
    * list from A11 `optimize.rs:41-56`).
    *
    * I/O is partition-scoped for real: the predicate picks the touched
    * partitions' files on the driver, the deduped result is staged, and one
    * log entry swaps the staged files in for exactly the files read —
    * untouched partition directories are never read, rewritten, or renamed.
    * At 100 TB a post-insert optimize costs O(touched partitions), not a
    * full-table rewrite.
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
    * partitions, then a single staged write publishes them. A failure
    * before the log commit leaves the tableset untouched; rerun to retry. */
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
    * distinction). Same partition-scoped publication as the other optimize
    * ops: untouched directories are never read or rewritten. */
  def compactFilesWhere(name: String, touched: org.apache.spark.sql.Column): Unit =
    optimizePartitions(name, touched, (all, _) => all)

  def compactFiles(name: String): Unit = compactFilesWhere(name, lit(true))

  /** Z-ORDER rewrite: re-cluster the touched partitions' files on the
    * interleaved bits of (h3index, secondary ORDER BY key) instead of the
    * plain h3index-first sort — after it, files within a directory carry
    * ranges that are tight on BOTH dimensions, so h3 probes keep their
    * row-group skipping AND secondary-key range queries prune at file level
    * through the log's k2 stats ([[scanForValueRange]]). The
    * multi-dimensional clustering Delta's OPTIMIZE ZORDER / Iceberg's
    * sort-order rewrite apply to the same problem; linearization follows
    * the classic Z-curve (Morton order).
    *
    * Semantics-preserving like [[compactFiles]]: rows are moved, never
    * merged or dropped. Scale shape: per-column min/max is one aggregate
    * (a single driver row); the Z-value is pure codegen'd bit arithmetic;
    * clustering is one repartitionByRange on (partition cols, zval) — the
    * same shuffle budget as any optimize rewrite. */
  def zorderFiles(name: String): Unit = zorderFilesWhere(name, lit(true))

  def zorderFilesWhere(name: String, touched: org.apache.spark.sql.Column): Unit = {
    val schema = getTableset(name)
    val (k2, _) = secondaryOrderKey(schema).getOrElse(throw new IllegalArgumentException(
      s"tableset '$name' declares no ORDER BY column after h3index — " +
        "zorderFiles needs a second dimension to interleave"))
    // the Morton bucketing normalizes via a double cast — a non-numeric key
    // would cast to NULL and interleave garbage SILENTLY (range reads stay
    // type-agnostic: the log's min/max and the filters work on any ordered
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
        // an empty frame (every row masked) has no bounds
        def at(i: Int) = if (b.isNullAt(i)) 0.0 else b.getDouble(i)
        val bh = bucket16(col(h3Col), at(0), at(1))
        val bv = bucket16(col(k2), at(2), at(3))
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
    * written files. The touched partitions' files are found on the driver
    * ([[partitionDirsWhere]]) and rewritten by [[rewriteFiles]]. */
  private def optimizePartitionsClustered(name: String,
      touched: org.apache.spark.sql.Column,
      collapse: (DataFrame, CompactedTableSchema) => DataFrame,
      clusterKey: DataFrame => org.apache.spark.sql.Column): Unit =
      CellStore.commitLock(cacheKey(name)).synchronized {
    val schema = getTableset(name)
    val st = fileState(name)
    // declared-schema read: a partition-scoped rewrite must carry added
    // columns (NULL for historical rows), not silently drop them because a
    // random file's footer predates the ALTER
    val all = readDeclared(name, st)
    val allPartCols = "kind" +: "resolution" +: "ph3" +: partitionColumns(all, schema)._2
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
    val dirs = partitionDirsWhere(name, st, touched).toSet
    val files = st.files.map(_.path).filter(p => dirs(p.substring(0, p.lastIndexOf('/') max 0)))
    if (files.nonEmpty) rewriteFiles(name, st, files, collapse, clusterKey)
  }

  /** Rewrite `files` (relative paths of `st`): read them with the delete
    * mask, `collapse`, write the result to staging in the write-path layout
    * (or clustered on `clusterKey`), and commit it in one entry that
    * removes exactly the files read — so every delete they were captured
    * by is materialized on them, even when no row survives. SERIALIZED with
    * [[deleteWhere]]/insert on the per-tableset commit lock (callers hold
    * it across the whole rewrite): a delete committed between this masked
    * read and the commit would capture files the commit then removes
    * WITHOUT the new mask applied, and an ACKNOWLEDGED delete would
    * silently un-happen. A cross-JVM commit in that window fails the
    * rewrite's commit instead ([[commit]]). */
  private def rewriteFiles(name: String, st: FileState, files: Seq[String],
      collapse: (DataFrame, CompactedTableSchema) => DataFrame,
      clusterKey: DataFrame => org.apache.spark.sql.Column): Unit = {
    val schema = getTableset(name)
    val read = readFilesMasked(name, st, files.map(f => st.byPath(s"${st.dataDir}/$f")), st.deletes)
    val (withParts, partCols) = partitionColumns(collapse(read, schema), schema)
    val allPartCols = "kind" +: "resolution" +: "ph3" +: partCols
    // checkpoint BEFORE the range repartition: repartitionByRange computes
    // its bounds with a separate SAMPLING job that re-executes the upstream
    // plan — without the checkpoint here, that sampling pass would re-run
    // the whole touched-partition collapse a second time
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
    withStaging(name) { staging =>
      clustered.write
        .option("compression", parquetCodec(schema))
        .partitionBy(allPartCols: _*)
        .parquet(staging.toString)
      commitStaged(name, st, schema, staging, LogEntry.Rewrite, removes = files)
    }
    ()
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
    * of `files` (paths RELATIVE to the data dir, like every log record — a
    * tableset rename keeps them valid) matching `predicate` are masked at
    * every read until a rewrite materializes the delete. `id` is the
    * delete's log version, a snapshot id, so inserts and deletes are
    * totally ordered for time travel. */
  final case class DeleteMutation(id: Long, predicate: String, files: Seq[String]) {
    @transient lazy val fileSet: Set[String] = files.toSet
  }

  /** Result of the driver-side file pruning on the log's stats (counts
    * exposed so specs/ops can assert the pruning actually pruned):
    * `manifestFiles` live files have h3index stats, `uncoveredFiles` of the
    * selected ones do not. */
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
