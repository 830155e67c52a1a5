package graft.store

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}

import graft.store.CellStore.DeleteMutation
import graft.util.Memo

/** Everything the store caches about one tableset's files, as one value per
  * (root, tableset), built in one pass by [[CellStore]]:
  *  - `dataFiles`: the live data files (the `listDataFiles` walk), fully
  *    qualified, so reads plan from them without touching the filesystem;
  *  - `deletes`: the pending lightweight-delete markers, in id order;
  *  - `manifest`: the manifest's files and footer schema, when one is built;
  *  - memoized on first use: the declared read schema, the parsed Hive
  *    partitions, the stored compacted resolutions, the manifest's stats
  *    ([[ManifestStats]], unless a writer installed them) and the live
  *    files they do not cover.
  *
  * The value holds no session-bound object, so one JVM-wide map serves
  * every session and every [[CellStore]] instance at a root. Same-JVM
  * mutators drop it ([[CellStore.invalidateFileCaches]]), except that an
  * insert keeps the loaded stats over its new listing and the manifest
  * writers install the stats they wrote ([[FileState.replace]]). Writers
  * outside this JVM are not seen until the caller invalidates. */
private[store] final class FileState(
    val dataFiles: Seq[FileStatus],
    val deletes: Seq[DeleteMutation],
    val manifest: Option[(Seq[FileStatus], StructType)],
    stats: Option[ManifestStats] = None) {

  val dataPaths: Seq[String] = dataFiles.map(_.getPath.toString)
  lazy val byPath: Map[String, FileStatus] = dataPaths.zip(dataFiles).toMap

  private val memo = new ConcurrentHashMap[Any, Memo.Cell[Any]]()
  private def memoized[T](key: Any)(build: => T): T =
    Memo.getOrBuild(memo, key)(build).asInstanceOf[T]
  stats.foreach(s => memo.put("manifestStats", new Memo.Cell(s)))

  /** The manifest's stats rows, loaded on first use. */
  def manifestStats(load: => ManifestStats): ManifestStats = memoized("manifestStats")(load)

  /** The live files (relative paths) the manifest does not cover. */
  def uncovered(build: => Seq[String]): Seq[String] = memoized("uncovered")(build)

  /** A successor with the same deletes, carrying the stats, if loaded,
    * unless `manifest` and `stats` replace them. */
  def next(dataFiles: Seq[FileStatus] = dataFiles,
      manifest: Option[(Seq[FileStatus], StructType)] = manifest,
      stats: Option[ManifestStats] = loadedStats.map(_.asInstanceOf[ManifestStats])): FileState =
    new FileState(dataFiles, deletes, manifest, stats)
  private def loadedStats = Option(memo.get("manifestStats")).flatMap(c => Try(c.value).toOption)

  /** The resolutions of the stored compacted partitions. */
  def compactedResolutions(build: => Set[Int]): Set[Int] =
    memoized("compactedResolutions")(build)

  /** The declared read schema of the data files. */
  def readSchema(build: => StructType): StructType = memoized("readSchema")(build)

  /** A parquet read over exactly `files`, a subset of `all` (the data files
    * or the manifest files) under the base path `root`, with no filesystem
    * call at planning. Hive partition columns are parsed from the paths
    * below `root` (typed by `schema` where it names them) once per state
    * for `all`, serving every `files` whose directories they cover. An
    * empty `files` plans a relation without partition columns. */
  def read(spark: SparkSession, root: Path, all: Seq[FileStatus], files: Seq[FileStatus],
      schema: StructType): DataFrame = {
    val (allPartitions, dirs) = memoized(root) {
      val spec = FileState.index(spark, root, all, schema, None).partitionSpec()
      (spec, spec.partitions.map(_.path).toSet)
    }
    val idx = FileState.index(spark, root, files, schema,
      Some(allPartitions).filter(_ => files.forall(f => dirs(f.getPath.getParent))))
    val partitionSchema = idx.partitionSchema
    // nullable like any file read: the files, not the schema, hold the truth
    val dataSchema = StructType(schema.filterNot(f => partitionSchema.fieldNames.contains(f.name))
      .map(_.copy(nullable = true)))
    spark.baseRelationToDataFrame(HadoopFsRelation(idx, partitionSchema,
      dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
  }
}

/** One manifest row: a data file's path relative to the data dir, its
  * partition values, h3index range, row count and k2 range (Catalyst
  * values, both null when unknown). */
private[store] final case class ManifestEntry(path: String, kind: String, resolution: Int,
    ph3: Long, bc: Long, minH3: Long, maxH3: Long, rows: Long, k2Min: Any, k2Max: Any)

/** The manifest's entries with h3index stats, every path it covers, and
  * the type of its k2 columns when it has them. */
private[store] final case class ManifestStats(entries: Seq[ManifestEntry],
    covered: Set[String], k2Type: Option[DataType]) {
  lazy val byBc: Map[Long, Seq[ManifestEntry]] = entries.groupBy(_.bc)
  def ++(more: Seq[ManifestEntry]): ManifestStats =
    copy(entries = entries ++ more, covered = covered ++ more.map(_.path))
}

private[store] object FileState {
  private val states = scala.collection.concurrent.TrieMap.empty[String, FileState]

  def get(key: String)(load: => FileState): FileState = states.getOrElseUpdate(key, load)
  def invalidate(key: String): Unit = { states.remove(key); () }
  def peek(key: String): Option[FileState] = states.get(key)

  /** Install `next` in place of `prev`, the state its writer read, or only
    * invalidate when another writer replaced or dropped `prev` meanwhile. */
  def replace(key: String, prev: Option[FileState], next: FileState => FileState): Unit =
    if (!prev.exists(p => states.replace(key, p, next(p)))) invalidate(key)

  /** A file index whose listing answers from `files`, not the filesystem. */
  private def index(spark: SparkSession, root: Path, files: Seq[FileStatus],
      schema: StructType, partitions: Option[PartitionSpec]): InMemoryFileIndex = {
    val listing = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Some(files.toArray)
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    new InMemoryFileIndex(spark, Seq(root), Map.empty, Some(schema), listing, partitions)
  }
}
