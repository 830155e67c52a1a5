package graft.store

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.store.CellStore.{DeleteMutation, ManifestSelection}

/** Everything the store caches about one tableset's files, as one value per
  * (root, tableset), built in one pass by [[CellStore]]:
  *  - `dataFiles`: the live data files (the `listDataFiles` walk), fully
  *    qualified, so reads plan from them without touching the filesystem;
  *  - `deletes`: the pending lightweight-delete markers, in id order;
  *  - `manifest`: the manifest's files and footer schema, when one is built;
  *  - memoized on first use: the declared read schema, the parsed Hive
  *    partitions of the data and manifest files, the manifest coverage diff
  *    and the probe-file selections, keyed by content
  *    `(targetRes, cells.distinct.sorted)`.
  *
  * The value holds no session-bound object, so one JVM-wide map serves
  * every session and every [[CellStore]] instance at a root (the SQL TVFs
  * build a fresh instance per call). It is invalidated as a whole: every
  * same-JVM mutator and both manifest writers drop it through
  * [[CellStore.invalidateFileCaches]], and the next read rebuilds it.
  * Writers outside this JVM (or manual file surgery) are not seen until
  * the caller runs `invalidateFileCaches` itself. */
private[store] final class FileState(
    val dataFiles: Seq[FileStatus],
    val deletes: Seq[DeleteMutation],
    val manifest: Option[(Seq[FileStatus], StructType)]) {

  val dataPaths: Seq[String] = dataFiles.map(_.getPath.toString)
  lazy val byPath: Map[String, FileStatus] = dataPaths.zip(dataFiles).toMap

  private val memo = new ConcurrentHashMap[Any, AnyRef]()
  private def memoized[T <: AnyRef](key: Any)(build: => T): T =
    graft.util.Memo.getOrBuild(memo, key)(build).asInstanceOf[T]

  /** (manifest entry count, relative paths of live files it does not cover). */
  def coverage(build: => (Long, Seq[String])): (Long, Seq[String]) =
    memoized("coverage")(build)

  def selection(targetRes: Int, cells: Seq[Long])(
      build: => ManifestSelection): ManifestSelection =
    memoized((targetRes, cells.distinct.sorted))(build)

  /** The declared read schema of the data files. */
  def readSchema(build: => StructType): StructType = memoized("readSchema")(build)

  /** A parquet read over exactly `files`, a subset of `all` (the data files
    * or the manifest files) under `root`, with no filesystem call and no
    * listing job at planning. `root` is the base path: Hive partition
    * columns are parsed from the paths below it, typed by `schema` where it
    * names them. The partitions of `all` are parsed once per state and
    * serve every `files` whose directories they cover (a partition none of
    * `files` is in reads empty). An empty `files` plans a relation without
    * partition columns; callers build their own empty frame instead. */
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

private[store] object FileState {
  private val states = scala.collection.concurrent.TrieMap.empty[String, FileState]

  def get(key: String)(load: => FileState): FileState = states.getOrElseUpdate(key, load)
  def invalidate(key: String): Unit = { states.remove(key); () }

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
