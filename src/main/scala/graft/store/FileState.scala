package graft.store

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.store.CellStore.DeleteMutation
import graft.util.Memo

/** A tableset's commit log (`<tableset>/_log/<version>.json`) replayed to
  * `version`, as one value per (root, tableset) held JVM-wide by
  * [[CellStore]]:
  *  - `files`: every live data file with its footer stats, paths relative
  *    to the data dir; `dataFiles` are their fully-qualified statuses, so
  *    reads plan from them without touching the filesystem;
  *  - `deletes`: the pending lightweight deletes, in id order, each with the
  *    captured files still live (a delete is pending while any is);
  *  - `ids`: the snapshot ids (append and delete versions) time travel reads;
  *  - `k2Type`: the type of the files' secondary-key stats, when recorded;
  *  - `layout`: the h3 partitioning tag of the last layout change, if any;
  *  - memoized on first use: the declared read schema and the parsed Hive
  *    partitions.
  *
  * A state only moves forward ([[FileState.advance]]), and [[CellStore]]
  * checks for version N+1 before every read, so commits made through any
  * instance or JVM are seen without invalidation. */
private[store] final class FileState(val version: Long, val files: Seq[ManifestEntry],
    val deletes: Seq[DeleteMutation], val ids: Seq[Long], val k2Type: Option[DataType],
    val layout: Option[String], val dataDir: String) {

  val dataFiles: Seq[FileStatus] = files.map(e =>
    new FileStatus(e.size, false, 1, 0L, 0L, new Path(s"$dataDir/${e.path}")))
  val dataPaths: Seq[String] = dataFiles.map(_.getPath.toString)
  lazy val byPath: Map[String, FileStatus] = dataPaths.zip(dataFiles).toMap
  lazy val byRel: Map[String, ManifestEntry] = files.map(e => e.path -> e).toMap
  lazy val byBc: Map[Long, Seq[ManifestEntry]] = files.groupBy(_.bc)

  private val memo = new ConcurrentHashMap[Any, Memo.Cell[Any]]()
  private def memoized[T](key: Any)(build: => T): T =
    Memo.getOrBuild(memo, key)(build).asInstanceOf[T]

  /** The state after entry `e`, committed as version `v`. A checkpoint
    * replaces the state; any other entry removes, then adds, files and
    * queues its deletes (a delete's id is its version). */
  def applied(v: Long, e: LogEntry): FileState =
    if (e.op == LogEntry.Checkpoint) new FileState(v, e.adds, e.deletes, e.ids, e.k2Type, e.layout, dataDir)
    else {
      val removed = e.removes.toSet
      val live = files.filterNot(f => removed(f.path)) ++ e.adds
      val liveSet = live.iterator.map(_.path).toSet
      val dels = (deletes ++ e.deletes.map(_.copy(id = v)))
        .map(d => d.copy(files = d.files.filter(liveSet))).filter(_.files.nonEmpty)
      val snapshot = e.op == LogEntry.Append || e.op == LogEntry.Delete
      new FileState(v, live, dels, if (snapshot) ids :+ v else ids,
        e.k2Type.orElse(k2Type), e.layout.orElse(layout), dataDir)
    }

  /** The declared read schema of the data files. */
  def readSchema(build: => StructType): StructType = memoized("readSchema")(build)

  /** A parquet read over exactly `files`, a subset of the data files, with
    * no filesystem call at planning. Hive partition columns are parsed from
    * the paths below `root` (typed by `schema` where it names them) once per
    * state for every data file, serving every `files` whose directories they
    * cover. */
  def read(spark: SparkSession, root: Path, files: Seq[FileStatus],
      schema: StructType): DataFrame = {
    val (allPartitions, dirs) = memoized(root) {
      val spec = FileState.index(spark, root, dataFiles, schema, None).partitionSpec()
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

/** One data file's log record: its path relative to the data dir, its
  * partition values, h3index range (the full Long range when its footer has
  * no h3index stats), row count, k2 range (Catalyst values, both null when
  * unknown) and size in bytes. */
private[store] final case class ManifestEntry(path: String, kind: String, resolution: Int,
    ph3: Long, bc: Long, minH3: Long, maxH3: Long, rows: Long, k2Min: Any, k2Max: Any,
    size: Long) {
  def hasH3Stats: Boolean = minH3 != Long.MinValue || maxH3 != Long.MaxValue
}

/** One commit of the log. `op` is [[LogEntry.Append]] (inserts, backfills),
  * [[LogEntry.Delete]] (a lightweight delete and its captured files),
  * [[LogEntry.Rewrite]] (compactions, drops, layout changes: `removes` are
  * the files it read) or [[LogEntry.Checkpoint]] (the whole state: every
  * live file, the pending deletes with their ids, and the snapshot ids
  * time travel still reads). */
private[store] final case class LogEntry(op: String, adds: Seq[ManifestEntry] = Nil,
    removes: Seq[String] = Nil, deletes: Seq[DeleteMutation] = Nil, ids: Seq[Long] = Nil,
    k2Type: Option[DataType] = None, layout: Option[String] = None)

private[store] object LogEntry {
  val Append = "append"
  val Delete = "delete"
  val Rewrite = "rewrite"
  val Checkpoint = "checkpoint"

  private val mapper = new ObjectMapper()

  def toJson(e: LogEntry): Array[Byte] = {
    val n = mapper.createObjectNode().put("op", e.op)
    e.k2Type.foreach(t => n.put("k2Type", t.json))
    e.layout.foreach(n.put("layout", _))
    if (e.op == Checkpoint) {
      val ids = n.putArray("ids")
      e.ids.foreach(ids.add(_))
    }
    val adds = n.putArray("add")
    e.adds.foreach { f =>
      val o = adds.addObject().put("path", f.path).put("size", f.size).put("kind", f.kind)
        .put("resolution", f.resolution).put("ph3", f.ph3).put("bc", f.bc)
        .put("minH3", f.minH3).put("maxH3", f.maxH3).put("rows", f.rows)
      putK2(o, "k2Min", f.k2Min)
      putK2(o, "k2Max", f.k2Max)
    }
    val removes = n.putArray("remove")
    e.removes.foreach(removes.add)
    val deletes = n.putArray("delete")
    e.deletes.foreach { d =>
      val o = deletes.addObject()
      if (e.op == Checkpoint) o.put("id", d.id)
      o.put("predicate", d.predicate)
      val files = o.putArray("files")
      d.files.foreach(files.add)
    }
    mapper.writeValueAsBytes(n)
  }

  def fromJson(bytes: Array[Byte]): LogEntry = {
    val n = mapper.readTree(bytes)
    val k2Type = Option(n.get("k2Type")).map(t => DataType.fromJson(t.asText))
    def k2(o: JsonNode): Any = (o, k2Type) match {
      case (null, _) | (_, None) => null
      case (v, _) if v.isNull => null
      case (v, _) if v.isTextual => UTF8String.fromString(v.asText)
      case (v, Some(IntegerType | DateType)) => v.asInt
      case (v, _) => v.asLong
    }
    LogEntry(n.get("op").asText,
      adds = elements(n.get("add")).map(o => ManifestEntry(o.get("path").asText,
        o.get("kind").asText, o.get("resolution").asInt, o.get("ph3").asLong, o.get("bc").asLong,
        o.get("minH3").asLong, o.get("maxH3").asLong, o.get("rows").asLong,
        k2(o.get("k2Min")), k2(o.get("k2Max")), o.get("size").asLong)),
      removes = elements(n.get("remove")).map(_.asText),
      deletes = elements(n.get("delete")).map(deleteFrom),
      ids = elements(n.get("ids")).map(_.asLong),
      k2Type = k2Type, layout = Option(n.get("layout")).map(_.asText))
  }

  /** An old-layout `_deletes/<id>.delete` marker: a delete's format. */
  def deleteMarker(bytes: Array[Byte]): DeleteMutation = deleteFrom(mapper.readTree(bytes))

  /** A delete: `{"id", "predicate", "files"}`, the id absent in a delete
    * entry (its version is the id). */
  private def deleteFrom(o: JsonNode): DeleteMutation =
    DeleteMutation(Option(o.get("id")).fold(-1L)(_.asLong), o.get("predicate").asText,
      elements(o.get("files")).map(_.asText))

  private def elements(a: JsonNode): Seq[JsonNode] =
    if (a == null) Nil else a.elements.asScala.toSeq

  private def putK2(o: ObjectNode, field: String, v: Any): Unit = v match {
    case null => o.putNull(field)
    case s: UTF8String => o.put(field, s.toString)
    case i: Int => o.put(field, i)
    case l: Long => o.put(field, l)
    case other => throw new IllegalArgumentException(s"unsupported k2 stat $other")
  }
}

private[store] object FileState {
  private val states = new ConcurrentHashMap[String, FileState]()

  def peek(key: String): Option[FileState] = Option(states.get(key))
  def invalidate(key: String): Unit = { states.remove(key); () }

  /** Install `next` unless a later version is installed; the installed state. */
  def advance(key: String, next: FileState): FileState =
    states.merge(key, next, (cur, n) => if (cur.version < n.version) n else cur)

  def empty(dataDir: String): FileState = new FileState(0L, Nil, Nil, Nil, None, None, dataDir)

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
