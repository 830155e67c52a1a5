package graft.store

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.h3.H3

/** Test oracle for [[CellStore.selectFilesForProbes]]: the probe-file
  * selection as a Spark query over the log's file records computes it — a
  * local frame of the records with the bc, kind/resolution and h3 envelope
  * predicates as Catalyst filters, live files kept, and any data file the
  * log does not record added (there should be none). The live files are
  * walked here with java.nio, not taken from the store's cached state. */
object SparkProbeSelection {

  /** Selected files of `name`, as paths relative to its data directory. */
  def select(spark: SparkSession, store: CellStore, root: String, name: String,
      targetRes: Int, cells: Seq[Long]): Set[String] = {
    import spark.implicits._
    val envs = store.probeEnvelopes(cells, (0 to targetRes).toSeq)
    val bcs = cells.map(H3.getBaseCell(_).toLong).distinct
    val manifest = store.manifestEntries(name)
      .map(e => (e.path, e.kind, e.resolution, e.bc, e.minH3, e.maxH3))
      .toDF("path", "kind", "resolution", "bc", "min_h3", "max_h3")
    val selected = manifest
      .where(col("bc").isin(bcs: _*))
      .where(store.resolutionFilter(targetRes))
      .where(envs.map { case (lo, hi) =>
        col("min_h3") <= lit(hi) && col("max_h3") >= lit(lo) }.reduce(_ || _))
      .select("path").collect().map(_.getString(0)).toSet
    val covered = manifest.select("path").collect().map(_.getString(0)).toSet
    val live = liveFiles(Paths.get(root, name, "data"))
    (selected intersect live) ++ (live -- covered)
  }

  /** A selection's qualified paths, relative to the data directory. */
  def relative(root: String, name: String, paths: Seq[String]): Set[String] = {
    val data = Paths.get(root, name, "data")
    paths.map(p => data.relativize(Paths.get(new java.net.URI(p))).toString).toSet
  }

  private def liveFiles(data: Path): Set[String] = {
    val hidden = (p: Path) => p.getFileName.toString.startsWith("_") ||
      p.getFileName.toString.startsWith(".")
    Files.walk(data).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(data.relativize)
      .filterNot(rel => rel.iterator().asScala.exists(hidden))
      .map(_.toString).toSet
  }
}
