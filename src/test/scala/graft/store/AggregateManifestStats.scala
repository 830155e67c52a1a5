package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.h3.expr.functions._
import graft.schema.{CompactedTableSchema, H3Partitioning}

/** The manifest rows as [[CellStore.buildManifest]] computed them before it
  * read parquet footers, kept as the differential oracle of
  * `ManifestFooterSpec`: one aggregate over the declared data read (pending
  * deletes masked), grouped by `input_file_name`. One row per data file with
  * a live row: `path` relative to the data dir, its partition values, the
  * h3index min/max, the row count, the k2 min/max when the schema declares
  * a secondary ORDER BY column, and `bc`, the base cell of `ph3`. */
object AggregateManifestStats {
  def rows(store: CellStore, name: String): DataFrame = {
    val h3Col = CompactedTableSchema.ColH3Index
    // input_file_name is a fully-qualified URI whose exact scheme spelling
    // (file:/// vs file:/) differs from Path normalization — relativize on
    // the scheme-less data-dir marker, which is identical in every spelling
    val marker = new Path(store.dataDir(name)).toUri.getPath.stripSuffix("/") + "/"
    val schema = store.getTableset(name)
    val bc = schema.h3Partitioning match {
      case H3Partitioning.BaseCell => col("ph3")
      case H3Partitioning.LowerResolution(_) => h3_get_base_cell(col("ph3")).cast("long")
    }
    val k2Aggs = schema.orderByKey.filterNot(_ == h3Col).headOption.toSeq.flatMap(k2 =>
      Seq(min(col(k2)).as("k2_min"), max(col(k2)).as("k2_max")))
    store.readDeclared(name)
      .groupBy(substring_index(input_file_name(), marker, -1).as("path"),
        col("kind"),
        col("resolution").cast("int").as("resolution"),
        col("ph3").cast("long").as("ph3"))
      .agg(min(col(h3Col)).as("min_h3"),
        (max(col(h3Col)).as("max_h3") +: count(lit(1)).as("rows") +: k2Aggs): _*)
      .withColumn("bc", bc)
  }
}
