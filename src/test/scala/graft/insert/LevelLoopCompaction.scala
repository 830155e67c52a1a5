package graft.insert

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.h3.expr.functions._

/** The level loop that [[Compaction.compact]] replaced, kept verbatim as the
  * differential oracle of `CompactionSpec`: one groupBy shuffle, anti-join
  * and `localCheckpoint` per resolution, from the input's finest resolution
  * down to 1. */
object LevelLoopCompaction {

  /** Compact a deduplicated H3 DataFrame. All columns except `h3Col` are
    * treated as value columns (equality required for merging). */
  def compact(df: DataFrame, h3Col: String = "h3index"): DataFrame = {
    val valueCols = df.columns.filterNot(_ == h3Col).toSeq
    val maxRes = df.select(max(h3_get_resolution(col(h3Col)))).head() match {
      case r if r.isNullAt(0) => return df // empty input
      case r => r.getInt(0)
    }
    val present = mutable.Set[Int](
      df.select(h3_get_resolution(col(h3Col)).as("r")).distinct()
        .collect().map(_.getInt(0)).toIndexedSeq: _*)
    var acc = df
    var r = maxRes
    while (r >= 1) {
      if (!present(r)) { r -= 1 }
      else {
      present += (r - 1)
      val atRes = acc.where(h3_get_resolution(col(h3Col)) === r)
      val rest = acc.where(h3_get_resolution(col(h3Col)) =!= r)
      val parent = h3_to_parent(col(h3Col), lit(r - 1))
      // sibling sets: group by (parent, values); complete iff count == pentagon-aware child count
      val grouped = atRes
        .groupBy((parent.as(h3Col) +: valueCols.map(col)): _*)
        .agg(count(lit(1)).as("_sibling_cnt"))
      val promoted = grouped
        .where(col("_sibling_cnt") === h3_children_count(col(h3Col), lit(r)))
        .drop("_sibling_cnt")
        .select(df.columns.map(col).toIndexedSeq: _*)
      // rows whose (parent, values) group was NOT promoted survive at res r
      val survivors = atRes
        .join(promoted.select((col(h3Col).as("_p") +: valueCols.map(c => col(c).as(s"_v_$c"))): _*),
          valueCols.foldLeft(parent === col("_p")) { (acc0, c) =>
            acc0 && col(c) <=> col(s"_v_$c")
          },
          "left_anti")
        .select(df.columns.map(col).toIndexedSeq: _*)
      // localCheckpoint truncates the logical plan: without it the
      // self-referencing union/filter lineage grows ~3^levels and chokes
      // the optimizer well before data size matters.
      acc = rest.unionByName(survivors).unionByName(promoted).localCheckpoint()
      r -= 1
      }
    }
    acc
  }
}
