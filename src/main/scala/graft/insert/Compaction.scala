package graft.insert

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.h3.H3
import graft.h3.expr.H3ExprUtil
import graft.h3.expr.functions._

/**
 * H3 compaction / uncompaction of DataFrames (reference: insert-side
 * `h3_compact_dataframe`, `insert.rs:99-108`; read-side
 * `h3_uncompact_dataframe_subset`, `compacted_tables/mod.rs:459-477`).
 *
 * Compaction: wherever ALL children of a parent cell are present and carry
 * identical values in every non-index column, the children are replaced by
 * the parent, recursively — a lossless 7^k storage reduction for uniform
 * regions (reference README.md:21-23). Pentagon parents have 6 children;
 * [[graft.h3.H3.childrenCount]] is pentagon-aware, so the completeness test
 * is exact.
 *
 * One pass: the deduplicated rows are shuffled ONCE, keyed by base cell
 * (`h3_get_base_cell` of the h3 column), sorted by that key within each
 * partition, and every base cell's rows are compacted in memory by
 * [[compactBaseCell]] — the per-level algorithm run bottom-up, from the
 * group's finest resolution to 1. The base cell is the one exact key: a
 * level-r sibling set shares its parent at r-1 >= 0, and a cell's parent
 * keeps its base cell, so no sibling set spans two base cells.
 *
 * Memory bound: one task holds the rows of ONE base cell of one insert at a
 * time (plus the sort's buffer, which spills). The reference holds the whole
 * chunk in one process (`insert.rs:99-108`), so this is no worse; a chunk
 * whose rows mostly share a base cell runs that cell on one task. Input must
 * be row-deduplicated first (duplicate rows would inflate the sibling count
 * and is the reference's ReplacingMergeTree precondition). Rows with a null
 * h3 cell are dropped.
 */
object Compaction {

  /** Compact a deduplicated H3 DataFrame. All columns except `h3Col` are
    * treated as value columns (equality required for merging). Lazy: the
    * result is one shuffle plus a map over the sorted partitions. */
  def compact(df: DataFrame, h3Col: String = "h3index"): DataFrame = {
    val h3Idx = df.schema.fieldIndex(h3Col)
    val valueIdx = df.schema.indices.filter(_ != h3Idx)
    val baseCell = h3_get_base_cell(col(h3Col))
    df.repartition(baseCell)
      .sortWithinPartitions(baseCell)
      .mapPartitions(rows => compactSorted(rows, h3Idx, valueIdx))(Encoders.row(df.schema))
  }

  /** Split a base-cell-sorted partition into runs of one base cell and
    * compact each run on its own. */
  private def compactSorted(rows: Iterator[Row], h3Idx: Int,
      valueIdx: Seq[Int]): Iterator[Row] = {
    val in = rows.filterNot(_.isNullAt(h3Idx)).buffered
    Iterator.continually(in).takeWhile(_.hasNext).flatMap { it =>
      val bc = H3.getBaseCell(it.head.getLong(h3Idx))
      val run = mutable.ArrayBuffer.empty[Row]
      while (it.hasNext && H3.getBaseCell(it.head.getLong(h3Idx)) == bc) run += it.next()
      compactBaseCell(run, h3Idx, valueIdx)
    }
  }

  /** A row waiting at its resolution, with its value tuple's equality key. */
  private final case class Pending(row: Row, cell: Long, values: Seq[Any])

  /** The level algorithm over the rows of one base cell: for r from the
    * finest resolution down to 1, count the rows at r per (parent, value
    * tuple); a set whose count equals the pentagon-aware child count is
    * replaced by its parent at r-1, where it can join the next level's sets.
    * Value tuples compare as Spark's groupBy does: null equals null, NaN
    * equals NaN, -0.0 equals 0.0 (see [[valueKey]]). */
  private def compactBaseCell(rows: Iterable[Row], h3Idx: Int,
      valueIdx: Seq[Int]): Iterator[Row] = {
    val byRes = Array.fill(H3.MaxRes + 1)(mutable.ArrayBuffer.empty[Pending])
    rows.foreach { row =>
      val cell = row.getLong(h3Idx)
      byRes(H3.getResolution(cell)) += Pending(row, cell, valueIdx.map(i => valueKey(row.get(i))))
    }
    var r = H3.MaxRes
    while (r >= 1) {
      val atRes = byRes(r)
      if (atRes.nonEmpty) {
        val sets = mutable.HashMap.empty[(Long, Seq[Any]), (Pending, Int)]
        atRes.foreach { p =>
          val k = (H3ExprUtil.toParentTotal(p.cell, r - 1), p.values)
          sets.updateWith(k) {
            case Some((first, n)) => Some((first, n + 1))
            case None => Some((p, 1))
          }
        }
        val complete = sets.filter { case ((parent, _), (_, n)) =>
          n == H3ExprUtil.childrenCountTotal(parent, r)
        }
        if (complete.nonEmpty) {
          byRes(r) = atRes.filterNot(p =>
            complete.contains((H3ExprUtil.toParentTotal(p.cell, r - 1), p.values)))
          complete.foreach { case ((parent, values), (first, _)) =>
            byRes(r - 1) += Pending(promote(first.row, h3Idx, parent), parent, values)
          }
        }
      }
      r -= 1
    }
    byRes.iterator.flatMap(_.iterator.map(_.row))
  }

  /** The parent row of a complete sibling set: the first sibling's values,
    * floats canonicalized as Spark's groupBy key output is. */
  private def promote(first: Row, h3Idx: Int, parent: Long): Row =
    Row.fromSeq(first.toSeq.zipWithIndex.map { case (v, i) =>
      if (i == h3Idx) parent else canonical(v)
    })

  /** -0.0 to 0.0 and every NaN to the one NaN, through structs and arrays
    * (Spark's NormalizeFloatingNumbers on grouping keys). */
  private def canonical(v: Any): Any = v match {
    case d: Double => if (d == 0.0) 0.0 else if (d.isNaN) Double.NaN else d
    case f: Float => if (f == 0.0f) 0.0f else if (f.isNaN) Float.NaN else f
    case r: Row => Row.fromSeq(r.toSeq.map(canonical))
    case s: scala.collection.Seq[_] => s.map(canonical)
    case other => other
  }

  /** Equality key of one value: floats by the bits of their canonical form
    * (Scala's `==` on boxed doubles says NaN != NaN), binary by content,
    * structs and arrays element-wise, null as null. */
  private def valueKey(v: Any): Any = v match {
    case d: Double => FloatBits(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))
    case f: Float => FloatBits(java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f).toLong)
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(valueKey)
    case s: scala.collection.Seq[_] => s.map(valueKey)
    case other => other
  }

  private final case class FloatBits(bits: Long)

  /** Expand every cell to `targetRes`; cells already at/above targetRes pass
    * through unchanged (matches reference uncompaction: only coarser cells
    * expand, `mod.rs:459-477`). */
  def uncompact(df: DataFrame, targetRes: Int, h3Col: String = "h3index"): DataFrame = {
    val others = df.columns.filterNot(_ == h3Col).map(col).toIndexedSeq
    val expanded = df
      .withColumn("_children",
        when(h3_get_resolution(col(h3Col)) < targetRes,
          h3_to_children(col(h3Col), lit(targetRes)))
          .otherwise(array(col(h3Col))))
      .withColumn(h3Col, explode(col("_children")))
      .drop("_children")
    expanded.select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Restricted uncompaction (A7): produce exactly the requested target-res
    * cells, taking each cell's value from its stored ancestor (reference
    * `h3_uncompact_dataframe_subset`, `mod.rs:459-477`).
    *
    * Spark-first formulation: instead of exploding stored cells into up to
    * 7^k children and filtering (the naive reading of the reference), the
    * *request set* is expanded into its (resolution, ancestor) pairs —
    * at most 16 rows per requested cell — and equi-joined against the stored
    * cells. No data-side explosion, one hash join, broadcastable probe side;
    * this survives a res-0 compacted cell queried at res 15, which the
    * explode formulation cannot. */
  def uncompactRestricted(df: DataFrame, targetRes: Int, targetCells: DataFrame,
      h3Col: String = "h3index"): DataFrame = {
    val cellCol = targetCells.columns.head
    val ancestors = (0 to targetRes).map { r =>
      struct(lit(r).as("_r"), h3_to_parent(col("_t"), lit(r)).as("_anc"))
    }
    val tExp = targetCells.select(col(cellCol).as("_t")).distinct()
      .select(col("_t"), explode(array(ancestors: _*)).as("_x"))
      .select(col("_t"), col("_x._r").as("_r"), col("_x._anc").as("_anc"))
    df.withColumn("_res", h3_get_resolution(col(h3Col)))
      .join(tExp, col(h3Col) === col("_anc") && col("_res") === col("_r"))
      .withColumn(h3Col, col("_t"))
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Children expansion with the store's loudness contract: an oversized
    * expansion must fail, not silently truncate (cf. CellStore probe guard). */
  private def guardedChildren(cell: org.apache.spark.sql.Column, res: Int) =
    when(h3_children_count(cell, lit(res)) > (1L << 28),
      raise_error(concat(lit("uncompaction expansion to resolution "), lit(res),
        lit(" exceeds 2^28 children for cell "), cell.cast("string")))
        .cast("array<bigint>"))
      .otherwise(h3_to_children(cell, lit(res)))

  /** A7 driven by the RAW probe set, for stored rows COARSER than
    * `targetRes` only. Each (stored row, probe) ancestor match explodes
    * exactly the intersection subtree — the finer of the two cells — to
    * `targetRes`, so the work is OUTPUT-sized. [[uncompactRestricted]]'s
    * request-side enumeration is |probes| * 7^(targetRes - probeRes) rows
    * BEFORE the join regardless of matches: exact, but a scale hazard when
    * coarse probes cover large areas (measured 25s of a 128s bench on a
    * 20k-probe res-5 -> res-9 traversal before this path existed).
    *
    * Probes finer than `targetRes` clamp to their targetRes ancestor.
    * Matching joins on parent-at-min-resolution keys: probes emit at most
    * one (res, key) row per physical resolution (never children), stored
    * rows compute the key via `h3_to_parent` — one hash join per distinct
    * probe resolution (one, in practice). Output duplicates can only arise
    * from NESTED probes (impossible within one resolution), so the dedup
    * shuffle runs only for mixed-resolution probe sets.
    *
    * `includeTargetRes = true` extends the key set to `targetRes`
    * INCLUSIVE, so rows already AT the target resolution ride the SAME
    * join — their ancestor match is exact-key equality and their
    * children-explosion at equal resolution is themselves — which lets a
    * doUncompact cell query run as ONE pass over the scan instead of a
    * fine/coarse union that scans the store twice and builds the probe
    * relation per branch (round 12, guide §2.4: the join IS the semi-join
    * predicate, so the separate probe semi-join is redundant work).
    *
    * `driverCells`: when the caller holds the probe set on the driver and
    * it is SMALL, the (q, res, key) relation is a pure function of it —
    * built at plan time as a local relation instead of a distributed
    * explode+distinct (the queryCells probe-key device, same 8192-row
    * gate applied AFTER normalization+dedup so a duplicate-heavy or
    * finer-than-target Seq that collapses under the gate still takes the
    * plan-time path, same [[graft.h3.expr.H3ExprUtil]] evals so keys are
    * bit-identical to the Column form).
    *
    * `broadcastProbes`: callers that broadcast-hinted their probe relation
    * in the semi-join this one-pass form replaces (Seq-probe queryCells)
    * keep the hint on the distributed qside here — without it a mid-size
    * Seq probe set past the plan-time gate is left to AQE's size estimate
    * and can regress to a sort-merge join (round-12 ADVICE). */
  def uncompactCoarseToProbes(coarse: DataFrame, targetRes: Int,
      probes: DataFrame, h3Col: String = "h3index",
      knownProbeRes: Option[Seq[Int]] = None,
      includeTargetRes: Boolean = false,
      driverCells: Option[Seq[Long]] = None,
      broadcastProbes: Boolean = false): DataFrame = {
    val keyResBound = if (includeTargetRes) targetRes + 1 else targetRes
    val q0 = probes.columns.head
    lazy val pn = probes.select(
        when(h3_get_resolution(col(q0)) > targetRes,
          h3_to_parent(col(q0), lit(targetRes))).otherwise(col(q0)).as("_q"))
      .distinct()
    // driver-known SMALL probe sets: normalize + dedup FIRST, then gate on
    // the deduplicated count (normalization is pure per-element bit math,
    // so running it before the gate costs nanoseconds per cell and lets
    // duplicate-heavy / finer-than-target sets that collapse well take the
    // plan-time path instead of the distributed fallback)
    val localCells: Option[Seq[Long]] = driverCells
      .map(_.map(c =>
          if (H3.getResolution(c) > targetRes)
            graft.h3.expr.H3ExprUtil.toParentTotal(c, targetRes) else c)
        .distinct)
      .filter(cs => cs.length.toLong * keyResBound <= 8192)
    // callers that KNOW the probe resolutions (traversal: one fixed res;
    // Seq probes: driver-computed) skip the per-execution discovery job —
    // clamped to targetRes exactly as the pn normalization clamps the cells
    val pRes = knownProbeRes
      .map(_.map(r => math.min(r, targetRes)).distinct.sorted)
      .getOrElse(localCells
        .map(_.map(H3.getResolution).distinct.sorted.toSeq)
        .getOrElse(pn.select(h3_get_resolution(col("_q")).as("p")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted))
    val spark = coarse.sparkSession
    import spark.implicits._
    val parts = pRes.map { p =>
      val qside = localCells match {
        case Some(cs) =>
          cs.filter(H3.getResolution(_) == p).flatMap { q =>
            (0 until keyResBound).map { r =>
              (q, r,
                if (r < p) graft.h3.expr.H3ExprUtil.toParentTotal(q, r) else q)
            }
          }.distinct.toDF("_q", "_r", "_key")
        case None =>
          val keys = (0 until keyResBound).map { r =>
            struct(lit(r).as("_r"),
              (if (r < p) h3_to_parent(col("_q"), lit(r)) else col("_q")).as("_key"))
          }
          pn.where(h3_get_resolution(col("_q")) === p)
            .select(col("_q"), explode(array(keys: _*)).as("_x"))
            .select(col("_q"), col("_x._r").as("_r"), col("_x._key").as("_key"))
            .distinct()
      }
      val qhinted = if (broadcastProbes && localCells.isEmpty) broadcast(qside) else qside
      val sres = h3_get_resolution(col(h3Col))
      val skey = when(sres >= p, h3_to_parent(col(h3Col), lit(p))).otherwise(col(h3Col))
      coarse.join(qhinted, sres === col("_r") && skey === col("_key"))
        .withColumn("_f",
          when(h3_get_resolution(col("_q")) > h3_get_resolution(col(h3Col)), col("_q"))
            .otherwise(col(h3Col)))
        .withColumn(h3Col, explode(guardedChildren(col("_f"), targetRes)))
        .select(coarse.columns.map(col).toIndexedSeq: _*)
    }
    val out =
      if (parts.isEmpty) coarse.limit(0)
      else parts.reduce(_ unionByName _)
    if (pRes.lengthCompare(1) <= 0) out else out.dropDuplicates()
  }
}
