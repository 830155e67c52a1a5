package graft.store

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.h3.H3
import graft.schema.{AggregationMethod => Agg, GraftDataType => T, _}

/** End-to-end tableset semantics on the FIXTURES F1/F2 scenarios
  * (reference `tests/clickhouse/test_schema.py`, `examples/basic.rs`). */
class CellStoreSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private def newStore() = {
    val dir = Files.createTempDirectory("graft_store_").toString
    CellStore(spark, dir)
  }

  // a res-5 hexagon cell (base cell 20 subtree is hexagonal at digit 0 chain)
  private val hexRes5 = H3.fromParts(20, 5, Seq(0, 0, 0, 0, 0))
  private val ts = Timestamp.valueOf("2023-06-15 12:00:00")

  private def elephantSchema = CompactedTableSchema.builder("okavango_delta")
    .h3BaseResolutions(0 to 7)
    .temporalPartitioning(TemporalPartitioning.Months(1))
    .addSimpleColumn("is_valid", T.UInt8)
    .addSimpleColumn("observed_on", T.DateTime64T)
    .addAggregatedColumn("elephant_density", T.Float32, Agg.RelativeToCellArea)
    .addAggregatedColumn("some_category", T.UInt8, Agg.SetNullOnConflict, nullable = true)
    .build()

  /** 49 res-7 cells (complete res-5 subtree); category 23 for the first 24,
    * 12 for the rest — mirrors F1's half/half split. */
  private def elephantInput = {
    val cells = H3.toChildren(hexRes5, 7)
    val rows = cells.zipWithIndex.map { case (c, i) =>
      Row(c, 1.toShort, ts, 4.0f, (if (i < 24) 23 else 12).toShort)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("is_valid", ShortType, false),
        StructField("observed_on", TimestampType, false),
        StructField("elephant_density", FloatType, false),
        StructField("some_category", ShortType, true))))
  }

  test("F1 elephant: create+insert, query back at full res == input shape, no category nulls") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))

    val cells = H3.toChildren(hexRes5, 7).toSeq
    val back = store.queryCells("okavango_delta", cells, 7).collect()
    back.length shouldBe 49
    back.map(_.getAs[Short]("some_category")).forall(c => c == 23 || c == 12) shouldBe true
    back.map(_.getAs[Float]("elephant_density")).foreach(_ shouldBe 4.0f)
    // every returned h3index is one of the requested cells at res 7
    back.map(_.getAs[Long]("h3index")).toSet shouldBe cells.toSet
  }

  test("F1 elephant: compaction happened in storage (coarser compacted cells exist)") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    val stats = store.tablesetStats("okavango_delta").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // res 7: 7 base cells (the mixed-category sibling group) remain + 42 covered compacted
    stats(7)._3 shouldBe 49 // num_cells at res 7 = full coverage
    stats(7)._1 should be < 49L // stored at res: only leftovers
    // compacted cells at res 6 exist
    stats(7)._2 should be > 0L
  }

  test("F1 elephant: query at res 5 -> fewer rows, same columns, SetNullOnConflict nulls") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    val cells = H3.toChildren(hexRes5, 7).toSeq
    val back = store.queryCells("okavango_delta", cells, 5).collect()
    back.length should be < 49
    back.length shouldBe 1 // single res-5 ancestor
    val row = back.head
    row.schema.fieldNames should contain allOf
      ("h3index", "is_valid", "observed_on", "elephant_density", "some_category")
    row.isNullAt(row.fieldIndex("some_category")) shouldBe true // 23 vs 12 conflict
    row.getAs[Float]("elephant_density") shouldBe 4.0f // full coverage, area-weighted
  }

  test("F1 elephant: templated query with always-false predicate -> 0 rows (test_schema.py:62-66)") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    val cells = H3.toChildren(hexRes5, 7).toSeq
    val out = store.queryCells("okavango_delta", cells, 7, doUncompact = false,
      template = Some("select * from <[table]> where elephant_density < 2 and h3index in <[h3indexes]>"))
    out.count() shouldBe 0L
    // BOTH placeholders are mandatory (select.rs:30-44)
    an[IllegalArgumentException] should be thrownBy {
      store.queryCells("okavango_delta", cells, 7, template = Some("select 1"))
    }
    an[IllegalArgumentException] should be thrownBy {
      store.queryCells("okavango_delta", cells, 7,
        template = Some("select * from <[table]>"))
    }
  }

  test("insert rejects invalid h3 indexes at the boundary (utils.rs:9-20)") {
    val store = newStore()
    store.createTableset(elephantSchema)
    val rows = Seq(Row(42L, 1.toShort, ts, 4.0f, 23.toShort)) // 42 is not a valid cell
    val input = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("is_valid", ShortType, false),
        StructField("observed_on", TimestampType, false),
        StructField("elephant_density", FloatType, false),
        StructField("some_category", ShortType, true))))
    an[Exception] should be thrownBy store.insert("okavango_delta", input)
  }

  private def sumSchema = CompactedTableSchema.builder("okavango_sum")
    .h3BaseResolutions(0 to 5)
    .temporalPartitioning(TemporalPartitioning.Months(1))
    .addSimpleColumn("observed_on", T.DateTime64T)
    .addAggregatedColumn("elephant_count", T.UInt32, Agg.Sum)
    .build()

  test("F2 sum variant: res-4 probe cell returns exactly 7 rows (basic.rs:113-124)") {
    val store = newStore()
    val parent = H3.toParent(hexRes5, 4)
    val cells = H3.toChildren(parent, 5) // 7 res-5 siblings
    val extra = H3.toChildren(H3.fromParts(21, 4, Seq(1, 2, 3, 4)), 5)
    val rows = (cells ++ extra).map(c => Row(c, ts, 2L))
    val input = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 2),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("observed_on", TimestampType, false),
        StructField("elephant_count", LongType, false))))
    store.insert("okavango_sum", input, createSchema = Some(sumSchema))

    // Sum disables compaction: nothing stored compacted
    val stats = store.tablesetStats("okavango_sum").collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    stats.values.sum shouldBe 0L

    val got = store.queryCells("okavango_sum", Seq(parent), 5).collect()
    got.length shouldBe 7
    got.map(_.getAs[Long]("h3index")).toSet shouldBe cells.toSet

    // rollup conserves mass: sum at res 4 for the parent == 7*2
    val at4 = store.queryCells("okavango_sum", Seq(parent), 4).collect()
    at4.length shouldBe 1
    at4.head.getAs[Long]("elephant_count") shouldBe 14L
  }

  test("mixed-resolution probe sets: union of coverage, nested probes never duplicate rows") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    // nested probes: the res-4 ancestor covers ALL 49 rows, the res-7 cell
    // is inside it — the expanded-set fallback (mixed res) must still
    // return each stored row exactly once
    val p4 = H3.toParent(hexRes5, 4)
    val oneFine = H3.toChildren(hexRes5, 7).head
    val got = store.queryCells("okavango_delta", Seq(p4, oneFine), 7).collect()
    got.length shouldBe 49
    got.map(_.getAs[Long]("h3index")).distinct.length shouldBe 49
    // disjoint mixed probes: a res-6 cell (7 rows) + an unrelated res-7
    // cell from a different base cell (0 rows)
    val p6 = H3.toChildren(hexRes5, 6).head
    val stranger = H3.fromParts(30, 7, Seq(1, 1, 1, 1, 1, 1, 1))
    val got2 = store.queryCells("okavango_delta", Seq(p6, stranger), 7).collect()
    got2.length shouldBe 7
    got2.map(r => H3.toParent(r.getAs[Long]("h3index"), 6)).toSet shouldBe Set(p6)
  }

  test("probe key-join equals the ancestor-or-descendant predicate (randomized probe mixes)") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    val inputCells = H3.toChildren(hexRes5, 7).toSeq
    val rnd = new scala.util.Random(77)
    val outside = H3.fromParts(30, 5, Seq(1, 1, 1, 1, 1))
    (1 to 5).foreach { _ =>
      val probes = (0 until 6).map { _ =>
        val c = inputCells(rnd.nextInt(inputCells.length))
        H3.toParent(c, 3 + rnd.nextInt(5)) // random res 3..7 ancestor (or self)
      } :+ outside
      // reference predicate: a res-7 input cell is covered iff some probe is
      // its ancestor-or-self (probes are never finer than 7 here)
      val expected = inputCells.filter(c =>
        probes.exists(q => H3.toParent(c, H3.getResolution(q)) == q)).toSet
      val got = store.queryCells("okavango_delta", probes, 7)
        .collect().map(_.getAs[Long]("h3index"))
      got.length shouldBe got.distinct.length // no duplicate rows, ever
      got.toSet shouldBe expected
    }
  }

  test("discovery + drop (D2/D3/D4)") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    store.listTablesets().keySet shouldBe Set("okavango_delta")
    store.getTableset("okavango_delta").baseResolutions shouldBe (0 to 7)
    an[IllegalArgumentException] should be thrownBy store.getTableset("nope")
    store.dropTableset("okavango_delta")
    store.listTablesets() shouldBe empty
    store.dropTableset("okavango_delta") // idempotent
  }

  test("duplicate insert + deduplicate (A12) restores exact counts") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    store.insert("okavango_delta", elephantInput) // same batch again
    val cells = H3.toChildren(hexRes5, 7).toSeq
    store.queryCells("okavango_delta", cells, 7).count() shouldBe 98 // duplicated
    store.deduplicate("okavango_delta")
    store.queryCells("okavango_delta", cells, 7).count() shouldBe 49
  }

  test("partial dedup (A11/A12): only touched partitions rewritten") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    store.insert("okavango_delta", elephantInput)
    val cells = H3.toChildren(hexRes5, 7).toSeq
    // dedup only the base partition at max res; compacted res-6 dups remain
    store.deduplicateWhere("okavango_delta",
      org.apache.spark.sql.functions.col("kind") === "base" &&
        org.apache.spark.sql.functions.col("resolution") === 7)
    val back = store.queryCells("okavango_delta", cells, 7)
    val n = back.count()
    n should be < 98L // base dups gone
    n should be > 49L // compacted dups still expand
    store.deduplicate("okavango_delta")
    store.queryCells("okavango_delta", cells, 7).count() shouldBe 49
  }

  private def parquetFiles(dir: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> (java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis))
      .toMap
  }

  test("partial dedup I/O is partition-scoped: untouched partition files untouched on disk") {
    val dir = Files.createTempDirectory("graft_store_").toString
    val store = CellStore(spark, dir)
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    store.insert("okavango_delta", elephantInput)
    val before = parquetFiles(dir)
    store.deduplicateWhere("okavango_delta", col("kind") === "base" && col("resolution") === 7)
    val after = parquetFiles(dir)
    // every file outside the touched partition is the same path, size and mtime
    val untouched = before.keys.filterNot(_.contains("kind=base/resolution=7"))
    untouched should not be empty
    untouched.foreach { f => after.get(f) shouldBe before.get(f) }
    // touched partition was actually rewritten
    val touchedBefore = before.keys.filter(_.contains("kind=base/resolution=7")).toSet
    val touchedAfter = after.keys.filter(_.contains("kind=base/resolution=7")).toSet
    touchedBefore.intersect(touchedAfter) shouldBe empty
  }

  test("deduplicateWhere rejects row-level predicates (would silently delete unmatched rows)") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    val ex = the[IllegalArgumentException] thrownBy
      store.deduplicateWhere("okavango_delta", col("some_category") === 23)
    ex.getMessage should include("partition columns")
    // mixed predicates are rejected too
    an[IllegalArgumentException] should be thrownBy
      store.deduplicateWhere("okavango_delta",
        col("kind") === "base" && col("elephant_density") > 1.0)
  }

  test("recoverTableset refuses to clobber an intact sidecar unless overwrite = true") {
    val dir = Files.createTempDirectory("graft_store_")
    val store = CellStore(spark, dir.toString)
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    an[IllegalArgumentException] should be thrownBy store.recoverTableset("okavango_delta")
    store.recoverTableset("okavango_delta", overwrite = true).name shouldBe "okavango_delta"
  }

  test("dedup predicate evaluating to NULL deletes nothing (coalesced to untouched)") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    store.insert("okavango_delta", elephantInput)
    val cells = H3.toChildren(hexRes5, 7).toSeq
    store.deduplicateWhere("okavango_delta", lit(null).cast("boolean"))
    // NULL predicate -> no partition touched -> nothing deduped, nothing lost
    store.queryCells("okavango_delta", cells, 7).count() shouldBe 98
  }

  test("write applies the ORDER BY key: rows inside every parquet file are h3index-sorted") {
    val dir = Files.createTempDirectory("graft_store_").toString
    val store = CellStore(spark, dir)
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    val files = parquetFiles(dir).keys.toSeq
    files should not be empty
    files.foreach { f =>
      val vals = spark.read.parquet(f).select("h3index").collect().map(_.getLong(0)).toSeq
      vals shouldBe vals.sorted
    }
  }

  test("D5: databaseExists / createDatabase namespace ops (cellstore.rs:95-110)") {
    val dir = Files.createTempDirectory("graft_store_").resolve("nested_db").toString
    val store = CellStore(spark, dir)
    store.databaseExists shouldBe false
    store.createDatabase()
    store.databaseExists shouldBe true
    store.createDatabase() // idempotent
    store.listTablesets() shouldBe empty
  }

  test("noisy catalog: discovery ignores junk dirs and files (tableset.rs:246-444 shape)") {
    val dir = Files.createTempDirectory("graft_store_")
    val store = CellStore(spark, dir.toString)
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    // noise: a dir without schema.json, a dir with garbage schema-less data,
    // and a stray file at the root
    Files.createDirectory(dir.resolve("random_dir"))
    Files.createDirectories(dir.resolve("other_system").resolve("data"))
    Files.write(dir.resolve("stray_file.txt"), "not a tableset".getBytes)
    store.listTablesets().keySet shouldBe Set("okavango_delta")
  }

  test("recoverTableset rebuilds a lost schema.json from the data layout") {
    val dir = Files.createTempDirectory("graft_store_")
    val store = CellStore(spark, dir.toString)
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    val cells = H3.toChildren(hexRes5, 7).toSeq
    val expected = store.queryCells("okavango_delta", cells, 7).count()

    // lose the sidecar -> undiscoverable
    Files.delete(dir.resolve("okavango_delta").resolve("schema.json"))
    store.listTablesets() shouldBe empty

    val recovered = store.recoverTableset("okavango_delta")
    recovered.name shouldBe "okavango_delta"
    recovered.baseResolutions should contain(7)
    recovered.h3Partitioning shouldBe H3Partitioning.BaseCell
    recovered.columns.keySet should contain allOf
      ("h3index", "is_valid", "observed_on", "elephant_density", "some_category")
    store.listTablesets().keySet shouldBe Set("okavango_delta")
    // recovered tableset is queryable with unchanged results
    store.queryCells("okavango_delta", cells, 7).count() shouldBe expected
  }

  test("S3 readH3Parquet: validated H3 read (type check + inline validity assert)") {
    val dir = Files.createTempDirectory("graft_h3read_")
    val good = dir.resolve("good").toString
    val bad = dir.resolve("bad").toString
    import spark.implicits._
    H3.toChildren(hexRes5, 7).toSeq.toDF("h3index").write.parquet(good)
    Seq(42L, hexRes5).toDF("h3index").write.parquet(bad)
    Seq("x").toDF("not_h3").write.parquet(dir.resolve("noh3").toString)
    val store = newStore()
    store.readH3Parquet(good).select("h3index").collect().length shouldBe 49
    // the assert is part of the column expression -> trips on any plan that
    // reads cells (a bare count() prunes the column and skips it)
    an[Exception] should be thrownBy store.readH3Parquet(bad).select("h3index").collect()
    store.readH3Parquet(bad, validate = false).count() shouldBe 2 // opt-out
    an[IllegalArgumentException] should be thrownBy
      store.readH3Parquet(dir.resolve("noh3").toString)
  }

  // -------------------------------------------------- versioned replace

  private def versionedSchema = CompactedTableSchema.builder("versioned")
    .h3BaseResolutions(Seq(7))
    .useCompaction(false)
    .engine(TableEngine.ReplacingMergeTree(Some("version")))
    .addSimpleColumn("version", T.Int64)
    .addSimpleColumn("val", T.Int64)
    .build()

  private def versionedInput(cells: Seq[Long], version: Long, valOf: Int => Long) = {
    val rows = cells.zipWithIndex.map { case (c, i) => Row(c, version, valOf(i)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 2),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("version", LongType, false),
        StructField("val", LongType, false))))
  }

  test("versioned replace keeps the max-version row per cell") {
    val store = newStore()
    val cells = H3.toChildren(hexRes5, 7).toSeq
    store.insert("versioned", versionedInput(cells, 1L, _.toLong),
      createSchema = Some(versionedSchema))
    store.insert("versioned", versionedInput(cells.take(10), 2L, i => 100L + i))
    store.scanForResolution("versioned", 7).count() shouldBe 59 // stale rows kept
    store.replace("versioned")
    val rows = store.scanForResolution("versioned", 7)
      .select("h3index", "version", "val").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    rows should have size 49
    cells.take(10).zipWithIndex.foreach { case (c, i) =>
      rows(c) shouldBe ((2L, 100L + i))
    }
    cells.drop(10).foreach { c => rows(c)._1 shouldBe 1L }
  }

  test("versioned replace: exact-version ties break on the greater payload") {
    val store = newStore()
    val cells = H3.toChildren(hexRes5, 7).take(3).toSeq
    store.insert("versioned", versionedInput(cells, 1L, _ => 5L),
      createSchema = Some(versionedSchema))
    store.insert("versioned", versionedInput(cells, 1L, _ => 9L)) // same version
    store.replace("versioned")
    val vals = store.scanForResolution("versioned", 7).select("val").collect().map(_.getLong(0))
    vals should have length 3
    all(vals) shouldBe 9L
  }

  test("FINAL read collapses at read time without rewriting any file") {
    val dir = Files.createTempDirectory("graft_store_").toString
    val store = CellStore(spark, dir)
    val cells = H3.toChildren(hexRes5, 7).toSeq
    store.insert("versioned", versionedInput(cells, 1L, _.toLong),
      createSchema = Some(versionedSchema))
    store.insert("versioned", versionedInput(cells.take(10), 2L, i => 100L + i))
    val before = parquetFiles(dir)
    val rows = store.scanForResolutionFinal("versioned", 7)
      .select("h3index", "version").collect()
    rows should have length 49
    rows.count(_.getLong(1) == 2L) shouldBe 10
    parquetFiles(dir) shouldBe before // SELECT ... FINAL never writes
    store.scanForResolution("versioned", 7).count() shouldBe 59 // stale rows still live
  }

  test("replace without a declared version column is rejected") {
    val store = newStore()
    store.insert("okavango_delta", elephantInput, createSchema = Some(elephantSchema))
    an[IllegalArgumentException] should be thrownBy store.replace("okavango_delta")
  }

  test("Quarantine insert diverts invalid cells to rejects/ and stores the rest") {
    val store = newStore()
    val cells = H3.toChildren(hexRes5, 7).take(5).toSeq
    val bad = versionedInput(Seq(42L, 7L), 9L, i => 90L + i) // garbage longs
    store.insert("versioned",
      versionedInput(cells, 1L, _.toLong).unionByName(bad),
      createSchema = Some(versionedSchema),
      invalidPolicy = CellStore.InvalidPolicy.Quarantine)
    store.scanForResolution("versioned", 7).count() shouldBe 5
    val rej = store.rejects("versioned").collect()
    rej.map(_.getLong(0)).sorted shouldBe Array(7L, 42L)
    rej.map(_.getLong(1)) shouldBe Array(9L, 9L) // full row preserved
    // the default Fail policy still rejects the whole frame (reference parity)
    an[Exception] should be thrownBy {
      store.insert("versioned", bad)
      store.scanForResolution("versioned", 7).count()
    }
  }

  test("rejects() of a clean tableset is an empty frame in the declared shape") {
    val store = newStore()
    store.insert("versioned", versionedInput(H3.toChildren(hexRes5, 7).take(3).toSeq, 1L, _.toLong),
      createSchema = Some(versionedSchema))
    val rej = store.rejects("versioned")
    rej.count() shouldBe 0L
    rej.columns.toSeq shouldBe Seq("h3index", "version", "val")
  }

  test("addColumn: metadata-only ALTER — old rows read NULL, optimize keeps values") {
    val store = newStore()
    val cells = H3.toChildren(hexRes5, 7).toSeq
    store.insert("versioned", versionedInput(cells.take(5), 1L, _.toLong),
      createSchema = Some(versionedSchema))
    store.addColumn("versioned", "w", ColumnDef.Simple(T.Int64, nullable = true))
    // post-evolution insert carries the new column
    val rows2 = cells.slice(5, 8).zipWithIndex.map { case (c, i) =>
      Row(c, 1L, i.toLong, 100L + i)
    }
    store.insert("versioned", spark.createDataFrame(
      spark.sparkContext.parallelize(rows2.toIndexedSeq, 1),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("version", LongType, false),
        StructField("val", LongType, false),
        StructField("w", LongType, true)))))
    def wById() = store.scanForResolution("versioned", 7)
      .select("h3index", "w").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val w1 = wById()
    cells.take(5).foreach { c => w1(c) shouldBe None } // historical rows: NULL
    cells.slice(5, 8).zipWithIndex.foreach { case (c, i) => w1(c) shouldBe Some(100L + i) }
    // a partition-scoped rewrite must PRESERVE the added column's values
    store.deduplicate("versioned")
    wById() shouldBe w1
    // a writer deployed BEFORE the ALTER (no 'w' in its batches) must keep
    // working — the conform step fills the nullable added column with NULL
    store.insert("versioned",
      versionedInput(cells.slice(8, 10), 1L, _.toLong))
    val w2 = wById()
    cells.slice(8, 10).foreach { c => w2(c) shouldBe None }
    // contract violations
    an[IllegalArgumentException] should be thrownBy
      store.addColumn("versioned", "w", ColumnDef.Simple(T.Int64, nullable = true))
    an[IllegalArgumentException] should be thrownBy
      store.addColumn("versioned", "w2", ColumnDef.Simple(T.Int64, nullable = false))
  }

  test("dropColumn: metadata-only — column gone from reads, rewrite sheds it") {
    val store = newStore()
    val cells = H3.toChildren(hexRes5, 7).toSeq.take(6)
    store.insert("versioned", versionedInput(cells, 1L, _.toLong),
      createSchema = Some(versionedSchema))
    store.dropColumn("versioned", "val")
    store.getTableset("versioned").columns.keySet should not contain "val"
    // declared-schema read projects the dropped column away (files still carry it)
    val cols = store.scanForResolution("versioned", 7).columns.toSeq
    cols should contain("h3index")
    cols should not contain "val"
    // a partition rewrite keeps working and physically sheds the column
    store.deduplicate("versioned")
    store.scanForResolution("versioned", 7).count() shouldBe cells.size.toLong
    // subsequent inserts conform to the NARROWED schema
    store.insert("versioned", versionedInput(
      H3.toChildren(hexRes5, 7).toSeq.slice(6, 8), 2L, _.toLong)
      .drop("val"))
    store.scanForResolution("versioned", 7).count() shouldBe (cells.size + 2).toLong
    // structural guards
    an[IllegalArgumentException] should be thrownBy store.dropColumn("versioned", "nope")
    an[IllegalArgumentException] should be thrownBy store.dropColumn("versioned", "h3index")
    an[IllegalArgumentException] should be thrownBy store.dropColumn("versioned", "version")
  }

  test("dropColumn refuses ORDER BY key columns (narrowing the sort key collapses rows)") {
    val store = newStore()
    val schema = CompactedTableSchema.builder("keyed")
      .h3BaseResolutions(Seq(7))
      .useCompaction(false)
      .addColumn("k", ColumnDef.Simple(T.Int64, orderKeyPosition = Some(0)))
      .addSimpleColumn("val", T.Int64)
      .build()
    val cells = H3.toChildren(hexRes5, 7).toSeq.take(3)
    val rows = cells.map(c => Row(c, 1L, 2L))
    store.insert("keyed", spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("k", LongType, false),
        StructField("val", LongType, false)))),
      createSchema = Some(schema))
    val e = the[IllegalArgumentException] thrownBy store.dropColumn("keyed", "k")
    e.getMessage should include("ORDER BY key")
    store.dropColumn("keyed", "val") // non-key payload still droppable
  }

  test("renameTableset: O(1) metadata move, data readable under the new name") {
    val store = newStore()
    val cells = H3.toChildren(hexRes5, 7).toSeq.take(5)
    store.insert("versioned", versionedInput(cells, 1L, _.toLong),
      createSchema = Some(versionedSchema))
    val before = store.scanForResolution("versioned", 7).count()
    store.renameTableset("versioned", "renamed")
    store.listTablesets().keySet should (contain("renamed") and not contain "versioned")
    store.getTableset("renamed").name shouldBe "renamed"
    store.scanForResolution("renamed", 7).count() shouldBe before
    // source gone; occupied target refused
    an[IllegalArgumentException] should be thrownBy store.getTableset("versioned")
    store.insert("other", versionedInput(cells.take(1), 1L, _.toLong),
      createSchema = Some(versionedSchema.copy(name = "other")))
    an[IllegalArgumentException] should be thrownBy
      store.renameTableset("other", "renamed")
  }

  test("graft_scan TVF: pure-SQL store access, literal-arg contract enforced") {
    val root = Files.createTempDirectory("graft_store_").toString
    val store = CellStore(spark, root)
    val cells = H3.toChildren(hexRes5, 7).toSeq.take(6)
    store.insert("versioned", versionedInput(cells, 1L, _.toLong),
      createSchema = Some(versionedSchema))
    graft.Graft.register(spark)
    val n = spark.sql(
      s"SELECT count(*) AS n FROM graft_scan('$root', 'versioned', 7)")
      .head().getLong(0)
    n shouldBe cells.size.toLong
    // joins against ordinary SQL relations work (the spliced subtree is a
    // plain resolved plan)
    val joined = spark.sql(
      s"""SELECT count(*) AS n FROM graft_scan('$root', 'versioned', 7) g
         |JOIN (SELECT ${cells.head}L AS h3index) p USING (h3index)""".stripMargin)
      .head().getLong(0)
    joined shouldBe 1L
    // contract: literal args only, 3 of them, existing tableset
    an[Exception] should be thrownBy
      spark.sql(s"SELECT * FROM graft_scan('$root', 'versioned')").collect()
    an[Exception] should be thrownBy
      spark.sql(s"SELECT * FROM graft_scan('$root', 'nope', 7)").collect()
    an[Exception] should be thrownBy
      spark.sql(s"SELECT * FROM graft_scan('$root', 'versioned', h3index)").collect()
    // graft_cells: a coarse probe returns the probed subtree's rows at res
    val parent = hexRes5
    val viaCells = spark.sql(
      s"""SELECT count(*) AS n
         |FROM graft_cells('$root', 'versioned', 7, array(${parent}L))""".stripMargin)
      .head().getLong(0)
    viaCells shouldBe cells.size.toLong // all 6 stored cells sit under hexRes5
    an[Exception] should be thrownBy
      spark.sql(s"SELECT * FROM graft_cells('$root', 'versioned', 7, h3index)").collect()
    an[Exception] should be thrownBy
      spark.sql(
        s"SELECT * FROM graft_cells('$root', 'versioned', 7, array(${parent}L, NULL))")
        .collect()
  }

  test("insert rejects resolutions above the tableset max") {
    val store = newStore()
    store.createTableset(sumSchema)
    val tooFine = H3.toChildren(hexRes5, 7).take(3) // res 7 > max 5
    val input = spark.createDataFrame(
      spark.sparkContext.parallelize(tooFine.map(c => Row(c, ts, 1L)).toIndexedSeq, 1),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("observed_on", TimestampType, false),
        StructField("elephant_count", LongType, false))))
    an[IllegalArgumentException] should be thrownBy store.insert("okavango_sum", input)
  }

  test("insert leaves no cached frame behind: compaction and every rollup step are unpersisted") {
    val store = newStore()
    store.createTableset(elephantSchema) // base resolutions 0..7: seven rollup steps
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    cacheManager.isEmpty shouldBe true
    store.insert("okavango_delta", elephantInput)
    cacheManager.isEmpty shouldBe true
    store.queryCells("okavango_delta", Seq(hexRes5), 7).count() shouldBe 49
  }
}
