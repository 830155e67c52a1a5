package graft.store

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.{Graft, SparkTestSession}
import graft.h3.H3
import graft.schema.{GraftDataType => T, _}

/** Bucketed mirrors behind the `graft_scan` TVF: a pure-SQL join of two
  * mirrored scans must plan with NO Exchange (the ts17 plan shape, reached
  * from `spark.sql` alone), the mirror must never change results, and any
  * write to the tableset must flip the TVF back to the live scan. */
class MirrorTvfSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val cells = H3.toChildren(H3.fromParts(20, 5, Seq(0, 0, 0, 0, 0)), 7).toSeq
  private def frame(f: Int => Long) = spark.createDataFrame(
    spark.sparkContext.parallelize(
      cells.zipWithIndex.map { case (c, i) => Row(c, f(i)) }.toIndexedSeq, 4),
    StructType(Seq(
      StructField("h3index", LongType, false),
      StructField("v", LongType, false))))
  private def schema(n: String) = CompactedTableSchema.builder(n)
    .h3BaseResolutions(Seq(7))
    .useCompaction(false)
    .addSimpleColumn("v", T.Int64)
    .build()

  private def mkStore(nameA: String, nameB: String): (CellStore, String) = {
    val root = Files.createTempDirectory("graft_mirror_tvf_").toString
    val s = CellStore(spark, root)
    s.insert(nameA, frame(_.toLong), createSchema = Some(schema(nameA)))
    s.insert(nameB, frame(i => i * 2L), createSchema = Some(schema(nameB)))
    (s, root)
  }

  private def joinSql(root: String): String =
    // MERGE hint: AQE would broadcast these spec-sized sides — at real
    // mirror scale both sides are big, which is the case mirrors exist for
    s"""SELECT /*+ MERGE(a) */ a.h3index, a.v AS va, b.v AS vb
       |FROM graft_scan('$root', 'mir_a', 7) a
       |JOIN graft_scan('$root', 'mir_b', 7) b ON a.h3index = b.h3index""".stripMargin

  test("pure-SQL join of two mirrored scans plans with no Exchange") {
    Graft.register(spark)
    val (s, root) = mkStore("mir_a", "mir_b")
    val live = spark.sql(joinSql(root)).orderBy("h3index").collect()
    s.buildMirror("mir_a", 7, numBuckets = 4)
    s.buildMirror("mir_b", 7, numBuckets = 4)
    s.mirrorFor("mir_a", 7) should not be empty
    val df = spark.sql(joinSql(root))
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should include("SelectedBucketsCount")
    // ...and the mirror never changes results
    df.orderBy("h3index").collect() should contain theSameElementsInOrderAs live
  }

  test("renameTableset carries the mirror: marker token stays fresh at the new name") {
    Graft.register(spark)
    val (s, root) = mkStore("mir_a", "mir_b")
    s.buildMirror("mir_a", 7, numBuckets = 4)
    s.renameTableset("mir_a", "mir_rn")
    // relative-path freshness token survives the move; the mirror re-registers
    // under the NEW name's catalog identity at the moved location
    s.mirrorFor("mir_rn", 7) should not be empty
    spark.sql(s"SELECT count(*) AS n FROM graft_scan('$root', 'mir_rn', 7)")
      .collect().head.getLong(0) shouldBe 49L // 7^2 res-7 children of the res-5 seed
  }

  test("a write invalidates the mirror: TVF falls back to the live scan") {
    Graft.register(spark)
    val (s, root) = mkStore("mir_a", "mir_b")
    s.buildMirror("mir_a", 7, numBuckets = 4)
    s.mirrorFor("mir_a", 7) should not be empty
    val extra = H3.toChildren(H3.fromParts(25, 5, Seq(0, 0, 0, 0, 0)), 7).head
    s.insert("mir_a", spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(extra, 999L)), 1),
      StructType(Seq(
        StructField("h3index", LongType, false),
        StructField("v", LongType, false)))))
    s.mirrorFor("mir_a", 7) shouldBe empty
    // the stale mirror does NOT hold the new row; the TVF result must
    val got = spark.sql(
      s"SELECT v FROM graft_scan('$root', 'mir_a', 7) WHERE h3index = $extra").collect()
    got.map(_.getLong(0)).toSeq shouldBe Seq(999L)
    // rebuild restores the bucketed path, now including the new row
    s.buildMirror("mir_a", 7, numBuckets = 4)
    s.mirrorFor("mir_a", 7) should not be empty
    spark.sql(s"SELECT v FROM graft_scan('$root', 'mir_a', 7) WHERE h3index = $extra")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(999L)
  }

  test("roots with equal String.hashCode keep their own mirror tables") {
    Graft.register(spark)
    val tmp = Files.createTempDirectory("graft_mirror_hash_").toString
    val (aa, bb) = (s"$tmp/Aa", s"$tmp/BB")
    assert(aa.hashCode == bb.hashCode, "the fixture must collide on String.hashCode")
    def mirrored(root: String, v: Long): CellStore = {
      val s = CellStore(spark, root)
      s.insert("mir", frame(_ => v), createSchema = Some(schema("mir")))
      s.buildMirror("mir", 7, numBuckets = 4)
      s
    }
    val a = mirrored(aa, 1L)
    mirrored(bb, 2L)
    a.mirrorFor("mir", 7) should not be empty
    spark.sql(s"SELECT DISTINCT v FROM graft_scan('$aa', 'mir', 7)")
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
  }
}
