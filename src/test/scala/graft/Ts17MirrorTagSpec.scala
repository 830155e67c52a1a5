package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

/** ts17 registers its bucketed mirrors as session-catalog tables. Their
  * names must differ for every sfDir: two dirs whose paths share a 32-bit
  * `hashCode` ("Aa" and "BB" do) must never read each other's mirrors. */
class Ts17MirrorTagSpec extends AnyFunSuite with SparkTestSession {

  test("ts17 on two dirs with equal path hashCodes keeps each dir's mirrors") {
    val tmp = Files.createTempDirectory("graft_ts17_tag_").toString
    val (aa, bb) = (s"$tmp/Aa", s"$tmp/BB")
    assert(aa.hashCode == bb.hashCode, "the fixture must collide on String.hashCode")
    val src = "/root/testdata/sf0.001/lineitem.parquet"
    Files.createDirectories(Paths.get(aa))
    Files.copy(Paths.get(src), Paths.get(aa, "lineitem.parquet"))
    spark.read.parquet(src).where(pmod(col("l_orderkey"), lit(2)) === 0)
      .coalesce(1).write.parquet(s"$bb/lineitem.parquet")

    def ts17(dir: String) = TablesetQueries.ts17BucketedJoin(spark, dir).collect().toSeq
    val first = ts17(aa)
    val other = ts17(bb)
    val again = ts17(aa)
    assert(first.nonEmpty)
    val differs = other != first
    assert(differs, "the filtered copy must give a different ts17 result")
    val repeats = again == first
    assert(repeats, "ts17 on Aa served BB's mirrors")
  }
}
