package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Verify's dump must never let an earlier run's output stand in for a gate
  * that failed this time: the oracle compare would check the stale copy. */
class VerifySpec extends AnyFunSuite with SparkTestSession {

  test("a failed gate is reported and its stale output dir deleted") {
    val out = Files.createTempDirectory("graft_verify_")
    val stale = out.resolve("c1_curation")
    spark.range(3).write.parquet(stale.toString)
    assert(Files.exists(stale))
    val missing = out.resolve("no_such_sf_dir").toString
    val failed = Verify.dump(new GateRunner(spark), missing, out.toString, Seq("c1_curation"))
    assert(failed == Seq("c1_curation"))
    assert(!Files.exists(stale), "the stale output of the failed gate is still there")
    assert(Files.exists(out.resolve("oracle_sql.json")))
  }
}
