package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The harness under every entry point: steal sampling, gate-list
  * resolution, and the failure record that lets a run carry on past a
  * gate that throws. */
class GateRunnerSpec extends AnyFunSuite with SparkTestSession {

  test("steal share from two /proc/stat cpu lines leaves guest time out") {
    // cpu  user nice system idle iowait irq softirq steal guest guest_nice
    val start = GateRunner.cpuTicks("cpu  100 0 50 800 10 0 5 35 1000 7")
    val end = GateRunner.cpuTicks("cpu  200 0 90 1500 10 0 5 95 3000 9")
    assert(start == ((35L, 1000L)))
    assert(end == ((95L, 1900L)))
    assert(GateRunner.stealPct(start, end) == 100.0 * 60 / 900)
    assert(GateRunner.stealPct(end, end) == 0.0)
  }

  test("an unknown gate name is rejected") {
    val e = intercept[IllegalArgumentException](
      GateRunner.gates("c1_curation, no_such_gate"))
    assert(e.getMessage.contains("no_such_gate"))
    assert(GateRunner.gates(" c1_curation,c5_hash_split ") == Seq("c1_curation", "c5_hash_split"))
  }

  test("a gate that throws is recorded by name and the loop carries on") {
    val runner = new GateRunner(spark)
    val missing = Files.createTempDirectory("graft_runner_").resolve("missing").toString
    val rows = runner.measure(Seq("c1_curation", "c5_hash_split"), missing)
    assert(rows.map(r => (r._1, r._2, r._3)) ==
      Seq(("c1_curation", -1.0, -1.0), ("c5_hash_split", -1.0, -1.0)))
    assert(runner.failed == Seq("c1_curation", "c5_hash_split"))
    assert(runner.timeGate("c1_curation", "/root/testdata/sf0.001") >= 0.0)
    assert(runner.failed == Seq("c1_curation", "c5_hash_split"))
  }
}
