package graft

/** Benchmark entry: runs every SparkEntry query against SPARK_GRAFT_SF_DIR
  * with [[GateRunner.measure]] (warmup, then the min of two full-suite
  * passes) and prints two JSON lines: every gate's seconds, then the
  * totals alone. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    GateRunner.run { runner =>
      // bench provenance: 1-minute system load at start/end PLUS the host
      // steal share across the window, so a host-contended window
      // self-identifies (the r10 driver window read as a uniform 2.5x
      // "regression" until forensics traced it to host CPU steal)
      def loadAvg: Double = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
      val loadStart = loadAvg
      val ticksStart = GateRunner.hostTicks()

      // SPARK_GRAFT_ONLY narrows ALL for local iteration (the driver sets none)
      val results = runner.measure(GateRunner.gates("ALL"), sfDir)
      val qs = results.map { case (k, _, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      // a failed gate's -1.0 drops out of the total, so the line names it
      val total = results.map(_._3).filter(_ >= 0).sum
      val failed = runner.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val stealPct = GateRunner.stealPct(ticksStart, GateRunner.hostTicks())
      val json =
        f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","load_start":$loadStart%.2f,"load_end":$loadAvg%.2f,"steal_pct":$stealPct%.2f,"n_failed":${runner.failed.size},"failed":$failed}"""
      println(json)
      // Also persist the full per-query map next to the build (the repo
      // root, detected by build.sbt in the cwd — sbt runs forked mains
      // there): the driver's BENCH_rN artifact tail-truncates the query map
      // (r8 lost the first ~95 per-query timings), so the committed file is
      // the durable round-over-round history. Full runs only — a
      // SPARK_GRAFT_ONLY iteration run must not overwrite the round's suite
      // numbers. A non-repo cwd warns loudly instead of scattering files.
      if (sys.env.get("SPARK_GRAFT_ONLY").isEmpty) {
        if (new java.io.File("build.sbt").exists())
          try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
            (json + "\n").getBytes("UTF-8"))
          catch { case e: Exception =>
            System.err.println(s"BENCH_LOCAL.json write failed: $e") }
        else System.err.println(
          "BENCH_LOCAL.json not written: cwd is not the repo root (no build.sbt)")
      }
      // the totals alone, last: a reader that keeps only the tail of the
      // output (the per-gate map above runs to ~6 KB) still parses them
      println(f"""{"metric":"total","value":$total%.3f,"sf":"$sfDir","steal_pct":$stealPct%.2f,"n":${results.size},"n_failed":${runner.failed.size}}""")
    }
  }
}
