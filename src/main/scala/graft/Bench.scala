package graft
import org.apache.spark.sql.SparkSession

/** Benchmark entry: runs every SparkEntry query against SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. Queries execute into the `noop` sink so the full
  * plan (projections included) runs — `count()` would let Catalyst prune the
  * very expressions being measured. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // bench provenance: 1-minute system load at start/end PLUS the
    // /proc/stat steal-tick share across the window, recorded into the
    // JSON so a host-contended window SELF-IDENTIFIES (the r10 driver
    // window read as a uniform 2.5x "regression" until half a day of
    // forensics traced it to host CPU steal). loadavg alone is NOT the
    // signal — local[32] drives its own load to ~15; steal is the part
    // the guest didn't run, i.e. the neighbors.
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // (steal, total) jiffies from the aggregate cpu line; (0, 0) off-Linux.
    // Total sums ONLY user..steal (first 8 fields): guest/guest_nice are
    // already folded into user/nice by the kernel, so including them
    // double-counts guest time and understates steal on guest-running hosts
    def cpuTicks: (Long, Long) =
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        val parts = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally f.close()
        (if (parts.length > 7) parts(7) else 0L, parts.take(8).sum)
      } catch { case _: Exception => (0L, 0L) }
    val loadStart = loadAvg
    val (stealStart, totalStart) = cpuTicks

    // every gate that threw in any pass, warmup included: a measured -1.0
    // drops out of the total, so the summary names the failures instead
    val failedGates = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => failedGates.add(name); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // local-iteration filter (driver runs without it -> full bench)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(SparkEntry.onlySelected)
    // One warmup pass (JIT + codegen cache + file-footer cache + memo
    // builds), then two measured passes, reporting the per-query MIN: this
    // VM sees bursty host CPU steal (minutes-long windows where every task
    // runs 10-40x slow), and a single pass randomly inflates whichever
    // queries the burst lands on. The two measured passes are FULL-SUITE
    // passes, so a query's two timings are separated by an entire suite
    // pass — a steal burst shorter than that cannot inflate both, which is
    // what makes the min steal-robust (the round-8 review caught a
    // back-to-back-passes variant that silently lost this property).
    names.foreach(run) // global warmup
    val pass1 = names.map(run)
    val pass2 = names.map(run)
    val results = names.lazyZip(pass1).lazyZip(pass2).map { (n, a, b) =>
      n -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = names.filter(failedGates.contains)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val (stealEnd, totalEnd) = cpuTicks
    val stealPct =
      if (totalEnd > totalStart) 100.0 * (stealEnd - stealStart) / (totalEnd - totalStart)
      else 0.0
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","load_start":$loadStart%.2f,"load_end":$loadAvg%.2f,"steal_pct":$stealPct%.2f,"n_failed":${failedGates.size},"failed":$failed}"""
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
    spark.stop()
  }
}
