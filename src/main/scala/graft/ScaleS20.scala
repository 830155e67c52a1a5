package graft

import org.apache.spark.sql.SparkSession

/** Decade runner for the streaming ingest funnels (s20 curation, s21
  * multimodal audio dedup — parquet-store and keyed-state backends) with
  * the micro-batch count SCALED with the data — the honest form of the
  * decade rows: the per-batch store-consult and store-append terms are
  * measured, not pinned away by running 3 batches at every scale
  * (round-9 verdict #1 for s20, round-10 verdict #2 for s21; the consult
  * is Bloom-pruned + broadcast via [[graft.streaming.MaintainedStore]],
  * so the expected shape is ~linear in arrivals even as batches
  * multiply).
  *
  *   runMain graft.ScaleS20 [<gate>:]<dir>:<parts> [...]
  *   gate = s20 (default) | s21 | s22 (keyed-state s21)
  *   e.g. runMain graft.ScaleS20 /root/testdata/sf0.1:3 /tmp/graft_sf10x:9
  *        s21:/tmp/graft_sf100x:27 s22:/tmp/graft_sf300x:81
  *
  * Reports the COLD end-to-end ingest per (gate, dir, parts) — staging,
  * model training/decontam set build (s20), per-batch codec decode
  * (s21/s22), every micro-batch's store consults and appends — in ONE
  * JVM (ScaleSmoke's same-host rationale), releasing memoized frames and
  * cached blocks between decades so each scale is measured against its
  * own working set. */
object ScaleS20 {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ScaleS20 [<gate>:]<dir>:<parts> [...]  (gate = s20|s21|s22)")
    val runs = args.toSeq.map { a =>
      a.split(":") match {
        case Array(gate, dir, parts) => (gate, dir, parts.toInt)
        case Array(dir, parts)       => ("s20", dir, parts.toInt)
        case _ => sys.error(s"bad arg '$a': want [<gate>:]<dir>:<parts>")
      }
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-run host-steal provenance (Bench's device): a contended decade
    // self-identifies instead of reading as a backend regression — the
    // round-12 decade rows measured 2.2x window-to-window swings on
    // UNCHANGED code before this field existed here
    def cpuTicks: (Long, Long) =
      try {
        val f = scala.io.Source.fromFile("/proc/stat")
        val parts = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally f.close()
        (if (parts.length > 7) parts(7) else 0L, parts.take(8).sum)
      } catch { case _: Exception => (0L, 0L) }

    val results = runs.map { case (gate, dir, parts) =>
      val (st0, tt0) = cpuTicks
      val t0 = System.nanoTime()
      val frame = gate match {
        case "s20" => PipelineQueries.streamCurationFunnel(spark, dir, parts)
        case "s21" => PipelineQueries.streamAudioDedup(spark, dir, parts)._1
        // SPARK_GRAFT_STATE_PARTS sizes the stateful operator's partition
        // count to the workload (it freezes at the first checkpoint; 32
        // RocksDB instances paying per-batch maintenance for a
        // few-thousand-row batch is the measured fixed-cost term the
        // round-11 verdict asked to attribute)
        case "s22" => PipelineQueries.streamAudioDedupKeyed(spark, dir, parts,
          sys.env.get("SPARK_GRAFT_STATE_PARTS").map(_.toInt).getOrElse(0))
        case g => sys.error(s"unknown gate '$g' (want s20|s21|s22)")
      }
      frame.write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      val (st1, tt1) = cpuTicks
      val steal = if (tt1 > tt0) 100.0 * (st1 - st0) / (tt1 - tt0) else 0.0
      println(f"""${gate.toUpperCase} {"dir":"$dir","parts":$parts,"cold_sec":$t%.1f,"steal_pct":$steal%.2f}""")
      graft.util.SessionCache.clear()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      (gate, dir, parts, t)
    }
    println("\ngate\tdir\tparts\tcold_sec")
    results.foreach { case (g, d, p, t) => println(f"$g\t$d\t$p\t$t%.1f") }
    spark.stop()
  }
}
