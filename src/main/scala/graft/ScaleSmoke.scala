package graft

import org.apache.spark.sql.SparkSession

/** Scale-smoke runner: the README's min-of-2 protocol, as a repeatable
  * entry point — for each dir (ascending scales of the same corpus, e.g.
  * sf0.1 and its `graft.Inflate` multiples) run each named gate query once
  * as warmup (JIT + codegen + store/memo builds) and twice measured into
  * the noop sink, reporting the per-(query, dir) MIN. One JVM for every
  * scale so host-window contention hits all decades alike (the r4 bench
  * lesson: cross-session comparisons confound with CPU steal).
  *
  *   runMain graft.ScaleSmoke q1,q2,... dir1 dir2 [dir3 ...]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleSmoke <queriesCsv> <dir> [dir ...]")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dirs = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val results = dirs.flatMap { dir =>
      val rows = names.map { name =>
        // warmup: builds stores/memos for this dir; its time is printed
        // as the COLD first-run cost (memoized gates' honest build cost —
        // the measured min below is their warm probe)
        val cold = run(name, dir)
        val t = math.min(run(name, dir), run(name, dir))
        println(f"""SMOKE {"query":"$name","dir":"$dir","sec":$t%.2f,"cold_sec":$cold%.2f}""")
        (name, dir, t)
      }
      // Release this decade's cached/checkpointed blocks before the next:
      // memoized frames (sigSets, stores, probe sets) are keyed per dir and
      // never revisited, but their localCheckpoint blocks stay pinned — at
      // the FOURTH decade (300x) the accumulated earlier-decade caches
      // OOMed an 80g heap mid-t2. Dropping them here keeps the one-JVM
      // protocol (same host window, warm JIT) while each decade is
      // measured against its own working set only. The session cache is
      // cleared WITH the blocks: a cached frame whose checkpoint blocks
      // are gone is permanently broken, so a repeated dir (variance
      // re-measures) must rebuild, not die on 'Checkpoint block not found'
      // (its stores, indexes and staged copies rebuild too).
      graft.util.SessionCache.clear()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      rows
    }
    println("\nquery" + dirs.map(d => s"\t$d").mkString)
    names.foreach { n =>
      val row = dirs.map(d => f"${results.find(r => r._1 == n && r._2 == d).get._3}%.2f")
      println(n + row.map(v => s"\t$v").mkString)
    }
    spark.stop()
  }
}
