package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Contention provenance, as the gate bench records it: the 1-minute load
  * average and the share of CPU ticks stolen by the host over the measured
  * window, so a contended window identifies itself. Load alone is not the
  * signal (local[n] drives its own load); steal is the time the guest was
  * runnable but not run. */
object Provenance {
  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** (steal, total) jiffies from the aggregate cpu line; (0, 0) off Linux.
    * Total sums only user..steal (the first 8 fields): guest time is
    * already folded into user and nice. */
  def cpuTicks: (Long, Long) =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val parts = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally f.close()
      (if (parts.length > 7) parts(7) else 0L, parts.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealPct(start: (Long, Long), end: (Long, Long)): Double = {
    val total = end._2 - start._2
    if (total <= 0) 0.0 else 100.0 * (end._1 - start._1) / total
  }

  /** Heap still in use after forced collections: what the run retains. */
  def heapAfterGcMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

object Output {
  def write(path: Path, args: Main.Args, rec: Recorder, setupS: Double,
      sizes: Map[String, Any], provenance: Map[String, Double], heapMb: Double): Unit = {
    val byOp = rec.samples.map(s => s.op -> s).toMap
    val engine = rec.listener.toSeq.flatMap(_.ops.toSeq.sortBy(_._1).map { case (op, st) =>
      val window = byOp.get(op)
      val busy = window.map(w => OpListener.unionMs(st.intervals.toSeq, w.startMs, w.endMs))
      Map("op" -> op, "jobs" -> st.jobs, "tasks" -> st.tasks, "run_ms" -> st.runMs,
        "gc_ms" -> st.gcMs, "shuffle_write_bytes" -> st.shuffleWrite,
        "spill_bytes" -> st.spill, "task_union_ms" -> busy.getOrElse(0L))
    })
    val doc = Map(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "cores" -> args.cores,
      "setup_s" -> setupS,
      "samples" -> rec.samples.map(s => Map("kind" -> s.kind, "phase" -> s.phase, "ms" -> s.ms,
        "n" -> s.n, "ok" -> s.ok, "op" -> s.op)),
      "checks" -> rec.checks,
      "failures" -> rec.failures.map { case (w, r) => Map("what" -> w, "reason" -> r) },
      "values" -> rec.values.groupBy(_._1).map { case (k, vs) =>
        k -> vs.map { case (_, op, v) => Seq(op, v) } },
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "engine" -> engine,
      "sizes" -> sizes,
      "provenance" -> provenance,
      "heap_after_gc_mb" -> heapMb)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, mapper.writeValueAsBytes(doc))
  }
}
