package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Measurement tool (optimization guide §1/§7): run one gate query with a
  * job-level listener and print every Spark job's wall time + description,
  * so a gate's seconds can be attributed to its actual jobs (scan, probe
  * collect, stream micro-batches, final noop) instead of guessed at.
  *
  *   runMain graft.ProfileGate <query>[,<query>...] [sfDir] [passes]
  *
  * Pass 1 is warmup (memo/store builds print as jobs too — their cost is
  * visible but labeled); the LAST pass's jobs are what the bench's
  * min-of-2 protocol measures. A/B confs: `-Dspark.*` system properties.
  */
object ProfileGate {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileGate <query>[,<query>...] [sfDir] [passes]")
    val gateNames = GateRunner.gates(args(0))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    GateRunner.run { runner =>
      val spark = runner.spark
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
      // (job id, tasks, start ms, end ms, description)
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, String)]()
      // streaming gates: per-trigger durationMs breakdown (walCommit,
      // stateStoreCommit, queryPlanning, addBatch, ...) — the fixed-cost
      // attribution §1 asks for before touching any stream machinery
      val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          progress.add(f"  stream START  ${e.timestamp}")
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val dur = p.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
          progress.add(f"  trigger batch=${p.batchId} rows=${p.numInputRows} $dur")
        }
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          progress.add(s"  stream END")
      })
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          // gate jobs set neither property: the first stage's name is its
          // call site
          val desc = Option(js.properties).toSeq
            .flatMap(p => Seq("spark.job.description", "callSite.short").map(p.getProperty))
            .++(js.stageInfos.headOption.map(_.name))
            .find(d => d != null && d.nonEmpty).getOrElse("")
          starts.put(js.jobId, (js.time, desc, js.stageInfos.map(_.numTasks).sum))
        }
        override def onJobEnd(je: SparkListenerJobEnd): Unit =
          Option(starts.remove(je.jobId)).foreach { case (t0, desc, nTasks) =>
            jobs.add((je.jobId, nTasks, t0, je.time, desc))
          }
      })

      gateNames.foreach { name =>
        (1 to passes).foreach { p =>
          jobs.clear()
          progress.clear()
          val sec = runner.timeGate(name, sfDir)
          org.apache.spark.sql.graft.shims.drainListenerBus(spark.sparkContext)
          println(f"\n=== pass $p: $name = $sec%.3f s, ${jobs.size} jobs ===")
          // Driver-gap attribution over a MERGED-INTERVAL timeline (round-12
          // ADVICE): Spark runs jobs concurrently (broadcast builds, memo
          // localCheckpoints, AQE subqueries), so per-job-ID deltas yield
          // negative/misleading gaps in exactly the multi-job gates this
          // instrument attributes. Jobs are walked in t0 order; gap is the
          // driver-idle span since the running max end (clamped at 0), and a
          // job that starts before the previous ones finished is flagged
          // `overlap`. The summary line is wall = busy (union of job spans)
          // + idle (the true driver-side gap total).
          val timeline = jobs.asScala.toSeq.sortBy(j => (j._3, j._1))
          var prevEnd = 0L
          var busyMs = 0L
          timeline.foreach { case (id, nt, t0, t1, desc) =>
            val gapMs = if (prevEnd == 0L) 0L else t0 - prevEnd
            val tag = if (gapMs < 0) f"overlap=${-gapMs / 1e3}%5.3f s" else f"gap=${gapMs / 1e3}%6.3f s"
            busyMs += math.max(0L, t1 - math.max(t0, prevEnd))
            prevEnd = math.max(prevEnd, t1)
            println(f"  job $id%4d  ${(t1 - t0) / 1e3}%7.3f s  $tag  tasks=$nt%4d  ${desc.take(90)}")
          }
          if (timeline.nonEmpty) {
            val wallMs = timeline.map(_._4).max - timeline.map(_._3).min
            println(f"  timeline: jobs-busy=${busyMs / 1e3}%.3f s  driver-idle=${(wallMs - busyMs) / 1e3}%.3f s  job-span-wall=${wallMs / 1e3}%.3f s  gate-wall=$sec%.3f s")
          }
          progress.asScala.foreach(println)
        }
      }
    }
  }
}
