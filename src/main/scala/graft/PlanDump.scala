package graft

import org.apache.spark.sql.execution.ExplainMode

/** Measurement tool (optimization guide §1): dump `.explain("formatted")`
  * for named gate queries to files, so plan shapes (Exchange count, join
  * strategy, PushedFilters/ReadSchema, codegen spans) can be diffed across
  * optimization changes without re-running the bench.
  *
  *   runMain graft.PlanDump <outDir> <suffix> <queriesCsv|ALL> [sfDir]
  *
  * Writes <outDir>/<query>_<suffix>.txt per query. Queries whose gate fn
  * runs side work (store builds, streams) execute that work as part of
  * producing the returned frame — the dumped plan is the plan of the frame
  * the bench times into the noop sink.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <queriesCsv|ALL> [sfDir]")
    val Array(outDir, suffix, spec) = args.take(3)
    val names = GateRunner.gates(spec)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    GateRunner.run { runner =>
      new java.io.File(outDir).mkdirs()
      names.foreach { name =>
        runner.attempt(name) {
          val plan = SparkEntry.queries(name)(runner.spark, sfDir)
            .queryExecution.explainString(ExplainMode.fromString("formatted"))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
        }
      }
    }
  }
}
