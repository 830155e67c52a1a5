package graft

/** Scale-smoke runner: Bench's measurement protocol ([[GateRunner.measure]]:
  * a warmup pass, then the min of two full-suite passes) over each dir —
  * ascending scales of the same corpus, e.g. sf0.1 and its `graft.Inflate`
  * multiples. The warmup pass is printed as `cold_sec`, the first-run cost
  * including store/memo builds; `sec` is the warm min. One JVM for every
  * scale so host-window contention hits all decades alike (the r4 bench
  * lesson: cross-session comparisons confound with CPU steal); each dir's
  * cached state is released before the next.
  *
  *   runMain graft.ScaleSmoke q1,q2,... dir1 dir2 [dir3 ...]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleSmoke <queriesCsv> <dir> [dir ...]")
    val names = GateRunner.gates(args(0))
    val dirs = args.drop(1).toSeq
    GateRunner.run { runner =>
      val results = dirs.map { dir =>
        val rows = runner.measure(names, dir)
        rows.foreach { case (name, cold, t) =>
          println(f"""SMOKE {"query":"$name","dir":"$dir","sec":$t%.2f,"cold_sec":$cold%.2f}""")
        }
        runner.release()
        rows.map(_._3)
      }
      println("\nquery" + dirs.map(d => s"\t$d").mkString)
      names.indices.foreach { i =>
        println(names(i) + results.map(r => f"\t${r(i)}%.2f").mkString)
      }
    }
  }
}
