package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A gate that
  * throws leaves no output dir (a stale one from an earlier run is
  * deleted), and the failed names are printed last.
  *
  * With a trailing `--check` argument, the dump is followed by the full
  * local gate in one command (fails loudly on any mismatch, and on any
  * failed gate):
  *   1. tools/compare_oracle.py — every oracle SQL re-run in DuckDB and
  *      hash-compared against the Spark parquet (the driver's gate, local);
  *   2. tools/independent_check.py — the third-implementation checks
  *      (formulas re-derived from their published definitions, media bytes
  *      re-decoded with pure-Python codecs).
  * Both tools skip gates whose output is absent, so `--check` composes
  * with SPARK_GRAFT_ONLY-filtered sweeps. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), runCheck) =
      if (args.lastOption.contains("--check")) (args.dropRight(1), true)
      else (args, false)
    val failed = GateRunner.run(dump(_, sfDir, outDir))
    val (compare, indep) = if (!runCheck) (0, 0) else {
      import scala.sys.process._
      // resolve tools/ against the REPO ROOT, not the cwd: sbt forks mains
      // in the repo root but a bare java/spark-submit launch may not, and a
      // cwd-relative path would then fail — or worse, run a DIFFERENT
      // checkout's checkers (round-10 ADVICE). Override with
      // GRAFT_REPO_ROOT; otherwise walk up from the cwd to build.sbt.
      val root = sys.env.get("GRAFT_REPO_ROOT").getOrElse {
        Iterator.iterate(new java.io.File(".").getCanonicalFile)(_.getParentFile)
          .takeWhile(_ != null)
          .find(d => new java.io.File(d, "build.sbt").exists())
          .getOrElse(sys.error("--check: no build.sbt above the cwd — run " +
            "from inside the repo or set GRAFT_REPO_ROOT"))
          .getPath
      }
      // driver-side python3 (duckdb/pandas) — the same tools the round
      // gate runs; inherit stdio so per-gate ok/FAIL lines stay visible
      (Seq("python3", s"$root/tools/compare_oracle.py", sfDir, outDir).!,
        Seq("python3", s"$root/tools/independent_check.py", sfDir, outDir).!)
    }
    failed.foreach(n => System.err.println(s"[verify] FAILED gate: $n"))
    if (runCheck) {
      if (compare != 0 || indep != 0 || failed.nonEmpty)
        sys.error(s"--check FAILED (compare_oracle=$compare, " +
          s"independent_check=$indep, failed gates=${failed.size})")
      println("[verify] --check: oracle compare + independent checks PASS")
    }
  }

  /** Writes each of `names`' results to `<outDir>/<gate>` and their oracle
    * SQL to `<outDir>/oracle_sql.json`; returns the gates that threw, whose
    * output dirs are deleted so no earlier run's copy is ever compared. */
  def dump(runner: GateRunner, sfDir: String, outDir: String,
      names: Seq[String] = GateRunner.gates("ALL")): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val conf = runner.spark.sparkContext.hadoopConfiguration
    names.foreach { name =>
      val out = new org.apache.hadoop.fs.Path(outDir, name)
      if (runner.attempt(name)(SparkEntry.queries(name)(runner.spark, sfDir)
          .coalesce(1).write.mode("overwrite").parquet(out.toString)).isEmpty)
        out.getFileSystem(conf).delete(out, true)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    runner.failed
  }
}
