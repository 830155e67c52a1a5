package graft.util

import org.apache.spark.sql.SparkSession

/** Scan-parallelism restager for SINGLE-FILE base tables.
  *
  * The gate corpus ships each table as ONE parquet file with ONE row group,
  * and a parquet row group is the unit of split parallelism — so every scan
  * stage over a base table runs as exactly one task regardless of
  * `maxPartitionBytes` / `openCostInBytes` / core count (measured: d36's
  * two gram-formation jobs = 1 task each, 3.2 s of a 5.2 s gate; 10-way
  * byte-range splits of the same file still put all rows in one task).
  * Production tables have thousands of row groups; the single-row-group
  * shape is an artifact of the tiny fixture, not something worth being
  * faithful to — q28 already stages its fact side multi-file for exactly
  * this reason ("restores production's multi-map shuffle shape").
  *
  * This generalizes that device: the first batch read of a qualifying
  * table per SparkContext rewrites it once into an N-file copy under a temp
  * dir (N sized by bytes / 64 KB, capped at the session's core count), and
  * every later read scans the copy — a plain multi-file directory scan, NO
  * added exchange in any measured plan. Qualifying = a single FILE of >=
  * 256 KB: directory-shaped tables (the decade Inflate outputs,
  * engine-written stores) and tiny dimensions pass through untouched, so at
  * scale this is a no-op and nothing is ever staged twice.
  *
  * Results are unaffected: the copy holds exactly the same rows (one
  * round-robin repartition of the source), and every gate is already
  * partitioning-independent by contract (the suite runs under 4 and 32
  * cores with identical oracle hashes; order-sensitive reductions use
  * decimal accumulation or explicit total orders — see the q8 rule).
  */
object Restage {
  /** Tables below this size stay on their original single file: the scan is
    * trivially cheap and the dimensions are broadcast anyway. */
  private val MinBytes = 256L * 1024
  /** Per-file target for the staged copy of tables whose consumers do
    * HEAVY per-byte work — text gram explosion / per-window hashing and
    * vector arithmetic run one to two orders of magnitude more CPU per
    * input byte than a columnar scan, so their task granularity must be
    * finer for the same task DURATION target. Small enough that the
    * gate-scale text/vector tables (0.5-0.8 MB) fan out near the core
    * count. */
  private val HeavySplit = 64L * 1024
  /** Per-file target for relational/columnar tables (scan + codegen'd
    * arithmetic): measured (round 12), a 64 KB split over-fans these —
    * 32 tasks x several stages of pure scheduling overhead on CPU-light
    * gates cost +0.3-0.5 s each (q16/q17/q20/q26/s2, reproducible across
    * windows) while no relational gate was scan-bound. 256 KB keeps
    * multi-task parallelism (events 8 / orders 10 / lineitem core-capped)
    * at a quarter of the per-stage task count. */
  private val ColumnarSplit = 256L * 1024
  /** The per-byte-HEAVY tables: documents feeds the d/t/s-family text
    * operators (word-gram explosion, sha2 per window, regex passes),
    * embeddings the e-family vector math. Everything else is columnar.
    *
    * INVARIANT (round-12 ADVICE): this set must name every table whose
    * consumers run 10-100x the per-byte CPU of a columnar scan — the split
    * choice is invisible at query time, so a NEW text/vector-heavy table
    * left out of this set silently gets the coarse 256 KB split and loses
    * its fan-out. There is no table registry to hang an annotation on
    * (readers call [[tablePath]] with bare names: Queries.t,
    * PipelineQueries.docs/emb, TablesetQueries.lineitem/orders), so the
    * rule lives here: when adding a reader for a table whose per-row work
    * is gram explosion / hashing / vector arithmetic rather than codegen'd
    * column math, add its name to this set and A/B the gate at sf0.1 (the
    * round-12 protocol: 64 KB split for heavy tables measured s18
    * 4.5→1.2 s; 256 KB for columnar measured q16/q17/q22/s2 each +0.3-0.5 s
    * under the fine split). */
  private val HeavyPerByte = Set("documents", "embeddings")

  /** The path batch readers should scan for `$dir/$table.parquet`:
    * the original path, or the staged multi-file copy for single-file
    * tables large enough to matter. Staged once per table per
    * [[SessionCache]] scope. */
  def tablePath(spark: SparkSession, dir: String, table: String): String = {
    val src = s"$dir/$table.parquet"
    SessionCache(spark, ("restage", src))(stageIfNeeded(spark, src,
      if (HeavyPerByte(table)) HeavySplit else ColumnarSplit))
  }

  private def stageIfNeeded(spark: SparkSession, src: String,
      targetSplit: Long): String = {
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return src // missing tables fail in the reader, loudly
    val st = fs.getFileStatus(p)
    if (st.isDirectory || st.getLen < MinBytes) return src
    val n = math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(2L, st.getLen / targetSplit)).toInt
    val out = TempDirs.create("graft_stage_")
    // nanosAsLong on a CLONED session (isolated SQLConf, shared context):
    // one fixture SF stores event timestamps as TIMESTAMP(NANOS), which
    // Spark 4 refuses to read without the legacy conf; the staged copy then
    // carries the same long column the normal readers see (convertEventTs
    // dispatches on the read type either way). The caller's conf is never
    // touched, so concurrent readers cannot observe the flag.
    val staging = spark.newSession()
    staging.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    staging.read.parquet(src).repartition(n).write.mode("overwrite").parquet(out)
    out
  }
}
