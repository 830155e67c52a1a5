package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MEASURE the parquet-store ↔ keyed-state dedup crossover instead of
  * extrapolating it (round-11 verdict Next #1): at what maintained-store
  * size does the keyed backend's flat per-batch cost beat the parquet
  * backend's Bloom-pruned-but-O(|store|) per-batch scan?
  *
  * The decade protocol (ScaleS20) could not answer this: its store grows
  * with the corpus, so |store| ≈ arrivals and the |store| ≫ |batch| regime
  * — the regime a long-lived production dedup stream actually lives in —
  * never materializes. Here both backends are PRE-SEEDED with the same
  * N-row synthetic signature store (the s23 initial-state device makes
  * this a one-liner for keyed state; for parquet the store IS the
  * BatchStore seed), then stream K identical micro-batches of B arrivals
  * drawn from the stored keys (a pure-duplicate workload — dedup's own
  * steady state — so |store| stays exactly N for every measured batch).
  * Per-batch cost is read from the engine's own progress events
  * (batchDuration), identically for both backends; the FIRST batch is
  * reported separately (for keyed state it carries the one-time
  * migration/seeding cost, the price of adopting the backend).
  *
  * The codec work (WAV synthesize+decode) is deliberately absent: it is
  * O(batch) and identical on both backends, so it shifts both curves by
  * the same constant and cannot move the crossover.
  *
  *   runMain graft.ScaleCrossover s21:<N>:<B>:<K> s22:<N>:<B>:<K>:<P> ...
  *     N = pre-seeded store rows, B = arrivals per batch, K = batches,
  *     P = state partitions (s22 only; the stateful operator freezes its
  *         partition count at the first checkpoint — 32 RocksDB instances
  *         paying per-batch maintenance for a 10^4-row batch is the fixed
  *         cost this sweep attributes)
  *
  * Prints one CROSSOVER json line per run; the README's backend-economics
  * table is regenerated from these. */
object ScaleCrossover {

  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, (p * s.length).toInt))
  }

  /** Distinct synthetic signatures: lo = id guarantees distinctness, hi =
    * xxhash64(id) spreads the high half (same expression on the arrival
    * side, so arrival keys match stored keys exactly). */
  private def storeFrame(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(xxhash64(col("id")).as("asig_hi"),
      col("id").as("asig_lo"))

  /** K single-file arrival chunks of B rows each, every key a stored key
    * (id' = (i·2654435761 + j·40503 + i) mod N — deterministic, spread),
    * with Staging's pinned-mtime contract so batch i == chunk i. */
  private def stageArrivals(spark: SparkSession, n: Long, b: Long,
      k: Int): String = {
    val staging = graft.util.TempDirs.create("graft_xover_src_")
    (0 until k).foreach { i =>
      val tmp = graft.util.TempDirs.create("graft_xover_tmp_")
      spark.range(b)
        .select((lit(i.toLong * b) + col("id")).as("doc_id"),
          pmod(lit(i) * lit(2654435761L) + col("id") * lit(40503L) + lit(i),
            lit(n)).as("k"))
        .select(col("doc_id"), xxhash64(col("k")).as("asig_hi"),
          col("k").as("asig_lo"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"expected one part file under $tmp")
      val dst = new java.io.File(staging, s"chunk_$i.parquet")
      java.nio.file.Files.move(part.head.toPath, dst.toPath)
      require(dst.setLastModified(1700000000000L + i * 60000L), s"mtime $dst")
    }
    staging
  }

  private val srcSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("asig_hi",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("asig_lo",
      org.apache.spark.sql.types.LongType, nullable = true)))

  /** Per-batch durations (sec) from the engine's progress events, input
    * batches only, batchId-ordered — the same clock for both backends. */
  private def batchSecs(q: org.apache.spark.sql.streaming.StreamingQuery):
      Seq[Double] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
      .map(_.batchDuration / 1000.0)

  /** The s21 shape (consult + flag + anti-join append), pre-seeded.
    * `stateParts` > 0 sizes the batch-side shuffle partitions on a child
    * session — the parquet backend's own fixed-cost knob, so the
    * low-|store| comparison is not confounded by one backend running its
    * per-batch aggregates at 32 partitions and the other at 4. */
  private def runParquet(parent: SparkSession, staging: String,
      store: DataFrame, foldEvery: Int, stateParts: Int): Seq[Double] = {
    val spark = parent.newSession()
    if (stateParts > 0)
      spark.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
    val storeDir = graft.util.TempDirs.create("graft_xover_store_")
    val outDir = graft.util.TempDirs.create("graft_xover_out_")
    val ckpt = graft.util.TempDirs.create("graft_xover_ckpt_")
    graft.streaming.BatchStore.seed(store, storeDir) // the PRE-SEEDED store
    graft.streaming.BatchStore.seed(
      spark.range(0).select(lit(0L).as("doc_id"), lit(false).as("is_dup")),
      outDir)
    val storeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("asig_hi",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("asig_lo",
        org.apache.spark.sql.types.LongType, nullable = true)))
    val sigKey = shiftleft(col("asig_hi"), 21).bitwiseXOR(col("asig_lo"))
    val q = spark.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1).parquet(staging)
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sigs = batch.localCheckpoint()
        if (foldEvery > 0 && batchId > 0 && batchId % foldEvery == 0)
          graft.streaming.BatchStore.fold(spark, storeDir, batchId, storeSchema)
        val st = graft.streaming.BatchStore.readBefore(
          spark, storeDir, batchId, storeSchema)
        val storeCand = graft.streaming.MaintainedStore.candidatesByLong(
          st, sigs.select(sigKey.as("k")), "k", sigKey,
          graft.streaming.MaintainedStore.DefaultFpp).localCheckpoint()
        val batchMins = sigs.groupBy(col("asig_hi"), col("asig_lo"))
          .agg(min(col("doc_id")).as("mn"))
        val flagged = sigs.join(broadcast(storeCand), Seq("asig_hi", "asig_lo"))
          .select(col("doc_id"))
          .unionByName(sigs.join(batchMins, Seq("asig_hi", "asig_lo"))
            .where(col("doc_id") > col("mn")).select(col("doc_id")))
          .distinct().localCheckpoint()
        graft.streaming.BatchStore.append(
          sigs.select(col("asig_hi"), col("asig_lo")).distinct()
            .join(broadcast(storeCand.select(col("asig_hi"), col("asig_lo"))),
              Seq("asig_hi", "asig_lo"), "left_anti"),
          storeDir, batchId)
        graft.streaming.BatchStore.append(
          batch.select(col("doc_id"))
            .join(flagged.withColumn("f", lit(true)), Seq("doc_id"), "left")
            .select(col("doc_id"), coalesce(col("f"), lit(false)).as("is_dup")),
          outDir, batchId)
        ()
      }
      .start()
    q.awaitTermination()
    batchSecs(q)
  }

  /** The s22/s23 shape: keyed state pre-seeded via initial state. */
  private def runKeyed(spark: SparkSession, staging: String,
      store: DataFrame, stateParts: Int, changelog: Boolean): Seq[Double] = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Spark's default (false) SNAPSHOTS the full RocksDB state into the
    // checkpoint on EVERY commit — O(|state|) per batch, which silently
    // re-introduces exactly the scan-per-batch cost keyed state exists to
    // avoid; changelog checkpointing writes only the batch's state DELTA
    ss.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      changelog.toString)
    if (stateParts > 0)
      ss.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
    import ss.implicits._
    val storeDir = graft.util.TempDirs.create("graft_xover_kstore_")
    store.write.mode("overwrite").parquet(storeDir)
    val initState = ss.read.parquet(storeDir)
      .as[(Long, Long)].map(k => (k, true))
      .groupByKey(_._1).mapValues(_._2)
    val outDir = graft.util.TempDirs.create("graft_xover_kout_")
    val ckpt = graft.util.TempDirs.create("graft_xover_kckpt_")
    graft.streaming.BatchStore.seed(
      ss.range(0).select(lit(0L).as("doc_id"), lit(false).as("is_dup")),
      outDir)
    val verdicts = ss.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1).parquet(staging)
      .as[(Long, Long, Long)]
      .map { case (d, hi, lo) => graft.streaming.KeyedDedup.SigArrival(d, hi, lo) }
      .groupByKey(r => (r.asig_hi, r.asig_lo))
      .transformWithState(
        new graft.streaming.KeyedDedup.FirstArrivalBySigMigrated,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update(),
        initState)
    val q = verdicts.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.streaming.BatchStore.append(
          batch.select(col("doc_id"), col("is_dup")), outDir, batchId)
        ()
      }
      .start()
    q.awaitTermination()
    batchSecs(q)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ScaleCrossover s21:<N>:<B>:<K> s22:<N>:<B>:<K>:<P> ...")
    GateRunner.run { runner =>
      val spark = runner.spark
      val stagings = scala.collection.mutable.Map.empty[(Long, Long, Int), String]
      args.foreach { a =>
        // s22cl = keyed with changelog checkpointing (state DELTA per
        // commit); s22 = keyed with Spark's default full-snapshot commits
        val (backend, n, b, k, p) = a.split(":") match {
          case Array("s21", n, b, k)      => ("s21", n.toLong, b.toLong, k.toInt, 0)
          case Array("s21", n, b, k, p)   => ("s21", n.toLong, b.toLong, k.toInt, p.toInt)
          case Array("s22", n, b, k, p)   => ("s22", n.toLong, b.toLong, k.toInt, p.toInt)
          case Array("s22cl", n, b, k, p) => ("s22cl", n.toLong, b.toLong, k.toInt, p.toInt)
          case _ => sys.error(s"bad arg '$a'")
        }
        val staging = stagings.getOrElseUpdate((n, b, k),
          stageArrivals(spark, n, b, k))
        val store = storeFrame(spark, n)
        val t0 = System.nanoTime()
        val secs = backend match {
          case "s21"   => runParquet(spark, staging, store, foldEvery = 16, p)
          case "s22"   => runKeyed(spark, staging, store, p, changelog = false)
          case "s22cl" => runKeyed(spark, staging, store, p, changelog = true)
        }
        val total = (System.nanoTime() - t0) / 1e9
        val steady = secs.drop(1)
        val json = f"""CROSSOVER {"backend":"$backend","store":$n,"batch":$b,""" +
          f""""batches":$k,"state_parts":$p,"first_batch_sec":${secs.head}%.2f,""" +
          f""""steady_median_sec":${percentile(steady, 0.5)}%.3f,""" +
          f""""steady_p90_sec":${percentile(steady, 0.9)}%.3f,""" +
          s""""per_batch_sec":[${secs.map(s => f"$s%.3f").mkString(",")}],""" +
          f""""total_sec":$total%.1f}"""
        println(json)
        runner.release()
      }
    }
  }
}
