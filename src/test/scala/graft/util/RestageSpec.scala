package graft.util

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Restage]]'s contract: a qualifying single-file table stages to a
  * multi-file copy holding EXACTLY the same rows (the optimization must be
  * result-invisible), while directory tables and small files pass through
  * untouched (at production scale restaging must be a structural no-op). */
class RestageSpec extends AnyFunSuite with graft.SparkTestSession {

  private def writeOneFile(rows: Int): String = {
    import spark.implicits._
    val tmp = TempDirs.create("restage_spec_tmp_")
    val dir = TempDirs.create("restage_spec_tbl_")
    (1 to rows).toDF("id")
      .withColumn("payload", concat(sha2(col("id").cast("string"), 256),
        sha2(concat(col("id").cast("string"), lit("b")), 256),
        sha2(concat(col("id").cast("string"), lit("c")), 256)))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(part.length == 1)
    val dst = new java.io.File(dir, "t.parquet")
    java.nio.file.Files.move(part.head.toPath, dst.toPath)
    dir
  }

  test("single file >= 256 KB stages to a multi-file copy with identical rows") {
    val dir = writeOneFile(6000) // ~1.1 MB: 3 x 64-hex-char incompressible payload per row
    val src = new java.io.File(dir, "t.parquet")
    assume(src.length() >= 256L * 1024, s"fixture too small: ${src.length()}")
    val staged = Restage.tablePath(spark, dir, "t")
    assert(staged != src.getPath, "large single-file table must stage")
    val files = new java.io.File(staged).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length > 1, "staged copy must be multi-file")
    // row-identical: full-row multiset equality in both directions
    val a = spark.read.parquet(src.getPath)
    val b = spark.read.parquet(staged)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "staged copy must hold exactly the source rows")
    // memoized: second call returns the same staged path, no re-stage
    assert(Restage.tablePath(spark, dir, "t") == staged)
  }

  test("staging never sets nanosAsLong on the caller's session conf") {
    val dir = writeOneFile(6000)
    assume(new java.io.File(dir, "t.parquet").length() >= 256L * 1024)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // event readers set the flag on the shared session: watch from unset
    val before = spark.conf.getOption(key)
    spark.conf.unset(key)
    val start = spark.conf.getOption(key) // the default, "false"
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sawTrue = new java.util.concurrent.atomic.AtomicBoolean(false)
    val polls = new java.util.concurrent.atomic.AtomicLong()
    val poller = new Thread(() => {
      while (!done.get) {
        if (spark.conf.getOption(key).contains("true")) sawTrue.set(true)
        polls.incrementAndGet()
      }
    })
    poller.start()
    var after: Option[String] = None
    val staged = try Restage.tablePath(spark, dir, "t")
    finally {
      done.set(true)
      poller.join()
      after = spark.conf.getOption(key)
      before.foreach(spark.conf.set(key, _))
    }
    assert(staged != s"$dir/t.parquet", "the fixture must actually stage")
    assert(polls.get > 0)
    assert(!sawTrue.get, s"a concurrent reader saw $key=true on the caller's session")
    assert(after == start)
  }

  test("small single-file tables and directory tables pass through") {
    val small = writeOneFile(10)
    assert(Restage.tablePath(spark, small, "t") == s"$small/t.parquet")

    import spark.implicits._
    val dir = TempDirs.create("restage_spec_dir_")
    (1 to 100).toDF("x").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Restage.tablePath(spark, dir, "t") == s"$dir/t.parquet",
      "directory-shaped tables (decade/production layout) must not restage")
  }
}
