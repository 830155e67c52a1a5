package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Deterministic scale inflation for the 10x scale-smoke (round-3 verdict
  * #2): union `factor` key-remapped copies of the fact tables so the store
  * and dedup/ANN gate families can be measured one order of magnitude above
  * sf0.1 — the 100-TB scaling claims argued from plans get a measured
  * headroom point. Seed-free and pinned: copy i remaps every key by
  * i * 10^9 and perturbs document text with a per-copy suffix (keeps
  * near-dup structure without degenerate identical-text blowup). customer
  * inflates WITH matching c_custkey offsets (events.user_id and
  * orders.o_custkey are FKs into it — see below); the remaining dimension
  * tables (region/nation/supplier/part) copy through unchanged.
  *
  *   runMain graft.Inflate <srcDir> <outDir> <factor>
  */
object Inflate {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, outDir, factorS) = args
    val factor = factorS.toInt
    GateRunner.run { runner =>
      val spark = runner.spark
      val Off = 1000000000L

      def copies(table: String)(remap: (org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame): Unit = {
        val src = spark.read.parquet(s"$srcDir/$table.parquet")
        (1 until factor).foldLeft(src)((acc, i) => acc.unionByName(remap(src, i)))
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$table.parquet")
        ()
      }

      copies("lineitem")((df, i) =>
        df.withColumn("l_orderkey", col("l_orderkey") + lit(i * Off)))
      // orders remap BOTH keys: o_custkey follows customer's inflated copies
      // (below) so orders->customer stays a real FK at Nx instead of piling
      // every copy onto the original customers
      copies("orders")((df, i) =>
        df.withColumn("o_orderkey", col("o_orderkey") + lit(i * Off))
          .withColumn("o_custkey", col("o_custkey") + lit(i * Off)))
      // customer inflates WITH key offsets (not a pass-through dimension):
      // events.user_id and orders.o_custkey reference c_custkey, so a
      // same-offset copy keeps the FK valid for every inflated copy — the
      // round-4 scheme copied customer unchanged, which silently shrank
      // s7's stream-static join to copy-0 events (both engines agreed, so
      // the gate stayed green while exercising 1/N of the data)
      copies("customer")((df, i) =>
        df.withColumn("c_custkey", col("c_custkey") + lit(i * Off)))
      copies("documents")((df, i) =>
        df.withColumn("doc_id", col("doc_id") + lit(i * Off))
          .withColumn("text", concat(col("text"), lit(s" c$i")))
          .withColumn("n_chars", col("n_chars") + lit(3L)))
      copies("embeddings")((df, i) =>
        df.withColumn("vec_id", col("vec_id") + lit(i * Off)))
      // remap event AND user keys: a plain volume copy would multiply every
      // user's activity density 10x, quadratically inflating per-user joins
      // (s10 attribution) by data construction rather than plan behavior —
      // remapping keeps per-user structure identical to the source
      copies("events")((df, i) =>
        df.withColumn("event_id", col("event_id") + lit(i * Off))
          .withColumn("user_id", col("user_id") + lit(i * Off)))
      Seq("region", "nation", "supplier", "part").foreach { t =>
        spark.read.parquet(s"$srcDir/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$t.parquet")
      }
      println(s"inflated $srcDir -> $outDir x$factor")
    }
  }
}
