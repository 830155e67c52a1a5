package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.h3.expr.functions._
import graft.util.SessionCache

/**
 * The correctness-gate query suite: every entry is a Spark implementation
 * paired (in [[Oracles]]) with an independent DuckDB SQL oracle over the same
 * parquet tables. Column names and row order match the oracle exactly.
 *
 * The H3 queries synthesize valid H3 cells deterministically from lineitem
 * keys with pure arithmetic (identical in both systems), then derive
 * parent/resolution/base-cell/children-count with OUR Catalyst expressions in
 * Spark versus independent bit arithmetic in DuckDB — so the oracle actually
 * cross-checks the expression implementations, not just the construction.
 */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(graft.util.Restage.tablePath(spark, dir, name))

  /** Normalize `events.ts` to a session-TZ TIMESTAMP whatever the parquet
    * file declares — the ONE conversion shared by the batch reader, the
    * streaming gates and the specs:
    *  - TIMESTAMP(NANOS) (rejected by Spark unless read as long via
    *    nanosAsLong): integer-divide back to micros — `/` is DOUBLE
    *    division, and epoch-nanos (~1.7e18) exceed double's 53-bit
    *    mantissa, which would silently shift timestamps by microseconds;
    *  - TIMESTAMP_NTZ (Spark 4 infers it for non-UTC-adjusted parquet
    *    micros): cast to TIMESTAMP — wall-clock is interpreted in the
    *    session zone (pinned UTC), matching the oracle's naive reading.
    *    Watermarks and unix_millis require TimestampType. */
  private[graft] def convertEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  private def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    convertEventTs(t(spark, dir, "events"))
  }

  /** File-stream source over a base table, reading the [[graft.util.Restage]]
    * copy when one exists: a single-file table otherwise streams its one
    * file as a ONE-TASK micro-batch (a parquet row group is the split unit),
    * serializing the whole batch's per-row work — measured 4.4 s of s18's
    * 5.4 s in one task on 32 cores. Multi-file sources (production shape,
    * decade dirs) stream exactly as before. Semantics are unchanged either
    * way: AvailableNow still sees every row in the same micro-batch set, and
    * the s-gates are arrival-order-independent by contract (event-time
    * logic, or projections that drop the order-dependent part — s4's rule).
    * Callers needing the nanosAsLong conf must set it BEFORE calling (the
    * schema probe here reads the same staged/original footer either way). */
  private[graft] def streamTable(spark: SparkSession, dir: String,
      table: String): DataFrame = {
    val path = graft.util.Restage.tablePath(spark, dir, table)
    val schema = spark.read.parquet(path).schema
    if (path == s"$dir/$table.parquet") // not staged: original glob form
      spark.readStream.schema(schema).parquet(s"$dir/$table.*")
    else spark.readStream.schema(schema).parquet(path)
  }

  // ------------------------------------------------------------- relational

  /** TPC-H Q1-style pricing summary (single-scan groupBy, map-side combine). */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        // money sums accumulate in DECIMAL(30,6) — q8's at-scale
        // order-independence rule: these per-flag totals reach ~1.7e11 at
        // 30x sf0.1, past the double-sum half-cent boundary (~6e10)
        round(sum(col("l_extendedprice").cast("decimal(30,6)")).cast("double"), 2)
          .as("sum_base_price"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,6)")).cast("double"), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Broadcast-dim join: orders x customer x nation, per-nation totals.
    * nation/customer are small -> explicit broadcast, no shuffle of orders. */
  def q2NationOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("num_orders"),
        // DECIMAL accumulation (q8 rule): per-nation totals ~2.7e10 at 30x
        // sf0.1 sit at the double-sum half-cent boundary
        round(sum(col("o_totalprice").cast("decimal(30,6)")).cast("double"), 2)
          .as("total_price"))
      .orderBy(col("n_name"))

  /** TPC-H Q3-style: top 10 unshipped-revenue orders for one segment. */
  def q3TopOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .where(col("c_mktsegment") === "BUILDING")
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  /** Semi-join: order-priority counts for orders having at least one line
    * item shipped in 1995 (EXISTS -> left_semi). */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(
        t(spark, dir, "lineitem")
          .where(year(col("l_shipdate")) === 1995)
          .select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("num_orders"))
      .orderBy(col("o_orderpriority"))

  /** Window function: top-3 customers per nation by account balance. */
  def q5TopCustomersPerNation(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    t(spark, dir, "customer")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(col("c_nationkey"), col("rnk"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("acctbal"))
      .orderBy(col("c_nationkey"), col("rnk"))
  }

  /** Event-stream tumbling-day aggregation (batch shape of the streaming
    * windowed agg; same plan Structured Streaming would produce). */
  def q6EventsDaily(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("num_events"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"), col("day"))

  /** Anti-join: customers with no large orders (> 300k). */
  def q7CustomersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders").where(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Multi-way join through the full star: revenue per region. */
  /** Revenue sums accumulate in DECIMAL(30,6): at 10x the corpus the
    * region totals reach 6e10, where a double sum's ORDER-dependent
    * rounding differs across engines by > a cent (caught by the 10x oracle
    * sweep) — the per-row product stays a deterministic double, cast once,
    * then summed exactly; the order-independence money aggregation needs
    * at any scale. */
  def q8RegionRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,6)")).cast("double"), 2).as("revenue"),
        count(lit(1)).as("num_items"))
      .orderBy(col("r_name"))

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont`, both linear interpolation over the sorted
    * set — exact, unlike approx_percentile, so cross-engine hashable). */
  def q9Percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(percentile(col("l_quantity"), lit(0.5)), 4).as("p50"),
        round(percentile(col("l_quantity"), lit(0.9)), 4).as("p90"),
        round(percentile(col("l_extendedprice"), lit(0.99)), 4).as("p99_price"))
      .orderBy(col("l_returnflag"))

  /** ROLLUP grouping sets — subtotals + grand total in one pass (the
    * OLAP-cube surface; Spark plans one Expand + one aggregation). */
  def q10Rollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("qty"))
      .orderBy(col("rf"), col("ls"))

  /** LATERAL join gate (q21): per-nation top-2 customers by account
    * balance via a correlated subquery in FROM — a different Catalyst
    * operator from q17's scalar subquery (LateralJoin + DomainJoin
    * decorrelation) and from q5's window formulation of the same semantics.
    * Catalyst rewrites the per-row LIMIT subquery into a partitioned
    * rank-filter over ONE shuffle of customer — the plan a window query
    * would produce — rather than re-running the inner query per nation
    * row. The oracle is DuckDB's native LATERAL executor. */
  def q21LateralJoin(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "nation").createOrReplaceTempView("q21_nation")
    t(spark, dir, "customer").createOrReplaceTempView("q21_customer")
    val df = spark.sql(
      """SELECT n.n_name, c.c_custkey, round(c.c_acctbal, 2) AS acctbal
        |FROM q21_nation n,
        |LATERAL (SELECT c_custkey, c_acctbal FROM q21_customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
        |ORDER BY n.n_name, acctbal DESC, c.c_custkey""".stripMargin)
    spark.catalog.dropTempView("q21_nation")
    spark.catalog.dropTempView("q21_customer")
    df
  }

  /** Bag-semantics set ops (q20): `intersectAll` / `exceptAll` keep
    * MULTIPLICITY (SQL ALL variants) — a different operator from q16's
    * set-semantics pair: Spark rewrites them as a count aggregate per side
    * joined on the key with `replicate_rows` regeneration, not semi/anti
    * joins. Customers' order multiplicities in 1995 minus their urgent-order
    * multiplicities: a customer with 3 orders of which 1 urgent appears
    * exactly 2x. Same narrow-key single-shuffle scale shape as a groupBy. */
  def q20BagSetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val in95 = o.where(year(col("o_orderdate")) === 1995)
    in95.select(col("o_custkey"))
      .exceptAll(in95.where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** CUBE grouping-sets gate (q19): q10 covers ROLLUP; this covers the full
    * subset lattice plus `grouping_id()` (which grouping set produced each
    * row — the bit order, first cube column = MSB, must agree with the
    * oracle's GROUPING()). Plans as a single expand + one shuffle with
    * map-side partials, same scale shape as any groupBy. */
  def q19Cube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        // DECIMAL accumulation (q8 rule): the cube's grand-total row sums
        // ALL of lineitem (~6.8e11 at 30x sf0.1)
        round(sum(col("l_extendedprice").cast("decimal(30,6)")).cast("double"), 2)
          .as("rev"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("gid"), col("n"), col("rev"))
      .orderBy(col("gid"), col("rf"), col("ls"))

  /** CDC-style keep-latest dedup (q22): collapse an event stream to the
    * most recent row per key — the canonical changelog-compaction /
    * slowly-changing-dimension shape. One shuffle on the key; the window
    * rank and the filter fuse into a single stage (Spark pushes the
    * `rn = 1` filter into the sort-based window evaluation), so only one
    * row per key survives into downstream operators. Timestamps are
    * emitted as epoch millis so both engines compare integer values.
    * No (user_id, microsecond) collisions exist in the data, so the
    * (ts, event_id) ordering is total and the survivor deterministic. */
  def q22KeepLatest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"), row_number().over(w).as("rn"))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_type"), round(col("value"), 2).as("value"))
      .orderBy(col("user_id"))
  }

  /** Time-RANGE frame window gate (q23): per-user trailing-10-minute event
    * count and value sum — the VALUE-based sliding frame (`RANGE BETWEEN
    * 600000 PRECEDING AND CURRENT ROW` over an epoch-millis order key),
    * complementing q15's row-counted ROWS frame. The frame is defined by
    * the ORDER-KEY DISTANCE, not a row count, so gaps and bursts in the
    * event stream change the frame population — the shape behind rate
    * limiting, trailing-window features and rolling SLO counters.
    * One shuffle on user_id; Spark evaluates the frame with a sliding
    * two-pointer pass over each sorted partition (no per-row rescan).
    * The order key is integer epoch millis (`unix_millis`, floor of the
    * microsecond timestamp — DuckDB's `epoch_ms` floors identically), so
    * frame membership is integer-exact across engines; RANGE peers (equal
    * key) enter together on both. The trailing sum rounds to 2 decimals
    * like every cross-engine double sum (q13 precedent). */
  def q23RangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-600000L, 0L)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        col("value"))
      .withColumn("n_10m", count(lit(1)).over(w))
      .withColumn("sum_10m", round(sum(col("value")).over(w), 2))
      .drop("value")
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  /** Funnel attribution (q26): per user, every purchase is attributed to
    * the most recent click within the preceding 10 minutes — the classic
    * conversion window, computed with ONE pass per user (a time-RANGE
    * window carrying the last click timestamp), never an event self-join.
    * RANGE frames include current-row peers, so a click in the same
    * millisecond converts — identical in both engines by SQL semantics.
    * Delay sums are integer-exact cross-engine. */
  def q26Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ts_ms"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-600000L, 0L)
    val p = e.withColumn("last_click",
        max(when(col("event_type") === "click", col("ts_ms"))).over(w))
      .where(col("event_type") === "purchase")
    p.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("last_click").isNotNull, 1L).otherwise(0L)).as("n_converted"),
        round(avg(col("ts_ms") - col("last_click")), 1).as("avg_delay_ms"))
      .orderBy(col("user_id"))
  }

  /** Closed-form distributed regression (q25): fit y = a + b*x and Pearson
    * r per group FROM RAW MOMENT SUMS (n, Σx, Σy, Σxx, Σyy, Σxy) — the
    * numerically transparent formulation both engines compute identically,
    * unlike streaming covariance updates (Welford), whose merge order
    * differs per engine. One narrow scan, map-side partials, k-row state:
    * the same shape at 100 TB. */
  def q25LinReg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val x = col("l_quantity").cast("double")
    val y = col("l_extendedprice").cast("double")
    val m = li.groupBy(pmod(col("l_partkey"), lit(3)).as("grp"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
    val covn = col("sxy") - col("sx") * col("sy") / col("n")
    val varxn = col("sxx") - col("sx") * col("sx") / col("n")
    val varyn = col("syy") - col("sy") * col("sy") / col("n")
    val b = covn / varxn
    m.select(col("grp"), col("n").cast("long").as("n_rows"),
        round(b, 6).as("slope"),
        round((col("sy") - b * col("sx")) / col("n"), 4).as("intercept"),
        round(covn / sqrt(varxn * varyn), 6).as("pearson_r"))
      .orderBy(col("grp"))
  }

  /** Column profiler (q24): per-column non-null/null counts, min/max/avg
    * and exact distinct counts for the numeric measures — the data-quality
    * snapshot a pipeline runs before committing a new source. ONE scan:
    * all 18 aggregates (incl. three COUNT DISTINCTs via Expand) evaluate in
    * a single pass with map-side partials, then the 1-row result explodes
    * to long format — no per-column re-scan, which is what makes profiling
    * affordable at 100 TB. */
  private val ProfileCols = Seq("l_quantity", "l_extendedprice", "l_discount")
  def q24Profile(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val aggs = ProfileCols.flatMap { c => Seq(
      count(col(c)).as(s"n_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as(s"nulls_$c"),
      round(min(col(c)), 4).as(s"min_$c"),
      round(max(col(c)), 4).as(s"max_$c"),
      round(avg(col(c)), 4).as(s"avg_$c"),
      countDistinct(col(c)).as(s"dist_$c"))
    }
    val one = li.agg(aggs.head, aggs.tail: _*)
    val structs = ProfileCols.map { c =>
      struct(lit(c).as("col_name"), col(s"n_$c").as("n"),
        col(s"nulls_$c").as("n_null"), col(s"min_$c").as("min_v"),
        col(s"max_$c").as("max_v"), col(s"avg_$c").as("avg_v"),
        col(s"dist_$c").as("n_distinct"))
    }
    one.select(explode(array(structs: _*)).as("p")).select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** Per-language quality-decile curation (c4): rank every document inside
    * its language stratum by the d3 quality score, bucket into NTILE(10)
    * deciles, and keep the top two bands — the "take the best 20% of each
    * language" mixing step a curation pipeline runs before sampling.
    * The rank order (quality desc, doc_id) is total, so the decile
    * boundaries — and the aggregate per band — are deterministic and
    * oracle-checkable. One shuffle on the stratum key, then a groupBy
    * whose partial aggregation runs inside the window stage's partitions. */
  def c4QualityNtile(spark: SparkSession, dir: String): DataFrame = {
    val quality = qualityScore
    val w = Window.partitionBy(col("lang")).orderBy(col("quality").desc, col("doc_id"))
    // avg_q is INTEGER-exact, not a rounded double avg: quality is a
    // 4dp-rounded score, so each value is exactly an integer count of
    // 1e-4 units (qi); the 4dp-rounded mean is then the pure-integer
    // half-up division floor((2*sum + n) / (2n)) — bit-identical in any
    // engine and under ANY partitioning / summation order. The double
    // formulation put a decile's sum ON the 4th-decimal rounding boundary
    // at sf0.001 (0.73635: Spark rounded up, DuckDB's last-ulp-lower sum
    // rounded down) — a latent cross-engine flake this formulation removes
    // rather than re-tunes. min is a passthrough of an exact value; it
    // stays a plain round.
    val qi = round(col("quality") * 10000).cast("long")
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), quality.as("quality"))
      .withColumn("decile", ntile(10).over(w))
      .where(col("decile") <= 2)
      .groupBy(col("lang"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(qi).as("sq"),
        round(min(col("quality")), 4).as("min_q"))
      .select(col("lang"), col("decile"), col("n_docs"),
        (expr("(sq * 2 + n_docs) div (n_docs * 2)") / lit(10000.0)).as("avg_q"),
        col("min_q"))
      .orderBy(col("lang"), col("decile"))
  }

  // --------------------------------------------------------------------- h3

  /** Deterministic valid H3 cell at res 9 from lineitem keys — identical
    * arithmetic on the DuckDB side. First digit in 2..6 keeps cells off the
    * pentagon K-axis (always valid, never a pentagon-center chain). */
  private[graft] def synthCell: Column =
    synthCellFrom(col("l_orderkey"), col("l_partkey"))

  /** The same synthetic cell from explicit key columns (for callers whose
    * frame carries the keys under other names, e.g. ts25's repair path). */
  private[graft] def synthCellFrom(okey: Column, pkey: Column): Column = {
    val bc = pmod(okey * 7 + pkey, lit(122))
    val d1 = (pmod(pkey + okey, lit(5)) + 2)
    val digits = (2 to 9).map { i =>
      shiftleft(pmod(pkey + lit(i) * okey, lit(7)).cast("long"),
        3 * (15 - i))
    }
    val base = shiftleft(lit(1L), 59)
      .bitwiseOR(shiftleft(lit(9L), 52))
      .bitwiseOR(shiftleft(bc.cast("long"), 45))
      .bitwiseOR(shiftleft(d1.cast("long"), 3 * (15 - 1)))
      .bitwiseOR(lit(262143L)) // digits 10..15 = 7
    digits.foldLeft(base)(_ bitwiseOR _)
  }

  /** Our H3 expressions vs independent DuckDB bit math, row by row. */
  def h1CellOps(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), synthCell.as("cell"))
      .select(
        col("l_orderkey"), col("l_linenumber"), col("cell"),
        h3_get_resolution(col("cell")).as("res"),
        h3_get_base_cell(col("cell")).as("basecell"),
        h3_to_parent(col("cell"), lit(5)).as("parent5"),
        h3_children_count(col("cell"), lit(11)).as("nkids11"),
        h3_is_valid(col("cell")).as("valid"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Rollup-shaped aggregation: group by parent cell at res 5 (the exact
    * shuffle shape of the tableset rollup A1/A2). */
  def h2ParentRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(synthCell.as("cell"), col("l_quantity"), col("l_extendedprice"))
      .groupBy(h3_to_parent(col("cell"), lit(5)).as("parent5"))
      .agg(count(lit(1)).as("num_cells"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(max(col("l_extendedprice")), 2).as("max_price"))
      .orderBy(col("parent5"))

  /** Multi-resolution aggregation pyramid over synthesized cells: counts per
    * resolution 3/5/7 via parent projection (partition-pruning shape of D7). */
  def h3ResolutionPyramid(spark: SparkSession, dir: String): DataFrame = {
    // one scan + one shuffle, not three: the union-of-3-aggregations form
    // scanned lineitem and recomputed synthCell once PER RESOLUTION (three
    // concurrent 32-task jobs in the profile, 2 extra Exchanges). The
    // per-resolution parents are columns of ONE pass, exploded to
    // (res, parent) rows and aggregated under a single exchange — same
    // (res, cell_at_res, num_children) rows (guide §2.4, share the
    // exchange). At 100 TB this is 1/3 the scan IO and 1/3 the shuffles.
    val cells = t(spark, dir, "lineitem").select(synthCell.as("cell"))
    cells.select(explode(array(Seq(3, 5, 7).map { r =>
        struct(lit(r).as("res"), h3_to_parent(col("cell"), lit(r)).as("cell_at_res"))
      }: _*)).as("x"))
      .groupBy(col("x.res").as("res"), col("x.cell_at_res").as("cell_at_res"))
      .agg(count(lit(1)).as("num_children"))
      .orderBy(col("res"), col("cell_at_res"))
  }

  /** Gap-based sessionization (1-hour gap) over the events stream via the
    * native `session_window` aggregate ([[graft.streaming.StreamOps]]) —
    * cross-checked against DuckDB's independent lag/cumsum session
    * derivation. */
  def s1Sessionize(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.sessionWindows(events(spark, dir), "1 hour")
      .withColumn("total_value", round(col("total_value"), 2))
      .orderBy(col("user_id"), col("session_start"))

  /** Sliding-window event statistics (2-hour windows every hour) through
    * [[graft.streaming.StreamOps.windowedEventStats]] — the same plan a
    * Structured Streaming query produces (s1 covers sessions, this covers
    * overlapping windows). The oracle re-derives Spark's epoch-aligned
    * window assignment: each event belongs to the two windows starting at
    * trunc_hour(ts) and trunc_hour(ts) - 1h. */
  def s2WindowedStats(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.windowedEventStats(events(spark, dir), "2 hours", "1 hour", "1 hour")
      .withColumn("total_value", round(col("total_value"), 2))
      .orderBy(col("window_start"), col("event_type"))

  // ----------------------------------------------------------------- joins

  /** As-of join gate (q11): each error event matched to the same user's most
    * recent click at-or-before it, through
    * [[graft.join.TemporalJoins.asofJoin]] (union + running-last window —
    * ONE shuffle on user_id, no nested loop). The oracle is DuckDB's native
    * `ASOF LEFT JOIN`, an independent engine implementation of the same
    * semantics, so the operator is cross-checked end to end including the
    * inclusive (<=) tie rule and unmatched-left NULLs. Clicks are
    * pre-aggregated per (user, ts) to meet the operator's uniqueness
    * contract. */
  def q11AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val errors = ev.where(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
    graft.join.TemporalJoins.asofJoin(errors, clicks, "user_id", "ts", "ts")
      .select(col("event_id"), col("user_id"),
        col("asof_click_id").as("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("asof_ts"))).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** Range-join gate (q12): every event falling in the 10-minute window each
    * error event opens for its user, then per-window counts — through
    * [[graft.join.TemporalJoins.rangeJoin]] (interval-to-bucket explode +
    * equi-join, never a BroadcastNestedLoop). Oracle: DuckDB's inequality
    * join over the same windows. */
  def q12RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val windows = ev.where(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("ts").as("ws"), (col("ts") + expr("INTERVAL 10 MINUTES")).as("we"))
    val points = ev.select(col("user_id"), col("ts"), col("value"))
    graft.join.TemporalJoins.rangeJoin(points, windows, "user_id", "ts", "ws", "we", 600L)
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("err_id"))
  }

  /** ROWS-frame running window gate (q15): per-user moving average and max
    * of `value` over the previous 3 events (deterministic (ts, event_id)
    * ordering). Covers the sliding ROWS frame — the remaining window shape
    * after rank (q5), percentile (q9), lag/cumsum (s1) and top-k (d8/d10).
    * One shuffle on user_id; frame evaluation is streaming within the
    * sorted partition. */
  def q15RunningWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("run_avg", round(avg(col("value")).over(w), 4))
      .withColumn("run_max", round(max(col("value")).over(w), 2))
      .orderBy(col("user_id"), col("ts"), col("event_id"))
  }

  /** Set-operation gate (q16): INTERSECT / EXCEPT with SQL bag-to-set
    * semantics — repeat customers (ordered in both 1995 and 1996) minus
    * anyone with an urgent order in that span. Spark plans both as
    * aggregated joins (left-semi / left-anti over distinct keys): one
    * shuffle per operand, no row explosion. */
  def q16SetOps(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    def custs(cond: Column) = o.where(cond).select(col("o_custkey")).distinct()
    custs(year(col("o_orderdate")) === 1995)
      .intersect(custs(year(col("o_orderdate")) === 1996))
      .except(custs(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) <= 1996))
      .orderBy(col("o_custkey"))
  }

  /** Correlated-subquery gate (q17): orders priced more than 1.5x their
    * customer's average order value. Written as SQL with a genuinely
    * correlated scalar subquery so the gate exercises Catalyst's
    * decorrelation: the optimizer rewrites it into ONE aggregate over
    * orders plus ONE equi-join on o_custkey — a single shuffle, not a
    * per-row re-scan (which is what a naive nested-loop execution of the
    * same SQL would do at 100 TB). The subquery's avg is rounded to 2
    * decimals in both engines so float summation order can't flip a
    * borderline row across the threshold. */
  def q17CorrelatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "orders").createOrReplaceTempView("q17_orders")
    val df = spark.sql(
      """SELECT o.o_custkey, o.o_orderkey, round(o.o_totalprice, 2) AS totalprice
        |FROM q17_orders o
        |WHERE o.o_totalprice > 1.5 * (SELECT round(avg(i.o_totalprice), 2)
        |                              FROM q17_orders i
        |                              WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o.o_custkey, o.o_orderkey""".stripMargin)
    // spark.sql analyzes eagerly (the view is inlined into df's plan) —
    // drop it so the gate leaves no session-global catalog state behind
    spark.catalog.dropTempView("q17_orders")
    df
  }

  /** Pivot gate (q18): order revenue as an o_orderpriority x year matrix
    * via `RelationalGroupedDataset.pivot` WITH explicit pivot values —
    * the explicit list matters at scale: without it Spark runs an extra
    * distinct-collect job over the pivot column before planning. Spark
    * plans the pivot as agg(priority, yr) then pivotfirst(priority) —
    * two narrow-key shuffles, both with map-side partial aggregation;
    * the oracle states the equivalent CASE WHEN formulation. */
  def q18Pivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
      .where(col("yr").between(1995, 1998))
      .groupBy(col("o_orderpriority"))
      .pivot("yr", Seq(1995, 1996, 1997, 1998))
      .agg(round(sum(col("o_totalprice")), 2))
      .withColumnsRenamed(Map(
        "1995" -> "y1995", "1996" -> "y1996",
        "1997" -> "y1997", "1998" -> "y1998"))
      .orderBy(col("o_orderpriority"))

  /** Structured Streaming gate (s3): the SAME windowed aggregation as s2 run
    * as an ACTUAL streaming query — file source over the events parquet,
    * watermarked tumbling windows, `Trigger.AvailableNow`, memory sink —
    * hash-matched against the batch DuckDB oracle. Complete output mode
    * emits every window at end-of-stream so the finite stream equals the
    * batch aggregation exactly (append mode's watermark-gated emission is
    * covered in StreamOpsSpec). This gates the streaming machinery itself —
    * source listing, state store, epoch-aligned window assignment — not
    * just the plan shape. */
  def s3StreamWindowed(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = convertEventTs(streamTable(spark, dir, "events"))
    val agg = graft.streaming.StreamOps
      .windowedEventStats(src, "1 hour", "1 hour", "30 minutes")
      .withColumn("total_value", round(col("total_value"), 2))
    val sink = "s3_stream_sink"
    spark.catalog.dropTempView(sink) // idempotent across bench passes
    // stateful (windowed-agg state store): sized like s10/s12 — each state
    // partition carries fixed per-batch commit/maintenance cost
    withGateStreamingPartitions(spark, tableBytes(spark, dir, "events")) {
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(sink).orderBy(col("window_start"), col("event_type"))
  }

  /** Stream-static enrichment join (s7): the canonical streaming-ingest
    * shape — an unbounded event stream joined against a BROADCAST static
    * dimension (customer -> nation), aggregated per nation. Stream-static
    * joins are stateless on the stream side (each micro-batch joins the
    * current dim snapshot; no watermark, no join state store), so the only
    * state is the running aggregate — the 100 TB-friendly enrichment path.
    * Hash-matched against the batch DuckDB oracle: a finite stream through
    * the streaming machinery must equal the batch join exactly. */
  def s7StreamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = streamTable(spark, dir, "events")
    val dim = broadcast(
      t(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
        .join(t(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name")))
    val agg = src.join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
    val sink = "s7_stream_sink"
    spark.catalog.dropTempView(sink) // idempotent across bench passes
    // the join is stateless (broadcast static dim) but the running agg is
    // not — size its state store like s10/s12
    withGateStreamingPartitions(spark, tableBytes(spark, dir, "events")) {
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(sink).orderBy(col("n_name"))
  }

  /** Stream-stream interval-join gate (s10): view -> purchase attribution
    * run as an ACTUAL streaming query — ONE file-stream source over the
    * events parquet split into two sides (a genuine stream-stream
    * self-join), [[graft.streaming.StreamOps.intervalJoin]] matching each
    * view to the same user's purchases within 30 minutes, watermarked on
    * both sides, `Trigger.AvailableNow`, memory sink (stream-stream inner
    * joins emit in append mode only). The time-range predicate is what
    * BOUNDS both join-state buffers: watermark + horizon let the engine
    * expire state, the property that makes the join runnable on an
    * unbounded stream (StreamOps scale note). Hash-matched against the
    * batch DuckDB interval join. */
  /** Shared s10/s11 scaffold: the streamed events source split into the
    * attribution sides (one file-stream source — a genuine stream-stream
    * self-join downstream). */
  private def attributionSides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = convertEventTs(streamTable(spark, dir, "events"))
    (src.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts")),
      src.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts")))
  }

  /** Right-size the stateful shuffle for a streaming run: each state-store
    * instance carries FIXED per-batch overhead (maintenance,
    * snapshot/changelog commit, provider bookkeeping) that dwarfs the
    * per-row work at gate corpus sizes — measured on s10: 8.3s at 32
    * partitions vs 3.0s at 8, identical output. This is the standard
    * stateful-streaming sizing rule (partitions ~ state volume, not CPU
    * count) applied in BOTH directions: DOWN to 8 at gate scale, and back
    * UP with the source size at decade scale — measured at 300x, the
    * 8-partition clamp made s12's sessionization superlinear (64.8s,
    * 4.6x for 3x data: per-partition state outgrew the fixed overhead it
    * was traded for), while sizing one partition per ~16 MB of compressed source (state inflates well past parquet size)
    * restores the linear regime. Output is partitioning-independent, so
    * the oracles are untouched. Restores the session setting afterwards. */
  private[graft] def withGateStreamingPartitions[T](spark: SparkSession,
      sourceBytes: Long)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    // deliberately NOT capped by the session setting: the session default
    // is sized to CPU count, and capping would re-create the 300x blowup
    // under a small-CPU session (round-8 review) — state-store partitions
    // beyond core count just run as sequential tasks with bounded
    // per-task state, which is the point of the rule
    val n = math.max(8L, sourceBytes / (16L << 20)).toInt
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** Total on-disk size of a table's parquet (file or directory) — the
    * state-volume proxy [[withGateStreamingPartitions]] sizes by. Resolved
    * through the Hadoop FileSystem so URI-form and non-local dirs size
    * correctly (a java.io.File of "file:///..." silently reports 0, which
    * would collapse the sizing back to the 8-partition clamp — round-8
    * review); a missing table fails loudly rather than under-sizing. */
  private[graft] def tableBytes(spark: SparkSession, dir: String, table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"tableBytes: $p does not exist")
    fs.getContentSummary(p).getLength
  }

  /** Run an append-mode streaming frame to completion through a PARQUET
    * FILE sink and return a batch read of the output — the sink that
    * scales. The memory sink collects every result row to the driver:
    * measured at the 300x decade, s12's session output blew
    * spark.driver.maxResultSize (1.3 GiB of serialized task results) —
    * a memory sink is a gate-scale debugging device, while the file sink
    * is what a production pipeline writes (executors write their own
    * partitions; the driver sees only commit metadata). Same
    * AvailableNow/no-data-batch flush semantics; a fresh output+checkpoint
    * dir per call keeps bench re-runs independent. */
  private def runToFileSink(joined: DataFrame, tag: String,
      sourceBytes: Long): DataFrame = {
    val spark = joined.sparkSession
    val outDir = graft.util.TempDirs.create(s"graft_${tag}_out_")
    val ckpt = graft.util.TempDirs.create(s"graft_${tag}_ckpt_")
    withGateStreamingPartitions(spark, sourceBytes) {
      val q = joined.writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.read.schema(joined.schema).parquet(outDir)
  }

  /** Streaming sessionization gate (s12): the native `session_window`
    * aggregate run as an ACTUAL append-mode streaming query — sessions are
    * emitted only once the watermark proves they can no longer grow
    * (session_end = last event + gap AT OR below the final watermark = max
    * event time - delay; the AvailableNow no-data batch flushes the
    * eviction). The boundary is INCLUSIVE — Spark emits a session whose
    * end equals the watermark exactly, unlike the s11 outer join's strict
    * cutoff; WatermarkBoundarySpec pins both — so the oracle's predicate
    * is `session_end <= wm`. Sessions still open inside the stream's
    * final delay window are state, not output. This
    * closes the streaming-lifecycle loop for the one stateful op that was
    * gated batch-only (s1 cross-checks the same session algebra on batch
    * input). */
  def s12StreamSessions(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = convertEventTs(streamTable(spark, dir, "events"))
    val agg = graft.streaming.StreamOps.sessionWindows(
        src.withWatermark("ts", "1 hour"), "30 minutes")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("num_events"), round(col("total_value"), 2).as("total_value"))
    runToFileSink(agg, "s12", tableBytes(spark, dir, "events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  def s10StreamAttribution(spark: SparkSession, dir: String): DataFrame = {
    val (views, purchases) = attributionSides(spark, dir)
    val joined = graft.streaming.StreamOps.intervalJoin(
        views, purchases, "user_id", "view_ts", "purchase_ts",
        horizon = "30 minutes", watermarkDelay = "1 hour")
      .select(col("view_id"), col("purchase_id"), col("user_id"))
    runToFileSink(joined, "s10", tableBytes(spark, dir, "events"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** Stream-stream LEFT OUTER interval join (s11): s10's attribution with
    * the unmatched side kept — "views that led to NO purchase", the
    * negative-signal curation query. Outer rows are watermark-gated: the
    * engine emits a null-extended row only once the watermark proves no
    * matching purchase can still arrive (view_ts + horizon below the
    * GLOBAL watermark = min over both sides' max event time, minus the
    * delay) — so views in the stream's final delay+horizon window are
    * still-open state at end-of-stream and are NOT emitted, which the
    * oracle mirrors with the same cutoff predicate. The no-data final
    * micro-batch (AvailableNow) is what flushes the eviction; unmatched
    * purchases map to -1 (not NULL) so the cross-engine value
    * representation stays exact. */
  def s11StreamOuterAttribution(spark: SparkSession, dir: String): DataFrame = {
    val (views, purchases) = attributionSides(spark, dir)
    val joined = graft.streaming.StreamOps.intervalJoin(
        views, purchases, "user_id", "view_ts", "purchase_ts",
        horizon = "30 minutes", watermarkDelay = "1 hour", joinType = "left_outer")
      .select(col("view_id"), coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        col("user_id"))
    runToFileSink(joined, "s11", tableBytes(spark, dir, "events"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** Stream-stream FULL OUTER interval join (s14): s11 with BOTH unmatched
    * sides kept — views that converted to nothing AND purchases with no
    * preceding view (the "dark conversions" of the attribution shape).
    * Each side's outer rows are watermark-gated by its OWN eviction bound:
    * an unmatched view once the watermark passes view_ts + horizon (the
    * s11 cutoff), an unmatched purchase once the watermark passes
    * purchase_ts itself (future views must carry later timestamps, so the
    * range condition can no longer be met). The oracle mirrors both
    * cutoffs relationally; -1 stands in for NULL ids so the cross-engine
    * value representation stays exact. */
  def s14StreamFullOuterAttribution(spark: SparkSession, dir: String): DataFrame = {
    val (views, purchases) = attributionSides(spark, dir)
    val joined = graft.streaming.StreamOps.intervalJoin(
        views, purchases, "user_id", "view_ts", "purchase_ts",
        horizon = "30 minutes", watermarkDelay = "1 hour", joinType = "full_outer")
      .select(coalesce(col("view_id"), lit(-1L)).as("view_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        col("user_id"))
    runToFileSink(joined, "s14", tableBytes(spark, dir, "events"))
      .orderBy(col("view_id"), col("purchase_id"), col("user_id"))
  }

  /** transformWithState running-stats gate (s13): the per-key running
    * aggregate on Spark 4's successor state API
    * ([[graft.streaming.StreamOps.RunningUserStats]]) run as an ACTUAL
    * streaming query — file-stream source over the events parquet, the
    * RocksDB state store provider (the one transformWithState runs on and
    * the one that bounds executor memory for keyed state at 100 TB),
    * update-mode memory sink, `Trigger.AvailableNow`. The FINAL emission
    * per key — the row with the highest running n_events, since update
    * mode emits a monotone prefix per (key, batch) — must equal the batch
    * aggregate, which the DuckDB oracle states directly. Doubles are
    * rounded to cents in the GATE projection (the repo's s-gate
    * convention): the in-operator fold is (ts, event_id)-ordered per
    * batch, the oracle's sum order is the engine's own. */
  def s13RunningStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val src = streamTable(spark, dir, "events")
        .transform(convertEventTs)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"))
        .as[graft.streaming.StreamOps.Event]
      val out = graft.streaming.StreamOps.runningUserStats(src).toDF()
      val sink = "s13_stream_sink"
      spark.catalog.dropTempView(sink) // idempotent across bench passes
      withGateStreamingPartitions(spark, tableBytes(spark, dir, "events")) {
        val q = out.writeStream.format("memory").queryName(sink)
          .outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)
      spark.table(sink)
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("n_events"),
          round(col("total_value"), 2).as("total_value"),
          round(col("max_value"), 2).as("max_value"))
        .orderBy(col("user_id"))
    } finally prevProvider match {
      case Some(p) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  /** PII-redaction gate (d13): scrub emails / IPv4s / phone numbers from
    * document text via [[graft.text.TextOps.redactPii]]. The corpus text
    * carries no PII, so each doc is suffixed with deterministic synthetic
    * PII derived from doc_id (identically in the oracle) — the gate then
    * checks match counts AND an md5 of the full redacted string, so the
    * replacement itself (not just the count) is cross-checked against
    * DuckDB's RE2 engine. Narrow map-only pass; see redactPii scale note. */
  def d13PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val synth = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com via 10."), pmod(col("doc_id"), lit(256)).cast("string"),
      lit(".0."), pmod(col("doc_id"), lit(100)).cast("string"),
      lit(" or 555-"), lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    t(spark, dir, "documents")
      .select(col("doc_id"), synth.as("s"))
      // materialize the redaction once in its own projection: md5 and
      // char_length both consume it, and relying on codegen subexpression
      // elimination would double the 3-regex chain if the expression ever
      // falls back to interpreted mode
      .withColumn("red", TextOps.redactPii(col("s")))
      .select(col("doc_id"),
        regexp_count(col("s"), lit(TextOps.EmailRe)).as("n_emails"),
        regexp_count(col("s"), lit(TextOps.Ipv4Re)).as("n_ips"),
        regexp_count(col("s"), lit(TextOps.PhoneRe)).as("n_phones"),
        md5(col("red")).as("red_md5"),
        char_length(col("red")).as("red_len"))
      .orderBy(col("doc_id"))
  }

  /** Streaming-dedup gate (s4): continuous corpus-ingestion dedup run as an
    * ACTUAL streaming query — file source over the documents parquet, a
    * synthetic event time, [[graft.streaming.StreamOps.dedupStream]]
    * (`dropDuplicatesWithinWatermark` keyed on the sha2-256 text hash — the
    * 32-byte shuffle key rule, never the text), `Trigger.AvailableNow`,
    * memory sink. WHICH doc survives a duplicate family depends on arrival
    * order under parallel file reads, so the gate projects the
    * deterministic part: the surviving distinct hash set. */
  def s4StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    // +1 day: an event time equal to epoch 0 — the engine's INITIAL
    // watermark value — is filtered as late data before reaching the
    // dedup state store, silently dropping doc_id 0
    val src = streamTable(spark, dir, "documents")
      .withColumn("ts", timestamp_micros(col("doc_id") + lit(86400000000L)))
    val dedup = graft.streaming.StreamOps.dedupStream(src, "10 minutes")
      .select(col("text_sha"))
    val sink = "s4_stream_sink"
    spark.catalog.dropTempView(sink) // idempotent across bench passes
    // stateful (dropDuplicatesWithinWatermark keyed state): sized like
    // s10/s12 — partitions ~ state volume, not CPU count
    withGateStreamingPartitions(spark, tableBytes(spark, dir, "documents")) {
      val q = dedup.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(sink).orderBy(col("text_sha"))
  }

  /** Per-dir memo of the corpus-trained BPE per-document counts — d35
    * (token counting) and d14 (shard packing) share the train + tokenize
    * passes; see [[graft.text.Bpe]] for the training/application contract
    * and its oracle-parity bounds. */
  private def bpeDocCounts(spark: SparkSession, dir: String): DataFrame =
    PipelineQueries.memo(spark, ("bpe", dir)) {
      graft.text.Bpe.docTokenCounts(spark, t(spark, dir, "documents"))
    }

  /** Per-dir memo of the ITERATIVELY trained counts — d37 (token counting)
    * and d14 (shard packing, round 10: the budget packs what a canonical
    * tokenizer actually consumes) share the R training rounds. */
  private def bpeIterDocCounts(spark: SparkSession, dir: String): DataFrame =
    PipelineQueries.memo(spark, ("bpeIter", dir)) {
      graft.text.Bpe.docTokenCountsIterative(spark, t(spark, dir, "documents"))
    }

  /** Iteratively trained merge-table BPE token counting (d37): canonical
    * Sennrich training — round r's rule is the most frequent adjacent
    * TOKEN pair after merges 1..r-1, so multi-character rule sides appear
    * from round 2 ([[graft.text.Bpe.trainMergesIterative]]; d35 keeps the
    * one-pass char-pair variant for contrast). The oracle re-runs all
    * [[graft.text.Bpe.NumMerges]] train+apply rounds relationally as
    * materialized CTE pairs; BpeSpec pins the per-round sweep ==
    * string-surgery equivalence including multi-char corners. */
  def d37BpeIterative(spark: SparkSession, dir: String): DataFrame =
    bpeIterDocCounts(spark, dir).orderBy(col("doc_id"))

  /** Merge-table BPE token counting (d35): the trained-tokenizer upgrade
    * of d5's regex estimate — [[graft.text.Bpe]] trains the merge table
    * from corpus pair counts in one aggregation pass and applies canonical
    * leftmost-first merges over the distinct vocabulary; per-document
    * counts come from an explode -> broadcast-vocab join -> sum. The
    * oracle retrains the SAME table relationally and applies it with
    * unrolled first-occurrence string replacement — equivalence proven in
    * BpeSpec, bound-checked at runtime (Bpe.requireOracleBound). */
  def d35BpeTokens(spark: SparkSession, dir: String): DataFrame =
    bpeDocCounts(spark, dir).orderBy(col("doc_id"))

  /** Tokens per training shard (d14): documents packed into shards of
    * [[D14ShardBudget]] tokens in stable doc_id order — the step that turns
    * a curated corpus into bounded training files. Token counts are the
    * CANONICAL iteratively-trained BPE counts ([[bpeIterDocCounts]] —
    * round 10; round 9 used the one-pass table, which d35 still gates; the
    * budget packs what the model actually consumes, not a whitespace
    * estimate). The
    * running token count comes from [[graft.util.PrefixSum.runningSum]],
    * the two-phase parallel scan: a naive `sum OVER (ORDER BY doc_id)`
    * would funnel the corpus through ONE reducer (the oracle states exactly
    * that naive form, which is fine at DuckDB's single-node scale). The
    * plan audit asserts no single-partition exchange appears. */
  def d14ShardPacking(spark: SparkSession, dir: String): DataFrame =
    graft.util.PrefixSum.runningSum(
        bpeIterDocCounts(spark, dir).select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", "cum_tokens")
      .withColumn("shard", floor((col("cum_tokens") - col("n_tokens")) / lit(D14ShardBudget)))
      .orderBy(col("doc_id"))

  private[graft] val D14ShardBudget = 50000L

  /** Temperature-scaled mixture weights (d25): the multilingual
    * data-mixing step every pretraining run computes — per-stratum
    * sampling weight proportional to n^alpha (alpha = 0.5 upsamples
    * low-resource languages; alpha = 1 is proportional sampling), plus the
    * per-epoch document budget each stratum receives at the corpus size.
    * One tiny groupBy; the normalizing sums are windows over the
    * |langs|-row GROUPED frame, never the corpus. */
  def d25MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val everything = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(spark, dir, "documents").groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", sqrt(col("n_docs")))
      .withColumn("weight", round(col("w") / sum(col("w")).over(everything), 6))
      .withColumn("target_docs",
        round(col("w") / sum(col("w")).over(everything)
          * sum(col("n_docs")).over(everything), 0).cast("long"))
      .select(col("lang"), col("n_docs"), col("weight"), col("target_docs"))
      .orderBy(col("lang"))
  }

  /** Executed mixture sampling (d32): d25's temperature-scaled per-language
    * budgets MATERIALIZED into a concrete epoch plan — every document gets
    * its repetition count n_copies, the dataset a pretraining loader
    * actually consumes. Rank-based (not threshold-based) so the decision
    * arithmetic is INTEGER once the target is fixed: docs order by a
    * deterministic id hash within their language; with target = q*n + r
    * (integer div), the first r ranks get q+1 copies, the rest q —
    * sum(n_copies) per language equals target_docs exactly, down- AND
    * up-sampling (epoch repetition) in one rule. Scale shape: one
    * per-language window rank (state = a counter per partition) + a
    * broadcast join of the |langs|-row budget frame. */
  def d32MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val P = graft.text.TextOps.P
    val h = pmod(pmod(col("doc_id"), lit(P)) * TextOps.hashA(11) + TextOps.hashB(11), lit(P))
    val targets = d25MixtureWeights(spark, dir)
      .select(col("lang"), col("n_docs"), col("target_docs"))
    val ranked = t(spark, dir, "documents").select(col("doc_id"), col("lang"))
      .withColumn("h", h)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
    ranked.join(broadcast(targets), "lang")
      .select(col("doc_id"), col("lang"),
        (expr("target_docs div n_docs") +
          when(col("rnk") <= pmod(col("target_docs"), col("n_docs")), 1L)
            .otherwise(0L)).cast("long").as("n_copies"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style quality rule bundle (d16) — the published heuristic
    * filters of Rae et al. 2021 that survive contact with a whitespace
    * tokenizer: mean word length in [3, 10], fraction of words containing
    * an alphabetic character > 0.8, symbol-to-word ratio ('#'/'*') < 0.1,
    * plus the composite pass flag. One narrow codegen'd pass (higher-order
    * array functions, no UDF, no shuffle before the final sort); metrics
    * surface individually so a curation pipeline can tune thresholds
    * without recomputing. */
  def d16GopherRules(spark: SparkSession, dir: String): DataFrame = {
    val ws = filter(split(col("text"), "\\s+"), x => x =!= "")
    val nw = greatest(size(ws).cast("long"), lit(1L))
    val meanLen = aggregate(ws, lit(0L), (acc, x) => acc + char_length(x))
      .cast("double") / nw
    val fracAlpha = size(filter(ws, x => x.rlike("[a-zA-Z]")))
      .cast("double") / nw
    val nSym = (char_length(col("text")) -
      char_length(regexp_replace(col("text"), "[#*]", ""))).cast("double")
    t(spark, dir, "documents")
      .select(col("doc_id"),
        round(meanLen, 4).as("mean_word_len"),
        round(fracAlpha, 4).as("frac_alpha_words"),
        round(nSym / nw, 4).as("symbol_ratio"))
      .withColumn("passes",
        col("mean_word_len").between(3.0, 10.0) &&
          col("frac_alpha_words") > 0.8 && col("symbol_ratio") < 0.1)
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM quality scoring (d15) — the CCNet-style curation signal:
    * train a bigram language model ON the corpus itself (MLE — no smoothing
    * needed, every scored bigram was seen at training) and score each doc by
    * its average bigram log-likelihood; low scores flag gibberish/boilerplate
    * relative to the corpus distribution, without a Python UDF or external
    * model. Scale shape: the model is two count aggregations over the SHARED
    * hashed bigram frame and scoring is one join + per-doc aggregate; every
    * shuffle key is a sha2-256 hash (TextOps contract), never gram text.
    * Docs with < 2 tokens have no bigrams: n_bigrams = 0, NULL score.
    * Cross-engine float note: ln() can differ in the last ulp across libm
    * implementations; rounding the AVERAGE at 1e-4 is ~8 orders above that
    * noise. */
  def d15LmQuality(spark: SparkSession, dir: String): DataFrame = {
    val bi = PipelineQueries.memo(spark, ("bigrams_lm", dir)) {
      graft.text.TextOps.wordGrams(t(spark, dir, "documents"), 2)
        .select(col("doc_id"), sha2(col("g"), 256).as("gh"),
          sha2(element_at(split(col("g"), " "), 1), 256).as("w1h"))
    }
    val cg = bi.groupBy(col("gh"), col("w1h")).agg(count(lit(1)).as("cg"))
    val cw = cg.groupBy(col("w1h")).agg(sum(col("cg")).as("cw"))
    val lm = cg.join(cw, Seq("w1h"))
      .select(col("gh"), (log(col("cg")) - log(col("cw"))).as("ll"))
    val per = bi.join(lm, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("ll")), 4).as("avg_ll"))
    t(spark, dir, "documents").select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("avg_ll"))
      .orderBy(col("doc_id"))
  }

  /** Corpus vocabulary profile (d12) — the Zipf/coverage numbers a
    * tokenizer- or mixing-design pass reads off a corpus: total token
    * count, vocabulary size, hapax count (terms seen once — the long-tail
    * mass), and type-token ratio. One row. Scale shape: reuses the
    * memoized one-pass terms frame (shared with d10), one groupBy(term)
    * with map-side partial counts, then a single global fold. */
  def d12VocabStats(spark: SparkSession, dir: String): DataFrame =
    termsFrame(spark, dir)
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
      .agg(sum(col("f")).as("total_tokens"),
        count(lit(1)).as("vocab_size"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax_count"))
      .select(col("total_tokens"), col("vocab_size"), col("hapax_count"),
        round(col("vocab_size").cast("double") / col("total_tokens"), 6).as("ttr"))

  /** Salted-join gate (q13): per-priority lineitem revenue through
    * [[graft.skew.Skew.saltedJoin]] — the explicit hot-key remedy for joins
    * AQE cannot replan (streaming, or a single key too hot for a split
    * partition). The salt widens the orderkey shuffle over 8 buckets and
    * replicates the orders side per bucket; the result is identical to the
    * plain equi-join, which is exactly what the oracle checks. */
  def q13SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val l = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"),
        col("l_extendedprice"), col("l_discount"))
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    graft.skew.Skew.saltedJoin(l, o, "o_orderkey", 8)
      .groupBy(col("o_orderpriority"))
      // DECIMAL accumulation — q8's at-scale order-independence rule: the
      // 5-group totals reach 1.8e11 at 30x, past the double-sum boundary
      .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,6)")).cast("double"), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
  }

  /** Scoped session-conf override: set, run, restore (unset keys that had
    * no explicit value). The body must MATERIALIZE anything that should
    * execute under the overrides — a lazily-returned frame executes after
    * the restore. */
  private[graft] def withConfs[T](spark: SparkSession,
      kvs: (String, String)*)(f: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The q28 join under its skew shape, pre-materialization: sentinel-key
    * skew — every fifth user's events collapse onto uid 0 (the canonical
    * production hot key: unresolved traffic bucketed on a catch-all
    * account, here customer 0), so one shuffle partition carries ~20% of
    * the fact side. LEFT join + coalesce(-1) keep rows visible even where
    * a dir's sentinel has no dim row; DECIMAL accumulation because the hot
    * group's total crosses the double-sum order-independence boundary at
    * decade corpus sizes (q8's rule). Factored out so Q28SkewSpec can
    * execute it under test-scale thresholds and assert on the FINAL
    * adaptive plan. */
  /** The q28 fact side, staged as a MULTI-FILE parquet once per dir per
    * SparkContext ([[SessionCache]]): the synthetic corpus is a single
    * parquet row group, so a direct scan yields ONE map task — and AQE's
    * skew split is per MAP OUTPUT, so a one-map partition can never split,
    * regardless of thresholds (measured: left max 20 KB vs median 2.7 KB
    * and 0 partitions deemed skewed). Production fact tables have thousands
    * of row groups; the 16-file staging restores that multi-map shuffle
    * shape WITHOUT touching the measured plan (the gate query is a plain
    * scan of the staged dir — no extra exchange inside the join). */
  private def q28EventsPath(spark: SparkSession, dir: String): String =
    SessionCache(spark, ("q28events", dir)) {
      val p = graft.util.TempDirs.create("graft_q28_ev_")
      events(spark, dir).select(col("user_id"), col("value"))
        .repartition(16).write.mode("overwrite").parquet(p)
      p
    }

  /** On-disk bytes of an arbitrary parquet dir (tableBytes without the
    * `<table>.parquet` naming convention). */
  private def pathBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .getContentSummary(p).getLength
  }

  private[graft] def q28Frame(spark: SparkSession, dir: String): DataFrame = {
    val ev = spark.read.parquet(q28EventsPath(spark, dir)).select(
      when(pmod(col("user_id"), lit(5)) === 0, lit(0L))
        .otherwise(col("user_id")).as("uid"),
      col("value"))
    val dim = t(spark, dir, "customer")
      .select(col("c_custkey").as("uid"), col("c_nationkey"))
    ev.join(dim, Seq("uid"), "left")
      .groupBy(coalesce(col("c_nationkey").cast("long"), lit(-1L)).as("nation"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(30,6)")).cast("double"), 2)
          .as("total_value"))
  }

  /** AQE skew-join gate (q28): the RUNTIME remedy for the hot key q13
    * handles explicitly with salting — Spark's adaptive skew-join split.
    * The dim joins WITHOUT broadcast (autoBroadcastJoinThreshold=-1: at
    * 100 TB the dim side doesn't fit a broadcast either), forcing the
    * shuffled sort-merge join AQE then repairs at runtime: the oversized
    * fact partition is split into advisory-sized chunks, the matching dim
    * partition replicated per chunk — same remedy as q13's salt, decided
    * from MEASURED map output sizes instead of a hand-chosen bucket count.
    * Thresholds are lowered to gate scale (the 256 MB default IS the
    * production setting); Q28SkewSpec pins that the executed plan carries
    * skew=true under them, and that the result equals the un-tuned plain
    * join. Materialized to parquet INSIDE the conf scope — the confs are
    * scoped-and-restored, so the lazily-returned frame must not execute
    * after the restore. */
  def q28AqeSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val outDir = graft.util.TempDirs.create("graft_q28_out_")
    // knobs scale with the staged source, floored at gate scale — the
    // first cut pinned 64 KB/32 KB absolutes, and the decade sweep
    // measured the over-split (300x: 7k scan splits + ~2800 skew chunks,
    // 45.6 s warm; size-relative: ~32 maps and ~25 chunks at every scale)
    val bytes = pathBytes(spark, q28EventsPath(spark, dir))
    withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.files.maxPartitionBytes" ->
        math.max(65536L, bytes / 32).toString,
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        math.max(65536L, bytes / 64).toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        math.max(32768L, bytes / 128).toString,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" ->
        math.max(32768L, bytes / 128).toString) {
      q28Frame(spark, dir).write.mode("overwrite").parquet(outDir)
    }
    spark.read.parquet(outDir).orderBy(col("nation"))
  }

  /** The q29 join pre-materialization: fact events against the PILOT
    * slice of the dim (a constant 50 accounts at every scale). Without
    * CBO stats a Filter reports its CHILD's size, so static planning sees
    * the full customer file and must pick the shuffle join; the slice's
    * true size only exists once its shuffle stage materializes. Factored
    * out so Q29ReplanSpec can pin both plans. */
  private[graft] def q29Frame(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(col("user_id"), col("value"))
    val pilot = t(spark, dir, "customer")
      .where(col("c_custkey") < 50)
      .select(col("c_custkey").as("uid"), col("c_nationkey"))
    ev.join(pilot, col("user_id") === col("uid"))
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(30,6)")).cast("double"), 2)
          .as("total_value"))
  }

  /** AQE join-strategy replan gate (q29): the OTHER runtime repair q28's
    * skew split belongs to — a join statically planned as sort-merge
    * (the un-CBO'd filter estimate is the full dim file, above the
    * broadcast threshold at every SF) converted to a BROADCAST hash join
    * at runtime, once the filtered dim's materialized shuffle stage
    * proves it tiny (50 rows — below the threshold at every SF, so the
    * conversion fires at gate scale AND decades). The local-shuffle-read
    * conversion reuses the already-written map outputs: no extra
    * exchange, the probe side never shuffles. Q29ReplanSpec pins
    * SortMergeJoin in the INITIAL plan + BroadcastHashJoin in the FINAL
    * plan + parity with the statically-broadcast default run; the DuckDB
    * oracle states the plain filtered equi-join. Materialized inside the
    * conf scope (q28's rule). */
  def q29AqeReplan(spark: SparkSession, dir: String): DataFrame = {
    val outDir = graft.util.TempDirs.create("graft_q29_out_")
    withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "4096") {
      q29Frame(spark, dir).write.mode("overwrite").parquet(outDir)
    }
    spark.read.parquet(outDir).orderBy(col("nation"))
  }

  /** Semi-structured extraction gate (q14): the events table carries a JSON
    * `props` column; parse it with a SCHEMA'D `from_json` (a single codegen
    * JsonToStructs evaluation — the idiomatic Spark shape; repeated
    * `get_json_object` calls would re-parse the string per field), filter
    * on the extracted field, aggregate. Oracle: DuckDB's independent JSON
    * extension. At scale the parse cost is one pass and the extracted
    * column prunes like any other — semi-structured data stays queryable
    * without a schema migration. */
  def q14JsonProps(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
          .getField("k").as("k"), col("value"))
      .where(col("k") >= 50)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("k")), 4).as("avg_k"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))

  // -------------------------------------------------------------- documents

  /** Exact dedup: canonical doc per distinct text (min doc_id wins).
    *
    * Groups by sha2-256 of the text, NOT the text itself: the shuffle key is
    * then 32 bytes per row instead of the whole document — at corpus scale the
    * dedup shuffle ships hashes, never the corpus. Collision-safe at any
    * realistic corpus size (2^128 birthday bound). */
  def d1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("dup_count"))
      .select(col("canonical_id"), col("dup_count"))
      .orderBy(col("canonical_id"))

  /** Normalized dedup (d22): dedup AFTER canonicalizing the text —
    * lowercase, strip punctuation, collapse whitespace — the robust-dedup
    * pass that catches trivially-mutated copies exact dedup (d1) misses.
    * Same scale shape as d1: the shuffle key is the 32-byte sha256 of the
    * NORMALIZED text, never the document. Reports only groups that an
    * exact-dedup would NOT have merged identically (normalization matters),
    * plus the totals. */
  def d22NormalizedDedup(spark: SparkSession, dir: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9\\s]", ""), "\\s+", " "))
    t(spark, dir, "documents")
      .select(col("doc_id"), sha2(col("text"), 256).as("raw_h"),
        sha2(norm, 256).as("norm_h"))
      .groupBy(col("norm_h"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("dup_count"),
        countDistinct(col("raw_h")).as("distinct_raws"))
      .select(col("canonical_id"), col("dup_count"), col("distinct_raws"))
      .orderBy(col("canonical_id"))
  }

  /** Token / character statistics per document (whitespace tokenization). */
  def d2TokenStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).as("text_len"),
        size(split(trim(col("text")), "\\s+")).as("num_tokens"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).as("num_punct"))
      .orderBy(col("doc_id"))

  /** Regex tokenization counts + a BPE-ish subword estimate (ceil(len/4)
    * pieces per word — the constant-per-word approximation a byte-pair
    * tokenizer converges to on natural text). Patterns use explicit ASCII
    * classes so Java (Spark) and RE2 (DuckDB oracle) agree. */
  def d5TokenRegex(spark: SparkSession, dir: String): DataFrame = {
    val words = regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))
    t(spark, dir, "documents").select(
      col("doc_id"),
      size(words).as("n_words"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_nums"),
      size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]+"), lit(0))).as("n_syms"),
      aggregate(transform(words, w => floor((length(w) + lit(3)) / lit(4)).cast("long")),
        lit(0L), (a, x) => a + x).as("n_subwords"))
      .orderBy(col("doc_id"))
  }

  /** Stopword counts and ratio — the third leg of quality scoring (length
    * d3, punctuation d2, stopwords here): natural text has a stable
    * stopword density; ratio far from it flags boilerplate/garbage. */
  def d6StopwordRatio(spark: SparkSession, dir: String): DataFrame = {
    val nstop = graft.text.TextOps.stopwordCount(col("text"))
    val ntok = size(split(trim(col("text")), "\\s+"))
    t(spark, dir, "documents").select(
      col("doc_id"),
      nstop.as("n_stop"),
      round(nstop / greatest(ntok, lit(1)), 4).as("stop_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Repetition-ratio quality signals (the Gopher-style repetition filters):
    * per document, the fraction of word-bigrams occurring more than once
    * (`dup_frac`) and the share of the single most frequent bigram
    * (`top_frac`) — high values flag templated/spammy text that
    * length/stopword heuristics miss.
    *
    * Scale shape: tokenize -> one shuffle to pair adjacent words (window
    * lead by position) -> two codegen'd hash aggregations keyed on
    * (doc_id, bigram) then doc_id. No interpreted array lambdas; the
    * per-doc state is counts, never materialized bigram lists. */
  def d7RepetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    // Adjacent-word pairing WITHOUT a window: exploding positions and pairing
    // via element_at needs no shuffle at all before the counting aggregation
    // (a lead() window would shuffle + sort every word in the corpus first).
    val bigrams = t(spark, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), x => x =!= "").as("ws"))
      .select(col("doc_id"), col("ws"), explode(
        when(size(col("ws")) >= 2, sequence(lit(1), size(col("ws")) - 1))
          .otherwise(array().cast("array<int>"))).as("i"))
      .select(col("doc_id"),
        concat(element_at(col("ws"), col("i")), lit(" "),
          element_at(col("ws"), col("i") + 1)).as("g"))
    val agg = bigrams.groupBy(col("doc_id"), col("g")).count()
      .groupBy(col("doc_id"))
      .agg(sum(col("count")).as("total"),
        sum(when(col("count") > 1, col("count")).otherwise(0L)).as("dup"),
        max(col("count")).as("top"))
    t(spark, dir, "documents").select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("total"), lit(0L)).as("n_bigrams"),
        round(coalesce(col("dup"), lit(0L)).cast("double") /
          greatest(coalesce(col("total"), lit(1L)), lit(1L)), 4).as("dup_frac"),
        round(coalesce(col("top"), lit(0L)).cast("double") /
          greatest(coalesce(col("total"), lit(1L)), lit(1L)), 4).as("top_frac"))
      .orderBy(col("doc_id"))
  }

  /** Stratified per-language sampling (d8): keep the top-N documents per
    * language by a deterministic quality key — the data-mixing shape every
    * training pipeline runs (per-source/per-language caps). One shuffle on
    * the stratum key; rank + filter happens inside the window, so only N
    * rows per stratum survive into downstream stages. Deterministic
    * tie-break (n_chars desc, doc_id) keeps it oracle-checkable. */
  def d8StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id"))
    t(spark, dir, "documents")
      .select(col("lang"), col("doc_id"), col("n_chars"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= 20)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Weighted corpus subsampling without replacement (d34) — Efraimidis &
    * Spirakis (IPL 2006) A-ES keys: each doc draws a deterministic uniform
    * u in (0,1] from an integer hash of its id and is ranked by ln(u)/w
    * (the monotone-equivalent of the paper's u^(1/w)); the global top-k by
    * key IS a weighted sample without replacement, inclusion probability
    * increasing in w. Weight = the d3 quality score — the "subsample the
    * corpus toward its high-quality slice" curation op, with reproducible,
    * engine-independent randomness (seeded hash, never rand()).
    *
    * Scale shape: one narrow per-row projection, then orderBy + limit(k)
    * — Spark plans TakeOrderedAndProject: per-partition top-k heaps and a
    * k-row driver merge, never a global sort; at 100 TB the exchange
    * carries k rows per partition. Runtime-asserted: the sampled mean
    * weight exceeds the corpus mean (the bias the estimator exists to
    * produce; measured ratio 1.07/1.07/1.10 at sf0.001/0.01/0.1).
    *
    * Floats: u is an exact rational of integer hashes and w an exact 4dp
    * double (d3 is hash-exact), so cross-engine keys differ only by ln()'s
    * last ulp — the measured minimum inter-key gap is 6.8e-8, nine orders
    * above it; the gap at the k-cut is >= 3e-4. */
  private val D34K = 100
  def d34WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val P = graft.text.TextOps.P
    val q = qualityScore
    val h = pmod(pmod(col("doc_id"), lit(P)) * 2654435761L, lit(P))
    val u = (pmod(h, lit(P - 1)) + 1).cast("double") / lit(P.toDouble)
    // memoized: the bias asserts below run two aggregates over this frame
    // before the caller executes the returned top-k — one scan, not four
    val keyed = PipelineQueries.memo(spark, ("d34keyed", dir)) {
      t(spark, dir, "documents")
        .select(col("doc_id"), q.as("weight"), (log(u) / q).as("k"))
    }
    val top = keyed.orderBy(col("k").desc, col("doc_id")).limit(D34K)
    val meanAll = keyed.agg(avg(col("weight"))).head().getDouble(0)
    val meanS = top.agg(avg(col("weight"))).head().getDouble(0)
    require(meanS > meanAll,
      f"d34: weighted sample shows no quality bias: $meanS%.4f <= $meanAll%.4f")
    top.select(
        row_number().over(Window.orderBy(col("k").desc, col("doc_id"))).as("rnk"),
        col("doc_id"), col("weight"), round(col("k"), 6).as("sample_key"))
      .orderBy(col("rnk"))
  }

  /** Deterministic train/val/test split (c5): assign every document to a
    * split by an arithmetic hash of its id — the canonical corpus-split op.
    * The assignment is pure per-row arithmetic (NO shuffle, no sampling
    * state, reproducible across engines and runs — the property a 100 TB
    * split needs: re-running it on a grown corpus never reassigns an
    * existing document). The gate aggregates per (lang, split): counts
    * verify the 80/10/10 proportions hold per stratum, the id-sum
    * checksums the exact membership, not just the sizes.
    *
    * Knuth multiplicative hashing (2654435761 = 2^32/phi) mixes the
    * sequential doc_ids. The id is first reduced mod 1e9+7 so the product
    * stays below 2^62 for ANY 64-bit doc_id — the raw multiply overflows
    * (ANSI error) for ids >= 2^31, which the 10x-inflated corpus reaches
    * and a billions-of-documents deployment would too; ids below the prime
    * keep their exact original buckets. */
  def c5HashSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      pmod(col("doc_id"), lit(1000000007L)) * lit(2654435761L) + lit(40503L),
      lit(1000L))
    val split = when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    t(spark, dir, "documents")
      .select(col("lang"), split.as("split"), col("doc_id"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"), col("split"))
  }

  /** Corpus-duplicated trigram fraction (d9) — the corpus-LEVEL duplication
    * signal (Dolma/RefinedWeb-style): per document, the share of its word
    * trigrams that also occur in at least one OTHER document. Complements d7,
    * which measures repetition WITHIN a document; together they catch
    * boilerplate that is clean in isolation but duplicated across the crawl.
    *
    * Scale shape: trigrams shuffle as sha2-256 keys (32 bytes/row, like d1 —
    * the corpus text itself never transits a shuffle), the per-gram distinct
    * document counts join back on the same key, and the gram frame is
    * memoized across its two consumers (at corpus scale it is a written
    * intermediate table). */
  def d9DupNgramFrac(spark: SparkSession, dir: String): DataFrame = {
    // Shared shuffle-free gram formation (TextOps.wordGrams), hashed
    // before the shuffle.
    val keyed = PipelineQueries.memo(spark, ("trigrams", dir)) {
      graft.text.TextOps.wordGrams(t(spark, dir, "documents"), 3)
        .select(col("doc_id"), sha2(col("g"), 256).as("h"))
    }
    // ROUND 13 (guide §2.4): aggregate to (doc, h, c) FIRST, then derive
    // nd (= distinct docs per h) as a count window over the grouped rows —
    // the old form countDistinct'ed the full gram-instance frame (two
    // exchanges) AND re-shuffled every gram INSTANCE (with its 64-char
    // sha2 hex key) through the join; now only the grouped (doc, h, c)
    // rows cross the h exchange, once. Identical per-doc sums:
    // n_grams = Σc, n_dup = Σ c·[nd >= 2].
    val g1 = keyed.groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
    val per = g1
      .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        sum(when(col("nd") >= 2, col("c")).otherwise(0L)).as("n_dup"))
    t(spark, dir, "documents").select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_grams"), lit(1L)), lit(1L)), 4).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Per-document top-3 TF-IDF terms (d10) — the topical-signature shape a
    * data-mixing / clustering pipeline derives per document. Scoring uses the
    * raw rational form tf * N / df (one IEEE division, no logarithm) so the
    * scores — and therefore the ranking with its (score desc, term) tie-break
    * — are bit-identical in Spark and the DuckDB oracle.
    *
    * Scale shape: one tokenization pass feeds both the term-frequency and
    * document-frequency aggregations (memoized), the join key is the term,
    * and only (doc_id, term, tf) rows — never documents — shuffle. */
  /** One tokenization pass shared by d10 and d12 (memoized like the
    * signature frames — at corpus scale this is a written terms table). */
  private def termsFrame(spark: SparkSession, dir: String): DataFrame =
    PipelineQueries.memo(spark, ("terms", dir)) {
      t(spark, dir, "documents").select(col("doc_id"),
        explode(filter(split(col("text"), "\\s+"), x => x =!= "")).as("term"))
    }

  def d10TfidfTopk(spark: SparkSession, dir: String): DataFrame = {
    // N cached per (session, dir): a base table is session-immutable, so
    // re-running the count JOB per execution bought nothing
    val n = SessionCache(spark, ("count", "nDocs", dir))(
      t(spark, dir, "documents").count())
    val words = termsFrame(spark, dir)
    val tf = words.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // ROUND 13 (guide §2.4 — remove shuffles): df used to be
    // countDistinct(doc_id) over the FULL terms frame — a second corpus
    // pass planned as a two-exchange distinct aggregation, then a join
    // back onto tf. But tf already holds exactly one row per present
    // (doc, term), so df = count over tf's term partitions: one window
    // over the SAME exchange the join needed anyway, no second corpus
    // pass, no join. Identical values (count of tf rows per term ==
    // distinct docs per term), d18 derives df from tf the same way.
    val wt = Window.partitionBy(col("term"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wt))
      .withColumn("score", col("tf").cast("double") * lit(n.toDouble) / col("df").cast("double"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), round(col("score"), 4).as("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** BM25 keyword ranking (d18): top-20 documents for a fixed 3-term query
    * — the retrieval/quality-scoring shape (same family as d10's TF-IDF,
    * but length-normalized: the scoring a search-over-corpus or RAG
    * curation pass uses). Shares the memoized tokenization with d10/d12.
    *
    * Numerics follow the d10 rule — NO logarithm: the rational idf
    * `(N - df + 0.5) / (df + 0.5)` replaces the usual `ln(...)` Robertson
    * idf so every operation (add/mul/div) is IEEE-exact-rounded and the
    * score is bit-identical across engines. This is a BM25 VARIANT, not
    * BM25: the transform is monotone PER TERM, but summing over terms
    * reweights rare terms more aggressively than the ln form, so multi-term
    * rankings can differ from textbook BM25. The per-term saturation and
    * length normalization — the parts that make BM25 BM25 — are exact. Per-term partials pivot into FIXED columns so the
    * 3-term sum has one deterministic float-addition order; only then is
    * the score rounded for display. k1 = 1.2, b = 0.75 (source literals on
    * both sides — no cross-engine constant drift).
    *
    * Scale shape: the terms frame aggregates once per doc (dl) and once
    * per (doc, query-term) — the query-term filter keeps the tf frame at
    * O(matching docs x 3); N and avgdl are 1-row aggregates planted as
    * literals, exactly like the store's probe planning. */
  private val Bm25Terms = Seq("hash", "vector", "window")
  def d18Bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    // the gate's answer is computed per call, not memoized: e12's sparse
    // retriever re-runs this DAG, so both gates time it (the shared
    // intermediates, the terms and doc-length frames, stay memoized)
    val words = termsFrame(spark, dir)
    val nDocs = SessionCache(spark, ("count", "nDocs", dir))(
      t(spark, dir, "documents").count())
    // per-doc length frame memoized (termsFrame precedent): each d18
    // invocation consumes it TWICE (the sumDl scalar below and the perTerm
    // join) — uncached, the full terms pass ran twice per gate per bench
    // pass (guide §1.2); sumDl is a 1-row read off it, cached as a scalar
    val dl = PipelineQueries.memo(spark, ("doclens", dir)) {
      words.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    }
    val sumDl = SessionCache(spark, ("count", "sumDl", dir))(
      dl.agg(sum(col("dl"))).first().getLong(0))
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val tf = words.where(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tfd = col("tf").cast("double")
    val dfd = col("df").cast("double")
    val dld = col("dl").cast("double")
    val idf = (lit(nDocs.toDouble) - dfd + lit(0.5)) / (dfd + lit(0.5))
    val partial = (idf * (tfd * lit(2.2))) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * dld / lit(avgdl)))
    val perTerm = tf.join(dfreq, Seq("term")).join(dl, Seq("doc_id"))
      .select(col("doc_id"), col("term"), partial.as("s"))
    val pivoted = Bm25Terms.map { tm =>
      coalesce(max(when(col("term") === tm, col("s"))), lit(0.0)).as(s"s_$tm")
    }
    val score = Bm25Terms.map(tm => col(s"s_$tm")).reduce(_ + _)
    perTerm.groupBy(col("doc_id")).agg(pivoted.head, pivoted.tail: _*)
      .select(col("doc_id"), score.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
      .select(row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).as("rnk"),
        col("doc_id"), round(col("score"), 4).as("bm25"))
      .orderBy(col("rnk"))
  }

  /** Keyword search through the PERSISTENT inverted index (d20): build the
    * term-bucket-partitioned posting lists once per corpus, answer d18's
    * exact query through [[graft.text.InvertedIndex.search]] — query terms
    * prune `tb=` partition directories at planning, and the ranking must
    * stay bit-identical to the ad-hoc d18 path (same oracle). The index
    * dir is a [[SessionCache]] entry: built once per SparkContext, the
    * documents table assumed immutable for its lifetime. */
  def d20InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val path = SessionCache(spark, ("invIndex", "index", dir)) {
      val p = graft.util.TempDirs.create("graft_inv_index_")
      graft.text.InvertedIndex.build(spark,
        t(spark, dir, "documents").select(col("doc_id"), col("text")), p)
      p
    }
    graft.text.InvertedIndex.search(spark, path, Bm25Terms, 20)
      .select(col("rnk"), col("doc_id"), round(col("score"), 4).as("bm25"))
      .orderBy(col("rnk"))
  }

  /** Heavy hitters (d23): exact top-10 terms via Misra-Gries per partition
    * + exact recount of the candidates — the sketch-then-verify shape (c3's
    * Bloom pattern for frequency). Per partition, an evicted term loses at
    * most |partition|/(k+1) count, so the union loses at most N/(k+1): if
    * the 10th candidate's EXACT count exceeds N/(k+1), no non-candidate can
    * beat it and the top-10 is provably exact — asserted at runtime, so the
    * gate fails loudly rather than silently approximating. State per task
    * is k entries regardless of vocabulary size; only candidate terms are
    * ever exact-counted. */
  private val D23Sketch = 2000
  def d23HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = termsFrame(spark, dir)
    val cands = words.select(col("term")).as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        if (m.contains(t)) m(t) += 1L
        else if (m.size < D23Sketch) m(t) = 1L
        else {
          m.mapValuesInPlace((_, v) => v - 1L)
          m.filterInPlace((_, v) => v > 0L)
        }
      }
      m.keysIterator
    }.toDF("term").distinct()
    // ONE corpus pass for both the candidate counts and the total: a LEFT
    // join against the broadcast candidate set collapses every
    // non-candidate row into a null group at map-side partial aggregation
    // (numTasks rows to one reducer, never the rows themselves), so the
    // separate words.count() job is gone (round-3 advice); the total is a
    // window sum over the tiny grouped frame
    val grouped = words
      .join(broadcast(cands.withColumn("_cand", lit(1))), Seq("term"), "left_outer")
      .groupBy(when(col("_cand") === 1, col("term")).as("gterm"))
      .agg(count(lit(1)).as("cnt"))
    val everything = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // localCheckpoint the 10-row result BEFORE the completeness assert:
    // the assert's collect() and the caller's own action otherwise each
    // execute the full DAG — the Misra-Gries sketch pass and the exact
    // recount ran TWICE per gate invocation (profiled: 4x ~0.35 s corpus
    // jobs per pass, guide §1 "don't compute things you throw away")
    val top = grouped
      .withColumn("total", sum(col("cnt")).over(everything))
      .where(col("gterm").isNotNull)
      .orderBy(col("cnt").desc, col("gterm")).limit(10)
      .select(row_number().over(Window.orderBy(col("cnt").desc, col("gterm"))).as("rnk"),
        col("gterm").as("term"), col("cnt"), col("total"))
      .orderBy(col("rnk"))
      .localCheckpoint()
    val rows = top.collect()
    require(rows.length == 10 && rows.last.getLong(2) > rows.last.getLong(3) / (D23Sketch + 1),
      s"d23: Misra-Gries completeness bound not met (10th count ${rows.lastOption
        .map(_.getLong(2))}, bound ${rows.lastOption.map(_.getLong(3) / (D23Sketch + 1))}) — raise D23Sketch")
    top.select(col("rnk"), col("term"), col("cnt"))
  }

  /** Incrementally-grown inverted index (d21): build from the even half of
    * the corpus, [[graft.text.InvertedIndex.append]] the odd half, search
    * with d18's query — the grown index must rank EXACTLY like a
    * single-pass build (d18's oracle), because search derives df from the
    * postings at query time and the stats fold forward. */
  def d21IndexAppend(spark: SparkSession, dir: String): DataFrame = {
    val path = SessionCache(spark, ("invIndex", "append", dir)) {
      val p = graft.util.TempDirs.create("graft_inv_append_")
      val d = t(spark, dir, "documents").select(col("doc_id"), col("text"))
      graft.text.InvertedIndex.build(spark,
        d.where(pmod(col("doc_id"), lit(2)) === 0), p)
      graft.text.InvertedIndex.append(spark,
        d.where(pmod(col("doc_id"), lit(2)) === 1), p)
      p
    }
    graft.text.InvertedIndex.search(spark, path, Bm25Terms, 20)
      .select(col("rnk"), col("doc_id"), round(col("score"), 4).as("bm25"))
      .orderBy(col("rnk"))
  }

  /** Overlapping document chunking (d19): split each document into
    * fixed-size character chunks with overlap — the context-length
    * splitting every pretraining/RAG pipeline runs before tokenization.
    * Chunk starts stride by (size - overlap); the final partial chunk is
    * kept iff it adds content beyond the previous chunk's end (start <
    * len). Narrow shape: sequence + posexplode generates chunk bounds
    * per row (no shuffle until the output sort); chunk text never leaves
    * the row — the gate emits lengths + sha256 only. */
  private val D19ChunkSize = 500
  private val D19Overlap = 100
  def d19Chunking(spark: SparkSession, dir: String): DataFrame = {
    val stride = D19ChunkSize - D19Overlap
    val len = length(col("text"))
    val starts = sequence(lit(0), greatest(len - lit(1), lit(0)), lit(stride))
    t(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        posexplode(starts).as(Seq("chunk_idx", "start")))
      .where(col("start") < len) // drop a phantom chunk at start == len
      .select(col("doc_id"), col("chunk_idx"),
        col("text").substr(col("start") + 1, lit(D19ChunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        length(col("chunk")).cast("long").as("chunk_len"),
        sha2(col("chunk"), 256).as("chunk_sha"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Exact duplicated-span document pairs (d11) — the substring-dedup
    * signal (Lee et al. "Deduplicating Training Data Makes Language Models
    * Better"): pairs of distinct documents sharing at least one EXACT
    * 12-word window, with the number of distinct shared windows. Exact
    * complement to the approximate t2/t6 paths: those estimate set overlap,
    * this finds verbatim copied spans.
    *
    * Scale shape: windows shuffle as sha2-256 keys (32 bytes — the span
    * text never transits a shuffle), per-doc-distinct before the join, and
    * windows occurring in more than [[D11DfCap]] documents are dropped
    * BEFORE the self-join — boilerplate spans would otherwise contribute
    * O(df^2) pairs each, the quadratic blowup that kills this query at
    * corpus scale. The cap is part of the query contract (mirrored in the
    * oracle), exactly like production substring-dedup passes drop
    * ubiquitous spans. */
  private val D11SpanWords = 12
  private val D11DfCap = 50
  def d11DupSpanPairs(spark: SparkSession, dir: String): DataFrame = {
    val k = D11SpanWords
    // memoized: the frame feeds the df-count agg, the cap join, and BOTH
    // sides of the pair self-join — uncached it would be recomputed 4x
    val grams = PipelineQueries.memo(spark, ("d11grams", dir)) {
      graft.text.TextOps.wordGrams(t(spark, dir, "documents"), k)
        .select(col("doc_id"), sha2(col("g"), 256).as("h"))
        .distinct()
    }
    val shared = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("nd"))
      .where(col("nd").between(2, D11DfCap))
      .select(col("h"))
    val g = grams.join(shared, Seq("h"))
    g.as("a").join(g.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Duplicated-span REMOVAL accounting (d28) — the step Lee et al.'s
    * substring dedup actually performs after d11's pair detection: every
    * exact [[D11SpanWords]]-word window occurring >= 2 times in the corpus
    * (across OR within documents) marks its word-position interval
    * duplicated; overlapping intervals merge into maximal islands per
    * document, and the gate reports per-doc duplicated-word counts — what
    * a removal pass would cut, and the per-doc duplication fraction data
    * curation thresholds on.
    *
    * Scale shape: windows shuffle once as 32-byte sha2 keys to count
    * occurrences (no pair self-join at all — removal needs the duplicated
    * SET, not the pair graph, so d11's df-cap hazard never arises); the
    * interval merge is a per-document window (partitionBy doc_id — state
    * is one running max per doc, no global sort); the word arrays never
    * leave their rows. */
  /** d28/d36 shared per-position span-gram frame: (doc_id, s, h) for every
    * k-word window occurrence — sha2-keyed (32-byte shuffle keys, the
    * substring-dedup scale contract). Memoized like [[termsFrame]]/d11's
    * grams: the frame feeds TWO consumers inside each gate (the duplicate
    * count/survivor aggregate AND the interval join) and both d28 and d36
    * consume the identical expression — uncached it executed the gram
    * explode + per-window sha2 four times per bench pass across the two
    * gates (profiled at 0.3-0.5 s per execution post-restage). */
  private def spanWordsFrame(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), x => x =!= "").as("ws"))

  private def spanGramsFrame(spark: SparkSession, dir: String): DataFrame = {
    val k = D11SpanWords
    PipelineQueries.memo(spark, ("posgrams", dir)) {
      spanWordsFrame(spark, dir)
        .select(col("doc_id"), explode(
          when(size(col("ws")) >= k, sequence(lit(1), size(col("ws")) - (k - 1)))
            .otherwise(array().cast("array<int>"))).as("i"),
          col("ws"))
        .select(col("doc_id"), col("i").cast("long").as("s"),
          sha2(array_join(slice(col("ws"), col("i"), lit(k)), " "), 256).as("h"))
    }
  }

  /** d28/d36 shared duplicated-window aggregate over [[spanGramsFrame]]:
    * (h, survivor doc/position) for every window occurring >= 2 times.
    * Memoized (round 13): d28's duplicate SET is the h-projection of d36's
    * survivor election — the same groupBy(h) over the same frame ran once
    * per gate per pass as two separate corpus-wide shuffles. */
  private def spanSurvFrame(spark: SparkSession, dir: String): DataFrame =
    PipelineQueries.memo(spark, ("spansurv", dir)) {
      spanGramsFrame(spark, dir).groupBy(col("h"))
        .agg(count(lit(1)).as("n"), min(struct(col("doc_id"), col("s"))).as("sv"))
        .where(col("n") >= 2)
        .select(col("h"), col("sv.doc_id").as("sd"), col("sv.s").as("ss"))
    }

  def d28DupSpanRemoval(spark: SparkSession, dir: String): DataFrame = {
    val k = D11SpanWords
    val words = spanWordsFrame(spark, dir)
    // per-POSITION windows (d11's frame is per-doc-distinct — wrong here:
    // removal needs every occurrence's interval, including repeats);
    // shared with d36 via the memoized [[spanGramsFrame]]
    val grams = spanGramsFrame(spark, dir)
    val dup = spanSurvFrame(spark, dir).select(col("h"))
    val iv = grams.join(dup, Seq("h"))
      .select(col("doc_id"), col("s"), (col("s") + (k - 1)).as("e"))
    // island merge = the reusable per-key interval union
    // ([[graft.util.Intervals]], property-tested against brute force)
    val perDoc = graft.util.Intervals.coveredLength(iv, "doc_id", "s", "e")
      .select(col("doc_id"), col("n_islands"), col("covered").as("dup_words"))
    words.select(col("doc_id"), size(col("ws")).cast("long").as("n_words"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"))
      .orderBy(col("doc_id"))
  }

  /** The deduplicated CORPUS itself (d36) — the output Lee et al.'s
    * substring dedup ships: d11 found duplicated-span pairs, d28 accounted
    * the removal intervals; this gate APPLIES them and emits each
    * document's retained text (as length + sha256, the d19 convention —
    * hashing pins the exact retained byte sequence without shipping text).
    * One survivor per span cluster: for every exact [[D11SpanWords]]-word
    * window occurring >= 2 times in the corpus, the lexicographically
    * first occurrence (min (doc_id, position)) KEEPS its interval; every
    * other occurrence marks its word-position interval for removal.
    * Overlapping removal intervals merge per document
    * ([[graft.util.Intervals.mergeIntervals]]); a surviving occurrence
    * overlapped by another window's removal is still cut (removal is a
    * set union — the deterministic spec both engines state).
    *
    * Scale shape: windows shuffle once as 32-byte sha2 keys with their
    * (doc_id, position); the survivor election is a min(struct) aggregate
    * on that key (no pair self-join, no df-cap hazard); merged intervals
    * collapse to a per-doc ARRAY (few entries — interval count is bounded
    * by the doc's removal occurrences, already merged) that is BROADCAST
    * back onto the documents scan, so the TEXT never transits a shuffle:
    * scan -> broadcast hash join -> in-row filter/join of the word array.
    * The broadcast is SIZE-GATED in code ([[graft.util.SizeGate]], round-9
    * verdict #3): a corpus whose merged-interval frame outgrows
    * `broadcastMaxRows` falls back to a plain doc_id-keyed shuffle join —
    * the one rewrite shuffle any materialized dedup pays, with only
    * (doc_id, intervals) structs shuffling, never text —
    * [[graft.text.DedupGatesSpec]] forces the fallback and pins identical
    * output. */
  def d36DedupCorpus(spark: SparkSession, dir: String): DataFrame =
    d36DedupCorpus(spark, dir, graft.util.SizeGate.DefaultMaxRows)

  private[graft] def d36DedupCorpus(spark: SparkSession, dir: String,
      broadcastMaxRows: Long): DataFrame = {
    val k = D11SpanWords
    val words = spanWordsFrame(spark, dir)
    // every occurrence's (doc_id, start, hash) — d28's per-position frame,
    // shared via the memoized [[spanGramsFrame]]
    val grams = spanGramsFrame(spark, dir)
    // survivor per duplicated window: lexicographic min (doc_id, s) —
    // shared with d28 via the memoized [[spanSurvFrame]]
    val surv = spanSurvFrame(spark, dir)
    val removals = grams.join(surv, Seq("h"))
      .where(!(col("doc_id") === col("sd") && col("s") === col("ss")))
      .select(col("doc_id"), col("s"), (col("s") + (k - 1)).as("e"))
    val ivs = graft.util.Intervals.mergeIntervals(removals, "doc_id", "s", "e")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("island_s").as("s"), col("island_e").as("e")))).as("ivs"))
    val kept = filter(col("ws"), (_, i) =>
      !exists(col("ivs"), iv =>
        (i + 1) >= iv.getField("s") && (i + 1) <= iv.getField("e")))
    words.join(graft.util.SizeGate.broadcastIfSmall(ivs, broadcastMaxRows),
        Seq("doc_id"), "left")
      .withColumn("ivs",
        coalesce(col("ivs"), array().cast("array<struct<s:bigint,e:bigint>>")))
      .withColumn("kept", kept)
      .withColumn("rt", array_join(col("kept"), " "))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(col("kept")).cast("long").as("kept_words"),
        length(col("rt")).cast("long").as("retained_len"),
        sha2(col("rt"), 256).as("retained_sha"))
      .orderBy(col("doc_id"))
  }

  /** The d3 quality heuristic as a shared Column — the ONE definition the
    * scoring gate (d3), the decile filter (c4) and the weighted sampler
    * (d34) all evaluate, so a change to the formula cannot silently
    * de-synchronize the operators that document "weight = the d3 score". */
  private[graft] def qualityScore: org.apache.spark.sql.Column =
    round(
      least(col("n_chars").cast("double") / 1000.0, lit(1.0)) * 0.5 +
        when(col("lang") === "en", 0.3).otherwise(0.1) +
        when(col("n_chars") > 100, 0.2).otherwise(0.0), 4)

  /** Quality score: simple length/punctuation heuristic, deterministic
    * integer arithmetic (training-data quality filter shape). */
  def d3QualityScore(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), qualityScore.as("quality"))
      .orderBy(col("doc_id"))

  /** Language distribution with average length. */
  def d4LangDistribution(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("num_docs"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy(col("lang"))

  // ------------------------------------------------------------- embeddings

  /** Brute-force cosine top-5 neighbors for the first 10 vectors (the exact
    * ANN baseline; the LSH variant must recall against this). */
  def e1KnnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    // codegen'd one-pass cosine (bit-identical to the interpreted fold —
    // see graft.ann.expr.VectorExpressions' determinism contract)
    val cosine = graft.ann.expr.functions.vec_cosine(col("qe"), col("ne"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    queries.withColumn("qe", col("qe").cast("array<double>"))
      .crossJoin(emb.withColumn("ne", col("embedding").cast("array<double>")))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("cos", cosine)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 5)
      .select(col("query_id"), col("rnk"), col("vec_id").as("neighbor_id"),
        round(col("cos"), 4).as("cos_sim"))
      .orderBy(col("query_id"), col("rnk"))
  }

  // ------------------------------------------------------------------ h4

  /** Scratch parquet for h4: (cell, qty) range-partitioned and sorted on the
    * raw cell — files and row groups carry disjoint h3index min/max stats,
    * the layout [[graft.store.CellStore]] produces at write. Built once per
    * sf dir per SparkContext ([[SessionCache]]). */
  private def h4CellsPath(spark: SparkSession, dir: String): String =
    SessionCache(spark, ("h4cells", dir)) {
      val out = graft.util.TempDirs.create("graft_h4_cells_")
      t(spark, dir, "lineitem")
        .select(synthCell.as("cell"), col("l_quantity").as("qty"))
        .repartitionByRange(4, col("cell"))
        .sortWithinPartitions("cell")
        .write.mode("overwrite").parquet(out)
      out
    }

  /** h4 gate: the [[graft.plans.H3ParentPredicateRewrite]] optimizer rule
    * under the oracle. The filter is `h3_to_parent(cell, 5) IN (3 parents)`
    * — a per-row expression no file format can skip for — and the rule
    * infers the exact raw-cell range conjunct, which pushes into the
    * parquet scan and prunes row groups via the sorted layout's min/max
    * stats (PlanAuditSpec asserts the pushed ranges; this gate pins the
    * semantics: the rewritten plan must produce the PLAIN relational
    * answer). Probe parents are the 3 most frequent parent5 values
    * (tie-broken on the cell value), collected by a 3-row driver aggregate
    * exactly like the store's Seq-probe planning; the oracle re-derives
    * them as a subquery. */
  def h4ParentPrune(spark: SparkSession, dir: String): DataFrame = {
    Graft.register(spark)
    val cells = spark.read.parquet(h4CellsPath(spark, dir))
    val parents = cells
      .groupBy(h3_to_parent(col("cell"), lit(5)).as("p")).count()
      .orderBy(col("count").desc, col("p"))
      .limit(3).collect().map(_.getLong(0)).toSeq
    cells.where(h3_to_parent(col("cell"), lit(5)).isin(parents: _*))
      .groupBy(h3_to_parent(col("cell"), lit(5)).as("parent5"))
      .agg(count(lit(1)).as("num_cells"), round(sum(col("qty")), 2).as("sum_qty"))
      .orderBy(col("parent5"))
  }

  // ---------------------------------------------------------------- oracles

  /** DuckDB SQL equivalents. Same column names, same ORDER BY. */
  private[graft] val d18OracleSql: String =
    """WITH w AS (SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM w GROUP BY 1),
      |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
      |ad AS (SELECT sum(dl)::DOUBLE / (SELECT count(*)::DOUBLE FROM documents) AS avgdl
      |  FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM w
      |  WHERE term IN ('hash', 'vector', 'window') GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |p AS (SELECT doc_id, term,
      |    (((n.n - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5)) * (tf::DOUBLE * 2.2)) /
      |      (tf::DOUBLE + 1.2 * (0.25 + 0.75 * dl::DOUBLE / ad.avgdl)) AS s
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN n CROSS JOIN ad),
      |sc AS (SELECT doc_id,
      |    coalesce(max(CASE WHEN term = 'hash' THEN s END), 0.0)
      |    + coalesce(max(CASE WHEN term = 'vector' THEN s END), 0.0)
      |    + coalesce(max(CASE WHEN term = 'window' THEN s END), 0.0) AS score
      |  FROM p GROUP BY 1),
      |r AS (SELECT doc_id, score,
      |    row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM sc)
      |SELECT rnk, doc_id, round(score, 4) AS bm25 FROM r WHERE rnk <= 20
      |ORDER BY rnk""".stripMargin

  val oracles: Map[String, String] = {
    val synthCellSql =
      """((1::BIGINT << 59) | (9::BIGINT << 52)
        | | (((l_orderkey * 7 + l_partkey) % 122)::BIGINT << 45)
        | | ((((l_partkey + l_orderkey) % 5) + 2)::BIGINT << 42)
        | | (((l_partkey + 2*l_orderkey) % 7)::BIGINT << 39)
        | | (((l_partkey + 3*l_orderkey) % 7)::BIGINT << 36)
        | | (((l_partkey + 4*l_orderkey) % 7)::BIGINT << 33)
        | | (((l_partkey + 5*l_orderkey) % 7)::BIGINT << 30)
        | | (((l_partkey + 6*l_orderkey) % 7)::BIGINT << 27)
        | | (((l_partkey + 7*l_orderkey) % 7)::BIGINT << 24)
        | | (((l_partkey + 8*l_orderkey) % 7)::BIGINT << 21)
        | | (((l_partkey + 9*l_orderkey) % 7)::BIGINT << 18)
        | | 262143::BIGINT)""".stripMargin.replace("\n", " ")
    // parent at res 5: replace the res field (9 -> 5) and set bits below digit 5's shift (30)
    def parent5(cell: String) =
      s"((($cell - (9::BIGINT << 52)) + (5::BIGINT << 52)) | ((1::BIGINT << 30) - 1))"

    Map(
      "q1_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          | round(sum(l_quantity), 2) AS sum_qty,
          | round(sum(l_extendedprice::DECIMAL(30,6))::DOUBLE, 2) AS sum_base_price,
          | round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,6))::DOUBLE, 2) AS sum_disc_price,
          | round(avg(l_quantity), 4) AS avg_qty,
          | count(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin,
      "q2_nation_orders" ->
        """SELECT n_name, count(*) AS num_orders,
          | round(sum(o_totalprice::DECIMAL(30,6))::DOUBLE, 2) AS total_price
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY n_name ORDER BY n_name""".stripMargin,
      "q3_top_orders" ->
        """SELECT l_orderkey, o_orderdate,
          | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY l_orderkey, o_orderdate
          |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
      "q4_order_priority" ->
        """SELECT o_orderpriority, count(*) AS num_orders
          |FROM orders WHERE EXISTS (
          |  SELECT 1 FROM lineitem
          |  WHERE l_orderkey = o_orderkey AND year(l_shipdate) = 1995)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q5_top_customers_per_nation" ->
        """SELECT c_nationkey, rnk, c_custkey, acctbal FROM (
          |  SELECT c_nationkey, c_custkey, round(c_acctbal, 2) AS acctbal,
          |    row_number() OVER (PARTITION BY c_nationkey
          |                       ORDER BY c_acctbal DESC, c_custkey) AS rnk
          |  FROM customer) WHERE rnk <= 3
          |ORDER BY c_nationkey, rnk""".stripMargin,
      "q6_events_daily" ->
        """SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS num_events,
          | round(sum(value), 2) AS total_value
          |FROM events GROUP BY event_type, CAST(ts AS DATE)
          |ORDER BY event_type, day""".stripMargin,
      "q7_customers_without_orders" ->
        """SELECT c_custkey, c_name FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders
          |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
          |ORDER BY c_custkey""".stripMargin,
      "q8_region_revenue" ->
        """SELECT r_name,
          | round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,6))::DOUBLE, 2) AS revenue,
          | count(*) AS num_items
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |JOIN nation ON c_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name ORDER BY r_name""".stripMargin,
      "q9_percentiles" ->
        """SELECT l_returnflag,
          | round(quantile_cont(l_quantity, 0.5), 4) AS p50,
          | round(quantile_cont(l_quantity, 0.9), 4) AS p90,
          | round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
      "q10_rollup" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          | coalesce(l_linestatus, 'ALL') AS ls,
          | count(*) AS n, round(sum(l_quantity), 2) AS qty
          |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          |ORDER BY 1, 2""".stripMargin,
      "h1_cell_ops" ->
        s"""SELECT l_orderkey, l_linenumber, cell,
           | ((cell >> 52) & 15)::INT AS res,
           | ((cell >> 45) & 127)::INT AS basecell,
           | ${parent5("cell")} AS parent5,
           | 49::BIGINT AS nkids11,
           | TRUE AS valid
           |FROM (SELECT l_orderkey, l_linenumber, $synthCellSql AS cell FROM lineitem)
           |ORDER BY l_orderkey, l_linenumber""".stripMargin,
      "h2_parent_rollup" ->
        s"""SELECT ${parent5("cell")} AS parent5, count(*) AS num_cells,
           | round(sum(l_quantity), 2) AS sum_qty,
           | round(max(l_extendedprice), 2) AS max_price
           |FROM (SELECT $synthCellSql AS cell, l_quantity, l_extendedprice FROM lineitem)
           |GROUP BY 1 ORDER BY parent5""".stripMargin,
      "h3_resolution_pyramid" ->
        s"""WITH cells AS (SELECT $synthCellSql AS cell FROM lineitem),
           |lvl AS (
           |  SELECT 3 AS res, (((cell - (9::BIGINT << 52)) + (3::BIGINT << 52)) | ((1::BIGINT << 36) - 1)) AS cell_at_res FROM cells
           |  UNION ALL
           |  SELECT 5, (((cell - (9::BIGINT << 52)) + (5::BIGINT << 52)) | ((1::BIGINT << 30) - 1)) FROM cells
           |  UNION ALL
           |  SELECT 7, (((cell - (9::BIGINT << 52)) + (7::BIGINT << 52)) | ((1::BIGINT << 24) - 1)) FROM cells)
           |SELECT res, cell_at_res, count(*) AS num_children FROM lvl
           |GROUP BY res, cell_at_res ORDER BY res, cell_at_res""".stripMargin,
      "h4_parent_prune" ->
        s"""WITH cells AS (SELECT $synthCellSql AS cell, l_quantity AS qty FROM lineitem),
           |par AS (SELECT ${parent5("cell")} AS p, count(*) AS c FROM cells GROUP BY 1),
           |probe AS (SELECT p FROM par ORDER BY c DESC, p LIMIT 3)
           |SELECT ${parent5("cell")} AS parent5, count(*) AS num_cells,
           | round(sum(qty), 2) AS sum_qty
           |FROM cells WHERE ${parent5("cell")} IN (SELECT p FROM probe)
           |GROUP BY 1 ORDER BY parent5""".stripMargin,
      "d1_exact_dedup" ->
        """SELECT min(doc_id) AS canonical_id, count(*) AS dup_count
          |FROM documents GROUP BY sha256(text) ORDER BY canonical_id""".stripMargin,
      "d22_normalized_dedup" ->
        """WITH n AS (SELECT doc_id, sha256(text) AS raw_h,
          |    sha256(trim(regexp_replace(regexp_replace(lower(text),
          |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS norm_h
          |  FROM documents)
          |SELECT min(doc_id) AS canonical_id, count(*) AS dup_count,
          |  count(DISTINCT raw_h) AS distinct_raws
          |FROM n GROUP BY norm_h ORDER BY canonical_id""".stripMargin,
      "d2_token_stats" ->
        """SELECT doc_id, length(text) AS text_len,
          | length(string_split_regex(trim(text), '\s+')) AS num_tokens,
          | length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS num_punct
          |FROM documents ORDER BY doc_id""".stripMargin,
      "d6_stopword_ratio" -> {
        val terms = graft.text.TextOps.Stopwords.map(m =>
          s"((length(p) - length(replace(p, '$m', ''))) / ${m.length})::BIGINT")
          .mkString(" + ")
        s"""WITH p AS (SELECT doc_id, ' ' || text || ' ' AS p,
           |  length(string_split_regex(trim(text), '\\s+')) AS ntok FROM documents),
           |s AS (SELECT doc_id, ntok, ($terms) AS n_stop FROM p)
           |SELECT doc_id, n_stop, round(n_stop / greatest(ntok, 1), 4) AS stop_ratio
           |FROM s ORDER BY doc_id""".stripMargin
      },
      // list_sum -> HUGEINT -> ::BIGINT cast rule (see t5); integer `//`
      "d5_token_regex" ->
        """SELECT doc_id,
          |  length(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
          |  length(regexp_extract_all(text, '[0-9]+')) AS n_nums,
          |  length(regexp_extract_all(text, '[^A-Za-z0-9\s]+')) AS n_syms,
          |  (CASE WHEN length(regexp_extract_all(text, '[A-Za-z]+')) = 0 THEN 0 ELSE
          |    list_sum(list_transform(regexp_extract_all(text, '[A-Za-z]+'),
          |      w -> (length(w) + 3) // 4)) END)::BIGINT AS n_subwords
          |FROM documents ORDER BY doc_id""".stripMargin,
      "d7_repetition_ratio" ->
        """WITH w AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS ws
          |  FROM documents),
          |bg AS (SELECT doc_id, unnest(list_transform(range(1, greatest(length(ws), 1)),
          |    i -> ws[i::INT] || ' ' || ws[(i+1)::INT])) AS g FROM w),
          |cnt AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
          |agg AS (SELECT doc_id, sum(c) AS total,
          |    sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup, max(c) AS top
          |  FROM cnt GROUP BY 1)
          |SELECT d.doc_id, coalesce(total, 0)::BIGINT AS n_bigrams,
          |  round(coalesce(dup, 0)::DOUBLE / greatest(coalesce(total, 1), 1), 4) AS dup_frac,
          |  round(coalesce(top, 0)::DOUBLE / greatest(coalesce(total, 1), 1), 4) AS top_frac
          |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
      "d8_stratified_sample" ->
        """SELECT lang, doc_id, n_chars FROM (
          |  SELECT lang, doc_id, n_chars,
          |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
          |  FROM documents)
          |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,
      "d34_weighted_sample" ->
        s"""WITH kd AS (SELECT doc_id,
           |    round(least(n_chars / 1000.0, 1.0) * 0.5 +
           |      CASE WHEN lang = 'en' THEN 0.3 ELSE 0.1 END +
           |      CASE WHEN n_chars > 100 THEN 0.2 ELSE 0.0 END, 4) AS weight,
           |    ((doc_id % ${graft.text.TextOps.P}) * 2654435761) % ${graft.text.TextOps.P} AS h
           |  FROM documents),
           |keyed AS (SELECT doc_id, weight,
           |    ln(((h % ${graft.text.TextOps.P - 1}) + 1)::DOUBLE / ${graft.text.TextOps.P}.0) / weight AS k
           |  FROM kd)
           |SELECT row_number() OVER (ORDER BY k DESC, doc_id) AS rnk,
           |  doc_id, weight, round(k, 6) AS sample_key
           |FROM (SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT 100)
           |ORDER BY rnk""".stripMargin,
      "q11_asof_join" ->
        """WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
          |c AS (SELECT user_id, ts, max(event_id) AS click_id
          |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
          |SELECT e.event_id, e.user_id, c.click_id,
          |  epoch_us(e.ts) - epoch_us(c.ts) AS gap_us
          |FROM e ASOF LEFT JOIN c ON e.user_id = c.user_id AND e.ts >= c.ts
          |ORDER BY e.event_id""".stripMargin,
      "q12_range_join" ->
        """WITH w AS (SELECT event_id AS err_id, user_id, ts AS ws,
          |    ts + INTERVAL 10 MINUTE AS we FROM events WHERE event_type = 'error')
          |SELECT err_id, count(*) AS n_events, round(sum(value), 2) AS total_value
          |FROM w JOIN events e ON e.user_id = w.user_id AND e.ts >= w.ws AND e.ts <= w.we
          |GROUP BY err_id ORDER BY err_id""".stripMargin,
      "q13_salted_join" ->
        """SELECT o_orderpriority,
          |  round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,6))::DOUBLE, 2) AS revenue,
          |  count(*) AS n_items
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q28_aqe_skew_join" ->
        """SELECT coalesce(c_nationkey, -1)::BIGINT AS nation,
          |  count(*) AS n_events,
          |  round(sum(value::DECIMAL(30,6))::DOUBLE, 2) AS total_value
          |FROM (SELECT CASE WHEN user_id % 5 = 0 THEN 0 ELSE user_id END AS uid,
          |        value FROM events) e
          |LEFT JOIN customer ON uid = c_custkey
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q29_aqe_replan" ->
        """SELECT c_nationkey::BIGINT AS nation, count(*) AS n_events,
          |  round(sum(value::DECIMAL(30,6))::DOUBLE, 2) AS total_value
          |FROM events JOIN customer ON user_id = c_custkey
          |WHERE c_custkey < 50
          |GROUP BY 1 ORDER BY 1""".stripMargin,
      "q15_running_window" ->
        """SELECT user_id, event_id, ts, value,
          |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS run_avg,
          |  round(max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 2) AS run_max
          |FROM events ORDER BY user_id, ts, event_id""".stripMargin,
      "q16_set_ops" ->
        """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
          |b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
          |u AS (SELECT DISTINCT o_custkey FROM orders
          |      WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) <= 1996)
          |SELECT o_custkey FROM (
          |  (SELECT * FROM a INTERSECT SELECT * FROM b)
          |  EXCEPT SELECT * FROM u)
          |ORDER BY o_custkey""".stripMargin,
      "d12_vocab_stats" ->
        """WITH w AS (SELECT doc_id,
          |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS term
          |  FROM documents),
          |f AS (SELECT term, count(*) AS f FROM w GROUP BY 1)
          |SELECT sum(f)::BIGINT AS total_tokens, count(*) AS vocab_size,
          |  sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax_count,
          |  round(count(*)::DOUBLE / sum(f), 6) AS ttr
          |FROM f""".stripMargin,
      "q14_json_props" ->
        """SELECT event_type, count(*) AS n, round(avg(k), 4) AS avg_k,
          |  round(sum(value), 2) AS total_value
          |FROM (SELECT event_type,
          |        json_extract_string(props, '$.k')::BIGINT AS k, value
          |      FROM events)
          |WHERE k >= 50 GROUP BY 1 ORDER BY 1""".stripMargin,
      "d9_dup_ngram_frac" ->
        """WITH w AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'), x -> x != '') AS ws
          |  FROM documents),
          |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(length(ws) - 1, 1)),
          |    i -> ws[i::INT] || ' ' || ws[(i+1)::INT] || ' ' || ws[(i+2)::INT])) AS g FROM w),
          |cnt AS (SELECT g, count(distinct doc_id) AS nd FROM g GROUP BY 1),
          |per AS (SELECT doc_id, count(*) AS n_grams,
          |    sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup
          |  FROM g JOIN cnt USING (g) GROUP BY 1)
          |SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
          |  round(coalesce(n_dup, 0)::DOUBLE / greatest(coalesce(n_grams, 1), 1), 4) AS dup_frac
          |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,
      "d10_tfidf_topk" ->
        """WITH w AS (SELECT doc_id,
          |    unnest(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS term
          |  FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
          |df AS (SELECT term, count(distinct doc_id) AS df FROM w GROUP BY 1),
          |n AS (SELECT count(*) AS n FROM documents),
          |s AS (SELECT doc_id, term, (tf::DOUBLE * n) / df AS score
          |      FROM tf JOIN df USING (term) CROSS JOIN n),
          |r AS (SELECT doc_id, term, score,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM s)
          |SELECT doc_id, rnk, term, round(score, 4) AS tfidf
          |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
      // identical association/parenthesization as the Spark side — every
      // float op is exact-rounded, so scores are bit-identical (see d18 doc)
      "d18_bm25_topk" -> d18OracleSql,
      // d20 answers the SAME query through the persistent inverted index —
      // the index layer must be ranking-invisible, so the oracle is d18's
      "d20_inverted_index" -> d18OracleSql,
      // d21 grows the index incrementally (build even half, append odd) —
      // must rank exactly like the single-pass build
      "d21_index_append" -> d18OracleSql,
      // same formula, independently derived (sqrt on both sides; the
      // normalizing window runs over the |langs|-row grouped frame)
      "d25_mixture_weights" ->
        """SELECT lang, count(*) AS n_docs,
          |  round(sqrt(count(*)::DOUBLE) / sum(sqrt(count(*)::DOUBLE)) OVER (), 6) AS weight,
          |  round(sqrt(count(*)::DOUBLE) / sum(sqrt(count(*)::DOUBLE)) OVER ()
          |    * sum(count(*)) OVER ())::BIGINT AS target_docs
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
      // d32: d25's budget expression verbatim, then integer rank arithmetic
      "d32_mixture_sample" -> {
        import graft.text.TextOps
        s"""WITH t AS (SELECT lang, count(*)::BIGINT AS n_docs,
          |    round(sqrt(count(*)::DOUBLE) / sum(sqrt(count(*)::DOUBLE)) OVER ()
          |      * sum(count(*)) OVER ())::BIGINT AS target_docs
          |  FROM documents GROUP BY lang),
          |r AS (SELECT doc_id, lang,
          |    row_number() OVER (PARTITION BY lang ORDER BY
          |      ((doc_id % ${TextOps.P}) * ${TextOps.hashA(11)} +
          |        ${TextOps.hashB(11)}) % ${TextOps.P}, doc_id) AS rnk
          |  FROM documents)
          |SELECT r.doc_id, r.lang,
          |  (t.target_docs // t.n_docs +
          |   CASE WHEN r.rnk <= t.target_docs % t.n_docs THEN 1 ELSE 0 END)::BIGINT
          |    AS n_copies
          |FROM r JOIN t USING (lang) ORDER BY doc_id""".stripMargin
      },
      // d23's sketch+verify must equal the plain exact top-10
      "d23_heavy_hitters" ->
        """WITH w AS (SELECT unnest(list_filter(regexp_split_to_array(text, '\s+'),
          |    x -> x != '')) AS term FROM documents),
          |c AS (SELECT term, count(*) AS cnt FROM w GROUP BY 1)
          |SELECT rnk, term, cnt FROM (
          |  SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rnk FROM c)
          |WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
      "d19_chunking" ->
        """WITH c AS (SELECT doc_id, text, length(text) AS n FROM documents),
          |ch AS (SELECT doc_id, (i // 400)::INT AS chunk_idx,
          |    substr(text, (i + 1)::INT, 500) AS chunk
          |  FROM (SELECT doc_id, text, n, unnest(range(0, n, 400)) AS i FROM c))
          |SELECT doc_id, chunk_idx, length(chunk)::BIGINT AS chunk_len,
          |  sha256(chunk) AS chunk_sha
          |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
      "d11_dup_span_pairs" ->
        s"""WITH w AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS ws
          |  FROM documents),
          |p AS (SELECT doc_id, ws,
          |    unnest(range(1, greatest(length(ws) - ${D11SpanWords - 2}, 1))) AS i
          |  FROM w),
          |g AS (SELECT DISTINCT doc_id,
          |    array_to_string(list_slice(ws, i, i + ${D11SpanWords - 1}), ' ') AS g
          |  FROM p),
          |ok AS (SELECT g FROM (SELECT g, count(*) AS nd FROM g GROUP BY 1)
          |       WHERE nd BETWEEN 2 AND $D11DfCap),
          |gg AS (SELECT doc_id, g.g FROM g JOIN ok USING (g))
          |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
          |FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id < b.doc_id
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
      "d28_dup_span_removal" ->
        s"""WITH w AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS ws
          |  FROM documents),
          |p AS (SELECT doc_id, ws,
          |    unnest(range(1, greatest(length(ws) - ${D11SpanWords - 2}, 1))) AS i
          |  FROM w),
          |g AS (SELECT doc_id, i,
          |    array_to_string(list_slice(ws, i, i + ${D11SpanWords - 1}), ' ') AS g
          |  FROM p),
          |dup AS (SELECT g FROM (SELECT g, count(*) AS n FROM g GROUP BY 1)
          |        WHERE n >= 2),
          |iv AS (SELECT doc_id, i::BIGINT AS s, (i + ${D11SpanWords - 1})::BIGINT AS e
          |       FROM g JOIN dup USING (g)),
          |m AS (SELECT doc_id, s, e,
          |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          |    THEN 1 ELSE 0 END AS brk
          |  FROM iv),
          |isl AS (SELECT doc_id, s, e,
          |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          |  FROM m),
          |spans AS (SELECT doc_id, island, max(e) - min(s) + 1 AS span_words
          |          FROM isl GROUP BY 1, 2),
          |per AS (SELECT doc_id, count(*)::BIGINT AS n_islands,
          |               sum(span_words)::BIGINT AS dup_words
          |        FROM spans GROUP BY 1)
          |SELECT w.doc_id, length(ws)::BIGINT AS n_words,
          |  coalesce(per.dup_words, 0)::BIGINT AS dup_words,
          |  coalesce(per.n_islands, 0)::BIGINT AS n_islands
          |FROM w LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,
      "d3_quality_score" ->
        """SELECT doc_id,
          | round(least(n_chars / 1000.0, 1.0) * 0.5 +
          |   CASE WHEN lang = 'en' THEN 0.3 ELSE 0.1 END +
          |   CASE WHEN n_chars > 100 THEN 0.2 ELSE 0.0 END, 4) AS quality
          |FROM documents ORDER BY doc_id""".stripMargin,
      "d4_lang_distribution" ->
        """SELECT lang, count(*) AS num_docs, round(avg(n_chars), 2) AS avg_chars
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
      "s1_sessionize" ->
        """WITH g AS (
          |  SELECT user_id, ts, value,
          |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
          |         >= INTERVAL '1 hour' THEN 1 ELSE 0 END AS brk
          |  FROM events),
          |s AS (
          |  SELECT user_id, ts, value,
          |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
          |                   ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM g)
          |SELECT user_id, min(ts) AS session_start,
          |  max(ts) + INTERVAL '1 hour' AS session_end,
          |  count(*) AS num_events, round(sum(value), 2) AS total_value
          |FROM s GROUP BY user_id, sid
          |ORDER BY user_id, session_start""".stripMargin,
      "q17_correlated_subquery" ->
        """SELECT o.o_custkey, o.o_orderkey, round(o.o_totalprice, 2) AS totalprice
          |FROM orders o
          |WHERE o.o_totalprice > 1.5 * (SELECT round(avg(i.o_totalprice), 2)
          |                              FROM orders i
          |                              WHERE i.o_custkey = o.o_custkey)
          |ORDER BY o.o_custkey, o.o_orderkey""".stripMargin,
      "q18_pivot" ->
        """SELECT o_orderpriority,
          | round(sum(CASE WHEN year(o_orderdate) = 1995 THEN o_totalprice END), 2) AS y1995,
          | round(sum(CASE WHEN year(o_orderdate) = 1996 THEN o_totalprice END), 2) AS y1996,
          | round(sum(CASE WHEN year(o_orderdate) = 1997 THEN o_totalprice END), 2) AS y1997,
          | round(sum(CASE WHEN year(o_orderdate) = 1998 THEN o_totalprice END), 2) AS y1998
          |FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1998
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      "q19_cube" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          | coalesce(l_linestatus, 'ALL') AS ls,
          | GROUPING(l_returnflag, l_linestatus) AS gid,
          | count(*) AS n,
          | round(sum(l_extendedprice::DECIMAL(30,6))::DOUBLE, 2) AS rev
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY gid, rf, ls""".stripMargin,
      "q20_bag_set_ops" ->
        """SELECT o_custkey FROM orders
          |WHERE year(o_orderdate) = 1995
          |EXCEPT ALL
          |SELECT o_custkey FROM orders
          |WHERE year(o_orderdate) = 1995 AND o_orderpriority = '1-URGENT'
          |ORDER BY o_custkey""".stripMargin,
      "q21_lateral_join" ->
        """SELECT n.n_name, c.c_custkey, round(c.c_acctbal, 2) AS acctbal
          |FROM nation n,
          |LATERAL (SELECT c_custkey, c_acctbal FROM customer
          |         WHERE c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
          |ORDER BY n.n_name, acctbal DESC, c.c_custkey""".stripMargin,
      "q22_keep_latest" ->
        """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type,
          | round(value, 2) AS value
          |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
          |WHERE rn = 1 ORDER BY user_id""".stripMargin,
      "q23_range_window" ->
        """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
          |  count(*) OVER w AS n_10m,
          |  round(sum(value) OVER w, 2) AS sum_10m
          |FROM events
          |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
          |             RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, ts_ms, event_id""".stripMargin,
      "q26_funnel" ->
        """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ts_ms
          |  FROM events WHERE event_type IN ('click', 'purchase')),
          |m AS (SELECT user_id, event_type, ts_ms,
          |    max(CASE WHEN event_type = 'click' THEN ts_ms END) OVER (
          |      PARTITION BY user_id ORDER BY ts_ms
          |      RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW) AS last_click
          |  FROM e)
          |SELECT user_id, count(*) AS n_purchases,
          |  sum(CASE WHEN last_click IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_converted,
          |  round(avg(ts_ms - last_click), 1) AS avg_delay_ms
          |FROM m WHERE event_type = 'purchase'
          |GROUP BY 1 ORDER BY user_id""".stripMargin,
      "q25_linreg" ->
        """WITH m AS (
          |  SELECT l_partkey % 3 AS grp, count(*)::DOUBLE AS n,
          |    sum(l_quantity::DOUBLE) AS sx, sum(l_extendedprice::DOUBLE) AS sy,
          |    sum(l_quantity::DOUBLE * l_quantity::DOUBLE) AS sxx,
          |    sum(l_extendedprice::DOUBLE * l_extendedprice::DOUBLE) AS syy,
          |    sum(l_quantity::DOUBLE * l_extendedprice::DOUBLE) AS sxy
          |  FROM lineitem GROUP BY 1)
          |SELECT grp, n::BIGINT AS n_rows,
          |  round((sxy - sx*sy/n) / (sxx - sx*sx/n), 6) AS slope,
          |  round((sy - ((sxy - sx*sy/n) / (sxx - sx*sx/n)) * sx) / n, 4) AS intercept,
          |  round((sxy - sx*sy/n) / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)), 6) AS pearson_r
          |FROM m ORDER BY grp""".stripMargin,
      "q24_profile" -> {
        def one(c: String) =
          s"""SELECT '$c' AS col_name, count($c) AS n,
             |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
             |  round(min($c), 4) AS min_v, round(max($c), 4) AS max_v,
             |  round(avg($c), 4) AS avg_v,
             |  count(DISTINCT $c) AS n_distinct
             |FROM lineitem""".stripMargin
        Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
          .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      },
      "c4_quality_ntile" ->
        """WITH q AS (
          |  SELECT doc_id, lang,
          |    round(least(n_chars / 1000.0, 1.0) * 0.5 +
          |      CASE WHEN lang = 'en' THEN 0.3 ELSE 0.1 END +
          |      CASE WHEN n_chars > 100 THEN 0.2 ELSE 0.0 END, 4) AS quality
          |  FROM documents),
          |b AS (
          |  SELECT lang, quality,
          |    ntile(10) OVER (PARTITION BY lang
          |                    ORDER BY quality DESC, doc_id) AS decile
          |  FROM q)
          |SELECT lang, decile, count(*) AS n_docs,
          |  ((2 * sum(CAST(round(quality * 10000) AS BIGINT))::BIGINT + count(*))
          |     // (2 * count(*))) / 10000.0 AS avg_q,
          |  round(min(quality), 4) AS min_q
          |FROM b WHERE decile <= 2
          |GROUP BY lang, decile ORDER BY lang, decile""".stripMargin,
      // sum(BIGINT) is HUGEINT in DuckDB -> ::BIGINT (the t5 lesson)
      "c5_hash_split" ->
        """WITH s AS (SELECT lang,
          |  CASE WHEN ((doc_id % 1000000007) * 2654435761 + 40503) % 1000 < 800 THEN 'train'
          |       WHEN ((doc_id % 1000000007) * 2654435761 + 40503) % 1000 < 900 THEN 'val'
          |       ELSE 'test' END AS split, doc_id FROM documents)
          |SELECT lang, split, count(*) AS n_docs, sum(doc_id)::BIGINT AS id_sum
          |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin,
      "s3_stream_windowed" ->
        """SELECT date_trunc('hour', ts) AS window_start,
          | date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
          | event_type, count(*) AS num_events, round(sum(value), 2) AS total_value
          |FROM events GROUP BY 1, 2, 3
          |ORDER BY window_start, event_type""".stripMargin,
      "s10_stream_attribution" ->
        """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
          |FROM events v JOIN events p ON v.user_id = p.user_id
          | AND v.event_type = 'view' AND p.event_type = 'purchase'
          | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
          |ORDER BY view_id, purchase_id""".stripMargin,
      "s12_stream_sessions" ->
        """WITH g AS (SELECT user_id, ts, value,
          |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
          |         >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
          |  FROM events),
          |s AS (SELECT user_id, ts, value,
          |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM g),
          |sess AS (SELECT user_id, min(ts) AS session_start,
          |    max(ts) + INTERVAL 30 MINUTE AS session_end,
          |    count(*) AS num_events, round(sum(value), 2) AS total_value
          |  FROM s GROUP BY user_id, sid),
          |mx AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
          |SELECT user_id, session_start, session_end, num_events, total_value
          |FROM sess, mx WHERE session_end <= wm
          |ORDER BY user_id, session_start""".stripMargin,
      "s11_stream_outer_attribution" ->
        """WITH v AS (SELECT event_id AS view_id, ts AS view_ts, user_id
          |  FROM events WHERE event_type = 'view'),
          |p AS (SELECT event_id AS purchase_id, ts AS purchase_ts, user_id
          |  FROM events WHERE event_type = 'purchase'),
          |m AS (SELECT v.view_id, p.purchase_id, v.user_id
          |  FROM v JOIN p ON v.user_id = p.user_id
          |   AND p.purchase_ts >= v.view_ts
          |   AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE),
          |mx AS (SELECT least((SELECT max(ts) FROM events WHERE event_type = 'view'),
          |                    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
          |         - INTERVAL 1 HOUR AS wm)
          |SELECT view_id, purchase_id, user_id FROM m
          |UNION ALL
          |SELECT v.view_id, -1 AS purchase_id, v.user_id FROM v, mx
          |WHERE v.view_id NOT IN (SELECT view_id FROM m)
          |  AND v.view_ts + INTERVAL 30 MINUTE < mx.wm
          |ORDER BY view_id, purchase_id""".stripMargin,
      // s14 = s11's derivation with the purchase-side outer rows added;
      // the right-side eviction cutoff is purchase_ts < wm (strict, like
      // s11's view-side cutoff — WatermarkBoundarySpec pins the class)
      "s14_stream_full_outer" ->
        """WITH v AS (SELECT event_id AS view_id, ts AS view_ts, user_id
          |  FROM events WHERE event_type = 'view'),
          |p AS (SELECT event_id AS purchase_id, ts AS purchase_ts, user_id
          |  FROM events WHERE event_type = 'purchase'),
          |m AS (SELECT v.view_id, p.purchase_id, v.user_id
          |  FROM v JOIN p ON v.user_id = p.user_id
          |   AND p.purchase_ts >= v.view_ts
          |   AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE),
          |mx AS (SELECT least((SELECT max(ts) FROM events WHERE event_type = 'view'),
          |                    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
          |         - INTERVAL 1 HOUR AS wm)
          |SELECT view_id, purchase_id, user_id FROM (
          |  SELECT view_id, purchase_id, user_id FROM m
          |  UNION ALL
          |  SELECT v.view_id, -1 AS purchase_id, v.user_id FROM v, mx
          |  WHERE v.view_id NOT IN (SELECT view_id FROM m)
          |    AND v.view_ts + INTERVAL 30 MINUTE < mx.wm
          |  UNION ALL
          |  SELECT -1 AS view_id, p.purchase_id, p.user_id FROM p, mx
          |  WHERE p.purchase_id NOT IN (SELECT purchase_id FROM m)
          |    AND p.purchase_ts < mx.wm)
          |ORDER BY view_id, purchase_id, user_id""".stripMargin,
      "s13_running_stats" ->
        """SELECT user_id, count(*) AS n_events,
          |  round(sum(value), 2) AS total_value,
          |  round(max(value), 2) AS max_value
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      "s7_stream_static_join" ->
        """SELECT n_name, count(*) AS n_events, round(sum(value), 2) AS sum_value
          |FROM events e
          |JOIN customer c ON e.user_id = c.c_custkey
          |JOIN nation n ON c.c_nationkey = n.n_nationkey
          |GROUP BY 1 ORDER BY n_name""".stripMargin,
      "d13_pii_redact" ->
        """WITH s AS (
          |  SELECT doc_id,
          |    concat(text, ' contact user', doc_id, '@example.com via 10.',
          |      doc_id % 256, '.0.', doc_id % 100,
          |      ' or 555-', lpad((doc_id % 10000)::VARCHAR, 4, '0')) AS t
          |  FROM documents),
          |r AS (
          |  SELECT doc_id, t,
          |    regexp_replace(regexp_replace(regexp_replace(t,
          |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
          |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
          |      '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS red
          |  FROM s)
          |SELECT doc_id,
          |  len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
          |  len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ips,
          |  len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS n_phones,
          |  md5(red) AS red_md5, length(red) AS red_len
          |FROM r ORDER BY doc_id""".stripMargin,
      "s4_stream_dedup" ->
        """SELECT DISTINCT sha256(text) AS text_sha FROM documents
          |ORDER BY text_sha""".stripMargin,
      // d14 packs on the ITERATIVELY trained BPE counts (round 10) — the
      // naive single-reducer window stated here is the oracle-side
      // contrast to the gate's two-phase parallel prefix sum
      "d14_shard_packing" ->
        s"""WITH ${graft.text.Bpe.iterativeOracleCtesSql},
          |per AS (SELECT doc_id, sum(nt) AS n_tokens
          |  FROM wocc JOIN wtok USING (w) GROUP BY doc_id),
          |tk AS (SELECT d.doc_id, coalesce(per.n_tokens, 0)::BIGINT AS n_tokens
          |  FROM documents d LEFT JOIN per USING (doc_id)),
          |c AS (
          |  SELECT doc_id, n_tokens,
          |    (sum(n_tokens) OVER (ORDER BY doc_id
          |       ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens
          |  FROM tk)
          |SELECT doc_id, n_tokens, cum_tokens,
          |  ((cum_tokens - n_tokens) // 50000)::BIGINT AS shard
          |FROM c ORDER BY doc_id""".stripMargin,
      "d35_bpe_tokens" ->
        s"""WITH ${graft.text.Bpe.oracleCtesSql},
          |per AS (SELECT doc_id, count(*) AS nw, sum(nt) AS ntk
          |  FROM wocc JOIN wtok USING (w) GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(per.nw, 0)::BIGINT AS n_words,
          |  coalesce(per.ntk, 0)::BIGINT AS n_tokens
          |FROM documents d LEFT JOIN per USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,
      // d37: the same per-doc counting under the CANONICAL iterative
      // trainer — the oracle re-runs every train+apply round relationally
      "d37_bpe_iterative" ->
        s"""WITH ${graft.text.Bpe.iterativeOracleCtesSql},
          |per AS (SELECT doc_id, count(*) AS nw, sum(nt) AS ntk
          |  FROM wocc JOIN wtok USING (w) GROUP BY doc_id)
          |SELECT d.doc_id, coalesce(per.nw, 0)::BIGINT AS n_words,
          |  coalesce(per.ntk, 0)::BIGINT AS n_tokens
          |FROM documents d LEFT JOIN per USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,
      // d36: one survivor (lexicographically first occurrence) per
      // duplicated window; removal = interval UNION of the rest; retained
      // text re-assembled position-by-position and sha-pinned
      "d36_dedup_corpus" ->
        s"""WITH w AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS ws
          |  FROM documents),
          |p AS (SELECT doc_id, ws,
          |    unnest(range(1, greatest(length(ws) - ${D11SpanWords - 2}, 1))) AS i
          |  FROM w),
          |g AS (SELECT doc_id, i,
          |    array_to_string(list_slice(ws, i, i + ${D11SpanWords - 1}), ' ') AS g
          |  FROM p),
          |occ AS (SELECT doc_id, i::BIGINT AS s,
          |    (i + ${D11SpanWords - 1})::BIGINT AS e,
          |    count(*) OVER (PARTITION BY g) AS n,
          |    row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
          |  FROM g),
          |rem AS (SELECT doc_id, s, e FROM occ WHERE n >= 2 AND rn > 1),
          |m AS (SELECT doc_id, s, e,
          |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
          |    THEN 1 ELSE 0 END AS brk
          |  FROM rem),
          |isl AS (SELECT doc_id, s, e,
          |    sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          |  FROM m),
          |cov AS (SELECT doc_id, min(s) AS ms, max(e) AS me
          |        FROM isl GROUP BY doc_id, island),
          |pos AS (SELECT doc_id, unnest(range(1, length(ws) + 1)) AS q FROM w),
          |dropd AS (SELECT DISTINCT pos.doc_id, q FROM pos
          |  JOIN cov ON cov.doc_id = pos.doc_id AND q BETWEEN ms AND me),
          |keptp AS (SELECT pos.doc_id, q FROM pos ANTI JOIN dropd USING (doc_id, q)),
          |txt AS (SELECT k.doc_id, count(*) AS kw,
          |    string_agg(ws[q::INT], ' ' ORDER BY q) AS rt
          |  FROM keptp k JOIN w USING (doc_id) GROUP BY k.doc_id)
          |SELECT w.doc_id, length(ws)::BIGINT AS n_words,
          |  coalesce(txt.kw, 0)::BIGINT AS kept_words,
          |  length(coalesce(txt.rt, ''))::BIGINT AS retained_len,
          |  sha256(coalesce(txt.rt, '')) AS retained_sha
          |FROM w LEFT JOIN txt USING (doc_id) ORDER BY w.doc_id""".stripMargin,
      "d16_gopher_rules" ->
        """WITH m AS (
          |  SELECT doc_id,
          |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws,
          |    length(text) - length(regexp_replace(text, '[#*]', '', 'g')) AS n_sym
          |  FROM documents),
          |r AS (
          |  SELECT doc_id,
          |    round(coalesce(list_sum(list_transform(ws, x -> length(x))), 0)::DOUBLE
          |      / greatest(length(ws), 1), 4) AS mean_word_len,
          |    round(length(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE
          |      / greatest(length(ws), 1), 4) AS frac_alpha_words,
          |    round(n_sym::DOUBLE / greatest(length(ws), 1), 4) AS symbol_ratio
          |  FROM m)
          |SELECT doc_id, mean_word_len, frac_alpha_words, symbol_ratio,
          |  (mean_word_len BETWEEN 3.0 AND 10.0)
          |    AND frac_alpha_words > 0.8 AND symbol_ratio < 0.1 AS passes
          |FROM r ORDER BY doc_id""".stripMargin,
      "d15_lm_quality" ->
        """WITH w AS (
          |  SELECT doc_id,
          |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
          |  FROM documents),
          |p AS (SELECT doc_id, ws,
          |    unnest(range(1, greatest(length(ws), 1))) AS i
          |  FROM w),
          |g AS (SELECT doc_id,
          |    array_to_string(list_slice(ws, i, i + 1), ' ') AS g
          |  FROM p),
          |cnt AS (SELECT g, string_split(g, ' ')[1] AS w1, count(*) AS cg
          |  FROM g GROUP BY 1, 2),
          |cw AS (SELECT w1, sum(cg) AS cw FROM cnt GROUP BY 1),
          |lm AS (SELECT cnt.g AS g, ln(cg) - ln(cw) AS ll
          |  FROM cnt JOIN cw USING (w1)),
          |per AS (SELECT doc_id, count(*) AS n_bigrams,
          |    round(avg(ll), 4) AS avg_ll
          |  FROM g JOIN lm USING (g) GROUP BY 1)
          |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams, avg_ll
          |FROM documents d LEFT JOIN per USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,
      "s2_windowed_stats" ->
        """WITH w AS (
          |  SELECT event_type, value,
          |    date_trunc('hour', ts) - to_hours(k) AS window_start
          |  FROM events, range(0, 2) t(k))
          |SELECT window_start, window_start + INTERVAL 2 HOUR AS window_end,
          |  event_type, count(*) AS num_events, round(sum(value), 2) AS total_value
          |FROM w GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin,
      "e1_knn_brute_force" -> e1OracleSql
    )
  }

  /** e1's oracle, shared with e13's recall derivation (the exact side).
    * LAZY: referenced from the `oracles` val above — an eager val here
    * would still be null at the map's initialization. */
  private[graft] lazy val e1OracleSql: String =
    """SELECT query_id, rnk, neighbor_id, round(cos, 4) AS cos_sim FROM (
      |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC, e.vec_id) AS rnk
      |  FROM embeddings q JOIN embeddings e ON q.vec_id != e.vec_id
      |  WHERE q.vec_id < 10)
      |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> q1PricingSummary,
    "q2_nation_orders" -> q2NationOrders,
    "q3_top_orders" -> q3TopOrders,
    "q4_order_priority" -> q4OrderPriority,
    "q5_top_customers_per_nation" -> q5TopCustomersPerNation,
    "q6_events_daily" -> q6EventsDaily,
    "q7_customers_without_orders" -> q7CustomersWithoutOrders,
    "q8_region_revenue" -> q8RegionRevenue,
    "q9_percentiles" -> q9Percentiles,
    "q10_rollup" -> q10Rollup,
    "h1_cell_ops" -> h1CellOps,
    "h2_parent_rollup" -> h2ParentRollup,
    "h3_resolution_pyramid" -> h3ResolutionPyramid,
    "h4_parent_prune" -> h4ParentPrune,
    "s1_sessionize" -> s1Sessionize,
    "s2_windowed_stats" -> s2WindowedStats,
    "d1_exact_dedup" -> d1ExactDedup,
    "d22_normalized_dedup" -> d22NormalizedDedup,
    "d2_token_stats" -> d2TokenStats,
    "d5_token_regex" -> d5TokenRegex,
    "d6_stopword_ratio" -> d6StopwordRatio,
    "d7_repetition_ratio" -> d7RepetitionRatio,
    "d8_stratified_sample" -> d8StratifiedSample,
    "d34_weighted_sample" -> d34WeightedSample,
    "d9_dup_ngram_frac" -> d9DupNgramFrac,
    "d10_tfidf_topk" -> d10TfidfTopk,
    "d18_bm25_topk" -> d18Bm25Topk,
    "d19_chunking" -> d19Chunking,
    "d20_inverted_index" -> d20InvertedIndex,
    "d21_index_append" -> d21IndexAppend,
    "d23_heavy_hitters" -> d23HeavyHitters,
    "d11_dup_span_pairs" -> d11DupSpanPairs,
    "d28_dup_span_removal" -> d28DupSpanRemoval,
    "d12_vocab_stats" -> d12VocabStats,
    "q11_asof_join" -> q11AsofJoin,
    "q12_range_join" -> q12RangeJoin,
    "q13_salted_join" -> q13SaltedJoin,
    "q28_aqe_skew_join" -> q28AqeSkewJoin,
    "q29_aqe_replan" -> q29AqeReplan,
    "q14_json_props" -> q14JsonProps,
    "q15_running_window" -> q15RunningWindow,
    "q16_set_ops" -> q16SetOps,
    "q17_correlated_subquery" -> q17CorrelatedSubquery,
    "q18_pivot" -> q18Pivot,
    "q19_cube" -> q19Cube,
    "q20_bag_set_ops" -> q20BagSetOps,
    "q21_lateral_join" -> q21LateralJoin,
    "s3_stream_windowed" -> s3StreamWindowed,
    "s10_stream_attribution" -> s10StreamAttribution,
    "s11_stream_outer_attribution" -> s11StreamOuterAttribution,
    "s14_stream_full_outer" -> s14StreamFullOuterAttribution,
    "s12_stream_sessions" -> s12StreamSessions,
    "s13_running_stats" -> s13RunningStats,
    "s7_stream_static_join" -> s7StreamStaticJoin,
    "s4_stream_dedup" -> s4StreamDedup,
    "d13_pii_redact" -> d13PiiRedact,
    "d14_shard_packing" -> d14ShardPacking,
    "d35_bpe_tokens" -> d35BpeTokens,
    "d37_bpe_iterative" -> d37BpeIterative,
    "d36_dedup_corpus" -> d36DedupCorpus,
    "d15_lm_quality" -> d15LmQuality,
    "d16_gopher_rules" -> d16GopherRules,
    "d3_quality_score" -> d3QualityScore,
    "d4_lang_distribution" -> d4LangDistribution,
    "d25_mixture_weights" -> d25MixtureWeights,
    "d32_mixture_sample" -> d32MixtureSample,
    "e1_knn_brute_force" -> e1KnnBruteForce,
    "q22_keep_latest" -> q22KeepLatest,
    "q23_range_window" -> q23RangeWindow,
    "q24_profile" -> q24Profile,
    "q25_linreg" -> q25LinReg,
    "q26_funnel" -> q26Funnel,
    "c4_quality_ntile" -> c4QualityNtile,
    "c5_hash_split" -> c5HashSplit
  )
}
