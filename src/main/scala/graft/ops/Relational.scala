package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational surface over the TPC-H-style testdata (SURVEY §2.7: the
  * reference has no joins — Kafka keying by business_id is its co-partition
  * structure — so the engine's join/agg/window surface is pure Catalyst,
  * exercised here and graded by BASELINE.json's north star).
  *
  * Scale notes (100 TB):
  *  - q1Pricing: scan + partial/final hash agg on 2 low-cardinality keys;
  *    the shipdate filter and 7-column projection push into the parquet scan.
  *  - q3Shipping: customer is the small side -> Catalyst broadcasts it under
  *    the 10 MB threshold; orders⋈lineitem shuffles on the join key (both
  *    sides huge at scale). AQE handles skew.
  *  - topOrdersPerCustomer: one shuffle on o_custkey, streaming window rank,
  *    filter rank<=3 — no global sort.
  *  - regionRevenue: supplier/nation/region are dimension tables ->
  *    broadcast-hash joins all the way down; one shuffle for the final agg.
  *  - eventPropsAgg: JSON path extraction (get_json_object) + hash agg.
  * Averages/double sums are rounded so parallel summation order cannot leak
  * into compared output.
  */
object Relational {

  /** Order-independent exact aggregate of a fixed-point-valued double
    * expression: each row is quantized to `scale` units
    * (floor(x*scale+0.5) — the per-row double is bit-identical in both
    * engines, so the quantized integer is too), summed EXACTLY as
    * decimal(38,0) with normal map-side partial aggregation, and divided
    * back once.
    *
    * Why not sum(double): double summation is order-dependent, and the
    * flake is real — at sf1 the DuckDB oracle's own 16-thread sum for
    * q_region_revenue's 188k-item (AFRICA, 1996) group flapped across a
    * 2dp rounding boundary RUN-TO-RUN, failing the exact compare against
    * a fixed Spark result. Fixed-point money sums are the replayable
    * policy a production ledger uses anyway. Quantized per-group sums at
    * every tested scale stay far below 2^53, so each int<->double hop is
    * exact in both engines.
    */
  def qsum(c: Column, scale: Double): Column =
    sum(floor(c * lit(scale) + lit(0.5))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
      .cast("double") / lit(scale)

  /** TPC-H Q1-style pricing summary (cents-exact sums, see [[qsum]]). */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charge = disc * (lit(1) + col("l_tax"))
    // fanOut (r12): 7 exact decimal(38,0) partial sums per row are
    // per-row-heavy work, and the single-file test layout serialized the
    // whole partial aggregation through one scan task
    Par.fanOut(Tables.load(spark, dir, "lineitem"), key = "l_orderkey")
      .filter(col("l_shipdate") <= lit("2001-06-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(qsum(col("l_quantity"), 1), 2).as("sum_qty"),
        round(qsum(col("l_extendedprice"), 100), 2).as("sum_base_price"),
        round(qsum(disc, 100), 2).as("sum_disc_price"),
        round(qsum(charge, 100), 2).as("sum_charge"),
        round(qsum(col("l_quantity"), 1) / count(lit(1)), 2).as("avg_qty"),
        round(qsum(col("l_extendedprice"), 100) / count(lit(1)), 2)
          .as("avg_price"),
        round(qsum(col("l_discount"), 10000) / count(lit(1)), 4)
          .as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3-style: top-10 BUILDING-segment orders by revenue. */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    val orders = Tables.load(spark, dir, "orders")
    val lineitem = Tables.load(spark, dir, "lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(qsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
        100), 2).as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** Window function: top-3 orders per customer by totalprice
    * (deterministic tiebreak on orderkey).
    */
  def topOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.load(spark, dir, "orders")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rnk"))
      .orderBy("o_custkey", "rnk")
  }

  /** Star-join through the dimension chain supplier->nation->region
    * (all broadcast), revenue per region per order year.
    */
  def regionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.load(spark, dir, "lineitem")
    val orders = Tables.load(spark, dir, "orders")
    val supplier = broadcast(Tables.load(spark, dir, "supplier"))
    val nation = broadcast(Tables.load(spark, dir, "nation"))
    val region = broadcast(Tables.load(spark, dir, "region"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(nation, col("s_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("yr"))
      .agg(
        round(qsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          100), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "yr")
  }

  /** ROLLUP over the Q1 grouping — multi-level aggregates in one pass
    * (Catalyst expands grouping sets; one shuffle). Null grouping levels
    * are made oracle-comparable via grouping_id.
    */
  def pricingRollup(spark: SparkSession, dir: String): DataFrame =
    // fanOut (r12): same rationale as q1Pricing — rollup Expands 3× the
    // row stream into decimal partial sums, all previously on one task
    Par.fanOut(Tables.load(spark, dir, "lineitem"), key = "l_orderkey")
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().cast("int").as("gid"),
        round(qsum(col("l_quantity"), 1), 2).as("sum_qty"),
        round(qsum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          100), 2).as("sum_disc_price"),
        count(lit(1)).as("n"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /** Set operations over the events stream: users seen in clicks but never
    * in purchases (EXCEPT), plus the distinct union cardinality check cols.
    */
  def clickNoPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click").select("user_id")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("user_id")
    clicks.except(purchases).orderBy("user_id")
  }

  /** INTERSECT: users who both clicked and purchased. */
  def clickAndPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.filter(col("event_type") === "click").select("user_id")
      .intersect(ev.filter(col("event_type") === "purchase").select("user_id"))
      .orderBy("user_id")
  }

  /** Exact percentiles + distinct counts per group (portable: both engines
    * compute exact linear-interpolated quantiles over the sorted values;
    * approx_percentile/HLL sketches are deliberately not oracle-paired).
    *
    * Shape: the exploded (flag, kind, value) stream collapses on arrival
    * into the value-level histogram vHist = groupBy(flag, kind, vd)
    * count — the only corpus-sized exchange, partial-aggregated, its
    * rows bounded by distinct (flag, kind, value) triples. Spark's native
    * `percentile(vd, pcts, cnt)` then runs per (flag, kind) over
    * histogram rows only: its buffer is a value -> multiplicity map, so
    * it never sees raw rows (the r9 regression was `percentile()` over
    * raw rows, one reducer per flag). `Percentile.getPercentile` is the
    * interpolation DuckDB's quantile_cont oracle uses — position =
    * pct·(n−1), (hi−pos)·v_lo + (pos−lo)·v_hi — so the output is exact.
    *
    * A 100 TB consumer with values NOT drawn from a bounded domain
    * should use the sketch tier: [[graft.ops.Sketches.approxPercentiles]]
    * (rank error ≤ n/PctAccuracy, pinned in SketchesSpec) and
    * [[graft.ops.Sketches.approxDistinct]] (HLL).
    */
  def priceStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Par.fanOut(Tables.load(spark, dir, "lineitem")
      .select("l_returnflag", "l_extendedprice", "l_quantity",
        "l_partkey", "l_suppkey"), key = "l_extendedprice")

    // independent subtree: per-flag counts + exact distinct keys (the
    // count_distinct Expand scan), joined only at the end
    val keyStats = li.groupBy("l_returnflag")
      .agg(count(col("l_extendedprice")).as("n_p"),
        count(col("l_quantity")).as("n_q"),
        count_distinct(col("l_partkey")).as("n_parts_c"),
        count_distinct(col("l_suppkey")).as("n_supps_c"))

    val vHist = li.select(col("l_returnflag"), explode(array(
        struct(lit("p").as("kind"), col("l_extendedprice").as("vd")),
        struct(lit("q").as("kind"), col("l_quantity").as("vd")))).as("e"))
      .select(col("l_returnflag"), col("e.kind").as("kind"),
        col("e.vd").as("vd"))
      .filter(col("vd").isNotNull)
      .groupBy("l_returnflag", "kind", "vd")
      .agg(count(lit(1)).as("cnt"))

    def pct(kind: String, i: Int): Column =
      round(max(when(col("kind") === kind, col("pct")(i))), 2)
    val picks = vHist.groupBy("l_returnflag", "kind")
      .agg(percentile(col("vd"), array(lit(0.5), lit(0.95)), col("cnt"))
        .as("pct"))
      .groupBy("l_returnflag")
      .agg(pct("p", 0).as("p50_price"), pct("p", 1).as("p95_price"),
        pct("q", 0).as("p50_qty"))

    // flags appear iff they carried >= 1 non-null statistic row (the r9
    // hist-row condition); zero distinct keys read back as NULL exactly
    // like the r9 "no pk/sk hist row" case
    keyStats
      .filter(col("n_p") > 0 || col("n_q") > 0 ||
        col("n_parts_c") > 0 || col("n_supps_c") > 0)
      .join(picks, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("p50_price"), col("p95_price"),
        col("p50_qty"),
        when(col("n_parts_c") > 0, col("n_parts_c")).as("n_parts"),
        when(col("n_supps_c") > 0, col("n_supps_c")).as("n_supps"))
      .orderBy("l_returnflag")
  }

  /** As-of join over the events stream: each click matched to the user's
    * most recent prior (or simultaneous) purchase. Right side is deduped to
    * unique (user_id, ts) so the as-of pick is deterministic in both
    * engines (DuckDB's native ASOF JOIN is the oracle).
    */
  def clickLastPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(round(max(col("value")), 2).as("purchase_value"))
    AsOfJoin.asOf(clicks, purchases, key = "user_id", ts = "ts",
        payload = Seq("purchase_value"))
      .select("event_id", "user_id", "ts", "purchase_value")
      .orderBy("event_id")
  }

  /** Semi-structured projection: extract `$.k` from the JSON props column
    * and aggregate per event_type (S1-adjacent: permissive JSON handling).
    */
  def eventPropsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).cast("long").as("sum_k"),
        round(avg(col("k")), 2).as("avg_k"),
        // micro-unit-exact metric sum (order-independent; see qsum)
        round(qsum(col("value"), 1000000), 2).as("sum_value"))
      .orderBy("event_type")

  /** Interval (range) join without a BNLJ: events attributed to promo
    * windows `[hour+30min, hour+75min)` — intervals that CROSS the bucket
    * grid, so the equi-key is not a trivial hour match.
    *
    * Scale shape: a pure range predicate gives Catalyst nothing to hash
    * on → BroadcastNestedLoopJoin, O(|events| · |windows|) comparisons.
    * Instead each interval is expanded map-side into the 30-min buckets
    * it covers (bounded: ceil(45/30)+1 = 2 rows/window via `sequence`),
    * the join runs as a broadcast HASH join on the bucket key, and the
    * exact `[start, end)` check rides along as the residual condition —
    * the standard banded-interval-join rewrite. The window side derives
    * from a distinct-hour agg: bounded by hours in the corpus (~9k/year),
    * always broadcastable no matter how large events grows.
    */
  def promoAttrib(spark: SparkSession, dir: String): DataFrame =
    promoAttribOf(Tables.events(spark, dir))

  /** Click→purchase conversion funnel: per user, how many clicks see a
    * purchase within the next hour. The FORWARD-looking sibling of the
    * as-of join (q_asof_purchase carries the last purchase BEFORE each
    * click): next-purchase attribution is the standard funnel/conversion
    * query.
    *
    * Scale shape: same union-and-window trick as [[AsOfJoin]] — clicks
    * and purchases merge into one keyed stream, a single user_id
    * exchange, and the "next purchase strictly after this click" is a
    * running min over the DESC-time scan (ties order clicks first, so an
    * equal-timestamp purchase never converts its own click). No range
    * join, no per-click probe.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(Tables.events(spark, dir))

  def funnelOf(ev: DataFrame): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(0).as("_kind"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(null).cast("long").as("event_id"),
        lit(1).as("_kind"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("_kind").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    clicks.unionAll(purchases)
      .withColumn("_np",
        min(when(col("_kind") === 1, col("ts"))).over(w))
      .filter(col("_kind") === 0)
      .withColumn("_conv",
        when(col("_np") <= col("ts") + expr("INTERVAL 1 HOUR"), 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_clicks"), sum(col("_conv")).as("n_converted"))
      .withColumn("conversion_rate",
        round(col("n_converted") / col("n_clicks"), 6))
      .orderBy("user_id")
  }

  def promoAttribOf(ev: DataFrame): DataFrame = {
    val bucketUs = 1800000000L // 30 min
    val windows = ev
      .select(date_trunc("hour", col("ts")).as("h")).distinct()
      .select(
        expr("unix_micros(h) div 3600000000").as("promo_id"),
        (col("h") + expr("INTERVAL 30 MINUTES")).as("w_start"),
        (col("h") + expr("INTERVAL 75 MINUTES")).as("w_end"))
    val buckets = windows.withColumn("bucket",
      explode(sequence(
        expr(s"unix_micros(w_start) div $bucketUs"),
        expr(s"(unix_micros(w_end) - 1) div $bucketUs"))))
    ev.withColumn("ebucket", expr(s"unix_micros(ts) div $bucketUs"))
      .join(broadcast(buckets),
        col("ebucket") === col("bucket") &&
          col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy("promo_id")
      .agg(
        count(lit(1)).as("n_events"),
        round(qsum(col("value"), 1000000), 2).as("sum_value"))
      .orderBy("promo_id")
  }

  /** Trailing-hour rolling spend per user: every purchase annotated with
    * the count and value sum of the user's purchases in the preceding
    * hour INCLUSIVE — the time-RANGE window frame (peers share a frame;
    * the frame edge is an interval, not a row count) that row-based
    * windows cannot express. Frame sums are quantized-long (the
    * [[qsum]] policy) so the result is summation-order-independent and
    * oracle-hash-exact.
    *
    * Scale shape: one user_id exchange; frames are per-user and bounded
    * by an hour of that user's activity, so window state is small and
    * groups parallelize across users (contrast [[graft.ops.Ccnet]],
    * where ONE key could own the corpus and the rank had to be
    * distributed).
    */
  def rollingSpend(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("_us"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("_q"))
    val w = Window.partitionBy("user_id").orderBy(col("_us"))
      .rangeBetween(-3600L * 1000000L, 0L)
    p.select(col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).as("n_1h"),
        (sum(col("_q")).over(w) / lit(100.0)).as("spend_1h"))
      .orderBy("event_id")
  }
}
