package graft.ops

import graft.Tables
import graft.Tables.dsum
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType}

/** SURVEY §2B standard relational closure #25-#42 — the join/agg/window
  * surface the reference exercises only degenerately (its joins are
  * hash-map lookups, e.g. files.get(chunk.getFilename())
  * controller/FileTable.java:85), declared explicitly so the engine is a
  * real analytics surface.
  *
  * Scale notes: dimension joins broadcast (region/nation/supplier are
  * bounded); fact-fact joins shuffle on their equi keys and AQE may
  * downgrade to broadcast at runtime; the range join (#29) carries an
  * equi key (user_id) so it plans as a sort-merge/hash join with a
  * residual range predicate — never BroadcastNestedLoopJoin.
  */
object Relational {

  private def dec(c: String) = col(c).cast(DecimalType(18, 2))

  /** Exact-decimal discounted line revenue — the one expression every
    * money aggregate here must share so a precision change lands once
    * (mirror in each oracle: CAST(l_extendedprice AS DECIMAL(18,2)) *
    * (1 - CAST(l_discount AS DECIMAL(18,2)))).
    */
  private def discRevenue =
    dec("l_extendedprice") * (lit(1) - dec("l_discount"))

  /** #25 q_join_inner — fact⋈dim inner equi join (orders⋈customer). */
  def joinInner(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "inner")
      .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")

  /** #26 q_join_broadcast — small-dim broadcast join (nation⋈region),
    * explicit broadcast() hint (plan-shape asserted in RelationalSpec).
    */
  def joinBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name", "r_name")
      .orderBy("n_nationkey")

  /** #27 q_join_left_outer — customers with and without orders; count(col)
    * skips nulls so orderless customers report 0.
    */
  def joinLeftOuter(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  /** #28 q_join_semi — "file has ≥1 replica" reachability pattern
    * (FileTable.java:9-12) as LEFT SEMI: customers having ≥1 order.
    */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** #29 q_join_range — events within 5 minutes after another event of the
    * same user (heartbeat-age shape, HeartbeatMonitor.java:36-37).
    *
    * Bucketed range join: a bare (user_id) equi key avoids BNLJ but
    * still evaluates the residual over ALL O(n_user²) per-user pairs —
    * a user with a year of events is a quadratic hot key at 100 TB. Both
    * sides are instead keyed by (user_id, 5-minute time bucket): a match
    * with b.ts ∈ (a.ts, a.ts + 5 min] can only sit in a's bucket or the
    * next one, so side a is exploded into those two bucket keys (2×
    * shuffle volume — the standard range-bucketing trade) and pair
    * evaluation collapses from per-user² to adjacent-bucket products.
    * Semantics identical to the naive form; the oracle keeps the naive
    * SQL as the cross-check.
    */
  def joinRange(s: SparkSession, d: String): DataFrame = {
    val withBk = Tables.events(s, d).select("user_id", "ts")
      .withColumn("bk0",
        expr("CAST(floor(unix_micros(ts) / 300000000) AS BIGINT)")) // 5-min buckets
    // each (a, b) pair matches exactly one of a's two bucket keys, so the
    // bucketing introduces no duplicates and the residual stays the filter
    val a = withBk.select(col("user_id"), col("ts").as("a_ts"),
      explode(array(col("bk0"), col("bk0") + 1)).as("bk"))
    val b = withBk.select(col("user_id"), col("ts").as("b_ts"), col("bk0").as("bk"))
    a.join(b, Seq("user_id", "bk"))
      .where(col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** #30 q_join_asof — latest event ≤ cutoff per key ("last heartbeat
    * before cutoff"). Spark has no native as-of join; implemented as a
    * two-phase max + broadcast join-back (details below). Fixed literal
    * cutoff (no now() — SURVEY §7.4 rule 4).
    */
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    // Pushed-down cutoff (row-group pruning on the raw nanos column).
    val ev = Tables.eventsBefore(s, d, "2024-01-15 00:00:00")
      .select("user_id", "event_id", "ts", "event_type")
    // Two-phase as-of: (1) codegen'd hash-agg for max(ts) per key —
    // map-side combine, one row per key shuffled; (2) join the per-key
    // maxima back onto the scan to keep only rows AT the max, then break
    // exact-ts ties by max event_id over that residue. Beats both a
    // row_number window (full shuffle + partition sort) and max_by on a
    // struct (struct-typed buffer → SortAggregate).
    //
    // No broadcast() hints: both sides of each join are one row per
    // distinct user_id, so the key domain — unbounded at 100 TB — sets
    // their size. AQE's runtime size check picks broadcast when the
    // aggregate actually is small and falls back to a shuffled join when
    // it isn't; a mandatory hint would force a driver collect-and-ship
    // of a multi-GB frame at scale. (PlanShapeSpec guards this.)
    val last = ev.groupBy("user_id").agg(max(col("ts")).as("ts"))
    val atMax = ev.join(last, Seq("user_id", "ts"))
    atMax
      .groupBy("user_id")
      .agg(max(col("event_id")).as("event_id"))
      .join(atMax.select("user_id", "event_id", "ts", "event_type"),
        Seq("user_id", "event_id"))
      // epoch micros, not raw TIMESTAMP: Spark writes instant-semantics
      // (UTC-adjusted) parquet timestamps while the oracle reads the
      // source's naive TIMESTAMP_NS — integers compare cleanly.
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .orderBy("user_id")
  }

  /** #31 q_agg_pricing_summary — TPC-H Q1 shape: multi-agg by two keys
    * with a pushed-down date filter. All money math in DECIMAL for
    * engine-exact sums (SURVEY §7.4 rule 1).
    */
  def aggPricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") < lit("1999-06-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(discRevenue)
          .cast(DoubleType).as("sum_disc_price"),
        (sum(dec("l_quantity")).cast(DoubleType) / count(col("l_quantity"))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** #32 q_agg_count_distinct — exact distinct suppliers per part
    * (expand + two-phase aggregate).
    */
  def aggCountDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(countDistinct("l_suppkey").as("n_suppliers"))
      .orderBy("l_partkey")

  /** #33 q_agg_approx_distinct — HLL++ sketch distinct count. Approx ≠
    * oracle: no oracle SQL declared; RelationalSpec asserts tolerance vs
    * the exact count instead (SURVEY §7.4 rule 8). At 100 TB this is the
    * operator you actually run — fixed-size sketch, single pass, no
    * expand.
    */
  def aggApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct("l_partkey", 0.02).as("approx_parts"))
      .orderBy("l_returnflag")

  /** #34 q_agg_rollup — region → nation → grand-total rollup over
    * customer accounts.
    */
  def aggRollup(s: SparkSession, d: String): DataFrame = {
    // Through the SQL surface: Dataset.rollup over a post-join projection
    // trips the ambiguous-self-join check (Expand duplicates the grouping
    // attributes); SQL resolution is name-based and clean. Same Catalyst
    // plan (Expand + two-phase HashAggregate) either way.
    Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "c_acctbal")
      .createOrReplaceTempView("rollup_src")
    s.sql(
      """SELECT r_name, n_name, count(*) AS n_customers,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM rollup_src GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  /** #35 q_agg_grouping_sets — GROUPING SETS ((segment),(nation),()),
    * native SQL grouping sets (one Expand, no cube-then-filter waste).
    */
  def aggGroupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .select("c_mktsegment", "n_name")
      .createOrReplaceTempView("gsets_src")
    s.sql(
      """SELECT c_mktsegment, n_name, count(*) AS n_customers
        |FROM gsets_src GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ())
        |ORDER BY c_mktsegment ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  /** q_agg_cube — full cube over (returnflag, linestatus), completing
    * the rollup / grouping-sets / cube trio (one Expand ×4 combos; at
    * scale prefer explicit GROUPING SETS of only the combos a dashboard
    * reads — cube's 2^k blow-up is the waste mode).
    */
  def aggCube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** q_agg_histogram — equal-WIDTH histogram (the companion to ntile's
    * equal-depth quartiles): order totals bucketed into 10 fixed
    * 60k-wide bins per order-priority, overflow in bin 11. Mapper-only
    * bucket id + one hash-agg — the shape that survives any scale. The
    * bucket arithmetic is spelled out (floor(x / width) + 1) instead of
    * width_bucket: DuckDB lacks the function, and mirroring the exact
    * same division keeps the bin edges engine-identical.
    */
  def aggHistogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderpriority"),
        expr("CASE WHEN CAST(o_totalprice AS DOUBLE) >= 600000.0 THEN CAST(11 AS BIGINT) " +
          "ELSE CAST(floor(CAST(o_totalprice AS DOUBLE) / 60000.0) + 1 AS BIGINT) END")
          .as("bucket"))
      .groupBy("o_orderpriority", "bucket")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority", "bucket")

  /** #36 q_window_rank — top-3 orders per customer by price; ordering key
    * made unique with o_orderkey so ranks are deterministic.
    */
  def windowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rn", rank().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  /** #37 q_window_running — running per-supplier quantity. DECIMAL inside
    * the windowed sum: the default RANGE UNBOUNDED PRECEDING..CURRENT ROW
    * frame gives tied sort keys identical running values on both engines,
    * and decimal makes the sum order-independent.
    */
  def windowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_suppkey")
      .orderBy(col("l_shipdate").asc, col("l_orderkey").asc, col("l_linenumber").asc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
      // raw timestamp passes through to the output: NTZ so the written
      // parquet type class matches the oracle's naive TIMESTAMP (session
      // TZ is UTC, so the wall-clock value is unchanged)
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp_ntz"))
      .withColumn("running_qty",
        sum(dec("l_quantity")).over(w).cast(DoubleType))
      .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
  }

  /** #38 q_union — union-distinct of two overlapping event slices. */
  def unionDistinct(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("event_id", "user_id", "event_type")
    val early = ev.filter(col("event_id") < 200)
    val errors = Tables.events(s, d).filter(col("event_type") === "error")
      .select("event_id", "user_id", "event_type")
    early.union(errors).distinct().orderBy("event_id")
  }

  /** #39 q_intersect — users active in both halves of January. */
  def intersectKeys(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val w1 = ev.filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .select("user_id")
    val w2 = ev.filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp"))
      .select("user_id")
    w1.intersect(w2).orderBy("user_id")
  }

  /** #40 q_scalar_date — date parts / trunc / seconds-between (heartbeat
    * age arithmetic, HeartbeatMonitor.java:34-37), fixed epoch literal.
    */
  def scalarDate(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        year(col("ts")).cast(IntegerType).as("y"),
        month(col("ts")).cast(IntegerType).as("m"),
        to_date(date_trunc("day", col("ts"))).as("day_ts"), // DATE on both engines
        (unix_timestamp(col("ts")) - lit(1704067200L)).as("age_s"))
      .orderBy("event_id")

  /** #41 q_scalar_json — JSON field extraction from the events props
    * column (get_json_object ≡ DuckDB json_extract_string).
    */
  def scalarJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").as("k_str"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k_int"))
      .orderBy("event_id")

  /** #42 q_scalar_hash — md5 over a string column (reference hashes file
    * bytes, Utils.java:28-58; we hash document text).
    */
  def scalarHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
      .orderBy("doc_id")

  /** q_join_full_outer — full outer join: high-balance customers vs
    * big-order counts, either side may be absent (the catalog-vs-report
    * reconciliation shape: files with no live replicas and replicas with
    * no catalog entry both survive, reference FileTable.java:41-52 only
    * sees the inner slice). n_big_orders is coalesced to 0 on both
    * engines so the numeric column stays non-null (int-null vs NaN
    * round-trips differ between parquet and the oracle's result frame);
    * the left-only/right-only structure is still visible through c_name.
    */
  def joinFullOuter(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).where(col("c_acctbal") > 5000)
      .select("c_custkey", "c_name")
    val big = Tables.orders(s, d).where(col("o_totalprice") > 150000)
      .groupBy("o_custkey").agg(count(lit(1)).as("n_big"))
    cust.join(big, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_name"), coalesce(col("n_big"), lit(0L)).as("n_big_orders"))
      .orderBy("custkey")
  }

  /** q_join_part_promo — TPC-H Q14's promo-revenue shape, per brand:
    * lineitem ⋈ part (the last base table the registry didn't touch)
    * with a conditional decimal aggregate. Per-brand sums instead of
    * Q14's single global double division keep the result engine-exact
    * (no IEEE ratio; SURVEY §7.4 rule 1). Fact ⋈ dim on the integer
    * part key with NO broadcast hint — part is dimension-sized locally
    * but unbounded at corpus scale, so AQE's runtime size check picks
    * the strategy (the q_join_asof rule).
    */
  def joinPartPromo(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select("l_partkey", "l_extendedprice", "l_discount")
      .join(Tables.part(s, d).select("p_partkey", "p_brand", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        sum(when(col("p_type") === "PROMO", discRevenue)
          .otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast(DoubleType).as("promo_revenue"),
        sum(discRevenue)
          .cast(DoubleType).as("total_revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("p_brand")

  /** q_join_star_revenue — TPC-H Q5's local-supplier-revenue shape: the
    * canonical 6-table star join (lineitem ⋈ supplier ⋈ orders ⋈
    * customer ⋈ nation ⋈ region) with the correlation predicate that
    * makes Q5 hard — the customer's nation must EQUAL the supplier's
    * nation, so the last join carries a second equi-condition, not just
    * the key chain. Revenue per ASIA nation over one order-date year.
    *
    * Scale shape: region→nation is broadcast (bounded dims); supplier
    * and customer joins carry NO hint — locally they'd broadcast, but
    * both are unbounded at corpus scale, so AQE's runtime size check
    * picks the strategy (the q_join_asof rule). The date filter sits
    * directly on the orders scan (pushed to parquet), so the fact-fact
    * shuffle moves one filtered year, not the table. Aggregate keys are
    * nation-bounded — the final exchange is dimension-sized.
    */
  def joinStarRevenue(s: SparkSession, d: String): DataFrame = {
    val asiaNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, d)
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_nationkey", "n_name")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      // sum the scale-4 product directly (dsum's DECIMAL(18,2) re-cast
      // would round each line's revenue before summing — the oracle sums
      // exact and diverges in the cents)
      .agg(sum(discRevenue).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("n_name")
  }

  /** q_join_shipping_priority — TPC-H Q3: top-10 highest-revenue
    * unshipped orders for one market segment (ordered before the
    * cutoff, shipped after it). The LIMIT is the semantics: the plan
    * must be a TakeOrderedAndProject over the aggregate (per-partition
    * top-10 → merge — plan-asserted in PlanShapeSpec), never a global
    * sort; at 100 TB that is the difference between shipping 10 rows
    * per partition and sorting the whole aggregate. Ordering is
    * total (revenue DESC, then orderkey) — Q3's bare revenue sort
    * would let engines disagree on equal-revenue ties.
    */
  def joinShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cutoff = lit("1998-06-01").cast("timestamp")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(Tables.orders(s, d).filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(discRevenue).cast(DoubleType).as("revenue"))
      .select(col("l_orderkey"), unix_micros(col("o_orderdate")).as("od_us"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q_join_large_orders — TPC-H Q18's large-volume-order shape: orders
    * whose total line quantity exceeds a threshold, with customer
    * attribution and a top-100 by order value. The interesting part is
    * the aggregated semi-join: the HAVING subquery is ONE combining
    * hash-agg over lineitem (map-side partials shrink the shuffle to a
    * row per order) and its output — already threshold-filtered to ~1%
    * of orders — both drives the join AND carries the quantity total,
    * so lineitem is scanned once, not twice as in the literal Q18 text.
    * The top-100 must compile to TakeOrderedAndProject (plan-asserted).
    */
  def joinLargeOrders(s: SparkSession, d: String): DataFrame = {
    val bigOrders = Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity")
      .groupBy("l_orderkey")
      .agg(sum(dec("l_quantity")).as("sum_qty_d"))
      .filter(col("sum_qty_d") > 250)
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("od_us"),
        dec("o_totalprice").cast(DoubleType).as("totalprice"),
        col("sum_qty_d").cast(DoubleType).as("sum_qty"))
      .orderBy(col("totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** q_join_returned_revenue — TPC-H Q10: revenue lost to returned items
    * per customer over one quarter, top-20. Quarter filter sits on the
    * orders scan and the R-flag filter on the lineitem scan (both
    * pushed), so the fact-fact join moves a quarter of returns, not the
    * tables; nation is broadcast; top-20 is TakeOrderedAndProject with
    * the tie made total by c_custkey.
    */
  def joinReturnedRevenue(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d).select("c_custkey", "c_name", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(discRevenue).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** q_join_nation_volume — TPC-H Q7's bilateral shipping volume: line
    * revenue flowing between two specific nations (either direction) by
    * ship year. The scale move is pushing the nation pair INTO the
    * supplier and customer dims before any fact join — each side of the
    * fact chain joins a ~2/25 slice of its dim, so the nation predicate
    * prunes at the first join instead of after the 4-table chain (the
    * literal Q7 text filters last). Both directed pairs survive; the
    * (A,A)/(B,B) diagonals drop via one inequality since both ends are
    * restricted to the same 2-nation set.
    */
  def joinNationVolume(s: SparkSession, d: String): DataFrame = {
    val pair = Tables.nation(s, d)
      .filter(col("n_name").isin("NATION_3", "NATION_8"))
    val sup = Tables.supplier(s, d)
      .join(broadcast(pair.select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val cust = Tables.customer(s, d)
      .join(broadcast(pair.select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cn_key"))
      .select("c_custkey", "cust_nation")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast(IntegerType).as("l_year"))
      .agg(sum(discRevenue).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** q_join_waiting_suppliers — TPC-H Q21's suppliers-who-kept-orders-
    * waiting shape: the multi-level EXISTS + NOT-EXISTS cascade on the
    * SAME fact table with a correlated inequality (the one classic join
    * pattern the single-level anti-join form — reference
    * controller/FileTable.java:59-97 — does not reach). A late line
    * (shipped > 60 days after order date, this schema's analogue of
    * receipt > commit) from supplier S counts iff the order has another
    * supplier (EXISTS) and NO other supplier was late (NOT EXISTS).
    *
    * Scale shape: the literal Q21 text scans lineitem three times (l1,
    * l2, l3) and decorrelates to two extra joins; here both correlated
    * predicates become ONE aggregate pass — lineitem joins the
    * status-filtered orders once (the only fact-fact shuffle, keyed on
    * orderkey), a combining hash agg reduces to a row per (order,
    * supplier), and a window over that already-reduced set (re-keyed on
    * orderkey, exchanging order-count rows, not line-count) yields both
    * the other-supplier EXISTS (n_supp > 1) and the no-other-late
    * NOT EXISTS (n_late_supp = 1) without touching lineitem again.
    * Supplier attribution joins AFTER the filter — only qualifying
    * (order, supplier) rows reach it — with nation broadcast (bounded
    * dim). Plan-asserted: semi/anti semantics via hash joins only, no
    * BroadcastNestedLoopJoin, exactly one lineitem scan
    * (PlanShapeSpec). Oracle independence: the DuckDB mirror keeps the
    * textbook correlated EXISTS/NOT-EXISTS form, so the gate proves the
    * aggregate rewrite, not just the arithmetic.
    */
  def joinWaitingSuppliers(s: SparkSession, d: String): DataFrame = {
    val lateFlag = when(
      col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1
    ).otherwise(0)
    val perSupp = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(sum(lateFlag).as("late_lines"))
    val w = Window.partitionBy("l_orderkey")
    perSupp
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late_supp",
        sum(when(col("late_lines") > 0, 1).otherwise(0)).over(w))
      .filter(col("late_lines") > 0 && col("n_supp") > 1 &&
        col("n_late_supp") === 1)
      .join(Tables.supplier(s, d).select("s_suppkey", "s_name", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("s_name", "n_name")
      .agg(sum(col("late_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** q_subquery_anti_agg — TPC-H Q22's dormant-high-balance shape: per
    * market segment, customers whose balance beats the positive-balance
    * mean and who placed no order in the final window. Two decorrelation
    * patterns in one plan: the scalar AVG subquery becomes a 1-row
    * broadcast (cross join of a 2-column aggregate — never a driver
    * collect), and NOT EXISTS becomes a LEFT ANTI hash join on the
    * date-filtered orders slice. The mean test is algebraic — bal·n >
    * Σbal in exact DECIMAL — so no engine ever divides and the boundary
    * cannot drift between DECIMAL and IEEE rounding (the q_subquery_corr
    * rule).
    */
  def subqueryAntiAgg(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment"), dec("c_acctbal").as("bal"))
    val stats = cust.filter(col("bal") > 0)
      .agg(sum(col("bal")).as("sum_pos"), count(lit(1)).as("n_pos"))
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
      .select("o_custkey")
    cust.crossJoin(broadcast(stats))
      .filter(col("bal") * col("n_pos") > col("sum_pos"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        sum(col("bal")).cast(DoubleType).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** q_subquery_avg_threshold — TPC-H Q17's small-quantity-order revenue
    * shape: lines of one brand's parts whose quantity is below 20% of
    * that part's average quantity; reports the would-be yearly revenue
    * (Σ price / 7). The classic per-key correlated scalar-AVG-with-
    * multiplier subquery. Decorrelation: the textbook re-reads lineitem
    * per part; here ONE scan survives — the brand slice of parts
    * broadcasts into the lineitem scan (partkey pruning at the source),
    * and the per-part average arrives as a window over the already
    * brand-filtered rows (exchanging the selective slice, never the
    * fact table). The threshold test is algebraic — qty·5·n < Σqty in
    * exact DECIMAL — so no engine divides and the boundary cannot drift
    * between DECIMAL and IEEE (the q_subquery_corr rule). Oracle
    * independence: the DuckDB mirror keeps the textbook correlated form
    * (two per-part scalar subqueries), so the gate proves the rewrite.
    * Reference analogue: the single-level per-file HAVING at
    * controller/FileTable.java:41-52.
    */
  def subqueryAvgThreshold(s: SparkSession, d: String): DataFrame = {
    val brandParts = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#12").select("p_partkey")
    val j = Tables.lineitem(s, d)
      .select(col("l_partkey"), dec("l_quantity").as("qty"),
        dec("l_extendedprice").as("price"))
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
    val w = Window.partitionBy("l_partkey")
    j.withColumn("sum_qty", sum(col("qty")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("qty") * 5 * col("n") < col("sum_qty"))
      .agg((sum(col("price")).cast(DoubleType) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** q_join_dominant_suppliers — TPC-H Q20's excess-stock supplier shape
    * adapted to this schema (no partsupp table): suppliers who, for some
    * part named 'small %', shipped MORE THAN HALF of that part's total
    * 1997 quantity — the nested-IN + per-key-agg-threshold semi chain
    * (supplier IN (per-(supp,part) agg HAVING > correlated per-part
    * agg)). Decorrelation: name-filtered parts broadcast into the
    * date-filtered lineitem scan, one combining agg to (part, supplier)
    * rows, the correlated per-part total becomes a window over that
    * already-reduced set, and the IN becomes a LEFT SEMI hash join on
    * the distinct dominant suppliers. Dominance (2·q > tot) is exact
    * DECIMAL algebra — never a division. The oracle keeps the textbook
    * nested-IN + correlated-HAVING text.
    */
  def joinDominantSuppliers(s: SparkSession, d: String): DataFrame = {
    val pk = Tables.part(s, d)
      .filter(col("p_name").startsWith("small ")).select("p_partkey")
    val perSupp = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_partkey"), col("l_suppkey"), dec("l_quantity").as("qty"))
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("qty")).as("supp_qty"))
    val dominant = perSupp
      .withColumn("tot", sum(col("supp_qty")).over(Window.partitionBy("l_partkey")))
      .filter(col("supp_qty") * 2 > col("tot"))
      .select("l_suppkey").distinct()
    Tables.supplier(s, d).select("s_suppkey", "s_name", "s_nationkey")
      // dominant is bounded by the supplier roster (the reference's
      // storage-node set) — broadcast it so the semi join never
      // exchanges the supplier side
      .join(broadcast(dominant), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_name", "n_name")
      .orderBy("s_name")
  }

  /** q_join_min_price_supplier — TPC-H Q2's minimum-cost-supplier shape
    * adapted to this schema (lineitem price plays partsupp supplycost):
    * for each LARGE small-size part, the EUROPE-region supplier(s) whose
    * line hit that part's minimum extended price — the correlated
    * per-group MIN → argmin-join pattern. Decorrelation: the textbook
    * re-runs the region-restricted min per part; here both the filtered
    * parts and the region-restricted supplier roster broadcast into ONE
    * lineitem scan, and the per-part min is a window over the doubly-
    * filtered slice; price = min(price) then keeps every tied supplier
    * (argmin, not arbitrary pick). DECIMAL equality — no IEEE boundary.
    * The oracle keeps the textbook correlated scalar-MIN text over the
    * full five-table join.
    */
  def joinMinPriceSupplier(s: SparkSession, d: String): DataFrame = {
    val eu = Tables.supplier(s, d).select("s_suppkey", "s_name", "s_nationkey")
      .join(broadcast(Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
    val parts = Tables.part(s, d)
      .filter(col("p_type") === "LARGE" && col("p_size") <= 10)
      .select("p_partkey", "p_name")
    val j = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"), dec("l_extendedprice").as("pr"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(eu), col("l_suppkey") === col("s_suppkey"))
    j.withColumn("min_pr", min(col("pr")).over(Window.partitionBy("p_partkey")))
      .filter(col("pr") === col("min_pr"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
        col("pr").cast(DoubleType).as("price"))
      .distinct()
      .orderBy("p_partkey", "s_name")
  }

  /** q_agg_custdist — TPC-H Q13's customer order-count distribution: how
    * many customers placed exactly k non-urgent orders, INCLUDING the
    * zero bucket — the outer-join count-of-counts shape whose defining
    * subtlety is that the priority filter lives in the JOIN CONDITION,
    * not WHERE (a WHERE would silently drop the never-ordered customers
    * a retention report exists to surface). Scale shape: orders
    * pre-aggregate to one row per customer BEFORE the outer join, so
    * the join exchanges |customers| + |custkeys-with-orders| rows —
    * never per-order rows — and the count-of-counts agg input is
    * |customers| rows. Both engines count k exactly (BIGINT), so the
    * row set is oracle-exact; (custdist, c_count) ordering is total
    * because c_count is the group key.
    */
  def aggCustdist(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
    Tables.customer(s, d).select("c_custkey")
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q_join_order_priority_check — TPC-H Q4's order-priority-check
    * shape: per priority, how many orders in a quarter had at least one
    * LATE line (shipped > 30 days after order date — this schema's
    * commit-vs-receipt analogue). The defining pattern is EXISTS with a
    * correlated INEQUALITY against the outer row's own column:
    * decorrelated here to a LEFT SEMI hash join whose condition carries
    * both the equi key and the date inequality, so each order counts
    * at most once however many lines are late. The date-filtered orders
    * slice drives; lineitem projects two columns. Oracle keeps the
    * textbook correlated EXISTS.
    */
  def joinOrderPriorityCheck(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-10-01").cast("timestamp"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** q_join_disjunctive — TPC-H Q19's discounted-revenue shape: a join
    * whose predicate is an OR of brand/size/quantity conjunctions. The
    * optimizer property THIS query exists to pin: the common equi key
    * (p_partkey = l_partkey) must be EXTRACTED so the join runs as a
    * broadcast hash join with the disjunction as a residual filter —
    * a naive planner evaluates the OR as a nested-loop predicate and
    * goes quadratic (PlanShapeSpec pins no BroadcastNestedLoopJoin /
    * CartesianProduct survives). Exact DECIMAL revenue, one lineitem
    * scan, part broadcast.
    */
  def joinDisjunctive(s: SparkSession, d: String): DataFrame = {
    val pt = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey"), dec("l_quantity").as("qty"),
        dec("l_extendedprice").as("price"), dec("l_discount").as("disc"))
    li.join(broadcast(pt),
        col("p_partkey") === col("l_partkey") && (
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("qty").between(1, 15)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("qty").between(10, 25)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 35) &&
            col("qty").between(20, 35))))
      .agg(sum(col("price") * (lit(1) - col("disc"))).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** q_subquery_top_supplier — TPC-H Q15's top-supplier shape: a
    * revenue aggregate CTE consumed TWICE — once as the join input,
    * once reduced to its global max — with the argmax row(s) kept (ties
    * included, the textbook semantics). The correlated form re-runs the
    * CTE inside a scalar subquery; here the quarter-filtered per-
    * supplier aggregate computes ONCE, its 1-row global max broadcasts
    * back, and the equality decides in exact DECIMAL (never the cast
    * double) so an IEEE tie cannot drop or duplicate the winner.
    * Supplier attribution joins after the filter — only winners reach
    * it.
    */
  def subqueryTopSupplier(s: SparkSession, d: String): DataFrame = {
    // (d) the CTE feeds TWO plan legs (join input + global max); only
    // the join leg gets the inferred isnotnull(l_suppkey) filter, so the
    // legs' exchanges differ and each would re-scan lineitem, and the
    // sf0.1 A/B measured the pin faster. The pinned table is
    // supplier-count-sized.
    val rev = Pin.pin(Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec("l_extendedprice") * (lit(1) - dec("l_discount"))).as("rev_d")))
    val top = rev.agg(max(col("rev_d")).as("max_rev"))
    rev.crossJoin(broadcast(top))
      .filter(col("rev_d") === col("max_rev"))
      .join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_d").cast(DoubleType).as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** q_agg_forecast_revenue — TPC-H Q6's forecasting-revenue-change
    * shape: one scan, three scan-level predicates (date range, discount
    * band, quantity cap), one global aggregate — the query whose entire
    * performance story is PREDICATE PUSHDOWN (every filter must reach
    * the parquet scan as a PushedFilter; PlanShapeSpec pins it). The
    * discount band compares STORED doubles to literals — identical on
    * both engines — while the revenue sum runs in exact DECIMAL.
    */
  def aggForecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(dec("l_extendedprice") * dec("l_discount"))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** q_agg_market_share — TPC-H Q8's national-market-share shape: of
    * the PROMO-part volume EUROPE-region customers ordered per year,
    * the fraction supplied by NATION_3 — a conditional-numerator /
    * total-denominator ratio over a five-table join. Determinism rule:
    * numerator and denominator aggregate in exact DECIMAL and are
    * emitted alongside the share, and the share itself is ONE double
    * division of those two exactly-derived values (both engines round
    * that single IEEE op identically — the q_join_part_promo rule).
    * Scale shape: region→nation→customer narrows before touching the
    * facts; both dimension chains broadcast; one lineitem scan, the
    * orders join is the only fact-fact shuffle.
    */
  def aggMarketShare(s: SparkSession, d: String): DataFrame = {
    val euCust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      .join(broadcast(Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))),
        col("c_nationkey") === col("cn_key"))
      .select("c_custkey")
    val promoParts = Tables.part(s, d)
      .filter(col("p_type") === "PROMO").select("p_partkey")
    val suppNation = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val vol = dec("l_extendedprice") * (lit(1) - dec("l_discount"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), vol.as("volume"))
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      // customer is a BIG dim at scale — the semi join hashes on the
      // key, no broadcast hint (the planner may still elect one at
      // fixture sizes)
      .join(euCust, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(year(col("o_orderdate")).cast(IntegerType).as("o_year"))
      .agg(sum(when(col("supp_nation") === "NATION_3", col("volume"))
          .otherwise(lit(0).cast(DecimalType(18, 2)))).as("num_d"),
        sum(col("volume")).as("den_d"))
      .select(col("o_year"),
        col("num_d").cast(DoubleType).as("nation_volume"),
        col("den_d").cast(DoubleType).as("total_volume"),
        (col("num_d").cast(DoubleType) / col("den_d").cast(DoubleType)).as("mkt_share"))
      .orderBy("o_year")
  }

  /** q_agg_profit_by_nation — TPC-H Q9's product-type-profit shape
    * adapted to this schema (p_retailprice plays ps_supplycost — the
    * Q2/Q20 no-partsupp convention): for every line of a part whose
    * name contains 'red', profit = revenue − cost·quantity, rolled up
    * by (supplier nation, order year) — the multi-fact rollup whose
    * group key is an EXPRESSION over a joined column (year(o_orderdate))
    * rather than any stored column. Scale shape: the name-filtered
    * parts (with their cost) and supplier→nation both broadcast into
    * ONE lineitem scan; the orders join is the only fact-fact shuffle;
    * the rollup is 25 nations × ~7 years. Profit stays exact DECIMAL
    * until the final DOUBLE cast (both engines cast the same exact
    * value). Textbook ordering: nation asc, year DESC.
    */
  def aggProfitByNation(s: SparkSession, d: String): DataFrame = {
    val redParts = Tables.part(s, d)
      .filter(col("p_name").contains("red"))
      .select(col("p_partkey"), dec("p_retailprice").as("cost"))
    val suppNation = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (dec("l_extendedprice") * (lit(1) - dec("l_discount"))).as("rev"),
        dec("l_quantity").as("qty"))
      .join(broadcast(redParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast(IntegerType).as("o_year"))
      .agg(sum(col("rev") - col("cost") * col("qty"))
        .cast(DoubleType).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** q_agg_important_parts — TPC-H Q11's important-stock shape adapted
    * to this schema (a part's "stock value" held by NATION_3's
    * suppliers = the DECIMAL sum of their lines' extended prices —
    * lineitem plays partsupp, the Q2/Q20 convention): parts whose value
    * exceeds 1/1000 of the NATION'S TOTAL — the global-fraction HAVING
    * scalar subquery, the one shape where a per-group aggregate is
    * gated by a SECOND, global aggregate of the same slice. Threshold
    * decided as value·1000 > total in exact DECIMAL algebra (the
    * q_join_dominant_suppliers rule) — never a double fraction at the
    * boundary. Scale shape: the textbook text scans the fact slice
    * twice (once per aggregate); here the global total re-aggregates
    * the ALREADY-GROUPED per-part table — metadata-sized input — and
    * broadcasts as a 1-row threshold, so the corpus is read ONCE. The
    * oracle keeps the textbook two-scan scalar-subquery text.
    */
  def aggImportantParts(s: SparkSession, d: String): DataFrame = {
    val n3supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables.nation(s, d)
        .filter(col("n_name") === "NATION_3").select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val perPart = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"), dec("l_extendedprice").as("pr"))
      .join(broadcast(n3supp), col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(col("pr")).as("value_d"))
    val total = perPart.agg(sum(col("value_d")).as("tot"))
    perPart.join(broadcast(total))
      .filter(col("value_d") * 1000 > col("tot"))
      .select(col("p_partkey"), col("value_d").cast(DoubleType).as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** q_join_line_priority — TPC-H Q12's shipping-mode-priority shape
    * adapted to this schema (l_returnflag plays l_shipmode; the
    * ship-date year window plays the receipt-date window): per flag,
    * how many 1997 lines belong to critical-priority orders vs not —
    * the two-branch conditional CASE-count over a fact-fact join, the
    * shape every SLA report compiles to. Scale shape: the date filter
    * pushes to the lineitem scan; the join exchanges only (orderkey,
    * flag) × (orderkey, priority); counts are exact BIGINTs. Both
    * CASE branches aggregate in the same pass — never two joins.
    */
  def joinLinePriority(s: SparkSession, d: String): DataFrame = {
    val crit = col("o_orderpriority") === "1-URGENT" ||
      col("o_orderpriority") === "2-HIGH"
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_returnflag")
      .join(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(crit, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** q_agg_supplier_census — TPC-H Q16's parts/supplier-relationship
    * census adapted to this schema (the supplier-part relation is the
    * DISTINCT (l_partkey, l_suppkey) set observed in lineitem — no
    * partsupp; the complaint blacklist is the negative-balance supplier
    * set — no s_comment): per (brand, type, size) over the selected
    * sizes, how many distinct suppliers can provide the part, EXCLUDING
    * blacklisted suppliers via NOT IN — the anti-join + per-group
    * count-distinct shape. Scale shape: the filtered part dim
    * broadcasts into the lineitem scan BEFORE the distinct, so the
    * dedup shuffle carries only qualifying-part rows; the blacklist is
    * a ≤|suppliers|-row broadcast anti join (exact NOT IN here:
    * s_suppkey is never null). The oracle keeps the textbook NOT-IN
    * subquery text.
    */
  def aggSupplierCensus(s: SparkSession, d: String): DataFrame = {
    val sizes = Seq(1, 4, 7, 10, 13, 16, 19, 23)
    val parts = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "MEDIUM" &&
        col("p_size").isin(sizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val blacklist = Tables.supplier(s, d)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(blacklist), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** q_pivot — status-by-priority order counts as a wide table
    * (groupBy + pivot with an EXPLICIT value list: without it Spark runs
    * an extra distinct pass over the pivot column AND the output schema
    * becomes data-dependent — both wrong at 100 TB). Absent combos are
    * 0, not null, matching the oracle's FILTER counts.
    */
  def pivotStatus(s: SparkSession, d: String): DataFrame = {
    val statuses = Seq("O", "F", "P")
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", statuses)
      .agg(count(lit(1)))
      .select(col("o_orderpriority") +:
        statuses.map(st => coalesce(col(st), lit(0L)).as(s"n_${st.toLowerCase}")): _*)
      .orderBy("o_orderpriority")
  }

  /** q_window_lag_lead — per-user previous/next event value and delta
    * (the heartbeat gap-detection shape: HeartbeatMonitor.java:34-37
    * compares consecutive report times). Window order (ts, event_id) is
    * total per user; partition-edge rows carry genuine nulls on both
    * engines.
    */
  def windowLagLead(s: SparkSession, d: String): DataFrame = {
    // total window order incl. value (the q_replay_ordered rule):
    // event_id is unique in the fixture, but nothing guarantees it, and a
    // partial order would let the two engines disagree on tied rows
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"), col("value"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("next_value", lead(col("value"), 1).over(w))
      .withColumn("delta", col("value") - col("prev_value"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"), col("prev_value"), col("next_value"), col("delta"))
      .orderBy("user_id", "ts_us", "event_id", "value")
  }

  /** q_window_ntile — quartile assignment of each user's events by time
    * (the equal-depth histogram primitive; standard SQL ntile semantics
    * — first `n mod 4` buckets get the extra row — match on both
    * engines given the total (ts, event_id) order).
    */
  def windowNtile(s: SparkSession, d: String): DataFrame = {
    // value in the order key for the same total-order reason as lag/lead
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"), col("value"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        ntile(4).over(w).as("quartile"))
      .orderBy("user_id", "ts_us", "event_id", "quartile")
  }

  /** q_window_first_last — first_value / last_value / nth_value over
    * each key's full history (the "compare every event to the session's
    * opening and closing state" shape — the reference reads exactly
    * these endpoints from its sorted chunk sets,
    * controller/FileTable.java:23-25). last_value needs the explicit
    * UNBOUNDED FOLLOWING frame — the default frame ends at CURRENT ROW,
    * which silently turns last_value into "current value" (both engines
    * share the trap and the fix). Total (ts, event_id) order per key.
    */
  def windowFirstLast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("first_type", first(col("event_type")).over(w))
      .withColumn("last_type", last(col("event_type")).over(w))
      .withColumn("second_type", nth_value(col("event_type"), 2).over(w))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("first_type"), col("last_type"), col("second_type"))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** q_window_trailing — BOUNDED time-RANGE window frame: per user, how
    * many events fall in the trailing hour ending at each event (RANGE
    * BETWEEN 3600·10⁶ PRECEDING AND CURRENT ROW over the epoch-micros
    * order column). The rate-limiter / rolling-health shape, and the
    * one window-frame type the rest of the registry doesn't exercise:
    * peers enter and leave the frame by event-TIME distance, not row
    * count (ROWS frames) and not unbounded prefix (the running sums).
    * Exact-count only — a double sum over a sliding frame would depend
    * on accumulation order. One user_id exchange + one sort, same
    * skew axis as q_sessionize.
    */
  def windowTrailing(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("n_trailing_1h", count(lit(1)).over(w))
      .orderBy("user_id", "ts_us", "event_id")
  }

  /** q_scd2_intervals — build the SCD2 (type-2 slowly-changing
    * dimension) history table from an append log: each customer's
    * orders become versioned rows with [valid_from, valid_to) validity
    * intervals in (date, key) order; the open interval (valid_to NULL)
    * is the current version. This is the standard warehouse
    * temporal-versioning build — the log-to-history step behind every
    * "as of" query — and its output contract is exactly what
    * q_join_asof probes (the version covering a timestamp). One lead
    * window per customer partition: a single hash exchange + one
    * in-partition sort, linear at any scale; per-key history length is
    * the only skew axis (same bound as q_sessionize).
    */
  def scd2Intervals(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      // o_orderdate is TIMESTAMP_NTZ; session TZ is pinned UTC, so the
      // cast to instant semantics is wall-clock-identical and the micros
      // match DuckDB's epoch_us over the naive source timestamps
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("valid_from_us"),
        unix_micros(col("valid_to").cast("timestamp")).as("valid_to_us"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("o_custkey", "valid_from_us", "o_orderkey")
  }

  /** Probe instant for q_scd2_asof (fixed literal — SURVEY §7.4 rule 4;
    * mid-1996 so roughly half the fixture customers have a closed
    * version covering it and half are probed before/after history).
    */
  private[graft] val Scd2AsofUtc = "1996-06-01 00:00:00"

  /** q_scd2_asof — the point-in-time probe INTO the SCD2 history
    * q_scd2_intervals builds: each customer's version valid AT the probe
    * instant (valid_from ≤ t < valid_to, open interval = current). This
    * closes the temporal-versioning loop — build the history, then
    * answer "what was X's state on date D" with a FILTER, not a window:
    * interval containment is a mapper-only predicate over the versioned
    * table, so at 100 TB the probe is a scan (partition-prunable on
    * valid_from) rather than a per-key sort. Customers whose first
    * version starts after the probe instant are correctly absent.
    */
  def scd2Asof(s: SparkSession, d: String): DataFrame = {
    val t = unix_micros(lit(Scd2AsofUtc).cast("timestamp"))
    scd2Intervals(s, d)
      .where(col("valid_from_us") <= t &&
        (col("valid_to_us").isNull || col("valid_to_us") > t))
      .select("o_custkey", "o_orderkey", "o_orderstatus",
        "valid_from_us", "is_current")
      .orderBy("o_custkey")
  }

  /** q_agg_percentile — exact interpolated quartiles of quantity per
    * return flag (Spark `percentile` ≡ DuckDB `quantile_cont`). Exact
    * percentile buffers the group's values — fine for bounded groups;
    * the sketch form below is the 100 TB path. Determinism: quantities
    * are small integers and 0.25/0.5/0.75 are binary fractions, so the
    * linear interpolation is bit-exact on both engines.
    */
  def aggPercentile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(CAST(l_quantity AS DOUBLE), 0.25D)").as("p25"),
        expr("percentile(CAST(l_quantity AS DOUBLE), 0.5D)").as("p50"),
        expr("percentile(CAST(l_quantity AS DOUBLE), 0.75D)").as("p75"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** q_agg_approx_quantile — the same quartiles via the KLL-style
    * approx_percentile sketch: fixed-size state per group, mergeable
    * partials, no value buffering — the form that survives 100 TB.
    * Sketch output is accuracy-parameter-dependent, so no DuckDB oracle
    * (rows-only check); RelationalSpec bounds it against the exact
    * quartiles (SURVEY §7.4 rule 8, the q_agg_approx_distinct pattern).
    */
  def aggApproxQuantile(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(expr(
        "approx_percentile(CAST(l_quantity AS DOUBLE), array(0.25D, 0.5D, 0.75D), 10000)").as("q"))
      .select(col("l_returnflag"), col("q")(0).as("p25"),
        col("q")(1).as("p50"), col("q")(2).as("p75"))
      .orderBy("l_returnflag")

  /** q_window_distribution — percent_rank + cume_dist of order price
    * within each order-priority class (the distributional companions to
    * rank/ntile, completing §2B's window family). Both functions depend
    * only on the ORDER key's value — ties get identical outputs on any
    * engine — so the result is deterministic even though o_totalprice
    * repeats; the emitted (priority, orderkey) order is total. One
    * shuffle on the partition key + per-partition sort, the same plan
    * every ranking window compiles to.
    */
  def windowDistribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy("price")
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("pct_rank"), col("cume"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  /** q_subquery_corr — the correlated-subquery shape: orders priced
    * above their own customer's average order price. Decorrelated the
    * way every engine (and Catalyst's RewriteCorrelatedScalarSubquery)
    * executes it: per-customer aggregate + join back. The comparison is
    * EXACT decimal cross-multiplication (price * n_orders >
    * sum_of_prices) — no IEEE average in the predicate, so the row set
    * cannot drift between engines on a tie (SURVEY §7.4 rule 1 applied
    * to a filter instead of an output column).
    */
  def subqueryCorr(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    val perCust = o.groupBy("o_custkey")
      .agg(sum(col("price")).as("sum_price"), count(lit(1)).as("n_orders"))
    o.join(perCust, "o_custkey")
      .where(col("price") * col("n_orders") > col("sum_price"))
      .select(col("o_orderkey"), col("o_custkey"),
        col("price").cast("double").as("price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q_dq_audit — declarative data-quality audit: the constraint sweep
    * a pipeline runs before publishing a snapshot (the reference's
    * analogue is per-chunk checksum validation on store,
    * structures/Chunk.java:166-189 — here lifted to table-level
    * invariants). Six constraints across three tables: two referential
    * (lineitem→orders, orders→customer), one uniqueness (o_orderkey),
    * two range (l_quantity ∈ [1,50], l_discount ∈ [0,1]), one
    * not-null (c_name). Output is one row per constraint:
    * (constraint_name, n_checked, violations) — metadata-sized.
    *
    * Plan: each referential check is a LEFT join against the DISTINCT
    * key projection (distinct-guarded so a duplicated right key can
    * never inflate n_checked) collapsed to a 1-row conditional agg;
    * in-table checks share ONE scan per table via conditional sums,
    * unpivoted to rows with stack. The 1-row global aggregates plan
    * SinglePartition exchanges — the inherent accepted class; every
    * scan is single-pass and the join keys are the tables' own
    * shuffle keys. At 100 TB the audit costs one pass per table plus
    * two key-projection shuffles, and AQE broadcasts the distinct key
    * sides when they fit.
    */
  def dqAudit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val or = Tables.orders(s, d)
    val cu = Tables.customer(s, d)
    val liRange = li.agg(
      count(lit(1)).as("n"),
      expr("CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)").as("v_qty"),
      expr("CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT)").as("v_disc"))
      .selectExpr("stack(2, 'lineitem_quantity_range', n, v_qty, " +
        "'lineitem_discount_range', n, v_disc) AS (constraint_name, n_checked, violations)")
    val orUniq = or.agg(count(lit(1)).as("n"), countDistinct(col("o_orderkey")).as("nd"))
      .selectExpr("stack(1, 'orders_unique_orderkey', n, n - nd) " +
        "AS (constraint_name, n_checked, violations)")
    val cuNull = cu.agg(count(lit(1)).as("n"),
      expr("CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)").as("v"))
      .selectExpr("stack(1, 'customer_name_notnull', n, v) " +
        "AS (constraint_name, n_checked, violations)")
    def orphan(name: String, left: DataFrame, lk: String, rightKeys: DataFrame, rk: String) =
      left.select(lk)
        .join(rightKeys.select(rk).distinct(), col(lk) === col(rk), "left")
        .agg(count(lit(1)).as("n"),
          expr(s"CAST(sum(CASE WHEN $rk IS NULL THEN 1 ELSE 0 END) AS BIGINT)").as("v"))
        .selectExpr(s"stack(1, '$name', n, v) AS (constraint_name, n_checked, violations)")
    liRange
      .unionAll(orUniq)
      .unionAll(cuNull)
      .unionAll(orphan("lineitem_orphan_orderkey", li, "l_orderkey", or, "o_orderkey"))
      .unionAll(orphan("orders_orphan_custkey", or, "o_custkey", cu, "c_custkey"))
      .orderBy("constraint_name")
  }

  /** q_unpivot — wide→long reshape (the inverse of q_pivot): the
    * per-returnflag count matrix (rows / distinct parts / distinct
    * suppliers) unpivoted to (flag, measure, value) rows with the
    * stack generator. Values are exact BIGINT counts — never IEEE —
    * so the long form hashes identically on both engines.
    *
    * Plan: each DISTINCT count runs as its own two-level aggregate —
    * partial distinct on (flag, key) map-side, then a count per flag —
    * and the three |flags|-row results broadcast-join back together.
    * NOT the one-pass multi-distinct form: Spark compiles two
    * countDistincts over one input into an Expand (3× the scan rows
    * through a single hash aggregate holding all dedup sets at once),
    * which was the registry's worst sf100 spiller by far (135 GB
    * spilled against 6.6 GB shuffled — BENCHNOTES r15). Three pruned
    * 2-column scans are bandwidth at 100 TB; the interleaved Expand
    * state is spill. Stack is a mapper-only generator over the
    * |flags|-row matrix, so the reshape itself stays free. The oracle
    * keeps the dialect-neutral UNION ALL unpivot as the independent
    * witness.
    */
  def unpivotFlagMatrix(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val nRows = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows"))
    def distinctPerFlag(key: String, as: String) =
      li.select(col("l_returnflag"), col(key)).distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as(as))
    nRows
      .join(broadcast(distinctPerFlag("l_partkey", "n_parts")), "l_returnflag")
      .join(broadcast(distinctPerFlag("l_suppkey", "n_supps")), "l_returnflag")
      .selectExpr("l_returnflag",
        "stack(3, 'n_rows', n_rows, 'n_parts', n_parts, 'n_supps', n_supps) " +
          "AS (measure, value)")
      .orderBy("l_returnflag", "measure")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dq_audit"            -> (dqAudit _),
    "q_unpivot"             -> (unpivotFlagMatrix _),
    "q_window_distribution" -> (windowDistribution _),
    "q_window_first_last"   -> (windowFirstLast _),
    "q_scd2_intervals"      -> (scd2Intervals _),
    "q_window_trailing"     -> (windowTrailing _),
    "q_scd2_asof"           -> (scd2Asof _),
    "q_subquery_corr"       -> (subqueryCorr _),
    "q_join_full_outer"     -> (joinFullOuter _),
    "q_join_part_promo"     -> (joinPartPromo _),
    "q_join_star_revenue"   -> (joinStarRevenue _),
    "q_join_shipping_priority" -> (joinShippingPriority _),
    "q_join_large_orders"   -> (joinLargeOrders _),
    "q_join_returned_revenue" -> (joinReturnedRevenue _),
    "q_join_nation_volume"  -> (joinNationVolume _),
    "q_join_waiting_suppliers" -> (joinWaitingSuppliers _),
    "q_subquery_anti_agg"   -> (subqueryAntiAgg _),
    "q_subquery_avg_threshold" -> (subqueryAvgThreshold _),
    "q_join_dominant_suppliers" -> (joinDominantSuppliers _),
    "q_join_min_price_supplier" -> (joinMinPriceSupplier _),
    "q_agg_custdist"        -> (aggCustdist _),
    "q_join_order_priority_check" -> (joinOrderPriorityCheck _),
    "q_join_disjunctive"    -> (joinDisjunctive _),
    "q_subquery_top_supplier" -> (subqueryTopSupplier _),
    "q_agg_forecast_revenue" -> (aggForecastRevenue _),
    "q_agg_market_share"    -> (aggMarketShare _),
    "q_agg_profit_by_nation" -> (aggProfitByNation _),
    "q_agg_important_parts" -> (aggImportantParts _),
    "q_join_line_priority"  -> (joinLinePriority _),
    "q_agg_supplier_census" -> (aggSupplierCensus _),
    "q_pivot"               -> (pivotStatus _),
    "q_window_lag_lead"     -> (windowLagLead _),
    "q_window_ntile"        -> (windowNtile _),
    "q_agg_percentile"      -> (aggPercentile _),
    "q_agg_cube"            -> (aggCube _),
    "q_agg_histogram"       -> (aggHistogram _),
    "q_agg_approx_quantile" -> (aggApproxQuantile _),
    "q_join_inner"          -> (joinInner _),
    "q_join_broadcast"      -> (joinBroadcast _),
    "q_join_left_outer"     -> (joinLeftOuter _),
    "q_join_semi"           -> (joinSemi _),
    "q_join_range"          -> (joinRange _),
    "q_join_asof"           -> (joinAsof _),
    "q_agg_pricing_summary" -> (aggPricingSummary _),
    "q_agg_count_distinct"  -> (aggCountDistinct _),
    "q_agg_approx_distinct" -> (aggApproxDistinct _),
    "q_agg_rollup"          -> (aggRollup _),
    "q_agg_grouping_sets"   -> (aggGroupingSets _),
    "q_window_rank"         -> (windowRank _),
    "q_window_running"      -> (windowRunning _),
    "q_union"               -> (unionDistinct _),
    "q_intersect"           -> (intersectKeys _),
    "q_scalar_date"         -> (scalarDate _),
    "q_scalar_json"         -> (scalarJson _),
    "q_scalar_hash"         -> (scalarHash _),
  )

  // Texts shared by the DuckDB oracle and the Spark-SQL surface whose
  // only dialect delta is the epoch-micros spelling: `us` converts a
  // timestamp, `dateUs` a date (DuckDB epoch_us; Spark unix_micros,
  // casting a date to TIMESTAMP first).
  private def epochUs(c: String) = s"epoch_us($c)"
  private def unixMicros(c: String) = s"unix_micros($c)"
  private def dateMicros(c: String) = unixMicros(s"CAST($c AS TIMESTAMP)")
  private def joinLargeOrdersSql(dateUs: String => String) =
    s"SELECT c_name, c_custkey, o_orderkey, ${dateUs("o_orderdate")} AS od_us, " +
      "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice, " +
      "CAST(sum_qty_d AS DOUBLE) AS sum_qty " +
      "FROM orders " +
      "JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_d " +
      "FROM lineitem GROUP BY l_orderkey " +
      "HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250) b ON o_orderkey = b.l_orderkey " +
      "JOIN customer ON o_custkey = c_custkey " +
      "ORDER BY totalprice DESC, o_orderkey LIMIT 100"
  private def joinShippingPrioritySql(dateUs: String => String) =
    s"SELECT l_orderkey, ${dateUs("o_orderdate")} AS od_us, o_orderpriority, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue " +
      "FROM customer " +
      "JOIN orders ON c_custkey = o_custkey " +
      "JOIN lineitem ON l_orderkey = o_orderkey " +
      "WHERE c_mktsegment = 'BUILDING' " +
      "AND o_orderdate < TIMESTAMP '1998-06-01' AND l_shipdate > TIMESTAMP '1998-06-01' " +
      "GROUP BY l_orderkey, o_orderdate, o_orderpriority " +
      "ORDER BY revenue DESC, l_orderkey LIMIT 10"
  // `shipdate` is the selected l_shipdate column
  private def windowRunningSql(shipdate: String) =
    s"SELECT l_suppkey, $shipdate, l_orderkey, l_linenumber, l_quantity, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER " +
      "(PARTITION BY l_suppkey ORDER BY l_shipdate ASC, l_orderkey ASC, l_linenumber ASC " +
      "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty " +
      "FROM lineitem " +
      "ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity"
  private def windowFirstLastSql(us: String => String) =
    s"SELECT user_id, event_id, ${us("ts")} AS ts_us, event_type, " +
      "first_value(event_type) OVER w AS first_type, " +
      "last_value(event_type) OVER w AS last_type, " +
      "nth_value(event_type, 2) OVER w AS second_type " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
      "ORDER BY user_id, ts_us, event_id"
  private def windowTrailingSql(us: String => String) =
    s"SELECT user_id, event_id, ${us("ts")} AS ts_us, " +
      s"count(*) OVER (PARTITION BY user_id ORDER BY ${us("ts")} " +
      "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_trailing_1h " +
      "FROM events ORDER BY user_id, ts_us, event_id"
  private def windowLagLeadSql(us: String => String) =
    s"SELECT user_id, event_id, ${us("ts")} AS ts_us, value, " +
      "lag(value) OVER w AS prev_value, lead(value) OVER w AS next_value, " +
      "value - lag(value) OVER w AS delta FROM events " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, value) " +
      "ORDER BY user_id, ts_us, event_id, value"
  private def windowNtileSql(us: String => String) =
    s"SELECT user_id, event_id, ${us("ts")} AS ts_us, " +
      "ntile(4) OVER (PARTITION BY user_id ORDER BY ts, event_id, value) AS quartile " +
      "FROM events ORDER BY user_id, ts_us, event_id, quartile"
  // SCD2: each order version valid until the customer's next order
  private val scd2Versions =
    "WITH v AS (SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate, " +
      "lead(o_orderdate) OVER (PARTITION BY o_custkey " +
      "ORDER BY o_orderdate, o_orderkey) AS valid_to FROM orders)"
  private def scd2Interval(dateUs: String => String) =
    "SELECT o_custkey, o_orderkey, o_orderstatus, " +
      s"${dateUs("o_orderdate")} AS valid_from_us, ${dateUs("valid_to")} AS valid_to_us, " +
      "valid_to IS NULL AS is_current FROM v"
  private def scd2IntervalsSql(dateUs: String => String) =
    s"$scd2Versions ${scd2Interval(dateUs)} " +
      "ORDER BY o_custkey, valid_from_us, o_orderkey"
  private def scd2AsofSql(dateUs: String => String, us: String => String) = {
    val asOf = us("TIMESTAMP '1996-06-01 00:00:00'")
    s"$scd2Versions, iv AS (${scd2Interval(dateUs)}) " +
      "SELECT o_custkey, o_orderkey, o_orderstatus, valid_from_us, is_current " +
      s"FROM iv WHERE valid_from_us <= $asOf " +
      s"AND (valid_to_us IS NULL OR valid_to_us > $asOf) " +
      "ORDER BY o_custkey"
  }

  val oracle: Map[String, String] = Map(
    // dialect-neutral (CASE sums, LEFT JOIN, UNION ALL): runs verbatim
    // in DuckDB (oracle) and Spark (SQL front door)
    "q_dq_audit" ->
      ("SELECT 'lineitem_quantity_range' AS constraint_name, count(*) AS n_checked, " +
        "CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM lineitem " +
        "UNION ALL " +
        "SELECT 'lineitem_discount_range', count(*), " +
        "CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem " +
        "UNION ALL " +
        "SELECT 'orders_unique_orderkey', count(*), " +
        "count(*) - count(DISTINCT o_orderkey) FROM orders " +
        "UNION ALL " +
        "SELECT 'customer_name_notnull', count(*), " +
        "CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer " +
        "UNION ALL " +
        "SELECT 'lineitem_orphan_orderkey', count(*), " +
        "CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o " +
        "ON l.l_orderkey = o.o_orderkey " +
        "UNION ALL " +
        "SELECT 'orders_orphan_custkey', count(*), " +
        "CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) " +
        "FROM orders r LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c " +
        "ON r.o_custkey = c.c_custkey " +
        "ORDER BY constraint_name"),
    // dialect-neutral UNION ALL unpivot of the wide count matrix
    "q_unpivot" ->
      ("WITH wdt AS (SELECT l_returnflag, count(*) AS n_rows, " +
        "count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l_returnflag, 'n_rows' AS measure, CAST(n_rows AS BIGINT) AS value FROM wdt " +
        "UNION ALL SELECT l_returnflag, 'n_parts', CAST(n_parts AS BIGINT) FROM wdt " +
        "UNION ALL SELECT l_returnflag, 'n_supps', CAST(n_supps AS BIGINT) FROM wdt " +
        "ORDER BY l_returnflag, measure"),
    "q_window_distribution" ->
      ("SELECT o_orderkey, o_orderpriority, " +
        "percent_rank() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY CAST(o_totalprice AS DECIMAL(18,2))) AS pct_rank, " +
        "cume_dist() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY CAST(o_totalprice AS DECIMAL(18,2))) AS cume " +
        "FROM orders ORDER BY o_orderpriority, o_orderkey"),
    "q_window_first_last" -> windowFirstLastSql(epochUs),
    "q_scd2_intervals" -> scd2IntervalsSql(epochUs),
    "q_window_trailing" -> windowTrailingSql(epochUs),
    "q_scd2_asof" -> scd2AsofSql(epochUs, epochUs),
    "q_subquery_corr" ->
      ("WITH o AS (SELECT o_orderkey, o_custkey, " +
        "CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders), " +
        "pc AS (SELECT o_custkey, sum(price) AS sum_price, count(*) AS n_orders " +
        "FROM o GROUP BY o_custkey) " +
        "SELECT o_orderkey, o.o_custkey, CAST(price AS DOUBLE) AS price " +
        "FROM o JOIN pc ON o.o_custkey = pc.o_custkey " +
        "WHERE price * n_orders > sum_price ORDER BY o.o_custkey, o_orderkey"),
    "q_join_full_outer" ->
      ("SELECT coalesce(c_custkey, o_custkey) AS custkey, c_name, " +
        "coalesce(n_big, 0) AS n_big_orders FROM " +
        "(SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000) c " +
        "FULL OUTER JOIN " +
        "(SELECT o_custkey, count(*) AS n_big FROM orders " +
        "WHERE o_totalprice > 150000 GROUP BY o_custkey) o " +
        "ON c_custkey = o_custkey ORDER BY custkey"),
    "q_join_star_revenue" ->
      ("SELECT n_name, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, " +
        "count(*) AS n_lines " +
        "FROM lineitem " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' " +
        "AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY n_name ORDER BY n_name"),
    "q_join_shipping_priority" -> joinShippingPrioritySql(epochUs),
    "q_join_large_orders" -> joinLargeOrdersSql(epochUs),
    // deliberately the TEXTBOOK correlated form (triple lineitem scan,
    // EXISTS + NOT EXISTS): the engine runs the single-scan aggregate
    // rewrite, so a green row proves the rewrite, not the arithmetic
    "q_join_waiting_suppliers" ->
      ("SELECT s_name, n_name, count(*) AS numwait " +
        "FROM supplier, lineitem l1, orders o, nation " +
        "WHERE s_suppkey = l1.l_suppkey " +
        "AND o.o_orderkey = l1.l_orderkey " +
        "AND o.o_orderstatus = 'F' " +
        "AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS " +
        "AND EXISTS (SELECT 1 FROM lineitem l2 " +
        "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 " +
        "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey " +
        "AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS) " +
        "AND s_nationkey = n_nationkey " +
        "GROUP BY s_name, n_name ORDER BY numwait DESC, s_name"),
    "q_subquery_avg_threshold" ->
      ("SELECT CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly, " +
        "count(*) AS n_lines " +
        "FROM lineitem l1, part " +
        "WHERE p_partkey = l1.l_partkey AND p_brand = 'Brand#12' " +
        "AND CAST(l1.l_quantity AS DECIMAL(18,2)) * 5 * " +
        "(SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = p_partkey) " +
        "< (SELECT SUM(CAST(l3.l_quantity AS DECIMAL(18,2))) FROM lineitem l3 " +
        "WHERE l3.l_partkey = p_partkey)"),
    "q_join_dominant_suppliers" ->
      ("SELECT s_name, n_name FROM supplier, nation " +
        "WHERE s_nationkey = n_nationkey AND s_suppkey IN (" +
        "SELECT l1.l_suppkey FROM lineitem l1, part " +
        "WHERE l1.l_partkey = p_partkey AND p_name LIKE 'small %' " +
        "AND l1.l_shipdate >= TIMESTAMP '1997-01-01' AND l1.l_shipdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY l1.l_suppkey, p_partkey " +
        "HAVING SUM(CAST(l1.l_quantity AS DECIMAL(18,2))) * 2 > (" +
        "SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) FROM lineitem l2 " +
        "WHERE l2.l_partkey = p_partkey " +
        "AND l2.l_shipdate >= TIMESTAMP '1997-01-01' AND l2.l_shipdate < TIMESTAMP '1998-01-01')) " +
        "ORDER BY s_name"),
    "q_join_min_price_supplier" ->
      ("SELECT DISTINCT p_partkey, p_name, s_name, n_name, " +
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price " +
        "FROM part, lineitem, supplier, nation, region " +
        "WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey " +
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
        "AND r_name = 'EUROPE' AND p_type = 'LARGE' AND p_size <= 10 " +
        "AND CAST(l_extendedprice AS DECIMAL(18,2)) = (" +
        "SELECT MIN(CAST(l2.l_extendedprice AS DECIMAL(18,2))) " +
        "FROM lineitem l2, supplier s2, nation n2, region r2 " +
        "WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey " +
        "AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey " +
        "AND r2.r_name = 'EUROPE') " +
        "ORDER BY p_partkey, s_name"),
    "q_agg_custdist" ->
      ("SELECT c_count, count(*) AS custdist FROM (" +
        "SELECT c_custkey, count(o_orderkey) AS c_count " +
        "FROM customer LEFT OUTER JOIN orders " +
        "ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' " +
        "GROUP BY c_custkey) c_orders " +
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"),
    "q_join_order_priority_check" ->
      ("SELECT o_orderpriority, count(*) AS order_count FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1997-07-01' " +
        "AND o_orderdate < TIMESTAMP '1997-10-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem " +
        "WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate + INTERVAL 30 DAYS) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_join_disjunctive" ->
      ("SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, " +
        "count(*) AS n_lines " +
        "FROM lineitem, part WHERE p_partkey = l_partkey AND (" +
        "(p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 " +
        "AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 1 AND 15) " +
        "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 " +
        "AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 10 AND 25) " +
        "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 " +
        "AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 20 AND 35))"),
    "q_agg_forecast_revenue" ->
      ("SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, " +
        "count(*) AS n_lines FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
    "q_agg_market_share" ->
      ("WITH vol AS (SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, " +
        "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2))) AS volume, n2.n_name AS supp_nation " +
        "FROM lineitem " +
        "JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO' " +
        "JOIN supplier ON s_suppkey = l_suppkey " +
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey " +
        "JOIN orders ON o_orderkey = l_orderkey " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1998-01-01' " +
        "AND EXISTS (SELECT 1 FROM customer, nation n1, region " +
        "WHERE c_custkey = o_custkey AND c_nationkey = n1.n_nationkey " +
        "AND n1.n_regionkey = r_regionkey AND r_name = 'EUROPE')) " +
        "SELECT o_year, " +
        "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_volume, " +
        "CAST(SUM(volume) AS DOUBLE) AS total_volume, " +
        "CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / " +
        "CAST(SUM(volume) AS DOUBLE) AS mkt_share " +
        "FROM vol GROUP BY o_year ORDER BY o_year"),
    // TPC-H Q9 textbook text (p_retailprice plays ps_supplycost)
    "q_agg_profit_by_nation" ->
      ("SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit FROM (" +
        "SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year, " +
        "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2))) - " +
        "CAST(p_retailprice AS DECIMAL(18,2)) * " +
        "CAST(l_quantity AS DECIMAL(18,2)) AS amount " +
        "FROM part, supplier, lineitem, orders, nation " +
        "WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey " +
        "AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey " +
        "AND p_name LIKE '%red%') profit " +
        "GROUP BY nation, o_year ORDER BY nation, o_year DESC"),
    // TPC-H Q11 textbook two-scan scalar-subquery text; threshold in
    // exact DECIMAL algebra (value*1000 > total, never a double frac)
    "q_agg_important_parts" ->
      ("SELECT l_partkey AS p_partkey, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value " +
        "FROM lineitem, supplier, nation " +
        "WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey " +
        "AND n_name = 'NATION_3' GROUP BY l_partkey " +
        "HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 1000 > (" +
        "SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))) " +
        "FROM lineitem, supplier, nation " +
        "WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey " +
        "AND n_name = 'NATION_3') " +
        "ORDER BY value DESC, p_partkey"),
    // TPC-H Q12 textbook CASE-count text (l_returnflag plays l_shipmode)
    "q_join_line_priority" ->
      ("SELECT l_returnflag, " +
        "CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH' " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
        "FROM orders, lineitem WHERE o_orderkey = l_orderkey " +
        "AND l_shipdate >= TIMESTAMP '1997-01-01' " +
        "AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // TPC-H Q16 textbook NOT-IN census text (distinct lineitem
    // supplier-part pairs play partsupp; negative balance plays the
    // complaint comment)
    "q_agg_supplier_census" ->
      ("SELECT p_brand, p_type, p_size, " +
        "COUNT(DISTINCT l_suppkey) AS supplier_cnt FROM lineitem, part " +
        "WHERE p_partkey = l_partkey AND p_brand <> 'Brand#1' " +
        "AND p_type <> 'MEDIUM' " +
        "AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23) " +
        "AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0) " +
        "GROUP BY p_brand, p_type, p_size " +
        "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"),
    "q_subquery_top_supplier" ->
      ("WITH revenue AS (SELECT l_suppkey, " +
        "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_d FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' " +
        "AND l_shipdate < TIMESTAMP '1997-04-01' GROUP BY l_suppkey) " +
        "SELECT s_suppkey, s_name, CAST(rev_d AS DOUBLE) AS total_revenue " +
        "FROM supplier, revenue " +
        "WHERE s_suppkey = l_suppkey " +
        "AND rev_d = (SELECT max(rev_d) FROM revenue) " +
        "ORDER BY s_suppkey"),
    "q_join_returned_revenue" ->
      ("SELECT c_custkey, c_name, n_name, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, " +
        "count(*) AS n_lines " +
        "FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' " +
        "AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01' " +
        "GROUP BY c_custkey, c_name, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20"),
    "q_join_nation_volume" ->
      ("SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS INTEGER) AS l_year, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue, " +
        "count(*) AS n_lines " +
        "FROM lineitem " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8') " +
        "OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')) " +
        "AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY supp_nation, cust_nation, l_year " +
        "ORDER BY supp_nation, cust_nation, l_year"),
    "q_subquery_anti_agg" ->
      ("WITH st AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_pos, " +
        "count(*) AS n_pos FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0) " +
        "SELECT c_mktsegment, count(*) AS n_cust, " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM customer, st " +
        "WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > sum_pos " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2001-01-01') " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "q_join_part_promo" ->
      ("SELECT p_brand, " +
        "CAST(SUM(CASE WHEN p_type = 'PROMO' " +
        "THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) " +
        "ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue, " +
        "count(*) AS n_lines " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_brand ORDER BY p_brand"),
    "q_pivot" ->
      ("SELECT o_orderpriority, " +
        "count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o, " +
        "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, " +
        "count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "q_window_lag_lead" -> windowLagLeadSql(epochUs),
    "q_window_ntile" -> windowNtileSql(epochUs),
    "q_agg_cube" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n_items, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"),
    "q_agg_histogram" ->
      ("SELECT o_orderpriority, " +
        "CASE WHEN CAST(o_totalprice AS DOUBLE) >= 600000.0 THEN CAST(11 AS BIGINT) " +
        "ELSE CAST(floor(CAST(o_totalprice AS DOUBLE) / 60000.0) + 1 AS BIGINT) END AS bucket, " +
        "count(*) AS n_orders FROM orders " +
        "GROUP BY 1, 2 ORDER BY o_orderpriority, bucket"),
    "q_agg_percentile" ->
      ("SELECT l_returnflag, " +
        "quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS p25, " +
        "quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS p50, " +
        "quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS p75, " +
        "count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_join_inner" ->
      ("SELECT o_orderkey, c_custkey, c_name, o_totalprice FROM orders " +
        "JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey"),
    "q_join_broadcast" ->
      ("SELECT n_nationkey, n_name, r_name FROM nation " +
        "JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey"),
    "q_join_left_outer" ->
      ("SELECT c_custkey, count(o_orderkey) AS n_orders FROM customer " +
        "LEFT JOIN orders ON o_custkey = c_custkey GROUP BY c_custkey ORDER BY c_custkey"),
    "q_join_semi" ->
      ("SELECT c_custkey, c_name FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey) ORDER BY c_custkey"),
    "q_join_range" ->
      ("SELECT a.user_id, count(*) AS n_pairs FROM events a JOIN events b " +
        "ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE " +
        "GROUP BY a.user_id ORDER BY a.user_id"),
    "q_join_asof" ->
      ("SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type FROM events " +
        "WHERE ts <= TIMESTAMP '2024-01-15 00:00:00' " +
        "QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1 " +
        "ORDER BY user_id"),
    "q_agg_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price, " +
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty, " +
        "COUNT(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate < TIMESTAMP '1999-06-01' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "q_agg_count_distinct" ->
      ("SELECT l_partkey, count(DISTINCT l_suppkey) AS n_suppliers FROM lineitem " +
        "GROUP BY l_partkey ORDER BY l_partkey"),
    "q_agg_rollup" ->
      ("SELECT r_name, n_name, count(*) AS n_customers, " +
        "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY ROLLUP(r_name, n_name) " +
        "ORDER BY r_name NULLS FIRST, n_name NULLS FIRST"),
    "q_agg_grouping_sets" ->
      ("SELECT c_mktsegment, n_name, count(*) AS n_customers " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY GROUPING SETS ((c_mktsegment), (n_name), ()) " +
        "ORDER BY c_mktsegment NULLS FIRST, n_name NULLS FIRST"),
    "q_window_rank" ->
      ("SELECT o_custkey, rn, o_orderkey, o_totalprice FROM " +
        "(SELECT o_custkey, o_orderkey, o_totalprice, " +
        "rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),
    "q_window_running" -> windowRunningSql("l_shipdate"),
    "q_union" ->
      ("SELECT event_id, user_id, event_type FROM events WHERE event_id < 200 " +
        "UNION SELECT event_id, user_id, event_type FROM events WHERE event_type = 'error' " +
        "ORDER BY event_id"),
    "q_intersect" ->
      ("SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00' " +
        "INTERSECT SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' " +
        "ORDER BY user_id"),
    "q_scalar_date" ->
      ("SELECT event_id, CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m, " +
        "date_trunc('day', ts) AS day_ts, " +
        "date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) AS age_s " +
        "FROM events ORDER BY event_id"),
    "q_scalar_json" ->
      ("SELECT event_id, json_extract_string(props, '$.k') AS k_str, " +
        "CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int " +
        "FROM events ORDER BY event_id"),
    "q_scalar_hash" ->
      "SELECT doc_id, md5(text) AS text_md5 FROM documents ORDER BY doc_id",
  )

  /** Spark-dialect SQL surface overrides (SqlSurface): epoch_us →
    * unix_micros, quantile_cont → percentile, json_extract_string →
    * get_json_object, date_diff('second',…) → unix_timestamp deltas,
    * QUALIFY → ranked subquery.
    */
  val sparkSql: Map[String, String] = Map(
    // epoch_us → unix_micros is the only dialect delta
    "q_join_large_orders" -> joinLargeOrdersSql(unixMicros),
    "q_join_shipping_priority" -> joinShippingPrioritySql(unixMicros),
    // raw l_shipdate in the output: NTZ cast matches the DataFrame form
    // (and the oracle's naive TIMESTAMP type class) — Spark reads the
    // naive parquet micros as LTZ, DuckDB as naive
    "q_window_running" -> windowRunningSql("CAST(l_shipdate AS TIMESTAMP_NTZ) AS l_shipdate"),
    // non-oracle (sketch outputs — rows-only-compared in SqlSurfaceSpec):
    // identical function calls to the DataFrame forms, so the sketches
    // are bit-identical, not just approximately equal
    "q_agg_approx_distinct" ->
      ("SELECT l_returnflag, approx_count_distinct(l_partkey, 0.02) AS approx_parts " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_agg_approx_quantile" ->
      ("WITH a AS (SELECT l_returnflag, " +
        "approx_percentile(CAST(l_quantity AS DOUBLE), array(0.25D, 0.5D, 0.75D), 10000) AS q " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l_returnflag, q[0] AS p25, q[1] AS p50, q[2] AS p75 " +
        "FROM a ORDER BY l_returnflag"),
    "q_agg_percentile" ->
      ("SELECT l_returnflag, percentile(CAST(l_quantity AS DOUBLE), 0.25D) AS p25, " +
        "percentile(CAST(l_quantity AS DOUBLE), 0.5D) AS p50, " +
        "percentile(CAST(l_quantity AS DOUBLE), 0.75D) AS p75, count(*) AS n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_join_asof" ->
      ("SELECT user_id, event_id, unix_micros(ts) AS ts_us, event_type FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1 " +
        "ORDER BY user_id"),
    "q_scalar_date" ->
      ("SELECT event_id, CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m, " +
        "to_date(date_trunc('day', ts)) AS day_ts, " +
        "unix_timestamp(ts) - unix_timestamp(TIMESTAMP '2024-01-01 00:00:00') AS age_s " +
        "FROM events ORDER BY event_id"),
    "q_scalar_json" ->
      ("SELECT event_id, get_json_object(props, '$.k') AS k_str, " +
        "CAST(get_json_object(props, '$.k') AS INTEGER) AS k_int " +
        "FROM events ORDER BY event_id"),
    "q_window_first_last" -> windowFirstLastSql(unixMicros),
    "q_scd2_intervals" -> scd2IntervalsSql(dateMicros),
    "q_window_trailing" -> windowTrailingSql(unixMicros),
    "q_scd2_asof" -> scd2AsofSql(dateMicros, unixMicros),
    "q_window_lag_lead" -> windowLagLeadSql(unixMicros),
    "q_window_ntile" -> windowNtileSql(unixMicros),
  )
}
