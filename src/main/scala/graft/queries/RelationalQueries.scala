package graft
package queries

import graft.operators._
import graft.queries.Inputs._
import graft.queries.SqlText._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Relational core and analytics: the TPC-H-style joins and aggregates,
  * windows, time series, sketches and table formats. Each [[QuerySpec]]
  * holds a query's Spark closure and, right after it, the DuckDB SQL
  * its result must match. */
private[graft] object RelationalQueries extends QueryFamily {
  val prefix = "q"

  private[graft] def q05(s: SparkSession, dir: String): DataFrame = {
    val region = tbl(s, dir, "region").where(col("r_name") === "ASIA")
    val nation = tbl(s, dir, "nation")
    val customer = tbl(s, dir, "customer")
    val supplier = tbl(s, dir, "supplier")
    val orders = tbl(s, dir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val lineitem = tbl(s, dir, "lineitem")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      // decimal-exact sum internally; the final compared column is cast
      // to double (exact below 2^53) because the driver's hash comparer
      // stringifies Spark decimals scale-faithfully ("380456.00") but
      // DuckDB decimals via float ("380456.0") — any trailing zero at
      // the cast scale hash-mismatches despite equal values. Same
      // convention for every compared decimal column in `queries`.
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val specs: Seq[QuerySpec] = Seq(
    // ---------------------------------------------- relational core
    QuerySpec("q01_pricing_summary", (s, dir) => {
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // decimal-exact sums internally, double on the compared
          // surface (see q05 note — sums here stay below 2^53 so the
          // double is exact and both engines convert identically)
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          // scale-4 / scale-6 casts: the products of 2-decimal values have
          // exactly 4 (resp. 6) true decimal digits, so casting at (or
          // above) that scale is never a rounding tie and Spark's exact
          // BigDecimal conversion agrees bit-for-bit with DuckDB's
          // scaled-double conversion. Scale-2 casts of these products DID
          // diverge (half-up vs scaled-double ties).
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("sum_disc_price"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
            .cast("decimal(18,6)")).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order")
        )
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, oracleSql =
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    QuerySpec("q03_top_orders", (s, dir) => {
      val customer = tbl(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val orders = tbl(s, dir, "orders")
        .where(col("o_orderdate") < lit("1998-06-01").cast("timestamp"))
      val lineitem = tbl(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1998-06-01").cast("timestamp"))
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          col("o_orderdate").cast("date").as("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, oracleSql =
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),

    QuerySpec("q05_region_revenue", (s, dir) => q05(s, dir), oracleSql =
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN supplier ON s_nationkey = n_nationkey
        |JOIN lineitem ON l_suppkey = s_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),

    QuerySpec("q06_forecast_filter", (s, dir) => {
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1998-01-01").cast("timestamp")
          && col("l_discount") >= 0.03 && col("l_discount") <= 0.07
          && col("l_quantity") < 25)
        .agg(
          sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,4)"))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items")
        )
    }, oracleSql =
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07
        |  AND l_quantity < 25""".stripMargin),

    QuerySpec("q_semi_join", (s, dir) => {
      val bigOrders = tbl(s, dir, "orders").where(col("o_totalprice") > 400000)
      tbl(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, oracleSql =
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin),

    QuerySpec("q_anti_join", (s, dir) => {
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, oracleSql =
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),

    QuerySpec("q_window_rank", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      tbl(s, dir, "customer")
        .withColumn("rnk", rank().over(w))
        .where(col("rnk") <= 3)
        .select(col("c_nationkey"), col("rnk"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_nationkey"), col("rnk"), col("c_custkey"))
    }, oracleSql =
      """SELECT c_nationkey, rnk, c_custkey, c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |    rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
        |  FROM customer)
        |WHERE rnk <= 3
        |ORDER BY c_nationkey, rnk, c_custkey""".stripMargin),

    QuerySpec("q_window_running", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      tbl(s, dir, "orders")
        .where(col("o_custkey") < 150)
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }, oracleSql =
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders WHERE o_custkey < 150
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    QuerySpec("q_distinct_agg", (s, dir) => {
      tbl(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(
          countDistinct(col("c_nationkey")).as("n_nations"),
          sum(when(col("c_acctbal") > 0, 1L).otherwise(0L)).as("n_positive"),
          sum(when(col("c_acctbal") <= 0, 1L).otherwise(0L)).as("n_nonpositive"),
          count(lit(1)).as("n_customers")
        )
        .orderBy(col("c_mktsegment"))
    }, oracleSql =
      """SELECT c_mktsegment,
        |  count(DISTINCT c_nationkey) AS n_nations,
        |  CAST(sum(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
        |  CAST(sum(CASE WHEN c_acctbal <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpositive,
        |  count(*) AS n_customers
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    QuerySpec("q13_custdist", (s, dir) => {
      // TPC-H Q13's shape — the outer-join count DISTRIBUTION: count
      // per-customer orders through a LEFT join (customers with no
      // orders must survive as c_count = 0), then the distribution of
      // those counts. The two-level aggregate is the canonical
      // "aggregate of an aggregate" plan: the first groupBy shuffles
      // on the join key it already has (AQE broadcasts the customer
      // side), the second shuffles |distinct counts| rows — the wide
      // fact table never moves twice. Filter: only open-or-filled
      // orders count toward a customer's tally (the Q13 comment-filter
      // stand-in on this schema).
      val cust = tbl(s, dir, "customer").select(col("c_custkey"))
      val ord = tbl(s, dir, "orders")
        .where(col("o_orderstatus") =!= "P")
        .select(col("o_custkey"), col("o_orderkey"))
      val perCust = cust
        .join(ord, cust("c_custkey") === ord("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
      perCust
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
    // TPC-H Q13 shape: LEFT-join count distribution — zero-order
    // customers must appear in the c_count = 0 bucket
    oracleSql =
      """WITH per_cust AS (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON o.o_custkey = c.c_custkey AND o.o_orderstatus <> 'P'
        |  GROUP BY c.c_custkey)
        |SELECT c_count, count(*) AS custdist FROM per_cust
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    QuerySpec("q21_sole_late", (s, dir) => {
      // TPC-H Q21's shape — the EXISTS / NOT-EXISTS chain ("suppliers
      // who kept orders waiting": a supplier with a late line on a
      // multi-supplier order where NO OTHER supplier was late),
      // re-expressed as the one-pass double-aggregate rewrite instead
      // of two correlated self-joins: per-(order, supplier) late
      // flags, per-order supplier/late-supplier counts, then the
      // qualifying pairs filter — lineitem shuffles once on
      // (orderkey, suppkey) and the second aggregate moves only the
      // collapsed per-pair rows. l_shipdate past a fixed cutoff
      // stands in for receipt-past-commit on this schema.
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > lit("1997-06-30 00:00:00")).as("late"))
      val perOS = li.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("late")).as("late"))
      val perO = perOS.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(when(col("late"), 1L).otherwise(0L)).as("n_late"))
      perOS.where(col("late"))
        .join(perO, Seq("l_orderkey"))
        .where(col("n_supp") > 1 && col("n_late") === 1)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("l_suppkey"))
    },
    // TPC-H Q21 shape: EXISTS/NOT-EXISTS chain as the double-aggregate
    // rewrite — sole late supplier on a multi-supplier order
    oracleSql =
      """WITH per_os AS (
        |  SELECT l_orderkey, l_suppkey,
        |    max(CASE WHEN l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
        |      THEN 1 ELSE 0 END) = 1 AS late
        |  FROM lineitem GROUP BY 1, 2),
        |per_o AS (
        |  SELECT l_orderkey, count(*) AS n_supp,
        |    CAST(sum(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late
        |  FROM per_os GROUP BY 1)
        |SELECT l_suppkey, count(*) AS numwait
        |FROM per_os JOIN per_o USING (l_orderkey)
        |WHERE late AND n_supp > 1 AND n_late = 1
        |GROUP BY l_suppkey ORDER BY numwait DESC, l_suppkey""".stripMargin),

    QuerySpec("q_rollup", (s, dir) => {
      tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }, oracleSql =
      """SELECT r_name, n_name, count(*) AS n_customers
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin),

    QuerySpec("q_cube", (s, dir) => {
      tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .cube(col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))
    }, oracleSql =
      """SELECT n_name, c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, c_mktsegment)
        |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin),

    QuerySpec("q_grouping_sets", (s, dir) => {
      // explicit GROUPING SETS (cube minus the grand total): the
      // arbitrary-subset sibling of rollup/cube — one shuffle, all
      // grouping combinations computed from a single expanded pass
      tbl(s, dir, "customer")
        .join(broadcast(tbl(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupingSets(
          Seq(Seq(col("n_name"), col("c_mktsegment")), Seq(col("n_name")),
            Seq(col("c_mktsegment"))),
          col("n_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))
    }, oracleSql =
      """SELECT n_name, c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), (c_mktsegment))
        |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin),

    QuerySpec("q_attribution", (s, dir) => {
      // first/last-touch conversion attribution: each purchase
      // credits the user's FIRST and MOST-RECENT preceding
      // non-purchase event type — the marketing readout next to
      // q_funnel. ONE user-keyed window pass in deterministic
      // (sec, event_id) order, then a ≤|types|-row aggregate;
      // revenue is cents-exact.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("sec"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      events(s, dir)
        .select(col("user_id"), col("sec"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("first_touch", first(touch, ignoreNulls = true).over(w))
        .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("last_touch"), lit("none")).as("last_touch"))
        .agg(count(lit(1)).as("n_conversions"),
          countDistinct(col("user_id")).as("n_users"),
          sum(round(col("value") * 100).cast("long")).as("revenue_cents"),
          sum(when(col("first_touch") === col("last_touch"), 1L)
            .otherwise(0L)).as("n_first_equals_last"))
        .orderBy(col("last_touch"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value,
        |    epoch_us(ts) // 1000000 AS sec FROM events),
        |t AS (
        |  SELECT user_id, event_id, event_type, value,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
        |  FROM e)
        |SELECT coalesce(last_touch, 'none') AS last_touch,
        |  CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  CAST(sum(CASE WHEN first_touch = last_touch THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_first_equals_last
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    QuerySpec("q_funnel", (s, dir) => {
      // ordered conversion funnel view→click→signup→purchase, each
      // step within 2h of the previous step's FIRST occurrence —
      // computed as ONE pass: per user, a greedy fold over the
      // time-sorted event list advances the step clock (greedy-first
      // = min-in-window since the list is sorted, which is what the
      // DuckDB oracle's 4-way join replay computes independently).
      // Scale shape: one filtered scan, one user-keyed shuffle, a
      // codegen'd HOF fold, then a 4-long final agg — vs the naive
      // per-step-join formulation's 10 scans. Per-user arrays are
      // bounded by that user's funnel-type events (whale users are
      // the caveat, as in any collect-based sessionization).
      val S = 4000000000000000000L
      val e = events(s, dir)
        .where(col("event_type").isin("view", "click", "signup", "purchase"))
        .select(col("user_id"),
          struct(col("sec"), col("event_type").as("tp"), col("event_id")).as("ev"))
      val folded = e.groupBy(col("user_id"))
        .agg(sort_array(collect_list(col("ev"))).as("evs"))
        .select(aggregate(col("evs"),
          array(lit(S), lit(S), lit(S), lit(S)),
          (st, ev) => {
            val Seq(t1, t2, t3, t4) = (1 to 4).map(i => element_at(st, i))
            val sec = ev.getField("sec"); val tp = ev.getField("tp")
            def adv(t: Column, prev: Column, et: String) =
              when(t === S && prev =!= S && tp === et &&
                sec > prev && sec <= prev + 7200, sec).otherwise(t)
            array(
              when(t1 === S && tp === "view", sec).otherwise(t1),
              adv(t2, t1, "click"), adv(t3, t2, "signup"), adv(t4, t3, "purchase"))
          }).as("st"))
      val nCols = (1 to 4).map(i =>
        sum(when(element_at(col("st"), i) =!= S, 1L).otherwise(0L)).as(s"n$i"))
      val counts = folded.agg(nCols.head, nCols.tail: _*)
      counts
        .select(col("n1"), expr(
          "stack(4, '1_view', n1, '2_click', n2, '3_signup', n3, '4_purchase', n4) AS (step, n_users)"))
        .select(col("step"), col("n_users"),
          (col("n_users").cast("double") / col("n1")).as("rate"))
        .orderBy(col("step"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) // 1000000 AS sec FROM events),
        |v AS (SELECT user_id, min(sec) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(sec) AS t2 FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND sec > t1 AND sec <= t1 + 7200 GROUP BY 1),
        |sg AS (SELECT e.user_id, min(sec) AS t3 FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'signup' AND sec > t2 AND sec <= t2 + 7200 GROUP BY 1),
        |p AS (SELECT e.user_id, min(sec) AS t4 FROM e JOIN sg USING (user_id)
        |  WHERE event_type = 'purchase' AND sec > t3 AND sec <= t3 + 7200 GROUP BY 1),
        |steps AS (
        |  SELECT '1_view' AS step, CAST(count(*) AS BIGINT) AS n_users FROM v
        |  UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
        |  UNION ALL SELECT '3_signup', CAST(count(*) AS BIGINT) FROM sg
        |  UNION ALL SELECT '4_purchase', CAST(count(*) AS BIGINT) FROM p)
        |SELECT step, n_users,
        |  CAST(n_users AS DOUBLE) / (SELECT count(*) FROM v) AS rate
        |FROM steps ORDER BY step""".stripMargin),

    QuerySpec("q_retention", (s, dir) => {
      // weekly cohort retention: cohort = epoch-week of the user's
      // first event, n_active distinct users at week offsets 0..8.
      // The corpus reduces to distinct (user, week) BEFORE the
      // user-keyed join, so the join is activity-bounded, not
      // event-bounded.
      val e = events(s, dir)
        .select(col("user_id"), expr("sec div 604800").as("wk")).distinct()
      val first = e.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val act = e.join(first, "user_id")
        .select(col("user_id"), col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset"))
        .where(col("offset") <= 8)
      val cohortSize = first.groupBy(col("cohort_wk"))
        .agg(countDistinct(col("user_id")).as("n_cohort"))
      act.groupBy(col("cohort_wk"), col("offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(cohortSize, "cohort_wk")
        .select(col("cohort_wk"), col("offset"), col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort")).as("rate"))
        .orderBy(col("cohort_wk"), col("offset"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 1000000 // 604800 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
        |a AS (SELECT e.user_id, cohort_wk, wk - cohort_wk AS "offset"
        |  FROM e JOIN f USING (user_id) WHERE wk - cohort_wk <= 8),
        |cs AS (SELECT cohort_wk, CAST(count(DISTINCT user_id) AS BIGINT) AS n_cohort
        |  FROM f GROUP BY 1),
        |na AS (SELECT cohort_wk, "offset", CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM a GROUP BY 1, 2)
        |SELECT cohort_wk, "offset", n_active, n_cohort,
        |  CAST(n_active AS DOUBLE) / n_cohort AS rate
        |FROM na JOIN cs USING (cohort_wk)
        |ORDER BY cohort_wk, "offset"""".stripMargin),

    QuerySpec("q_outliers", (s, dir) => {
      // per-event-type z-score outliers (|z| > 3): value is 2-decimal
      // data, so summing exact integer CENTS (round(v*100)) makes the
      // group moments exact integers and every later float op a
      // bit-identical IEEE expression in both engines — a hash-exact
      // oracle for a statistic that is normally float-fragile.
      // Scale: map-side-combined moment agg (5 rows), broadcast back,
      // map-only z filter; no window, no collect.
      val e = events(s, dir).select(col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100).cast("long").as("cents"))
      val m = e.groupBy(col("event_type")).agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("cents")).cast("double").as("ssum"),
        // decimal-exact square sum: a LONG Σcents² overflows around
        // 10× sf1 under ANSI mode; decimal(38,0) is exact to 10³⁸ and
        // the value (cast to double) is bit-identical where both fit
        sum((col("cents") * col("cents")).cast("decimal(38,0)")).cast("double").as("ssq"))
      val z = (col("cents").cast("double") - col("ssum") / col("n")) /
        sqrt((col("ssq") - col("ssum") * col("ssum") / col("n")) / col("n"))
      e.join(broadcast(m), "event_type")
        .select(col("event_id"), col("event_type"), col("value"), z.as("z"))
        .where(abs(col("z")) > 3.0)
        .orderBy(col("event_id"))
    },
    // z replay: cents are exact integers, every float op afterwards is
    // the same IEEE expression shape — keep the parenthesization
    oracleSql =
      """WITH e AS (
        |  SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(cents) AS DOUBLE) AS ssum,
        |    CAST(sum(cents * cents) AS DOUBLE) AS ssq
        |  FROM e GROUP BY 1)
        |SELECT event_id, event_type, value,
        |  (CAST(cents AS DOUBLE) - ssum / n) /
        |    sqrt((ssq - ssum * ssum / n) / n) AS z
        |FROM e JOIN m USING (event_type)
        |WHERE abs((CAST(cents AS DOUBLE) - ssum / n) /
        |    sqrt((ssq - ssum * ssum / n) / n)) > 3.0
        |ORDER BY event_id""".stripMargin),

    QuerySpec("q_seasonality", (s, dir) => {
      // calendar profile: event volume + mean value per (day-of-week,
      // hour-of-day) — the load/seasonality heat-map behind capacity
      // planning and anomaly baselines. dow from epoch days ((d+4)%7,
      // 1970-01-01 = Thursday), all exact integer arithmetic; mean is
      // one fixed-shape division of exact cents. Map-only derivation,
      // map-combined ≤168-row aggregate.
      events(s, dir)
        .select(
          expr("(sec div 86400 + 4) % 7").as("dow"),
          expr("(sec div 3600) % 24").as("hour"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sm"))
        .select(col("dow"), col("hour"), col("n"),
          round(col("sm").cast("double") /
            (col("n").cast("double") * lit(100.0)), 6).as("mean_value"))
        .orderBy(col("dow"), col("hour"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT epoch_us(ts) // 1000000 AS sec,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (
        |  SELECT (sec // 86400 + 4) % 7 AS dow, (sec // 3600) % 24 AS hour,
        |    count(*) AS n, CAST(sum(cents) AS BIGINT) AS sm
        |  FROM e GROUP BY 1, 2)
        |SELECT dow, hour, n,
        |  round(CAST(sm AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 6)
        |    AS mean_value
        |FROM g ORDER BY dow, hour""".stripMargin),

    QuerySpec("q_trend", (s, dir) => {
      // per-type linear trend of daily revenue: OLS slope/intercept/R²
      // of exact daily cents against the epoch-day index — the "is
      // this metric growing" row behind every dashboard sparkline and
      // the input to capacity forecasts. Two bounded aggregates:
      // events map-combine to (type, day, cents); the |types|·|days|
      // table reduces to exact decimal(38,0) sufficient statistics;
      // slope/intercept/R² are fixed-shape doubles over casts of
      // exact integers — bit-identical across engines (the
      // q_correlation contract).
      val d38 = "decimal(38,0)"
      val daily = events(s, dir)
        .select(col("event_type"), expr("sec div 86400").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("y"))
      val st = daily.select(col("event_type"),
          col("day").cast(d38).as("x"), col("y").cast(d38).as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast(d38).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
      val varx = col("n") * col("sxx") - col("sx") * col("sx")
      val vary = col("n") * col("syy") - col("sy") * col("sy")
      val num = col("n") * col("sxy") - col("sx") * col("sy")
      val slope = num.cast("double") / varx.cast("double")
      st.select(col("event_type"), col("n").cast("long").as("n_days"),
          when(varx > 0, slope).as("slope_cents_per_day"),
          when(varx > 0,
            (col("sy").cast("double") - slope * col("sx").cast("double"))
              / col("n").cast("double")).as("intercept_cents"),
          when(varx > 0 && vary > 0,
            (num.cast("double") * num.cast("double"))
              / (varx.cast("double") * vary.cast("double"))).as("r2"))
        .orderBy(col("event_type"))
    },
    // OLS replay in HUGEINT sufficient statistics; slope/intercept/R²
    // keep the identical double shapes (q_correlation contract)
    oracleSql =
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS y
        |  FROM e GROUP BY 1, 2),
        |st AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(day) AS sx, sum(y) AS sy,
        |    sum(day * day) AS sxx, sum(y * y) AS syy, sum(day * y) AS sxy
        |  FROM daily GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CASE WHEN n*sxx - sx*sx > 0 THEN
        |    CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
        |  END AS slope_cents_per_day,
        |  CASE WHEN n*sxx - sx*sx > 0 THEN
        |    (CAST(sy AS DOUBLE)
        |      - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
        |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
        |  END AS intercept_cents,
        |  CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0 THEN
        |    (CAST(n*sxy - sx*sy AS DOUBLE) * CAST(n*sxy - sx*sy AS DOUBLE))
        |      / (CAST(n*sxx - sx*sx AS DOUBLE) * CAST(n*syy - sy*sy AS DOUBLE))
        |  END AS r2
        |FROM st ORDER BY event_type""".stripMargin),

    QuerySpec("q_abtest", (s, dir) => {
      // one-vs-rest two-sample z-test per event type (the A/B-test
      // primitive: is this variant's mean value different from
      // everything else?): group and global moments are exact
      // integers (cents; decimal-exact square sums), every later op
      // is a fixed-shape double expression — so z and the 1.96 cut
      // are bit-identical across engines. Scale: one map-combined
      // |types|-row moment aggregate + a broadcast 1-row total.
      val e = events(s, dir)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      val perT = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"), sum(col("cents")).as("sm"),
        sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("sq"))
      val tot = perT.agg(sum(col("n")).as("tn"), sum(col("sm")).as("tsm"),
        sum(col("sq")).as("tsq"))
      val rn = col("tn") - col("n")
      val rsm = col("tsm") - col("sm")
      val rsq = (col("tsq") - col("sq")).cast("double")
      def mean(nc: Column, smc: Column) = smc.cast("double") / nc.cast("double")
      val mt = mean(col("n"), col("sm"))
      val vT = col("sq").cast("double") / col("n").cast("double") - mt * mt
      val mR = rsm.cast("double") / rn.cast("double")
      val vR = rsq / rn.cast("double") - mR * mR
      val z = (mt - mR) /
        sqrt(vT / col("n").cast("double") + vR / rn.cast("double"))
      perT.crossJoin(broadcast(tot))
        .select(col("event_type"), col("n"),
          round(mt, 6).as("mean"), round(mR, 6).as("mean_rest"),
          round(z, 6).as("z"),
          (abs(z) > 1.96).as("significant"))
        .orderBy(col("event_type"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |t AS (
        |  SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sm,
        |    sum(cents * cents) AS sq
        |  FROM e GROUP BY 1),
        |g AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(sm) AS BIGINT) AS tsm,
        |    sum(sq) AS tsq FROM t),
        |r AS (
        |  SELECT event_type, n, sm, sq, tn - n AS rn, tsm - sm AS rsm,
        |    CAST(tsq - sq AS DOUBLE) AS rsq
        |  FROM t, g),
        |zc AS (
        |  SELECT event_type, n,
        |    CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mt,
        |    CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) -
        |      (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) AS vt,
        |    CAST(rsm AS DOUBLE) / CAST(rn AS DOUBLE) AS mr,
        |    rsq / CAST(rn AS DOUBLE) -
        |      (CAST(rsm AS DOUBLE) / CAST(rn AS DOUBLE)) *
        |      (CAST(rsm AS DOUBLE) / CAST(rn AS DOUBLE)) AS vr,
        |    CAST(n AS DOUBLE) AS nd, CAST(rn AS DOUBLE) AS rnd
        |  FROM r)
        |SELECT event_type, n,
        |  round(mt, 6) AS mean, round(mr, 6) AS mean_rest,
        |  round((mt - mr) / sqrt(vt / nd + vr / rnd), 6) AS z,
        |  abs((mt - mr) / sqrt(vt / nd + vr / rnd)) > 1.96 AS significant
        |FROM zc ORDER BY event_type""".stripMargin),

    QuerySpec("q_bin_histogram", (s, dir) => {
      // numeric equi-width histogram per event type (the distribution
      // half of the profiling trio: q_profile exact stats, q_histogram
      // top-k categorical, this one numeric shape): fixed 5.00-unit
      // bins on exact integer cents — data-independent edges, so the
      // binning is one map-only integer division and the aggregate
      // map-side combines to |types|·|bins| rows
      events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        // cents are non-negative (value > 0), where `div` (truncate)
        // and the oracle's `//` (floor) agree; a signed metric would
        // need explicit floor() on both sides
        .withColumn("bin", expr("cents div 500"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("bin"),
          (col("bin") * 5.0).as("lo"), ((col("bin") + 1) * 5.0).as("hi"),
          col("n"))
        .orderBy(col("event_type"), col("bin"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |b AS (
        |  SELECT event_type, cents // 500 AS bin, count(*) AS n
        |  FROM e GROUP BY 1, 2)
        |SELECT event_type, bin,
        |  CAST(bin * 5 AS DOUBLE) AS lo, CAST((bin + 1) * 5 AS DOUBLE) AS hi, n
        |FROM b ORDER BY event_type, bin""".stripMargin),

    QuerySpec("q_decay", (s, dir) => {
      // half-life-decayed user value (recency-weighted activity
      // score, half-life = 1 week): events reduce map-side to exact
      // integer cents per (user, week); the decay weight 2^-age is
      // an exact power of two (scales the double exponent only, so
      // each term cents·2^-age is exact), and the per-user sum folds
      // the bounded week list in ascending-age order — the contracted
      // association order the oracle replays exactly. Scale: the only
      // corpus shuffle is the (user, week) reduce; per-user lists are
      // ≤ #weeks long.
      val wk = events(s, dir)
        .select(col("user_id"), expr("sec div 604800").as("wk"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("user_id"), col("wk"))
        .agg(sum(col("cents")).as("wcents"))
      val mx = wk.agg(max(col("wk")).as("mxwk"))
      wk.crossJoin(broadcast(mx))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_weeks"),
          sum(col("wcents")).as("total_cents"),
          sort_array(collect_list(struct(
            (col("mxwk") - col("wk")).as("age"), col("wcents").as("c")))).as("a"))
        .select(col("user_id"), col("n_weeks"), col("total_cents"),
          round(aggregate(col("a"), lit(0.0), (acc, t) =>
            acc + t.getField("c").cast("double") *
              pow(lit(2.0), -t.getField("age").cast("double"))), 6)
            .as("decayed_score"))
        .orderBy(col("user_id"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 // 604800 AS wk,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (
        |  SELECT user_id, wk, CAST(sum(cents) AS BIGINT) AS wcents
        |  FROM e GROUP BY 1, 2),
        |mx AS (SELECT max(wk) AS mxwk FROM w),
        |g AS (
        |  SELECT user_id, count(*) AS n_weeks,
        |    CAST(sum(wcents) AS BIGINT) AS total_cents,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list(CAST(wcents AS DOUBLE) * pow(2.0, -CAST(mxwk - wk AS DOUBLE))
        |           ORDER BY mxwk - wk)),
        |      (a, b) -> a + b) AS ds
        |  FROM w, mx GROUP BY user_id)
        |SELECT user_id, n_weeks, total_cents, round(ds, 6) AS decayed_score
        |FROM g ORDER BY user_id""".stripMargin),

    QuerySpec("q_changepoint", (s, dir) => {
      // CUSUM changepoint scan per event type over its hourly series
      // (cumulative deviation from the series mean; |cusum| > 3σ
      // flags a level shift). Exact-integer contract: hourly sums are
      // integer CENTS, and the scaled cusum C_i = N·P_i − i·S (P =
      // prefix sum, S/N = series total/length) stays exact BIGINT, so
      // the flag (C_i)² > 9·(N·Q − S²) compares doubles built from
      // identical exact integers in both engines — hash-exact for a
      // normally float-fragile sequential statistic. Scale: events
      // reduce map-side to (type, hour); moments are |types| rows
      // broadcast back; the running window partitions by type over
      // the bounded hourly series.
      import org.apache.spark.sql.expressions.Window
      val hourly = events(s, dir)
        .select(col("event_type"), expr("sec div 3600").as("hr"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("hr"))
        .agg(sum(col("cents")).as("x"))
      val m = hourly.groupBy(col("event_type")).agg(
        count(lit(1)).as("nh"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("qx"))
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wIdx = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      val c = col("nh") * col("p") - col("i") * col("sx")
      // the flag compares the PER-HOUR cusum against 3σ in divide-first
      // double shapes: nh·qx and sx² as BIGINTs overflow at ~30× sf0.1
      // (caught by the sf3 probe under ANSI mode), while nh·p and i·sx
      // stay far inside int64 at any realistic series length — so C is
      // exact and only the σ² comparison rounds, identically in both
      // engines
      val cusum = c.cast("double") / col("nh").cast("double")
      val mean = col("sx").cast("double") / col("nh").cast("double")
      val varN = col("qx").cast("double") / col("nh").cast("double") - mean * mean
      hourly.join(broadcast(m), "event_type")
        .withColumn("p", sum(col("x")).over(wRun))
        .withColumn("i", row_number().over(wIdx).cast("long"))
        .select(col("event_type"), col("hr"), col("x"),
          round(cusum, 6).as("cusum"),
          (cusum * cusum > lit(9.0) * varN).as("is_change"))
        .orderBy(col("event_type"), col("hr"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS hr,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |h AS (
        |  SELECT event_type, hr, CAST(sum(cents) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, count(*) AS nh, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(x * x) AS BIGINT) AS qx FROM h GROUP BY 1),
        |r AS (
        |  SELECT event_type, hr, x, nh, sx, qx,
        |    CAST(sum(x) OVER (PARTITION BY event_type ORDER BY hr
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY hr)
        |      AS BIGINT) AS i
        |  FROM h JOIN m USING (event_type))
        |SELECT event_type, hr, x,
        |  round(CAST(nh * p - i * sx AS DOUBLE) / CAST(nh AS DOUBLE), 6) AS cusum,
        |  (CAST(nh * p - i * sx AS DOUBLE) / CAST(nh AS DOUBLE)) *
        |    (CAST(nh * p - i * sx AS DOUBLE) / CAST(nh AS DOUBLE)) >
        |    9.0 * (CAST(qx AS DOUBLE) / CAST(nh AS DOUBLE) -
        |      (CAST(sx AS DOUBLE) / CAST(nh AS DOUBLE)) *
        |      (CAST(sx AS DOUBLE) / CAST(nh AS DOUBLE))) AS is_change
        |FROM r ORDER BY event_type, hr""".stripMargin),

    QuerySpec("q_anomaly", (s, dir) => {
      // seasonal anomaly flags: each event scored against its
      // (day-of-week × hour-of-day) baseline (the q_seasonality
      // profile turned into a gate — "is THIS value abnormal for a
      // Tuesday 3pm?"). Exact-integer contract: per-bin moments are
      // exact (cents sums; decimal-exact square sums, the sf3
      // overflow class), z = (v − mean)/σ is a fixed-shape double
      // expression over casts of those exact integers — bit-identical
      // across engines. Scale: one map-combined ≤168-row moment
      // aggregate broadcast back over the corpus; the corpus pass is
      // map-only (no event-level shuffle at all).
      val e = events(s, dir)
        .select(col("event_id"),
          expr("(sec div 86400 + 4) % 7").as("dow"),
          expr("(sec div 3600) % 24").as("hour"),
          round(col("value") * 100).cast("long").as("cents"))
      val m = e.groupBy(col("dow"), col("hour")).agg(
        count(lit(1)).as("n"), sum(col("cents")).as("sm"),
        sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("sq"))
      val mean = col("sm").cast("double") / col("n").cast("double")
      val varN = greatest(
        col("sq").cast("double") / col("n").cast("double") - mean * mean,
        lit(0.0))
      val z = (col("cents").cast("double") - mean) / sqrt(varN)
      e.join(broadcast(m), Seq("dow", "hour"))
        .where(col("n") >= 2 && varN > 0 &&
          (col("cents").cast("double") - mean) * (col("cents").cast("double") - mean)
            > lit(9.0) * varN)
        .select(col("event_id"), col("dow"), col("hour"), col("cents"),
          round(mean, 6).as("bin_mean"), round(z, 6).as("z"))
        .orderBy(col("event_id"))
    },
    // seasonal z replay: decimal square sums (HUGEINT here), divide-first
    // double moments, identical flag shape (q_changepoint contract)
    oracleSql =
      """WITH e AS (
        |  SELECT event_id,
        |    (epoch_us(ts) // 1000000 // 86400 + 4) % 7 AS dow,
        |    (epoch_us(ts) // 1000000 // 3600) % 24 AS hour,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (
        |  SELECT dow, hour, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sm,
        |    sum(cents * cents) AS sq
        |  FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT event_id, dow, hour, cents, n,
        |    CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    greatest(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) -
        |      (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)) *
        |      (CAST(sm AS DOUBLE) / CAST(n AS DOUBLE)), 0.0) AS varn
        |  FROM e JOIN m USING (dow, hour))
        |SELECT event_id, dow, hour, cents,
        |  round(mean, 6) AS bin_mean,
        |  round((CAST(cents AS DOUBLE) - mean) / sqrt(varn), 6) AS z
        |FROM r
        |WHERE n >= 2 AND varn > 0 AND
        |  (CAST(cents AS DOUBLE) - mean) * (CAST(cents AS DOUBLE) - mean)
        |    > 9.0 * varn
        |ORDER BY event_id""".stripMargin),

    QuerySpec("q_ks_test", (s, dir) => {
      // two-sample Kolmogorov–Smirnov drift test on order value:
      // finished orders ('F') vs the rest — the CONTINUOUS-column
      // drift gate beside q_drift's categorical PSI. D = max_v
      // |F₁(v) − F₂(v)| is computed as an exact integer numerator
      // max|c₁·n₂ − c₂·n₁| (decimal-exact products), so the argmax
      // value and the rejection cut are deterministic; only the final
      // D and the 1.358·√((n₁+n₂)/(n₁n₂)) comparison are fixed-shape
      // doubles over the same exact integers. Scale: the corpus
      // reduces map-side to one row per distinct price; for a
      // CONTINUOUS column distinct values ≈ rows, so the CDF prefix
      // sums run as a distributed two-phase scan (PrefixSum: range
      // buckets → partitioned per-bucket cumsum → broadcast bucket
      // offsets) — no single-partition global window anywhere
      // (r6 verdict item; PlanSpec-asserted).
      val o = tbl(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"),
          (col("o_orderstatus") === "F").as("s1"))
      val perV = o.groupBy(col("cents")).agg(
        sum(when(col("s1"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("s1"), 0L).otherwise(1L)).as("c2"))
      val cum = operators.PrefixSum.prefixSums(perV, Seq(col("cents")),
          Seq("f1" -> col("c1"), "f2" -> col("c2")))
        .select(col("cents"), col("f1"), col("f2"))
      val tot = perV.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val num = abs(col("f1").cast("decimal(38,0)") * col("n2") -
        col("f2").cast("decimal(38,0)") * col("n1"))
      val scored = cum.crossJoin(broadcast(tot))
        .select(col("n1"), col("n2"), col("cents"), num.as("num"))
      val mx = scored.groupBy(col("n1"), col("n2"))
        .agg(max(col("num")).as("d_num"))
      val d = col("d_num").cast("double") /
        (col("n1").cast("double") * col("n2").cast("double"))
      scored.join(broadcast(mx), Seq("n1", "n2"))
        .where(col("num") === col("d_num"))
        .groupBy(col("n1"), col("n2"), col("d_num"))
        .agg(min(col("cents")).as("at_value"))
        .select(col("n1"), col("n2"), col("d_num").cast("double").as("d_num"),
          col("at_value"), round(d, 8).as("d"),
          (d > lit(1.358) * sqrt((col("n1") + col("n2")).cast("double") /
            (col("n1").cast("double") * col("n2").cast("double")))).as("reject_05"))
    },
    // KS replay: exact HUGEINT numerator, min-value argmax, fixed-shape
    // double D and rejection cut
    oracleSql =
      """WITH o AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    (o_orderstatus = 'F') AS s1 FROM orders),
        |v AS (
        |  SELECT cents,
        |    CAST(sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS c2
        |  FROM o GROUP BY 1),
        |cum AS (
        |  SELECT cents,
        |    CAST(sum(c1) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f1,
        |    CAST(sum(c2) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS f2
        |  FROM v),
        |t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |             CAST(sum(c2) AS BIGINT) AS n2 FROM v),
        |sc AS (
        |  SELECT n1, n2, cents,
        |    abs(CAST(f1 AS HUGEINT) * n2 - CAST(f2 AS HUGEINT) * n1) AS num
        |  FROM cum, t),
        |mx AS (SELECT n1, n2, max(num) AS d_num FROM sc GROUP BY 1, 2)
        |SELECT n1, n2, CAST(d_num AS DOUBLE) AS d_num,
        |  min(cents) AS at_value,
        |  round(CAST(d_num AS DOUBLE) /
        |    (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 8) AS d,
        |  CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) >
        |    1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) /
        |      (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS reject_05
        |FROM sc JOIN mx USING (n1, n2)
        |WHERE num = d_num
        |GROUP BY n1, n2, d_num""".stripMargin),

    QuerySpec("q_transition", (s, dir) => {
      // event-type Markov transition matrix: per-user time-ordered
      // lead, then (from, to) counts and row-normalized probabilities.
      // Scale: ONE user-keyed shuffle for the lead window; the pair
      // agg map-side-combines to ≤ |types|² rows and the normalizing
      // window runs on that bounded table, never the corpus.
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      val cnt = events(s, dir)
        .select(col("user_id"), col("event_id"), col("sec"), col("event_type"))
        .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
        .where(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val byFrom = Window.partitionBy(col("from_type"))
      cnt
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") / sum(col("n")).over(byFrom).cast("double")).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(ts) // 1000000 AS sec FROM events),
        |l AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |      AS to_type FROM e),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM l
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin),

    QuerySpec("q_rfm", (s, dir) => {
      // RFM (recency / frequency / monetary) segmentation: per-user
      // aggregates, exact tercile thresholds, 1-3 scores. Thresholds
      // interpolate between INTEGER order statistics, so the <=
      // bucket comparisons are bit-robust across engines even where
      // the interpolated double's last bit could differ (an integer
      // beats or ties the lower neighbor regardless of the fraction).
      // Scale: events reduce map-side to one row per user; the
      // percentile agg and every later step run on user-bounded
      // tables; the threshold row broadcasts back.
      val e = events(s, dir).select(col("user_id"), col("sec"),
        round(col("value") * 100).cast("long").as("cents"))
      val per = e.groupBy(col("user_id")).agg(
        max(col("sec")).as("last_sec"),
        count(lit(1)).as("frequency"),
        sum(col("cents")).as("monetary_cents"))
      val mx = per.agg(max(col("last_sec")).as("mx"))
      val rfm = per.crossJoin(broadcast(mx))
        .select(col("user_id"), (col("mx") - col("last_sec")).as("recency_sec"),
          col("frequency"), col("monetary_cents"))
      val th = rfm.agg(
        expr("percentile(recency_sec, array(1.0D/3.0D, 2.0D/3.0D))").as("rt"),
        expr("percentile(frequency, array(1.0D/3.0D, 2.0D/3.0D))").as("ft"),
        expr("percentile(monetary_cents, array(1.0D/3.0D, 2.0D/3.0D))").as("mt"))
      def lowGood(v: Column, t: Column) = // recent = small recency = best
        when(v.cast("double") <= element_at(t, 1), 3)
          .when(v.cast("double") <= element_at(t, 2), 2).otherwise(1)
      def highGood(v: Column, t: Column) =
        when(v.cast("double") <= element_at(t, 1), 1)
          .when(v.cast("double") <= element_at(t, 2), 2).otherwise(3)
      rfm.crossJoin(broadcast(th))
        .select(col("user_id"), col("recency_sec"), col("frequency"),
          col("monetary_cents"),
          lowGood(col("recency_sec"), col("rt")).as("r_score"),
          highGood(col("frequency"), col("ft")).as("f_score"),
          highGood(col("monetary_cents"), col("mt")).as("m_score"))
        .withColumn("segment", concat(col("r_score").cast("string"),
          col("f_score").cast("string"), col("m_score").cast("string")))
        .orderBy(col("user_id"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS sec,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |per AS (
        |  SELECT user_id, max(sec) AS last_sec, count(*) AS frequency,
        |    CAST(sum(cents) AS BIGINT) AS monetary_cents FROM e GROUP BY 1),
        |mx AS (SELECT max(last_sec) AS mx FROM per),
        |rfm AS (
        |  SELECT user_id, mx - last_sec AS recency_sec, frequency,
        |    monetary_cents FROM per, mx),
        |th AS (
        |  SELECT quantile_cont(recency_sec, [1.0/3, 2.0/3]) AS rt,
        |    quantile_cont(frequency, [1.0/3, 2.0/3]) AS ft,
        |    quantile_cont(monetary_cents, [1.0/3, 2.0/3]) AS mt FROM rfm),
        |sc AS (
        |  SELECT user_id, recency_sec, frequency, monetary_cents,
        |    CASE WHEN CAST(recency_sec AS DOUBLE) <= rt[1] THEN 3
        |         WHEN CAST(recency_sec AS DOUBLE) <= rt[2] THEN 2
        |         ELSE 1 END AS r_score,
        |    CASE WHEN CAST(frequency AS DOUBLE) <= ft[1] THEN 1
        |         WHEN CAST(frequency AS DOUBLE) <= ft[2] THEN 2
        |         ELSE 3 END AS f_score,
        |    CASE WHEN CAST(monetary_cents AS DOUBLE) <= mt[1] THEN 1
        |         WHEN CAST(monetary_cents AS DOUBLE) <= mt[2] THEN 2
        |         ELSE 3 END AS m_score
        |  FROM rfm, th)
        |SELECT user_id, recency_sec, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  concat(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
        |    CAST(m_score AS VARCHAR)) AS segment
        |FROM sc ORDER BY user_id""".stripMargin),

    QuerySpec("q_sessionize", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      val run = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("sec"))
        .withColumn("prev", lag(col("sec"), 1).over(byUser))
        .withColumn("is_new",
          when(col("prev").isNull || col("sec") - col("prev") > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("is_new")).over(run))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("sec")).as("start_sec"), max(col("sec")).as("end_sec"))
        .orderBy(col("user_id"), col("session_id"))
    }, oracleSql = sessionizeSql),

    QuerySpec("q_event_windows", (s, dir) => {
      val hourStart = expr("(sec div 3600) * 3600")
      events(s, dir)
        .select(col("event_type"), col("value"), hourStart.as("hour_start"))
        .groupBy(col("hour_start"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))
    }, oracleSql =
      """SELECT (epoch_us(ts) // 1000000 // 3600) * 3600 AS hour_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    QuerySpec("q_json_extract", (s, dir) => {
      // semi-structured path: parse the props JSON column, extract a
      // typed field, aggregate on it (from_json → codegen'd JsonToStructs)
      events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .where(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k").cast("long")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type"))
    }, oracleSql =
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract(props, '$.k') AS INT)) AS max_k
        |FROM events
        |WHERE json_extract(props, '$.k') IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    QuerySpec("q_topk_per_group", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      tbl(s, dir, "part")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_retailprice"))
        .orderBy(col("p_brand"), col("rn"))
    }, oracleSql =
      """SELECT p_brand, rn, p_partkey, p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |    row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
        |  FROM part)
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin),

    QuerySpec("q_union_dedup", (s, dir) => {
      tbl(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
        .union(tbl(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
        .distinct()
        .orderBy(col("nationkey"))
    }, oracleSql =
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin),

    QuerySpec("q_unpivot", (s, dir) => {
      // unpivot/melt (pivot's inverse): wide measure columns → long
      // (metric, value) rows, then per-metric profile — decimal-exact
      // sums on the compared surface (quantity/discount/tax are
      // ≤2-decimal by construction)
      tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"),
          min(col("value")).as("vmin"), max(col("value")).as("vmax"))
        .orderBy(col("metric"))
    }, oracleSql =
      """SELECT metric, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  min(value) AS vmin, max(value) AS vmax
        |FROM (
        |  UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        |           FROM lineitem)
        |  ON l_quantity, l_discount, l_tax INTO NAME metric VALUE value)
        |GROUP BY metric ORDER BY metric""".stripMargin),

    QuerySpec("q_pivot", (s, dir) => {
      // pivot: one column per market segment, decimal-exact balances
      // internally, double on the compared surface (see q05 note)
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      tbl(s, dir, "customer")
        .groupBy(col("c_nationkey").cast("int").as("nationkey"))
        .pivot("c_mktsegment", segs)
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")))
        .select(col("nationkey") +: segs.map(sg => col(sg).cast("double").as(sg)): _*)
        .orderBy(col("nationkey"))
    }, oracleSql = {
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val cols = segs.map(sg =>
        s"""CAST(sum(CASE WHEN c_mktsegment = '$sg' THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS "$sg"""")
        .mkString(",\n|  ")
      s"""SELECT CAST(c_nationkey AS INT) AS nationkey,
         |  $cols
         |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin
    }),

    QuerySpec("q_intersect", (s, dir) => {
      // nations that have BOTH a customer and a supplier
      tbl(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
        .intersect(tbl(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
        .orderBy(col("nationkey"))
    }, oracleSql =
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |INTERSECT
        |SELECT CAST(s_nationkey AS INT) FROM supplier
        |ORDER BY nationkey""".stripMargin),

    QuerySpec("q_except", (s, dir) => {
      // customers minus big-spenders (set difference, distinct rows)
      tbl(s, dir, "customer").select(col("c_mktsegment"))
        .except(tbl(s, dir, "customer").where(col("c_acctbal") > 9990)
          .select(col("c_mktsegment")))
        .orderBy(col("c_mktsegment"))
    }, oracleSql =
      """SELECT c_mktsegment FROM customer
        |EXCEPT
        |SELECT c_mktsegment FROM customer WHERE c_acctbal > 9990
        |ORDER BY c_mktsegment""".stripMargin),

    QuerySpec("q_window_range", (s, dir) => {
      // RANGE frame: per-user rolling 1-hour event count by value range
      // over integer seconds (rows-frames are elsewhere; this exercises
      // the range-frame window path)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
        .rangeBetween(-3600L, 0L)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("sec"))
        .withColumn("n_last_hour", count(lit(1)).over(w))
        .orderBy(col("user_id"), col("sec"), col("event_id"))
    }, oracleSql =
      """SELECT user_id, event_id, sec,
        |  count(*) OVER (PARTITION BY user_id ORDER BY sec
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
        |FROM (SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec FROM events)
        |ORDER BY user_id, sec, event_id""".stripMargin),

    QuerySpec("q_gap_fill", (s, dir) => {
      // forward-fill: carry the last known value over gaps ('error'
      // events report no value) — last(ignoreNulls) over a running
      // rows-frame, the standard sensor/telemetry gap-fill
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("sec"),
          when(col("event_type") =!= "error", col("value")).as("v"))
        .withColumn("v_filled", last(col("v"), ignoreNulls = true).over(w))
        .orderBy(col("user_id"), col("sec"), col("event_id"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) // 1000000 AS sec,
        |    CASE WHEN event_type <> 'error' THEN value END AS v
        |  FROM events)
        |SELECT user_id, event_id, sec, v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM e ORDER BY user_id, sec, event_id""".stripMargin),

    QuerySpec("q_asof_join", (s, dir) => {
      // each purchase → the latest click by the same user at-or-before
      // it; ord = sec<<32 | event_id (unique time-then-id order; exact
      // for sec < 2^31 and event_id < 2^32 — decimal packing with a
      // 10^7 multiplier would silently corrupt at >=10M events)
      val e = events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("sec"))
        .withColumn("ord", shiftleft(col("sec"), 32) + col("event_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("sec"), col("ord"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ord"),
          col("event_id").as("click_event_id"), col("sec").as("click_sec"))
      Joins.asOfJoin(purchases, clicks, "user_id", "ord",
          Seq("click_event_id", "click_sec"))
        .select(col("event_id"), col("user_id"), col("sec"),
          col("asof_click_event_id"), col("asof_click_sec"))
        .orderBy(col("event_id"))
    }, oracleSql =
      // independent formulation: correlated max over the click stream
      // (the Spark side is the merge/window construction)
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(ts) // 1000000 AS sec,
        |    (epoch_us(ts) // 1000000) * 4294967296 + event_id AS ord
        |  FROM events),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT * FROM e WHERE event_type = 'click'),
        |m AS (
        |  SELECT p.event_id AS pid, max(c.ord) AS mord
        |  FROM p JOIN c ON c.user_id = p.user_id AND c.ord <= p.ord
        |  GROUP BY p.event_id)
        |SELECT p.event_id, p.user_id, p.sec,
        |  CAST(m.mord % 4294967296 AS BIGINT) AS asof_click_event_id,
        |  CAST(m.mord // 4294967296 AS BIGINT) AS asof_click_sec
        |FROM p LEFT JOIN m ON m.pid = p.event_id
        |ORDER BY p.event_id""".stripMargin),

    QuerySpec("q_range_join", (s, dir) => {
      import s.implicits._
      val bands = Seq(
        ("low", 0.0, 5.0), ("mid", 5.0, 10.0),
        ("high", 10.0, 20.0), ("xhigh", 20.0, 1e9)).toDF("band", "lo", "hi")
      Joins.bandJoin(events(s, dir), bands, "value")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("band"))
    }, oracleSql =
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('low', 0.0, 5.0), ('mid', 5.0, 10.0),
        |  ('high', 10.0, 20.0), ('xhigh', 20.0, 1000000000.0))
        |SELECT band, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN bands ON value >= lo AND value < hi
        |GROUP BY band ORDER BY band""".stripMargin),

    QuerySpec("q_correlation", (s, dir) => {
      // pairwise Pearson correlation matrix per group in ONE
      // map-combined aggregate pass (Profiler.correlationMatrix) —
      // the cross-column relationship row of the profiling family.
      // Integer bases (qty, cents) make every sufficient statistic an
      // exact decimal(38,0); the final r is a fixed-shape double over
      // casts of exact integers — bit-identical across engines.
      val li = tbl(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("price_c"),
        round(col("l_discount") * 100).cast("long").as("disc_c"))
      Profiler.correlationMatrix(li, col("l_returnflag"),
          Seq("qty", "price_c", "disc_c"))
        .orderBy(col("grp"), col("col_x"), col("col_y"))
    },
    // exact-integer Pearson replay: sums run in HUGEINT (Spark:
    // decimal(38,0)) so every sufficient statistic is exact; the r
    // expression has the same double shape in both engines
    oracleSql = {
      def arm(x: String, y: String, sx: String, sy: String,
              ssx: String, ssy: String, sp: String) =
        s"""  SELECT grp, '$x' AS col_x, '$y' AS col_y, CAST(n AS BIGINT) AS n,
           |    CASE WHEN n*$ssx - $sx*$sx > 0 AND n*$ssy - $sy*$sy > 0 THEN
           |      CAST(n*$sp - $sx*$sy AS DOUBLE) /
           |        (sqrt(CAST(n*$ssx - $sx*$sx AS DOUBLE)) *
           |         sqrt(CAST(n*$ssy - $sy*$sy AS DOUBLE)))
           |    END AS corr FROM a""".stripMargin
      s"""WITH b AS (
         |  SELECT l_returnflag AS grp,
         |    CAST(l_quantity AS BIGINT) AS qty,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         |    CAST(round(l_discount * 100) AS BIGINT) AS disc_c
         |  FROM lineitem),
         |a AS (
         |  SELECT grp, count(*) AS n,
         |    sum(qty) AS s_qty, sum(price_c) AS s_price, sum(disc_c) AS s_disc,
         |    sum(qty*qty) AS ss_qty, sum(price_c*price_c) AS ss_price,
         |    sum(disc_c*disc_c) AS ss_disc,
         |    sum(qty*price_c) AS sp_qp, sum(qty*disc_c) AS sp_qd,
         |    sum(price_c*disc_c) AS sp_pd
         |  FROM b GROUP BY grp)
         |SELECT * FROM (
         |${arm("qty", "price_c", "s_qty", "s_price", "ss_qty", "ss_price", "sp_qp")}
         |  UNION ALL
         |${arm("qty", "disc_c", "s_qty", "s_disc", "ss_qty", "ss_disc", "sp_qd")}
         |  UNION ALL
         |${arm("price_c", "disc_c", "s_price", "s_disc", "ss_price", "ss_disc", "sp_pd")})
         |ORDER BY grp, col_x, col_y""".stripMargin
    }),

    QuerySpec("q_interval_join", (s, dir) => {
      // interval-overlap join with NO equi-key: 10-minute error
      // windows × ±5-minute purchase windows, per-error overlap count
      // + total overlap seconds. The naive plan is a nested-loop
      // (O(n·m)); Joins.intervalOverlapJoin tiles time so it becomes
      // one hash equi-join on tile with ≤2× fan-out per side and NO
      // dedup shuffle (each pair is emitted only by the tile owning
      // max(start_l, start_r)). Overlap lengths are exact integer
      // seconds.
      val ev = events(s, dir)
      val errs = ev.where(col("event_type") === "error")
        .select(col("event_id").as("l_id"), col("sec").as("l_start"),
          (col("sec") + 600).as("l_end"))
      val purch = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("r_id"), (col("sec") - 300).as("r_start"),
          (col("sec") + 300).as("r_end"))
      Joins.intervalOverlapJoin(errs, purch, tile = 600)
        .groupBy(col("l_id").as("error_id"))
        .agg(count(lit(1)).as("n_overlap"),
          sum(least(col("l_end"), col("r_end"))
            - greatest(col("l_start"), col("r_start"))).as("overlap_secs"))
        .orderBy(col("error_id"))
    },
    // the oracle is the straight inequality join (DuckDB's IEJoin
    // handles it); the tiled rewrite must produce the identical bag
    oracleSql =
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    epoch_us(ts) // 1000000 AS sec FROM events),
        |errs AS (
        |  SELECT event_id AS l_id, sec AS l_start, sec + 600 AS l_end
        |  FROM e WHERE event_type = 'error'),
        |purch AS (
        |  SELECT event_id AS r_id, sec - 300 AS r_start, sec + 300 AS r_end
        |  FROM e WHERE event_type = 'purchase')
        |SELECT l_id AS error_id, count(*) AS n_overlap,
        |  CAST(sum(least(l_end, r_end) - greatest(l_start, r_start)) AS BIGINT)
        |    AS overlap_secs
        |FROM errs JOIN purch ON l_start < r_end AND r_start < l_end
        |GROUP BY l_id ORDER BY l_id""".stripMargin),

    QuerySpec("q_scalar_subquery", (s, dir) => {
      // global-avg scalar via a broadcast 1-row cross join (l_quantity
      // is integral, so the double avg is order-independent and exact)
      val li = tbl(s, dir, "lineitem")
      val avgQty = li.agg(avg(col("l_quantity")).as("avg_qty"))
      li.crossJoin(broadcast(avgQty))
        .where(col("l_quantity") > col("avg_qty"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }, oracleSql =
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    QuerySpec("q_salted_join", (s, dir) => {
      // same rows as a plain lineitem⋈orders — salting only spreads a
      // hot orderkey over 8 reducers (oracle is the unsalted join)
      val li = tbl(s, dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
      val ord = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      Joins.saltedJoin(li, ord, "o_orderkey", hash(col("l_linenumber")), nSalts = 8)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,4)")).cast("double").as("revenue"))
        .orderBy(col("o_orderpriority"))
    }, oracleSql =
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    QuerySpec("q_percentile", (s, dir) => {
      // exact interpolated percentiles over integer cents (both engines
      // interpolate lower + (upper-lower)*frac on exact integers)
      tbl(s, dir, "customer")
        .withColumn("cents", round(col("c_acctbal") * 100).cast("long"))
        .groupBy(col("c_mktsegment"))
        .agg(expr("percentile(cents, array(0.5D, 0.9D))").as("pcts"),
          count(lit(1)).as("n_customers"))
        .select(col("c_mktsegment"),
          element_at(col("pcts"), 1).as("p50_cents"),
          element_at(col("pcts"), 2).as("p90_cents"),
          col("n_customers"))
        .orderBy(col("c_mktsegment"))
    }, oracleSql =
      """SELECT c_mktsegment,
        |  quantile_cont(cents, 0.5) AS p50_cents,
        |  quantile_cont(cents, 0.9) AS p90_cents,
        |  count(*) AS n_customers
        |FROM (SELECT c_mktsegment,
        |        CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |      FROM customer)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    QuerySpec("q_streaks", (s, dir) => {
      // longest consecutive-day activity streak per user (the
      // gaps-and-islands classic; the engagement metric next to
      // q_rolling_dau): day − row_number is constant within a
      // consecutive run, so islands fall out of one user-keyed window
      // + two bounded aggregates — no iteration, no self-join.
      import org.apache.spark.sql.expressions.Window
      val ud = events(s, dir)
        .select(col("user_id"), expr("sec div 86400").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val isl = ud.withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(count(lit(1)).as("len"))
      isl.groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_active_days"),
          max(col("len")).as("longest_streak"),
          count(lit(1)).as("n_streaks"))
        .orderBy(col("user_id"))
    }, oracleSql =
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 1000000 // 86400 AS day FROM events),
        |isl AS (
        |  SELECT user_id,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM ud),
        |st AS (
        |  SELECT user_id, grp, count(*) AS len FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  CAST(max(len) AS BIGINT) AS longest_streak,
        |  count(*) AS n_streaks
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin),

    QuerySpec("q_basket", (s, dir) => {
      // market-basket association rules (support / confidence /
      // lift): basket = a user's set of event types — item-pair
      // co-occurrence with real signal at every scale (the lineitem
      // parts are assigned uniformly, so part pairs carry none). The
      // within-basket pair fan-out is ≤ C(|types|, 2) per user by
      // construction; all metrics are exact integer ratios divided
      // once at the end.
      val li = events(s, dir)
        .select(col("user_id").as("ok"), col("event_type").as("pk"))
        .distinct()
        .localCheckpoint(true)
      val nOrders = li.agg(countDistinct(col("ok")).as("n"))
      val nA = li.groupBy(col("pk")).agg(count(lit(1)).as("na"))
      val pairs = li.select(col("ok"), col("pk").as("pa"))
        .join(li.select(col("ok"), col("pk").as("pb")), Seq("ok"))
        .where(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_ab"))
      pairs
        .join(nA.select(col("pk").as("pa"), col("na").as("n_a")), Seq("pa"))
        .join(nA.select(col("pk").as("pb"), col("na").as("n_b")), Seq("pb"))
        .crossJoin(broadcast(nOrders))
        .select(col("pa"), col("pb"), col("n_ab"),
          round(col("n_ab").cast("double") / col("n").cast("double"), 6)
            .as("support"),
          round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
            .as("confidence"),
          round(col("n_ab").cast("double") * col("n").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6)
            .as("lift"))
        .orderBy(col("pa"), col("pb"))
    }, oracleSql =
      """WITH li AS (
        |  SELECT DISTINCT user_id AS ok, event_type AS pk FROM events),
        |no AS (SELECT count(DISTINCT ok) AS n FROM li),
        |na AS (SELECT pk, count(*) AS na FROM li GROUP BY pk),
        |pr AS (
        |  SELECT x.pk AS pa, y.pk AS pb, count(*) AS n_ab
        |  FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2)
        |SELECT pa, pb, CAST(n_ab AS BIGINT) AS n_ab,
        |  round(CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE), 6) AS support,
        |  round(CAST(n_ab AS DOUBLE) / CAST(a.na AS DOUBLE), 6) AS confidence,
        |  round(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE) /
        |    (CAST(a.na AS DOUBLE) * CAST(b.na AS DOUBLE)), 6) AS lift
        |FROM pr JOIN na a ON a.pk = pr.pa JOIN na b ON b.pk = pr.pb, no
        |ORDER BY pa, pb""".stripMargin),

    QuerySpec("q_churn", (s, dir) => {
      // weekly cohort accounting: actives, new (first-ever week),
      // returning, and churned-into-next-week counts — the retention
      // dashboard's top row (q_retention slices cohorts, this tracks
      // the population). One (user, week) distinct reduce; new via a
      // broadcast-joined first-week table; churn via a self
      // left-anti-shaped join on (user, week+1). All exact counts.
      val uw = events(s, dir)
        .select(col("user_id"), expr("sec div 604800").as("wk"))
        .distinct()
        .localCheckpoint(true)
      val first = uw.groupBy(col("user_id")).agg(min(col("wk")).as("fw"))
      val nxt = uw.select(col("user_id"), (col("wk") - 1).as("wk"),
        lit(1L).as("ret"))
      val mx = uw.agg(max(col("wk")).as("mxwk"))
      uw.join(first, Seq("user_id"))
        .join(nxt, Seq("user_id", "wk"), "left")
        .crossJoin(broadcast(mx))
        .groupBy(col("wk"))
        .agg(count(lit(1)).as("actives"),
          sum(when(col("fw") === col("wk"), 1L).otherwise(0L)).as("new_users"),
          sum(when(col("fw") < col("wk"), 1L).otherwise(0L)).as("returning"),
          // churned = active this week, absent next (last week: n/a → 0
          // by the mxwk guard so the trailing edge isn't misread)
          sum(when(col("ret").isNull && col("wk") < col("mxwk"), 1L)
            .otherwise(0L)).as("churned_next"))
        .orderBy(col("wk"))
    }, oracleSql =
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 1000000 // 604800 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS fw FROM uw GROUP BY 1),
        |mx AS (SELECT max(wk) AS mxwk FROM uw),
        |j AS (
        |  SELECT u.wk, u.user_id, f.fw,
        |    CASE WHEN n.user_id IS NULL THEN NULL ELSE 1 END AS ret
        |  FROM uw u JOIN f USING (user_id)
        |  LEFT JOIN uw n ON n.user_id = u.user_id AND n.wk = u.wk + 1)
        |SELECT wk, count(*) AS actives,
        |  CAST(sum(CASE WHEN fw = wk THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_users,
        |  CAST(sum(CASE WHEN fw < wk THEN 1 ELSE 0 END) AS BIGINT)
        |    AS returning,
        |  CAST(sum(CASE WHEN ret IS NULL AND wk < (SELECT mxwk FROM mx)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS churned_next
        |FROM j GROUP BY wk ORDER BY wk""".stripMargin),

    QuerySpec("q_wow", (s, dir) => {
      // week-over-week report per event type: weekly revenue, the WoW
      // delta/percent change, and the type's weekly revenue rank with
      // its movement — the standing dashboard table. Exact cents
      // throughout; pct is one fixed-shape division rounded 6dp.
      // Events map-combine to (type, week); windows run on that
      // bounded series.
      import org.apache.spark.sql.expressions.Window
      val wk = events(s, dir)
        .select(col("event_type"), expr("sec div 604800").as("wk"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("wk"))
        .agg(sum(col("cents")).as("rev"))
      val byType = Window.partitionBy(col("event_type")).orderBy(col("wk"))
      val byWeek = Window.partitionBy(col("wk"))
        .orderBy(col("rev").desc, col("event_type"))
      wk.withColumn("prev", lag(col("rev"), 1).over(byType))
        .withColumn("rnk", rank().over(byWeek))
        .withColumn("prev_rnk", lag(col("rnk"), 1).over(byType))
        .select(col("event_type"), col("wk"), col("rev"),
          (col("rev") - col("prev")).as("delta"),
          // zero guard: Spark's non-ANSI x/0 is NULL while DuckDB's
          // IEEE float division is inf — make both engines emit NULL
          // by construction on a zero-revenue week (r6 ADVICE item).
          when(col("prev") =!= 0,
            round((col("rev") - col("prev")).cast("double") /
              abs(col("prev").cast("double")), 6)).as("pct_change"),
          col("rnk"), (col("prev_rnk") - col("rnk")).as("rank_gain"))
        .orderBy(col("event_type"), col("wk"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 604800 AS wk,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |w AS (
        |  SELECT event_type, wk, CAST(sum(cents) AS BIGINT) AS rev
        |  FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, wk, rev,
        |    lag(rev) OVER (PARTITION BY event_type ORDER BY wk) AS prev,
        |    CAST(rank() OVER (PARTITION BY wk
        |      ORDER BY rev DESC, event_type) AS INT) AS rnk
        |  FROM w),
        |r2 AS (
        |  SELECT event_type, wk, rev, prev, rnk,
        |    lag(rnk) OVER (PARTITION BY event_type ORDER BY wk) AS prev_rnk
        |  FROM r)
        |SELECT event_type, wk, rev,
        |  rev - prev AS delta,
        |  CASE WHEN prev <> 0 THEN
        |    round(CAST(rev - prev AS DOUBLE) / abs(CAST(prev AS DOUBLE)), 6)
        |  END AS pct_change,
        |  rnk, prev_rnk - rnk AS rank_gain
        |FROM r2 ORDER BY event_type, wk""".stripMargin),

    QuerySpec("q_forecast_eval", (s, dir) => {
      // seasonal-naive forecast backtest per event type (the baseline
      // every real forecaster must beat, and the standard data-drift
      // canary): prediction for day d = actual at d−7; MAE / bias
      // over all evaluable days in exact integer cents, divided once
      // at the end. Events map-combine to the (type, day) table; the
      // lag join and error aggregate run on that bounded series.
      val daily = events(s, dir)
        .select(col("event_type"), expr("sec div 86400").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("a"))
      val pred = daily.select(col("event_type"),
        (col("day") + 7).as("day"), col("a").as("p"))
      daily.join(pred, Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("a") - col("p"))).as("sae"),
          sum(col("a") - col("p")).as("sbias"))
        .select(col("event_type"), col("n_days"),
          round(col("sae").cast("double") /
            (col("n_days").cast("double") * 100.0), 6).as("mae"),
          round(col("sbias").cast("double") /
            (col("n_days").cast("double") * 100.0), 6).as("bias"))
        .orderBy(col("event_type"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |daily AS (
        |  SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS a
        |  FROM e GROUP BY 1, 2),
        |j AS (
        |  SELECT d.event_type, d.a, p.a AS p
        |  FROM daily d JOIN daily p
        |    ON p.event_type = d.event_type AND p.day = d.day - 7)
        |SELECT event_type, count(*) AS n_days,
        |  round(CAST(sum(abs(a - p)) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * 100.0), 6) AS mae,
        |  round(CAST(sum(a - p) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * 100.0), 6) AS bias
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin),

    QuerySpec("q_paths", (s, dir) => {
      // top user journeys: each user's first three event types as a
      // path (the Sankey / onboarding-flow table). Window rank ≤ 3
      // per user (WindowGroupLimit pre-prunes map-side), path
      // assembly per user, then a ≤|types|³-bounded path count.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_id"), col("sec"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          sort_array(collect_list(struct(col("rn"), col("event_type").as("t")))),
          x => x.getField("t")), ">").as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) // 1000000, event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM e WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, count(*) AS n_users
        |FROM p GROUP BY path ORDER BY n_users DESC, path""".stripMargin),

    QuerySpec("q_json_profile", (s, dir) => {
      // JSON schema discovery over the semi-structured props column
      // (the "what keys are actually in this payload" pass every
      // ingestion run does before declaring a schema): per key, the
      // occurrence count and a value-type histogram inferred from the
      // string form. The synthetic props carry one key, so every 3rd
      // event gets two induced extra fields (tag/flag — the
      // corpusWithDups pattern: deterministic variety where the
      // generator has none). Map-only parse + explode, one
      // |keys|-bounded aggregate.
      val e = events(s, dir).select(col("event_id"), col("user_id"), col("props"))
        .withColumn("j", when(col("event_id") % 3 === 0,
          concat(expr("substring(props, 1, length(props) - 1)"),
            lit(", \"tag\": \"t"), (col("user_id") % 5).cast("string"),
            lit("\", \"flag\": "),
            when(col("event_id") % 2 === 0, "true").otherwise("false"),
            lit("}"))).otherwise(col("props")))
      e.select(explode(expr("from_json(j, 'map<string,string>')")).as(Seq("key", "v")))
        .groupBy(col("key"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("v").rlike("^-?[0-9]+$"), 1L).otherwise(0L)).as("n_int"),
          sum(when(col("v").rlike("^-?[0-9]*\\.[0-9]+$"), 1L).otherwise(0L)).as("n_float"),
          sum(when(col("v").isin("true", "false"), 1L).otherwise(0L)).as("n_bool"),
          sum(when(col("v").rlike("^-?[0-9]+$") ||
            col("v").rlike("^-?[0-9]*\\.[0-9]+$") ||
            col("v").isin("true", "false"), 0L).otherwise(1L)).as("n_str"))
        .orderBy(col("key"))
    },
    // JSON profile replay: identical induced-variety string surgery,
    // keys via json_keys, values via json_extract_string, same regexes
    oracleSql =
      """WITH e AS (
        |  SELECT CASE WHEN event_id % 3 = 0 THEN
        |      substr(props, 1, length(props) - 1) || ', "tag": "t' ||
        |      CAST(user_id % 5 AS VARCHAR) || '", "flag": ' ||
        |      CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END || '}'
        |    ELSE props END AS j
        |  FROM events),
        |kv AS (
        |  SELECT u.k AS key, json_extract_string(j, '$.' || u.k) AS v
        |  FROM e, unnest(json_keys(j)) AS u(k))
        |SELECT key, count(*) AS n,
        |  CAST(sum(CASE WHEN regexp_matches(v, '^-?[0-9]+$')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
        |  CAST(sum(CASE WHEN regexp_matches(v, '^-?[0-9]*\.[0-9]+$')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_float,
        |  CAST(sum(CASE WHEN v IN ('true', 'false')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bool,
        |  CAST(sum(CASE WHEN regexp_matches(v, '^-?[0-9]+$')
        |      OR regexp_matches(v, '^-?[0-9]*\.[0-9]+$')
        |      OR v IN ('true', 'false')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS n_str
        |FROM kv GROUP BY key ORDER BY key""".stripMargin),

    QuerySpec("q_gap_stats", (s, dir) => {
      // inter-arrival-time distribution per event type (capacity /
      // bot-cadence analysis): consecutive same-user gaps via one
      // user-keyed lag window, then exact interpolated percentiles
      // in scaled integer units (median doubles, p90 tenths — the
      // q_mad exactness contract). One corpus window shuffle + a
      // |types|-row aggregate.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("sec"), col("event_id"))
      events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"), col("sec"))
        .withColumn("prev", lag(col("sec"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("event_type"), (col("sec") - col("prev")).as("gap"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap, 0.5D)") * 2).cast("long").as("med2"),
          round(expr("percentile(gap, 0.9D)") * 10).cast("long").as("p9010"))
        .select(col("event_type"), col("n_gaps"),
          (col("med2").cast("double") / 2.0).as("median_gap_sec"),
          (col("p9010").cast("double") / 10.0).as("p90_gap_sec"))
        .orderBy(col("event_type"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(ts) // 1000000 AS sec FROM events),
        |g AS (
        |  SELECT event_type, sec - prev AS gap FROM (
        |    SELECT event_type, sec,
        |      lag(sec) OVER (PARTITION BY user_id, event_type
        |        ORDER BY sec, event_id) AS prev
        |    FROM e)
        |  WHERE prev IS NOT NULL)
        |SELECT event_type, count(*) AS n_gaps,
        |  CAST(round(quantile_cont(gap, 0.5) * 2) AS BIGINT) / 2.0
        |    AS median_gap_sec,
        |  CAST(round(quantile_cont(gap, 0.9) * 10) AS BIGINT) / 10.0
        |    AS p90_gap_sec
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin),

    QuerySpec("q_calendar_gaps", (s, dir) => {
      // series completeness: per event type, the expected vs observed
      // day count over its own [min, max] span and the missing-day
      // list (capped at 5) — the "did ingestion skip a day" DQ gate
      // behind every time-series consumer. One map-combined (type,
      // day) reduce; the gap scan explodes the |span| day range of
      // the BOUNDED per-type summary, never the corpus.
      val td = events(s, dir)
        .select(col("event_type"), expr("sec div 86400").as("day"))
        .distinct()
      val span = td.groupBy(col("event_type"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
          count(lit(1)).as("observed"))
      val missing = span
        .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(td, Seq("event_type", "day"), "left_anti")
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("day"))).as("md"))
        .select(col("event_type"), slice(col("md"), 1, 5).as("missing_days"))
      span.join(missing, Seq("event_type"), "left")
        .select(col("event_type"),
          (col("d1") - col("d0") + 1).as("expected_days"),
          col("observed").as("observed_days"),
          (col("d1") - col("d0") + 1 - col("observed")).as("n_missing"),
          // driver-compare contract (SURVEY §6): arrays never reach the
          // pandas hash-compare raw — join to a scalar string.
          array_join(
            coalesce(col("missing_days"), array().cast("array<bigint>"))
              .cast("array<string>"), ",").as("missing_days"))
        .orderBy(col("event_type"))
    }, oracleSql =
      """WITH td AS (
        |  SELECT DISTINCT event_type,
        |    epoch_us(ts) // 1000000 // 86400 AS day FROM events),
        |sp AS (
        |  SELECT event_type, min(day) AS d0, max(day) AS d1,
        |    count(*) AS observed
        |  FROM td GROUP BY 1),
        |mi AS (
        |  SELECT g.event_type, list(g.day ORDER BY g.day)[1:5] AS missing_days
        |  FROM (SELECT sp.event_type, CAST(u.d AS BIGINT) AS day
        |        FROM sp, unnest(range(d0, d1 + 1)) AS u(d)) g
        |  LEFT JOIN td ON td.event_type = g.event_type AND td.day = g.day
        |  WHERE td.day IS NULL GROUP BY 1)
        |SELECT sp.event_type,
        |  CAST(d1 - d0 + 1 AS BIGINT) AS expected_days,
        |  CAST(observed AS BIGINT) AS observed_days,
        |  CAST(d1 - d0 + 1 - observed AS BIGINT) AS n_missing,
        |  coalesce(array_to_string(missing_days, ','), '') AS missing_days
        |FROM sp LEFT JOIN mi USING (event_type)
        |ORDER BY event_type""".stripMargin),

    QuerySpec("q_interval_merge", (s, dir) => {
      // merge overlapping intervals per user (each event opens a
      // 5-minute validity window; touching windows coalesce) — the
      // interval-UNION op behind on-call schedules, IP-range
      // compaction, and session stitching (q_sessionize gaps on
      // inactivity; this unions explicit spans). Islands via the
      // running-max-end trick: one user-keyed window, no self-join.
      import org.apache.spark.sql.expressions.Window
      val iv = events(s, dir)
        .select(col("user_id"), col("sec").as("st"), (col("sec") + 300).as("en"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("st"), col("en"))
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      iv.withColumn("pmax", max(col("en")).over(wPrev))
        .withColumn("isl", sum(
          when(col("pmax").isNull || col("st") > col("pmax"), 1L).otherwise(0L))
          .over(w))
        .groupBy(col("user_id"), col("isl"))
        .agg(min(col("st")).as("span_start"), max(col("en")).as("span_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("span_start"), col("span_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("span_start"))
    }, oracleSql =
      """WITH iv AS (
        |  SELECT DISTINCT user_id, sec AS st, sec + 300 AS en
        |  FROM (SELECT user_id, epoch_us(ts) // 1000000 AS sec FROM events)),
        |m AS (
        |  SELECT user_id, st, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY st, en
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |i2 AS (
        |  SELECT user_id, st, en,
        |    sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY st, en) AS isl
        |  FROM m)
        |SELECT user_id, CAST(min(st) AS BIGINT) AS span_start,
        |  CAST(max(en) AS BIGINT) AS span_end, count(*) AS n_events
        |FROM i2 GROUP BY user_id, isl
        |ORDER BY user_id, span_start""".stripMargin),

    QuerySpec("q_set_ops_all", (s, dir) => {
      // multiset set ops (INTERSECT ALL / EXCEPT ALL — bag semantics
      // the DISTINCT variants q_intersect/q_except don't pin): order
      // priorities of two customer segments compared as bags; output
      // is the per-op row count plus the bag-min/bag-diff per key.
      val a = tbl(s, dir, "orders").where(col("o_custkey") % 3 === 0)
        .select(col("o_orderpriority").as("p"))
      val b = tbl(s, dir, "orders").where(col("o_custkey") % 2 === 0)
        .select(col("o_orderpriority").as("p"))
      val ia = a.intersectAll(b).groupBy(col("p"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      val ea = a.exceptAll(b).groupBy(col("p"))
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      ia.unionByName(ea)
        .select(col("op"), col("p"), col("n"))
        .orderBy(col("op"), col("p"))
    }, oracleSql =
      """WITH a AS (
        |  SELECT o_orderpriority AS p FROM orders WHERE o_custkey % 3 = 0),
        |b AS (
        |  SELECT o_orderpriority AS p FROM orders WHERE o_custkey % 2 = 0),
        |ia AS (SELECT p FROM a INTERSECT ALL SELECT p FROM b),
        |ea AS (SELECT p FROM a EXCEPT ALL SELECT p FROM b)
        |SELECT op, p, n FROM (
        |  SELECT 'intersect_all' AS op, p, count(*) AS n FROM ia GROUP BY p
        |  UNION ALL
        |  SELECT 'except_all', p, count(*) FROM ea GROUP BY p)
        |ORDER BY op, p""".stripMargin),

    QuerySpec("q_pareto", (s, dir) => {
      // revenue concentration: the 80/20 table (how many parts cover
      // 80% of revenue) + the exact Gini coefficient — the
      // concentration row of the profiling family. Gini is the exact
      // rational Σ(2i−n−1)·x₍ᵢ₎ / (n·Σx) over revenue-ascending
      // order (numerator folds in decimal-exact integers). Parts grow
      // with SF (~2B at 100 TB TPC-H scale), so the global order runs
      // as a distributed two-phase scan (PrefixSum) — rank i and the
      // ascending running sum in ONE pass, the descending cumulative
      // derived as t − cum_asc + rev (exact integers; tied revenues
      // permute within the tie, which leaves the partial-sum SEQUENCE
      // — and hence n80 and Gini — identical). No single-partition
      // window (r6 verdict item; PlanSpec-asserted).
      val per = tbl(s, dir, "lineitem")
        .select(col("l_partkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy(col("l_partkey")).agg(sum(col("cents")).as("rev"))
      val tot = per.agg(count(lit(1)).as("n"), sum(col("rev")).as("t"))
      val ranked = operators.PrefixSum.prefixSums(per,
          Seq(col("rev"), col("l_partkey")),
          Seq("cum_asc" -> col("rev")), rowNum = Some("i"))
        .crossJoin(broadcast(tot))
        .withColumn("cum_desc", col("t") - col("cum_asc") + col("rev"))
        .localCheckpoint(true)
      val gnum = ranked.agg(sum(
        ((col("i") * 2 - col("n") - 1) * col("rev")).cast("decimal(38,0)"))
        .as("gn"))
      val n80 = ranked.where(col("cum_desc") * 5 >= col("t") * 4)
        .agg(min(col("n") - col("i") + 1).as("n80"))
      tot.crossJoin(broadcast(gnum)).crossJoin(broadcast(n80))
        .select(col("n").as("n_parts"), col("t").as("total_cents"),
          col("n80").as("parts_for_80pct"),
          round(col("n80").cast("double") / col("n").cast("double"), 6)
            .as("share_of_parts"),
          round(col("gn").cast("double") /
            (col("n").cast("double") * col("t").cast("double")), 6).as("gini"))
    }, oracleSql =
      """WITH per AS (
        |  SELECT l_partkey, CAST(sum(CAST(round(l_extendedprice * 100)
        |    AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT count(*) AS n, CAST(sum(rev) AS BIGINT) AS t FROM per),
        |r AS (
        |  SELECT l_partkey, rev,
        |    CAST(row_number() OVER (ORDER BY rev, l_partkey) AS BIGINT) AS i,
        |    -- tiebreak DESC so (position n-i+1, cum_desc) describe ONE
        |    -- consistent descending order: the pre-r7 (rev DESC,
        |    -- l_partkey ASC) cum mixed two orders on tied revenues and
        |    -- could shift n80 by a row or two (caught at sf1, where the
        |    -- copy-scaled corpus makes revenue ties dense)
        |    CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_desc
        |  FROM per),
        |g AS (SELECT sum((2 * i - n - 1) * rev) AS gn FROM r, tot),
        |n8 AS (
        |  SELECT CAST(min(n - i + 1) AS BIGINT) AS n80
        |  FROM r, tot WHERE cum_desc * 5 >= t * 4)
        |SELECT CAST(n AS BIGINT) AS n_parts, t AS total_cents,
        |  n80 AS parts_for_80pct,
        |  round(CAST(n80 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share_of_parts,
        |  round(CAST(gn AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE)), 6)
        |    AS gini
        |FROM tot, g, n8""".stripMargin),

    QuerySpec("q_integrity", (s, dir) => {
      // referential-integrity audit across the star schema (the DQ
      // gate an ingestion run publishes before exposing tables):
      // per relationship, child rows / distinct child keys / orphan
      // rows (child keys with no parent). Orphans via LEFT ANTI join
      // — at scale each check is one hash join on the key, parent
      // side broadcast when small (dims), AQE otherwise; counts
      // map-side combine.
      def check(name: String, child: DataFrame, key: String,
                parent: DataFrame, pkey: String) = {
        val c = child.select(col(key).as("k"))
        val orphans = c.join(parent.select(col(pkey).as("k")).distinct(),
          Seq("k"), "left_anti")
        c.agg(count(lit(1)).as("n_child"),
          countDistinct(col("k")).as("n_keys"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("relationship"), col("n_child"),
            col("n_keys"), col("n_orphans"))
      }
      val li = tbl(s, dir, "lineitem"); val o = tbl(s, dir, "orders")
      val c = tbl(s, dir, "customer"); val su = tbl(s, dir, "supplier")
      val p = tbl(s, dir, "part"); val n = tbl(s, dir, "nation")
      check("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(check("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(check("lineitem.l_suppkey->supplier", li, "l_suppkey", su, "s_suppkey"))
        .unionByName(check("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(check("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"))
        .orderBy(col("relationship"))
    }, oracleSql = {
      def rel(name: String, child: String, key: String,
              parent: String, pkey: String) =
        s"""SELECT '$name' AS relationship,
           |  count(*) AS n_child, count(DISTINCT $key) AS n_keys,
           |  (SELECT count(*) FROM $child c2 WHERE NOT EXISTS
           |    (SELECT 1 FROM $parent p2 WHERE p2.$pkey = c2.$key))
           |    AS n_orphans
           |FROM $child""".stripMargin
      Seq(
        rel("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        rel("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        rel("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        rel("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        rel("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"))
        .mkString("(", ")\nUNION ALL\n(", ")\nORDER BY relationship")
    }),

    QuerySpec("q_cumulative_distinct", (s, dir) => {
      // cumulative unique users per event type by day (the "total
      // users reached" growth curve): distinct-over-running-window
      // without a window distinct — each (type, user) contributes on
      // its FIRST day only (one map-combined min aggregate), daily
      // first-appearance counts then cumsum over the bounded
      // (type × days) table. The corpus shuffle is the (type, user)
      // reduce; everything after is days-bounded.
      import org.apache.spark.sql.expressions.Window
      val firstDay = events(s, dir)
        .select(col("event_type"), col("user_id"), expr("sec div 86400").as("day"))
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(col("day")).as("day"))
      val daily = firstDay.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("new_users"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily
        .select(col("event_type"), col("day"), col("new_users"),
          sum(col("new_users")).over(w).as("cum_users"))
        .orderBy(col("event_type"), col("day"))
    }, oracleSql =
      """WITH e AS (
        |  SELECT event_type, user_id,
        |    epoch_us(ts) // 1000000 // 86400 AS day FROM events),
        |f AS (
        |  SELECT event_type, user_id, min(day) AS day FROM e GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type, day, count(*) AS new_users FROM f GROUP BY 1, 2)
        |SELECT event_type, day, new_users,
        |  CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM d ORDER BY event_type, day""".stripMargin),

    QuerySpec("q_rolling_dau", (s, dir) => {
      // 7-day rolling distinct active users per day (WAU — THE
      // engagement series): rolling DISTINCT has no window form, so
      // each (user, day) activity row covers days d..d+6 via a 7-way
      // explode, distinct coverage, then a per-day count. Work is
      // 7×|user-days| rows of two longs — linear, no window over the
      // corpus; the final count map-combines per day.
      val ud = events(s, dir)
        .select(col("user_id"), expr("sec div 86400").as("day"))
        .distinct()
      val mx = ud.agg(max(col("day")).as("mxd"))
      ud.withColumn("d",
          explode(sequence(col("day"), col("day") + 6)))
        .select(col("user_id"), col("d")).distinct()
        .crossJoin(broadcast(mx))
        .where(col("d") <= col("mxd")) // don't report past the data edge
        .groupBy(col("d").as("day"))
        .agg(count(lit(1)).as("wau")) // (user, d) already distinct
        .orderBy(col("day"))
    }, oracleSql =
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 1000000 // 86400 AS day FROM events),
        |mx AS (SELECT max(day) AS mxd FROM ud),
        |cov AS (
        |  SELECT DISTINCT user_id, day + t.o AS d
        |  FROM ud, unnest(range(0, 7)) AS t(o))
        |SELECT d AS day, count(*) AS wau
        |FROM cov, mx WHERE d <= mxd
        |GROUP BY d ORDER BY day""".stripMargin),

    QuerySpec("q07_volume_shipping", (s, dir) => {
      // TPC-H Q7 shape (volume shipping): revenue flowing between two
      // nations in both directions by ship year — the multi-dimension
      // star join with a symmetric pair filter. Exactness: cents ×
      // (10000 − discount basis points) keeps revenue an exact
      // decimal integer; the division to cents happens once at the
      // end. Dims broadcast; the fact side shuffles once for the
      // orders join.
      val sn = tbl(s, dir, "supplier")
        .join(tbl(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cn = tbl(s, dir, "customer")
        .join(tbl(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      tbl(s, dir, "lineitem")
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
        .where((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
        .select(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("ship_year"),
          (round(col("l_extendedprice") * 100).cast("decimal(38,0)") *
            (lit(10000) - round(col("l_discount") * 10000).cast("int")))
            .as("rev"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
        .agg(count(lit(1)).as("n_items"), sum(col("rev")).as("revx"))
        .select(col("supp_nation"), col("cust_nation"), col("ship_year"),
          col("n_items"),
          round(col("revx").cast("double") / 10000.0, 2).as("revenue_cents"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
    }, oracleSql =
      """WITH sn AS (
        |  SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey),
        |cn AS (
        |  SELECT c_custkey, n_name AS cust_nation FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey),
        |j AS (
        |  SELECT supp_nation, cust_nation,
        |    year(l_shipdate) AS ship_year,
        |    CAST(round(l_extendedprice * 100) AS HUGEINT) *
        |      (10000 - CAST(round(l_discount * 10000) AS INT)) AS rev
        |  FROM lineitem
        |  JOIN sn ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN cn ON o_custkey = c_custkey
        |  WHERE (supp_nation = 'NATION_3' AND cust_nation = 'NATION_7')
        |     OR (supp_nation = 'NATION_7' AND cust_nation = 'NATION_3'))
        |SELECT supp_nation, cust_nation, CAST(ship_year AS INT) AS ship_year,
        |  count(*) AS n_items,
        |  round(CAST(sum(rev) AS DOUBLE) / 10000.0, 2) AS revenue_cents
        |FROM j GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, ship_year""".stripMargin),

    QuerySpec("q11_stock_value", (s, dir) => {
      // TPC-H Q11 shape: per-part stock value within one nation (NATION_7), kept
      // if it exceeds a fraction of the GLOBAL total (group-vs-global
      // scalar HAVING): exact cents value, the global total broadcast
      // as one row, threshold compare in pure integers
      // (value·10000 > total). Dims broadcast into the fact scan.
      val ps = tbl(s, dir, "supplier")
        .join(tbl(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .where(col("n_name") === "NATION_7")
        .select(col("s_suppkey"))
      val li = tbl(s, dir, "lineitem")
        .join(broadcast(ps), col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"),
          (round(col("l_extendedprice") * 100).cast("long") *
            col("l_quantity").cast("long")).as("v"))
      val per = li.groupBy(col("l_partkey")).agg(sum(col("v")).as("value"))
      // scale-free HAVING: TPC-H's 0.0001/SF fraction is scale-DEPENDENT
      // (0 rows at 10x); value > 2x the mean part value keeps the
      // group-vs-global-scalar shape non-degenerate at any SF. Pure
      // integer compare: value*n_parts > 2*total.
      val tot = per.agg(sum(col("value")).as("total"),
        count(lit(1)).as("n_parts"))
      per.crossJoin(broadcast(tot))
        .where(col("value") * col("n_parts") > col("total") * 2)
        .select(col("l_partkey"), col("value"), col("total"))
        .orderBy(col("value").desc, col("l_partkey"))
    }, oracleSql =
      """WITH ps AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7'),
        |li AS (
        |  SELECT l_partkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      CAST(l_quantity AS BIGINT) AS v
        |  FROM lineitem JOIN ps ON l_suppkey = s_suppkey),
        |per AS (
        |  SELECT l_partkey, CAST(sum(v) AS BIGINT) AS value
        |  FROM li GROUP BY 1),
        |t AS (SELECT CAST(sum(value) AS BIGINT) AS total,
        |         count(*) AS n_parts FROM per)
        |SELECT l_partkey, value, total
        |FROM per, t WHERE value * n_parts > total * 2
        |ORDER BY value DESC, l_partkey""".stripMargin),

    QuerySpec("q18_large_orders", (s, dir) => {
      // TPC-H Q18 shape (large-volume orders): orders whose total
      // lineitem quantity exceeds a threshold — the HAVING-subquery
      // pattern, expressed as an aggregate + broadcast-joined keeper
      // set so the fact table is scanned once. Exact integer
      // quantities.
      val big = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
        .where(col("total_qty") > 150)
      tbl(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    }, oracleSql =
      """WITH big AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |    AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150)
        |SELECT c_custkey, o_orderkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin),

    QuerySpec("q_window_suite", (s, dir) => {
      // the full ranking-window surface in one table (percent_rank /
      // cume_dist / ntile / nth_value / first-last) over per-type
      // daily revenue — the remaining window functions the inventory
      // hadn't pinned; every value is an exact integer or a ratio of
      // exact integers. Windows run on the bounded (type × day)
      // series.
      import org.apache.spark.sql.expressions.Window
      val daily = events(s, dir)
        .select(col("event_type"), expr("sec div 86400").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("rev"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("rev"), col("day"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      daily
        .select(col("event_type"), col("day"), col("rev"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"),
          ntile(4).over(w).as("quartile"),
          nth_value(col("rev"), 3).over(wf).as("third_lowest"),
          first(col("rev")).over(wf).as("min_rev"),
          last(col("rev")).over(wf).as("max_rev"))
        .orderBy(col("event_type"), col("day"))
    }, oracleSql =
      """WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, rev,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  nth_value(rev, 3) OVER wf AS third_lowest,
        |  first_value(rev) OVER wf AS min_rev,
        |  last_value(rev) OVER wf AS max_rev
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY rev, day),
        |  wf AS (PARTITION BY event_type ORDER BY rev, day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_type, day""".stripMargin),

    QuerySpec("q_mad", (s, dir) => {
      // robust outlier stats per event type: median + MAD (median
      // absolute deviation) and the |x − med| > 3·1.4826·MAD count —
      // the heavy-tail-safe twin of q_outliers' z-scores (one wild
      // value moves a mean/σ gate, not a median/MAD gate). Exactness:
      // doubled units keep both medians' interpolation halves
      // integral (med2 = 2·median, mad4 = 2·median of doubled
      // deviations are exact BIGINTs), so the outlier rule is the
      // pure integer compare dev2·10⁴ > 22239·mad4. Two grouped
      // exact-percentile passes + broadcast |types|-row joins.
      val e = events(s, dir)
        .select(col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      val m1 = e.groupBy(col("event_type"))
        .agg(expr("percentile(cents, 0.5D)").as("med"), count(lit(1)).as("n"))
        .withColumn("med2", round(col("med") * 2).cast("long"))
      val dev = e.join(broadcast(m1), "event_type")
        .withColumn("dev2", abs(col("cents") * 2 - col("med2")))
      val m2 = dev.groupBy(col("event_type"))
        .agg(expr("percentile(dev2, 0.5D)").as("mad2"))
        .withColumn("mad4", round(col("mad2") * 2).cast("long"))
      dev.join(broadcast(m2), "event_type")
        .groupBy(col("event_type"), col("n"), col("med2"), col("mad4"))
        .agg(sum(when(col("dev2") * 10000 > col("mad4") * 22239, 1L)
          .otherwise(0L)).as("n_outliers"))
        .select(col("event_type"), col("n"),
          (col("med2").cast("double") / 200.0).as("median_value"),
          (col("mad4").cast("double") / 400.0).as("mad_value"),
          col("n_outliers"))
        .orderBy(col("event_type"))
    },
    // MAD replay: identical doubled-unit integer medians + the pure
    // integer outlier compare
    oracleSql =
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m1 AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(round(quantile_cont(cents, 0.5) * 2) AS BIGINT) AS med2
        |  FROM e GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, n, med2, abs(cents * 2 - med2) AS dev2
        |  FROM e JOIN m1 USING (event_type)),
        |m2 AS (
        |  SELECT event_type,
        |    CAST(round(quantile_cont(dev2, 0.5) * 2) AS BIGINT) AS mad4
        |  FROM d GROUP BY 1)
        |SELECT event_type, n,
        |  CAST(med2 AS DOUBLE) / 200.0 AS median_value,
        |  CAST(mad4 AS DOUBLE) / 400.0 AS mad_value,
        |  CAST(sum(CASE WHEN dev2 * 10000 > mad4 * 22239 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN m2 USING (event_type)
        |GROUP BY event_type, n, med2, mad4
        |ORDER BY event_type""".stripMargin),

    QuerySpec("q_approx_sketch", (s, dir) => {
      // sketch aggregates: HLL distinct + t-digest style percentile —
      // at 100 TB these shuffle fixed-size sketches instead of keys.
      // Sketch VALUES are engine-specific, so the hard oracle checks
      // each sketch against its accuracy contract: HLL (rsd=0.02)
      // within 5% of exact distinct; approx p50 (accuracy=1000) has
      // rank inside [0.45n, 0.55n], verified by COUNTING rows around
      // the returned value in a second scan — an exact percentile() in
      // the same agg would buffer every group value in one reducer,
      // precisely the thing that cannot run at 100 TB. Sketches are
      // deterministic on fixed input, so the booleans are stable rows
      // the driver hash-compares against literal TRUE.
      val orders = tbl(s, dir, "orders")
      val sketched = orders
        .groupBy(col("o_orderpriority"))
        .agg(
          approx_count_distinct(col("o_custkey"), 0.02).as("approx_custs"),
          countDistinct(col("o_custkey")).as("exact_custs"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50_approx"),
          count(lit(1)).as("n_orders"))
        .localCheckpoint(true) // a handful of rows; consumed by both join sides
      val ranks = orders
        .join(broadcast(sketched.select(col("o_orderpriority"), col("p50_approx"))),
          Seq("o_orderpriority"))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("o_totalprice") < col("p50_approx"), 1L).otherwise(0L)).as("n_lt"),
          sum(when(col("o_totalprice") <= col("p50_approx"), 1L).otherwise(0L)).as("n_le"))
      sketched.join(ranks, Seq("o_orderpriority"))
        .select(
          col("o_orderpriority"), col("n_orders"), col("exact_custs"),
          (abs(col("approx_custs") - col("exact_custs")).cast("double")
            <= col("exact_custs").cast("double") * 0.05).as("hll_ok"),
          // the returned value's rank interval [n_lt, n_le] must
          // intersect the contract window around the true median
          (col("n_lt") <= col("n_orders") * 0.55
            && col("n_le") >= col("n_orders") * 0.45).as("p50_ok"))
        .orderBy(col("o_orderpriority"))
    }, oracleSql =
      // sketch values are engine-specific; the gate is the exact
      // aggregates plus the sketch-accuracy booleans, which must be
      // TRUE when Spark's HLL/percentile sketches meet their contracts
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
        |  true AS hll_ok, true AS p50_ok
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    benchRun = (s, dir) => {
      // the production shape: one pass, fixed-size sketch state
      // through the shuffle — no exact countDistinct, no rank-check
      // rescan (those are the CORRECTNESS entry's contract proof)
      tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          approx_count_distinct(col("o_custkey"), 0.02).as("approx_custs"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50_approx"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    QuerySpec("q_time_travel", (s, dir) => {
      // point-in-time reads off the SCD-2 history (the payoff of
      // d_scd2_build: "what did the table look like at seq T"): state
      // at T = versions with valid_from ≤ T < valid_to, reported at
      // half-history and full-history marks — live/deleted/inserted/
      // untouched accounting that must tie out to the base count.
      // The history table is changes-sized (≪ corpus); the base is
      // touched only for one count and one anti-set cardinality.
      val base = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
      val hist = Corpus.scd2(cdcChangelog(base)).localCheckpoint(true)
      val tdf = hist.agg(max(col("valid_from_seq")).as("sm"))
        .select(explode(array(expr("sm div 2"), col("sm"))).as("as_of"))
      val baseN = base.agg(count(lit(1)).as("n_base"))
      val cur = hist.crossJoin(broadcast(tdf))
        .where(col("valid_from_seq") <= col("as_of") &&
          (col("valid_to_seq").isNull || col("valid_to_seq") > col("as_of")))
        .groupBy(col("as_of"))
        .agg(sum(when(col("op") =!= "D" && col("doc_id") < 500000000L, 1L)
          .otherwise(0L)).as("n_live_changed"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deleted"),
          sum(when(col("op") =!= "D" && col("doc_id") >= 500000000L, 1L)
            .otherwise(0L)).as("n_inserted"))
      val touched = hist.where(col("doc_id") < 500000000L)
        .crossJoin(broadcast(tdf))
        .where(col("valid_from_seq") <= col("as_of"))
        .groupBy(col("as_of"))
        .agg(countDistinct(col("doc_id")).as("n_touched"))
      cur.join(touched, Seq("as_of"))
        .crossJoin(broadcast(baseN))
        .select(col("as_of"), col("n_live_changed"), col("n_deleted"),
          col("n_inserted"),
          (col("n_base") - col("n_touched")).as("n_untouched"),
          (col("n_base") - col("n_touched") + col("n_live_changed") +
            col("n_inserted")).as("total_live"))
        .orderBy(col("as_of"))
    },
    // as-of replay over the same changelog + interval build
    oracleSql =
      s"""WITH $cdcChangelogCtes,
         |v AS (
         |  SELECT doc_id, op, seq,
         |    lead(seq) OVER (PARTITION BY doc_id ORDER BY seq, op, text)
         |      AS valid_to_seq
         |  FROM ch),
         |sm AS (SELECT max(seq) AS sm FROM ch),
         |t AS (SELECT sm // 2 AS as_of FROM sm UNION ALL SELECT sm FROM sm),
         |cur AS (
         |  SELECT t.as_of,
         |    CAST(sum(CASE WHEN op <> 'D' AND doc_id < 500000000
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_live_changed,
         |    CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_deleted,
         |    CAST(sum(CASE WHEN op <> 'D' AND doc_id >= 500000000
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
         |  FROM v, t
         |  WHERE v.seq <= t.as_of AND
         |    (valid_to_seq IS NULL OR valid_to_seq > t.as_of)
         |  GROUP BY 1),
         |tou AS (
         |  SELECT t.as_of, count(DISTINCT doc_id) AS n_touched
         |  FROM ch, t WHERE doc_id < 500000000 AND seq <= t.as_of GROUP BY 1),
         |bn AS (SELECT count(*) AS n_base FROM base)
         |SELECT as_of, n_live_changed, n_deleted, n_inserted,
         |  CAST(n_base - n_touched AS BIGINT) AS n_untouched,
         |  CAST(n_base - n_touched + n_live_changed + n_inserted AS BIGINT)
         |    AS total_live
         |FROM cur JOIN tou USING (as_of), bn ORDER BY as_of""".stripMargin),

    QuerySpec("q_benford", (s, dir) => {
      // first-significant-digit distribution vs Benford's law + χ²
      // (the classic fabricated-numbers audit): digit via exact
      // string head (no float log), observed shares and the literal
      // Benford expectations, χ² folded over the 9-digit table in
      // CONTRACTED digit order (t_entropy float contract). One
      // map-combined 9-row aggregate.
      val e = tbl(s, dir, "orders")
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
        .where(col("cents") > 0)
        .select(expr("cast(substring(cast(cents as string), 1, 1) as int)").as("digit"))
      val obs = e.groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = obs.agg(sum(col("n")).as("nt"))
      val pExpr = (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d)))
        .map { case (d, p) => s"WHEN digit = $d THEN ${p}D" }
        .mkString("CASE ", " ", " END")
      val withP = obs.crossJoin(broadcast(tot))
        .withColumn("p", expr(pExpr))
        .withColumn("term",
          (col("n").cast("double") - col("nt").cast("double") * col("p")) *
            (col("n").cast("double") - col("nt").cast("double") * col("p")) /
            (col("nt").cast("double") * col("p")))
      val chi2 = withP
        .agg(sort_array(collect_list(struct(col("digit"), col("term").as("t"))))
          .as("a"))
        .select(aggregate(col("a"), lit(0.0),
          (acc, x) => acc + x.getField("t")).as("chi2"))
      withP.crossJoin(broadcast(chi2))
        .select(col("digit"), col("n"),
          round(col("n").cast("double") / col("nt").cast("double"), 6).as("pct"),
          round(col("p"), 6).as("benford_pct"),
          round(col("chi2"), 6).as("chi2"),
          (col("chi2") > 15.507).as("reject_benford"))
        .orderBy(col("digit"))
    },
    // Benford replay: identical string-head digit, the SAME double
    // literals for expectations (string-cast to dodge DECIMAL literal
    // parsing), chi2 folded in digit order
    oracleSql = {
      val cases = (1 to 9).map(d =>
        s"WHEN digit = $d THEN CAST('${math.log10(1.0 + 1.0 / d)}' AS DOUBLE)")
        .mkString("CASE ", " ", " END")
      s"""WITH e AS (
         |  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |        FROM orders) WHERE cents > 0),
         |obs AS (SELECT digit, count(*) AS n FROM e GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM obs),
         |wp AS (
         |  SELECT digit, n, nt, $cases AS p,
         |    (CAST(n AS DOUBLE) - CAST(nt AS DOUBLE) * ($cases)) *
         |    (CAST(n AS DOUBLE) - CAST(nt AS DOUBLE) * ($cases)) /
         |    (CAST(nt AS DOUBLE) * ($cases)) AS term
         |  FROM obs, tot),
         |c2 AS (
         |  SELECT list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
         |    list(term ORDER BY digit)), (x, y) -> x + y) AS chi2 FROM wp)
         |SELECT digit, CAST(n AS BIGINT) AS n,
         |  round(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS pct,
         |  round(p, 6) AS benford_pct,
         |  round(chi2, 6) AS chi2,
         |  chi2 > 15.507 AS reject_benford
         |FROM wp, c2 ORDER BY digit""".stripMargin
    }),

    QuerySpec("q_profile", (s, dir) => {
      // per-column dataset profile (the DESCRIBE pass): one Expand-based
      // exact multi-distinct aggregate, unpivoted in-row
      graft.operators.Profiler.profile(tbl(s, dir, "documents"),
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy(col("column"))
    }, oracleSql = {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      cols.map { c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    }),

    QuerySpec("q_histogram", (s, dir) => {
      // top-5 values per column with counts: skew/drift/junk-sentinel
      // detection; deterministic (cnt desc, value asc) total order
      graft.operators.Profiler.histogram(tbl(s, dir, "documents"),
          Seq("lang", "source", "n_chars"), k = 5)
        .orderBy(col("column"), col("rank"))
    }, oracleSql = {
      val cols = Seq("lang", "source", "n_chars")
      val per = cols.map { c =>
        s"""SELECT '$c' AS "column", coalesce(CAST($c AS VARCHAR), '<null>') AS value,
           |  CAST(count(*) AS BIGINT) AS cnt
           |FROM documents GROUP BY 2""".stripMargin
      }.mkString("(", ")\nUNION ALL\n(", ")")
      s"""WITH counts AS ($per),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY "column"
         |    ORDER BY cnt DESC, value ASC) AS INT) AS rank
         |  FROM counts)
         |SELECT "column", value, cnt, rank FROM ranked
         |WHERE rank <= 5
         |ORDER BY "column", rank""".stripMargin
    }),

    QuerySpec("q_drift", (s, dir) => {
      // PSI drift gate between snapshots: v2 drops ids ≡3 (mod 17)
      // and re-sources ids ≡7 (mod 13) into 'src_new' — lang shifts
      // mildly, source grows a bin. Integer n_bins/t_old/t_new anchor
      // the gate; psi rounds to 6 dp
      val docs = tbl(s, dir, "documents")
      val v2 = docs.where(col("doc_id") % 17 =!= 3)
        .unionByName(docs.where(col("doc_id") % 13 === 7)
          .withColumn("source", lit("src_new")))
      graft.operators.Profiler.drift(docs, v2, Seq("lang", "source"))
        .orderBy(col("column"))
    }, oracleSql = {
      val mk = (src: String, cnt: String) => Seq("lang", "source").map { c =>
        s"""SELECT '$c' AS "column", coalesce(CAST($c AS VARCHAR), '<null>') AS value,
           |  count(*) AS $cnt FROM $src GROUP BY 2""".stripMargin
      }.mkString("(", ")\nUNION ALL\n(", ")")
      s"""WITH oldd AS (SELECT lang, source FROM documents),
         |nw AS (SELECT lang, source FROM documents WHERE doc_id % 17 <> 3
         |  UNION ALL
         |  SELECT lang, 'src_new' FROM documents WHERE doc_id % 13 = 7),
         |po AS (${mk("oldd", "n_old")}),
         |pn AS (${mk("nw", "n_new")}),
         |bins AS (
         |  SELECT coalesce(po."column", pn."column") AS "column",
         |    coalesce(po.value, pn.value) AS value,
         |    CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
         |    CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
         |  FROM po FULL OUTER JOIN pn
         |    ON po."column" = pn."column" AND po.value = pn.value),
         |tot AS (SELECT "column", CAST(sum(n_old) AS BIGINT) AS t_old,
         |    CAST(sum(n_new) AS BIGINT) AS t_new, count(*) AS n_bins
         |  FROM bins GROUP BY 1)
         |SELECT "column", n_bins, t_old, t_new,
         |  round(sum(((n_new + 1) / (t_new + n_bins) - (n_old + 1) / (t_old + n_bins))
         |    * ln(((n_new + 1) / (t_new + n_bins)) / ((n_old + 1) / (t_old + n_bins)))), 6) AS psi
         |FROM bins JOIN tot USING ("column")
         |GROUP BY 1, 2, 3, 4
         |ORDER BY "column"""".stripMargin
    }),

    QuerySpec("q_correlated_subquery", (s, dir) => {
      // correlated scalar subquery, submitted AS SQL so Catalyst's
      // decorrelation rewrites it (RewriteCorrelatedScalarSubquery →
      // one per-customer aggregate joined back — the plan a user
      // would otherwise hand-write; nothing is evaluated per-row).
      // The comparison basis is avg over exact integer cents: the
      // sum is exact, the single division correctly rounded — the
      // same double in both engines, so the > cut is deterministic.
      tbl(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT o_custkey, count(*) AS n_above,
          |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
          |    AS above_cents
          |FROM orders_v o1
          |WHERE CAST(round(o_totalprice * 100) AS BIGINT) > (
          |  SELECT avg(CAST(round(o2.o_totalprice * 100) AS BIGINT))
          |  FROM orders_v o2 WHERE o2.o_custkey = o1.o_custkey)
          |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
    },
    // the same correlated text DuckDB runs natively (its own
    // decorrelation); avg over exact cents makes the > cut the same
    // double in both engines
    oracleSql =
      """SELECT o_custkey, count(*) AS n_above,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
        |    AS above_cents
        |FROM orders o1
        |WHERE CAST(round(o_totalprice * 100) AS BIGINT) > (
        |  SELECT avg(CAST(round(o2.o_totalprice * 100) AS BIGINT))
        |  FROM orders o2 WHERE o2.o_custkey = o1.o_custkey)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    QuerySpec("q_skyline", (s, dir) => {
      // supplier efficiency frontier: 2-D skyline maximizing revenue,
      // minimizing lineitem count (the Pareto / BNL-skyline operator
      // of classic OLAP). Two-phase distributed shape: (1) corpus
      // reduces map-side to the supplier-sized (rev, n) table;
      // (2) coarse rev-bucket min-n table (bucket-count-sized,
      // broadcast) prunes every point dominated by a strictly higher
      // bucket's best — the surviving candidate set is frontier-dense;
      // (3) the exact pass sorts candidates once (per-rev min-n, then
      // a strict-prefix running min over descending rev). All exact
      // integers (cents, counts); equal (rev, n) points all survive,
      // by the standard strict-dominance definition.
      import org.apache.spark.sql.expressions.Window
      val per = tbl(s, dir, "lineitem")
        .select(col("l_suppkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("cents")).as("rev"), count(lit(1)).as("n_items"))
        .withColumn("b", expr("rev div 100000000"))
      val wb = Window.orderBy(col("b").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val bmin = per.groupBy(col("b")).agg(min(col("n_items")).as("bn"))
        .select(col("b"), min(col("bn")).over(wb).as("dom_n"))
      val cand = per.join(broadcast(bmin), Seq("b"))
        .where(col("dom_n").isNull || col("n_items") < col("dom_n"))
      val wRev = Window.orderBy(col("rev").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = cand.groupBy(col("rev")).agg(min(col("n_items")).as("n_items"))
        .select(col("rev"), col("n_items"),
          min(col("n_items")).over(wRev).as("pmin"))
        .where(col("pmin").isNull || col("pmin") > col("n_items"))
        .select(col("rev"), col("n_items"))
      cand.join(broadcast(frontier), Seq("rev", "n_items"))
        .select(col("l_suppkey"), col("rev"), col("n_items"))
        .orderBy(col("l_suppkey"))
    },
    // dominance replay: per-(rev, n) NOT EXISTS strict dominance over
    // the supplier aggregate, joined back to supplier rows
    oracleSql =
      """WITH per AS (
        |  SELECT l_suppkey, CAST(sum(CAST(round(l_extendedprice * 100)
        |      AS BIGINT)) AS BIGINT) AS rev,
        |    count(*) AS n_items
        |  FROM lineitem GROUP BY 1),
        |pts AS (SELECT DISTINCT rev, n_items FROM per),
        |sky AS (
        |  SELECT rev, n_items FROM pts p
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM pts q
        |    WHERE q.rev >= p.rev AND q.n_items <= p.n_items
        |      AND (q.rev > p.rev OR q.n_items < p.n_items)))
        |SELECT l_suppkey, rev, n_items
        |FROM per JOIN sky USING (rev, n_items)
        |ORDER BY l_suppkey""".stripMargin)
  )
}
