package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}

/** Relational operator surface (SURVEY §2.2 rightmost column): the
  * scans/filters/joins/aggregations/windows/set-ops/scalar-functions
  * the reference lacks entirely, expressed as declarative DataFrame
  * programs so Catalyst provides pushdown, pruning, join selection,
  * AQE and whole-stage codegen for free (SURVEY §4.1).
  *
  * Determinism contract (SURVEY §7.4): every query orders its output
  * with a total tie-break, and all floating aggregates are computed in
  * exact decimal then cast to double, so the DuckDB oracle hash-matches
  * bit-for-bit regardless of partitioning / summation order — which is
  * also what makes results stable between local[32] and a 1000-executor
  * cluster.
  *
  * Scale notes per query are inline; the common rules: small dims
  * (region, nation, customer, part, supplier at these SFs) broadcast —
  * either via Catalyst's threshold or an explicit `broadcast()` hint;
  * the fact table (lineitem) is never collected, never cross-joined,
  * and always filtered before joining so pushdown reaches the scan.
  */
object Relational extends QueryModule {

  /** Exact 2-dp decimal for money/quantity math; sums in decimal are
    * order-independent, unlike double sums. */
  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))
  private def d1: Column = lit(1).cast(DecimalType(12, 2))
  private def asDouble(c: Column): Column = c.cast(DoubleType)
  private def ts(s: String): Column = lit(s).cast(TimestampType)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---------------------------------------------------------------
    // i01: ingest parity — the reference's entire job (scan → sink) as
    // an identity pipeline. Scan is vectorized+columnar; ordering only
    // for oracle determinism (a real ingest wouldn't sort).
    "i01_ingest_scan" -> ((s, d) =>
      Tables.lineitem(s, d).orderBy("l_orderkey", "l_linenumber")),

    // q01: TPC-H Q1 analog — scan→filter→hash-agg→sort. Filter pushes
    // to parquet; agg is partial (map-side) then final over 6 groups.
    "q01_pricing_summary" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          asDouble(sum(dec(col("l_quantity")))).as("sum_qty"),
          asDouble(sum(dec(col("l_extendedprice")))).as("sum_base_price"),
          asDouble(sum(dec(col("l_extendedprice")) * (d1 - dec(col("l_discount")))))
            .as("sum_disc_price"),
          asDouble(sum(dec(col("l_extendedprice")) * (d1 - dec(col("l_discount")))
            * (d1 + dec(col("l_tax"))))).as("sum_charge"),
          (asDouble(sum(dec(col("l_quantity")))) / count(lit(1))).as("avg_qty"),
          (asDouble(sum(dec(col("l_extendedprice")))) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // q02: global top-k — TakeOrderedAndProject, no full sort shuffle.
    "q02_topk_orders" -> ((s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),

    // q03: TPC-H Q3 analog — customer (filtered, broadcast) ⋈ orders ⋈
    // lineitem, agg by order, top-10 by revenue. At 100 TB the
    // orders⋈lineitem join shuffles on orderkey; customer stays
    // broadcast after the segment filter.
    "q03_shipping_priority" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(asDouble(sum(dec(col("l_extendedprice")) * (d1 - dec(col("l_discount")))))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // q04: EXISTS → left-semi join with a cross-table predicate.
    "q04_order_priority" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // q05: star join lineitem⋈orders⋈customer⋈nation⋈region → revenue
    // per (region, nation). nation/region broadcast trivially; customer
    // broadcasts after projection; the only big shuffle is l⋈o.
    "q05_nation_revenue" -> ((s, d) => {
      val l = Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(asDouble(sum(dec(col("l_extendedprice")) * (d1 - dec(col("l_discount")))))
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // q06: TPC-H Q6 — pure scan-filter-agg, fully pushed down; the
    // shape that must stay a single stage at any scale.
    "q06_revenue_forecast" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
                col("l_shipdate") < ts("1997-01-01 00:00:00") &&
                col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
                col("l_quantity") < 24)
        .agg(asDouble(sum(dec(col("l_extendedprice")) * dec(col("l_discount"))))
          .as("revenue"),
          count(lit(1)).as("n_items"))),

    // q07: NOT EXISTS → left-anti join.
    "q07_customers_no_orders" -> ((s, d) => {
      val c = Tables.customer(s, d)
      // "no URGENT orders" rather than "no orders at all": at the gate
      // SF every customer has orders, which made this pass vacuously on
      // 0 = 0 rows. The priority filter pushes into the orders scan
      // (smaller anti-join build side) and yields a non-empty result at
      // every test SF, so the anti-join math is actually checked.
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // q08: exact distinct aggregation (expands to two-phase agg).
    "q08_distinct_stats" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          asDouble(max(dec(col("o_totalprice")))).as("max_price"))
        .orderBy("o_orderpriority")),

    // q09: ROLLUP — hierarchical subtotals in one pass.
    "q09_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // q10: CUBE — all grouping-set combinations.
    "q10_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)),

    // q11: top-N per group via ranking window (no global sort; the
    // window partitions shuffle by brand only).
    "q11_window_topn" -> ((s, d) => {
      val w = Window.partitionBy("p_brand")
        .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
      Tables.part(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("p_brand", "rn", "p_partkey", "p_retailprice")
        .orderBy("p_brand", "rn")
    }),

    // q12: running / sliding / offset windows per user over the event
    // stream. Decimal running sums stay order-exact under any plan.
    "q12_window_running" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, d)
        .withColumn("seq", row_number().over(w))
        .withColumn("running_value",
          asDouble(sum(dec(col("value"))).over(w.rowsBetween(Window.unboundedPreceding, 0))))
        .withColumn("moving10",
          asDouble(sum(dec(col("value"))).over(w.rowsBetween(-9, 0))))
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .select("event_id", "user_id", "seq", "value", "running_value", "moving10", "prev_value")
        .orderBy("event_id")
    }),

    // q13: set operators — UNION ALL / INTERSECT / EXCEPT (all
    // distinct-semantics per ANSI for intersect/except).
    "q13_set_ops" -> ((s, d) => {
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val big = Tables.orders(s, d)
        .filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey").as("k")).distinct()
      building.intersect(big).withColumn("tag", lit("both"))
        .unionAll(building.except(big).withColumn("tag", lit("building_only")))
        .unionAll(big.except(building).withColumn("tag", lit("big_only")))
        .select("tag", "k")
        .orderBy("tag", "k")
    }),

    // q14: scalar string functions (all codegen'd builtins).
    "q14_string_funcs" -> ((s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").like("%e%"))
        .select(col("p_partkey"),
          upper(col("p_name")).as("up_name"),
          lower(col("p_brand")).as("lo_brand"),
          substring(col("p_name"), 1, 8).as("pfx"),
          length(col("p_name")).as("name_len"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
          regexp_replace(col("p_type"), "ECONOMY", "ECO").as("type_repl"),
          col("p_name").like("%a%").as("has_a"))
        .orderBy("p_partkey")),

    // q15: scalar date/time functions.
    "q15_date_funcs" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"),
          quarter(col("o_orderdate")).as("o_quarter"),
          dayofmonth(col("o_orderdate")).as("o_day"),
          date_trunc("month", col("o_orderdate")).cast(DateType).as("month_start"),
          datediff(col("o_orderdate"), ts("1995-01-01 00:00:00")).as("days_since_epoch0"))
        .orderBy("o_orderkey")),

    // q16: JSON extraction from the events `props` column.
    "q16_json_extract" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))
        .orderBy("event_type")),

    // q17: CASE WHEN bucketing + agg.
    "q17_case_buckets" -> ((s, d) =>
      Tables.orders(s, d)
        .withColumn("bucket",
          when(col("o_totalprice") < 100000.0, "small")
            .when(col("o_totalprice") < 300000.0, "mid")
            .otherwise("large"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          asDouble(sum(dec(col("o_totalprice")))).as("sum_price"))
        .orderBy("bucket")),

    // q18: GROUP BY + HAVING + join back to dimensions (TPC-H Q18
    // analog). The HAVING runs before the joins, shrinking the build.
    "q18_big_orders" -> ((s, d) => {
      // fanned on the GROUP key: the aggregate reuses the fan-out
      // exchange (same hash partitioning, no second shuffle), so the
      // per-order decimal sum runs at session parallelism instead of
      // the tiny table's 1-3 natural splits (2.3 s → 1.2 s at sf0.1)
      val bigQty = Tables.lineitemFanned(s, d)
        .groupBy("l_orderkey")
        .agg(asDouble(sum(dec(col("l_quantity")))).as("sum_qty"))
        .filter(col("sum_qty") > 150.0)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      bigQty.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    }),

    // q19: uncorrelated-agg subquery — customers above their segment's
    // average balance. Decimal-exact avg so the boundary comparison is
    // deterministic across engines.
    "q19_above_segment_avg" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val segAvg = c.groupBy("c_mktsegment")
        .agg((asDouble(sum(dec(col("c_acctbal")))) / count(lit(1))).as("seg_avg"))
      c.join(broadcast(segAvg), Seq("c_mktsegment"))
        .filter(col("c_acctbal") > col("seg_avg"))
        .select("c_custkey", "c_mktsegment", "c_acctbal", "seg_avg")
        .orderBy("c_custkey")
    }),

    // q20: range (interval) join — equi key + band predicate; stays a
    // hash join on orderkey with the band as post-filter.
    "q20_range_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val l = Tables.lineitem(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey") &&
          l("l_shipdate") >= o("o_orderdate") &&
          l("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_fast_items"))
        .orderBy("o_orderpriority")
    }),

    // q21: as-of join — for each error event, the most recent prior
    // purchase by the same user. Implemented scalably as union +
    // single sort-window pass (no per-row subquery, no cross join):
    // O(n log n) shuffle on user_id, the classic distributed as-of.
    "q21_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("p_ts"),
          lit(null).cast(LongType).as("event_id"))
      val errors = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), lit(null).cast(TimestampType).as("p_ts"),
          col("event_id"))
      // purchases sort before errors at identical ts (asof is <=).
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, 0)
      purchases.unionByName(errors)
        .withColumn("last_purchase_ts", last(col("p_ts"), ignoreNulls = true).over(w))
        .filter(col("event_id").isNotNull)
        .select("event_id", "user_id", "last_purchase_ts")
        .orderBy("event_id")
    })
  )

  val oracle: Map[String, String] = Map(
    "i01_ingest_scan" ->
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",

    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q02_topk_orders" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",

    "q03_shipping_priority" -> """
      SELECT l_orderkey, o_orderdate, o_orderpriority,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""",

    "q04_order_priority" -> """
      SELECT o_orderpriority, COUNT(*) AS order_count
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q05_nation_revenue" -> """
      SELECT r_name, n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
      FROM lineitem, orders, customer, nation, region
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name""",

    "q06_revenue_forecast" -> """
      SELECT
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""",

    "q07_customers_no_orders" -> """
      SELECT c_mktsegment, COUNT(*) AS n_customers
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q08_distinct_stats" -> """
      SELECT o_orderpriority,
        COUNT(DISTINCT o_custkey) AS n_customers,
        COUNT(*) AS n_orders,
        CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q09_rollup" -> """
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q10_cube" -> """
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",

    "q11_window_topn" -> """
      SELECT p_brand, rn, p_partkey, p_retailprice FROM (
        SELECT p_brand, p_partkey, p_retailprice,
          ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        FROM part) t
      WHERE rn <= 3 ORDER BY p_brand, rn""",

    "q12_window_running" -> """
      SELECT event_id, user_id,
        ROW_NUMBER() OVER w AS seq,
        value,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving10,
        LAG(value, 1) OVER w AS prev_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
      ORDER BY event_id""",

    "q13_set_ops" -> """
      WITH building AS (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'),
           big AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 300000.0)
      SELECT 'both' AS tag, k FROM (SELECT k FROM building INTERSECT SELECT k FROM big)
      UNION ALL
      SELECT 'building_only' AS tag, k FROM (SELECT k FROM building EXCEPT SELECT k FROM big)
      UNION ALL
      SELECT 'big_only' AS tag, k FROM (SELECT k FROM big EXCEPT SELECT k FROM building)
      ORDER BY tag, k""",

    "q14_string_funcs" -> """
      SELECT p_partkey,
        UPPER(p_name) AS up_name,
        LOWER(p_brand) AS lo_brand,
        SUBSTRING(p_name, 1, 8) AS pfx,
        LENGTH(p_name) AS name_len,
        CONCAT(p_brand, ':', p_type) AS brand_type,
        REGEXP_REPLACE(p_type, 'ECONOMY', 'ECO') AS type_repl,
        (p_name LIKE '%a%') AS has_a
      FROM part WHERE p_name LIKE '%e%' ORDER BY p_partkey""",

    "q15_date_funcs" -> """
      SELECT o_orderkey,
        CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS o_month,
        CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS o_quarter,
        CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS o_day,
        CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
        CAST(DATE_DIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT) AS days_since_epoch0
      FROM orders ORDER BY o_orderkey""",

    "q16_json_extract" -> """
      SELECT event_type, COUNT(*) AS n_events,
        CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
      FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) t
      GROUP BY event_type ORDER BY event_type""",

    "q17_case_buckets" -> """
      SELECT bucket, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      FROM (SELECT CASE WHEN o_totalprice < 100000.0 THEN 'small'
                        WHEN o_totalprice < 300000.0 THEN 'mid'
                        ELSE 'large' END AS bucket, o_totalprice FROM orders) t
      GROUP BY bucket ORDER BY bucket""",

    "q18_big_orders" -> """
      SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty FROM (
        SELECT l_orderkey,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) > 150.0) b
      JOIN orders ON b.l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""",

    "q19_above_segment_avg" -> """
      SELECT c_custkey, c_mktsegment, c_acctbal, seg_avg
      FROM customer
      JOIN (SELECT c_mktsegment AS seg,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS seg_avg
            FROM customer GROUP BY c_mktsegment) a
        ON c_mktsegment = a.seg
      WHERE c_acctbal > seg_avg
      ORDER BY c_custkey""",

    "q20_range_join" -> """
      SELECT o_orderpriority, COUNT(*) AS n_fast_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        AND l_shipdate >= o_orderdate
        AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q21_asof_join" -> """
      SELECT e.event_id, e.user_id,
        (SELECT MAX(p.ts) FROM events p
         WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts <= e.ts) AS last_purchase_ts
      FROM events e
      WHERE e.event_type = 'error'
      ORDER BY e.event_id"""
  )
}
