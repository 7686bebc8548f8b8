package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}

/** Fourth relational batch: map-typed aggregation state, regular
  * expressions, FILTER-clause conditional aggregates, calendar
  * interval arithmetic, schema-evolving unions, and time-range window
  * frames. All absent from the reference (its only SQL surface is
  * CREATE TABLE / INSERT, `/root/reference/src/main.rs:104-151`) and
  * all oracle-checked against DuckDB.
  *
  * Shared rules as in [[Relational]]: money math in DECIMAL(12,2)
  * then cast to double, total-order ORDER BY, no collect(), no cross
  * joins.
  */
object Relational4 extends QueryModule {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))
  private def asDouble(c: org.apache.spark.sql.Column) = c.cast(DoubleType)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // q34: map-typed aggregation state — per-priority status→count map
    // built with map_from_entries, then consumed with element_at /
    // map_keys / map_filter. The map is plan-internal (grouped state,
    // never a shuffled payload wider than the 3-entry status domain),
    // so the same shape holds at any scale; the oracle sees only the
    // flattened columns. Missing statuses surface as NULL (element_at
    // on an absent key), mirrored by MAX(CASE...) in the oracle.
    "q34_map_funcs" -> ((s, d) => {
      val perStatus = Tables.orders(s, d)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"))
      perStatus
        .groupBy("o_orderpriority")
        .agg(map_from_entries(
          collect_list(struct(col("o_orderstatus"), col("cnt")))).as("m"))
        .select(col("o_orderpriority"),
          element_at(col("m"), "F").as("n_f"),
          element_at(col("m"), "O").as("n_o"),
          element_at(col("m"), "P").as("n_p"),
          size(col("m")).as("n_statuses"),
          array_join(array_sort(map_keys(col("m"))), ",").as("statuses"),
          size(map_filter(col("m"), (_, v) => v >= 10L)).as("n_major"))
        .orderBy("o_orderpriority")
    }),

    // q35: regular-expression surface over the events props JSON text —
    // extract-all + count, first-match extraction, global replace,
    // anchored match. Patterns stay in the character-class subset where
    // Java regex (codegen'd, no UDF) and RE2-style engines agree.
    "q35_regexp" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0))).as("n_nums"),
          regexp_extract(col("props"), "[0-9]+", 0).cast(LongType).as("first_num"),
          regexp_replace(col("props"), "[0-9]", "#").as("masked"),
          col("event_type").rlike("^(error|signup)$").as("is_flagged"))
        .orderBy("event_id")),

    // q36: conditional aggregates — count_if / every / bool_or plus a
    // guarded decimal sum, all in ONE hash aggregate (each is a plain
    // partial-aggregable function; no extra pass, no join, map-side
    // combine intact — the only aggregation shape worth shipping at
    // 100 TB).
    "q36_conditional_agg" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_linestatus")
        .agg(
          count(lit(1)).as("n_rows"),
          count_if(col("l_discount") > 0.05).as("n_disc"),
          every(col("l_quantity") > 0).as("all_qty_pos"),
          bool_or(col("l_tax") > 0.07).as("any_high_tax"),
          asDouble(sum(when(col("l_discount") > 0.05, dec(col("l_extendedprice")))
            .otherwise(dec(lit(0))))).as("disc_revenue"))
        .orderBy("l_linestatus")),

    // q37: calendar interval arithmetic — day/month addition (with
    // end-of-month clamping, identical in both engines), last_day,
    // ISO week, day-of-week. Row-wise codegen'd expressions; nothing
    // here shuffles. The day offset is 45 (not 90) deliberately:
    // DuckDB 1.0.0's interval equality normalizes months to 30 days,
    // so INTERVAL 90 DAY and INTERVAL 3 MONTH compare EQUAL and its
    // constant dedup can collapse both literals to one value inside a
    // single query over a scan — 45 days is not "equal" to any whole
    // month, which keeps the oracle honest.
    "q37_interval_arith" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          (col("o_orderdate") + expr("INTERVAL 45 DAY")).cast(DateType).as("due_45d"),
          add_months(col("o_orderdate"), 3).as("plus_3m"),
          last_day(col("o_orderdate")).as("month_end"),
          weekofyear(col("o_orderdate")).as("iso_week"),
          dayofweek(col("o_orderdate")).as("dow"))
        .orderBy("o_orderkey")),

    // q38: schema-evolving union — unionByName(allowMissingColumns):
    // two branches with different projections align by NAME, absent
    // columns null-fill. This is the batch analog of reading mixed
    // schema versions of a 100 TB lake (column order never matters,
    // new columns appear as nulls in old partitions).
    "q38_union_by_name" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val high = o.filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"), col("o_totalprice"), lit("high").as("tag"))
      val urgent98 = o.filter(year(col("o_orderdate")) === 1998 &&
          col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"),
          col("o_orderdate").cast(DateType).as("o_date"),
          lit("urgent98").as("tag"))
      high.unionByName(urgent98, allowMissingColumns = true)
        .orderBy("tag", "o_orderkey")
    }),

    // q39: time-range window frame — trailing-7-day revenue over the
    // per-day aggregate, RANGE frame bounded by a calendar interval
    // (not ROWS: days can be missing, the frame is defined by TIME).
    // The window is unpartitioned by construction, but its input is
    // the per-day rollup — cardinality bounded by the calendar domain
    // (~365 rows/year regardless of data volume), so the single
    // ordered partition is a non-issue at any scale; the heavy
    // aggregation below it is a normal distributed hash aggregate.
    "q39_window_range_frame" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v4")
      s.sql("""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 COUNT(*) AS n_orders,
                 SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
          FROM orders_v4 GROUP BY 1)
        SELECT day, n_orders, CAST(rev_dec AS DOUBLE) AS rev,
          CAST(SUM(rev_dec) OVER (ORDER BY day
            RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS rev_7d
        FROM daily ORDER BY day""")
    })
  )

  val oracle: Map[String, String] = Map(
    "q34_map_funcs" -> """
      WITH ps AS (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
        FROM orders GROUP BY 1, 2)
      SELECT o_orderpriority,
        MAX(CASE WHEN o_orderstatus = 'F' THEN n END) AS n_f,
        MAX(CASE WHEN o_orderstatus = 'O' THEN n END) AS n_o,
        MAX(CASE WHEN o_orderstatus = 'P' THEN n END) AS n_p,
        CAST(COUNT(*) AS INT) AS n_statuses,
        string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        CAST(COUNT(*) FILTER (WHERE n >= 10) AS INT) AS n_major
      FROM ps GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q35_regexp" -> """
      SELECT event_id,
        CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT) AS n_nums,
        TRY_CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS first_num,
        regexp_replace(props, '[0-9]', '#', 'g') AS masked,
        regexp_matches(event_type, '^(error|signup)$') AS is_flagged
      FROM events ORDER BY event_id""",

    "q36_conditional_agg" -> """
      SELECT l_linestatus,
        COUNT(*) AS n_rows,
        COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        bool_and(l_quantity > 0) AS all_qty_pos,
        bool_or(l_tax > 0.07) AS any_high_tax,
        CAST(SUM(CASE WHEN l_discount > 0.05
          THEN CAST(l_extendedprice AS DECIMAL(12,2))
          ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS disc_revenue
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""",

    "q37_interval_arith" -> """
      SELECT o_orderkey,
        CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS due_45d,
        CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3m,
        CAST(last_day(o_orderdate) AS DATE) AS month_end,
        CAST(EXTRACT(WEEK FROM o_orderdate) AS INT) AS iso_week,
        CAST(EXTRACT(DOW FROM o_orderdate) + 1 AS INT) AS dow
      FROM orders ORDER BY o_orderkey""",

    "q38_union_by_name" -> """
      SELECT o_orderkey, o_totalprice, 'high' AS tag, NULL AS o_date
      FROM orders WHERE o_totalprice > 400000.0
      UNION ALL BY NAME
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        'urgent98' AS tag, NULL AS o_totalprice
      FROM orders
      WHERE EXTRACT(YEAR FROM o_orderdate) = 1998
        AND o_orderpriority = '1-URGENT'
      ORDER BY tag, o_orderkey""",

    "q39_window_range_frame" -> """
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               COUNT(*) AS n_orders,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS rev_dec
        FROM orders GROUP BY 1)
      SELECT day, n_orders, CAST(rev_dec AS DOUBLE) AS rev,
        CAST(SUM(rev_dec) OVER (ORDER BY day
          RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS rev_7d
      FROM daily ORDER BY day"""
  )
}
