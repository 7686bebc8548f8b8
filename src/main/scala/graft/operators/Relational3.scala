package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}

/** Third relational batch: reshaping (pivot), ordered statistics
  * (exact percentiles), grouping sets, correlated subqueries,
  * nested-type (struct/map) construction, time-series gap-fill, and
  * deterministic hash sampling. All absent from the reference
  * (`/root/reference/src/main.rs:49-210` emits only CREATE TABLE /
  * INSERT; §2.2 audit) and all oracle-checked against DuckDB.
  *
  * Scale stances inline; shared rules as in [[Relational]]: money math
  * in DECIMAL(12,2) then cast to double, total-order ORDER BY, no
  * collect(), no cross joins.
  */
object Relational3 extends QueryModule {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))
  private def asDouble(c: org.apache.spark.sql.Column) = c.cast(DoubleType)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // q27: PIVOT — long-to-wide reshape. Explicit value list keeps the
    // plan a single pass (groupBy + conditional aggregates); without it
    // Spark must first collect the distinct pivot values to the driver,
    // which is an extra job at any scale.
    "q27_pivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(asDouble(sum(dec(col("l_quantity")))))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")),

    // q28: exact percentiles (continuous interpolation) per group —
    // Spark's `percentile` is a sort-based exact aggregate; at 100 TB
    // the approx_percentile sketch (a01) is the scale path, this is
    // the exact-math reference point. Same interpolation rule as
    // DuckDB's quantile_cont; rounded to 4 dp to absorb the last-ulp
    // difference of the interpolation arithmetic.
    "q28_percentiles" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_price"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // q29: GROUPING SETS beyond rollup/cube (q09/q10): two disjoint
    // single-column groupings plus the grand total in ONE pass over
    // lineitem (Catalyst expands to a single Expand + hash aggregate —
    // one shuffle regardless of how many sets).
    "q29_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }),

    // q30: correlated scalar subquery — each order compared against an
    // aggregate over its own customer's orders. Catalyst decorrelates
    // to an aggregate + equi-join (no per-row re-execution), which is
    // the only shape that survives at scale. MAX keeps the comparison
    // on exact stored doubles (no summation-order drift).
    "q30_correlated_subquery" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v3")
      s.sql("""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders_v3 o
        WHERE o_totalprice = (SELECT MAX(o2.o_totalprice)
                              FROM orders_v3 o2
                              WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_custkey, o_orderkey""")
    }),

    // q31: nested types the reference's value map can't express at all
    // (struct/list/map arms absent, src/main.rs:153-210): aggregate to
    // structs, fold into a map keyed by priority, then explode back to
    // flat rows. The nested construction is plan-internal, so the
    // oracle stays a plain GROUP BY; one extra single-row stage.
    "q31_struct_map" -> ((s, d) => {
      val perPriority = Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(struct(
          count(lit(1)).as("n"),
          asDouble(sum(dec(col("o_totalprice")))).as("rev")).as("stats"))
      perPriority
        .agg(map_from_entries(collect_list(struct(col("o_orderpriority"), col("stats"))))
          .as("by_priority"))
        .select(explode(col("by_priority")).as(Seq("o_orderpriority", "stats")))
        .select(col("o_orderpriority"),
          col("stats.n").as("n_orders"),
          col("stats.rev").as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // q32: time-series resample with gap fill — hour spine from
    // sequence() over the observed range, left join of per-hour
    // counts. The spine is one row exploded (years of hours stay in
    // the thousands even at 100 TB of events, so it broadcasts), the
    // counts side is a normal hash aggregate; no per-gap driver work.
    "q32_resample_gapfill" -> ((s, d) => {
      val e = Tables.events(s, d)
      val spine = e.agg(
        date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 HOUR"))).as("hour"))
      val counts = e.groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"))
      broadcast(spine).join(counts, Seq("hour"), "left_outer")
        .select(col("hour"), coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("hour")
    }),

    // q33: deterministic hash sampling — the reproducible alternative
    // to TABLESAMPLE for pipeline reruns: membership depends only on
    // the key, never on partitioning or row order. md5 rather than
    // xxhash64 purely so the oracle can evaluate the same expression;
    // an engine-internal variant would use xxhash64 (one codegen'd
    // pass, no string building).
    "q33_sample_hash" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(substring(md5(col("o_orderkey").cast(StringType).cast(BinaryType)), 1, 1)
          === "0")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey"))
  )

  val oracle: Map[String, String] = Map(
    "q27_pivot" -> """
      SELECT l_returnflag,
        CAST(SUM(CASE WHEN l_linestatus = 'F'
          THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_f,
        CAST(SUM(CASE WHEN l_linestatus = 'O'
          THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_o
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q28_percentiles" -> """
      SELECT l_returnflag,
        ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
        ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q29_grouping_sets" -> """
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q30_correlated_subquery" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders o
      WHERE o_totalprice = (SELECT MAX(o2.o_totalprice)
                            FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
      ORDER BY o_custkey, o_orderkey""",

    "q31_struct_map" -> """
      SELECT o_orderpriority, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q32_resample_gapfill" -> """
      WITH b AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events),
      spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM b),
      c AS (
        SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events
        FROM events GROUP BY 1)
      SELECT spine.hour AS hour, COALESCE(c.n_events, 0) AS n_events
      FROM spine LEFT JOIN c USING (hour)
      ORDER BY hour""",

    "q33_sample_hash" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
      ORDER BY o_orderkey"""
  )
}
