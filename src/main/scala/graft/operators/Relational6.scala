package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}
import graft.Checkpoint.TruncateOps

/** Sixth relational batch: the Spark-4 SQL-surface operators the
  * earlier batches didn't cover — recursive CTEs (UnionLoop),
  * LISTAGG ordered string aggregation, correlated LATERAL joins, bag
  * (ALL) set semantics, and null-safe equality joins. All absent from
  * the reference (its whole program is
  * `/root/reference/src/main.rs:49-210`; the only SQL it emits is
  * CREATE TABLE at :117 and INSERT at :146); all oracle-checked
  * against DuckDB running the same ANSI SQL.
  *
  * Scale notes per query inline — each is a fixed-size or
  * key-partitioned plan that survives a 100x fact-table scale-up.
  */
object Relational6 extends QueryModule {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))
  private def asDouble(c: org.apache.spark.sql.Column) = c.cast(DoubleType)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // q42: recursive CTE — a 12-row month spine generated by
    // iteration (Catalyst UnionLoop), then a left join to per-month
    // 1995 order aggregates. The recursion is driver-trivial (12
    // rows) and the join is a broadcast of the spine against a
    // pre-aggregated fact side, so at 100 TB the only big shuffle is
    // the month aggregate itself (partial+final on 12 keys).
    "q42_recursive_cte" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        WITH RECURSIVE seq(n) AS (
          SELECT 1
          UNION ALL
          SELECT n + 1 FROM seq WHERE n < 12
        ),
        per_month AS (
          SELECT MONTH(o_orderdate) AS mth, COUNT(*) AS n_orders,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
          FROM orders_v
          WHERE YEAR(o_orderdate) = 1995
          GROUP BY MONTH(o_orderdate)
        )
        SELECT make_date(1995, n, 1) AS month_start,
               COALESCE(n_orders, 0) AS n_orders,
               COALESCE(revenue, CAST(0 AS DOUBLE)) AS revenue
        FROM seq LEFT JOIN per_month ON mth = n
        ORDER BY month_start""")
    }),

    // q43: LISTAGG WITHIN GROUP — ordered string aggregation
    // (Spark 4 ListAgg). Grouped on region (5 keys); each group's
    // list is bounded by the dimension's size, so state stays small.
    // The WITHIN GROUP order makes the result deterministic — an
    // unordered listagg would be partition-order-dependent and could
    // never hash-match an oracle.
    "q43_listagg" -> ((s, d) => {
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      Tables.region(s, d).createOrReplaceTempView("region_v")
      s.sql("""
        SELECT r.r_name AS region,
               LISTAGG(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS nations,
               COUNT(*) AS n_nations
        FROM nation_v n JOIN region_v r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        ORDER BY region""")
    }),

    // q44: correlated LATERAL join — per-customer top-2 orders by
    // price. Catalyst decorrelates the LIMIT-under-LATERAL into a
    // window rank over a single orders shuffle keyed on o_custkey —
    // the same plan a hand-written row_number()<=2 would get, so no
    // per-row re-scan of orders happens at any scale. Restricted to
    // one segment to keep the fixture output readable.
    "q44_lateral_topn" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_v c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders_v
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'BUILDING'
        ORDER BY c.c_custkey, t.o_orderkey""")
    }),

    // q45: bag-semantics set ops — INTERSECT ALL / EXCEPT ALL keep
    // multiplicity (Spark plans them as a count-compare aggregate,
    // not a join), unlike q13's DISTINCT set ops. Input sides are
    // slim single-column projections so the shuffle carries keys
    // only.
    "q45_set_ops_all" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_custkey, 'both' AS side FROM (
          SELECT o_custkey FROM orders_v WHERE o_orderstatus = 'O'
          INTERSECT ALL
          SELECT o_custkey FROM orders_v WHERE o_totalprice > 150000
        )
        UNION ALL
        SELECT o_custkey, 'open_only' AS side FROM (
          SELECT o_custkey FROM orders_v WHERE o_orderstatus = 'O'
          EXCEPT ALL
          SELECT o_custkey FROM orders_v WHERE o_totalprice > 150000
        )
        ORDER BY side, o_custkey""")
    }),

    // q46: null-safe equality join (`<=>` / IS NOT DISTINCT FROM) —
    // NULL keys match each other instead of vanishing, so the
    // NULL-priority bucket (manufactured via NULLIF) joins across
    // sides. Planned as a regular hash join on the null-safe key; at
    // scale a hot NULL bucket is exactly the skew case q40's salting
    // handles.
    "q46_null_safe_join" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val open = o.filter(col("o_orderstatus") === "O")
        .groupBy(nullif(col("o_orderpriority"), lit("1-URGENT")).as("prio"))
        .agg(count(lit(1)).as("n_open"))
      val done = o.filter(col("o_orderstatus") === "F")
        .groupBy(nullif(col("o_orderpriority"), lit("1-URGENT")).as("prio"))
        .agg(count(lit(1)).as("n_done"),
          asDouble(sum(dec(col("o_totalprice")))).as("rev_done"))
      open.join(done, open("prio") <=> done("prio"))
        .select(open("prio"), col("n_open"), col("n_done"), col("rev_done"))
        .orderBy(asc_nulls_first("prio"))
    }),

    // q47: PURE interval join — error events falling inside any
    // user's first-purchase hour (no equi key at all, unlike q20's
    // key+band). Declared as the naive BETWEEN join; the
    // [[graft.plans.RangeJoinBinning]] rule (active in every session
    // this library builds) rewrites it to an equi-join on hour-bin
    // ids + residual filter. Without the rule Spark's only physical
    // choice is BroadcastNestedLoopJoin — O(|errors|·|windows|)
    // comparisons, a non-starter at 100 TB; with it, both sides
    // shuffle on bin id and the join is hash-based. Correct either
    // way (the rule is an exact rewrite), so the query does not
    // DEPEND on the extension being registered.
    "q47_interval_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      val w = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("w_user"))
        .agg(min(col("ts")).as("w_start"))
        .withColumn("w_end", col("w_start") + expr("INTERVAL 1 HOUR"))
      val errs = e.filter(col("event_type") === "error")
        .select(col("ts"), col("event_id"))
      errs.join(w, errs("ts") >= w("w_start") && errs("ts") <= w("w_end"))
        .groupBy("w_user", "w_start")
        .agg(count(lit(1)).as("n_errors"))
        .orderBy("w_user")
    }),

    // q48: nested-JSON parse + explode — from_json with a typed
    // struct<..., array<...>> schema, then a lateral explode of the
    // nested array. The JSON strings are CONSTRUCTED in-query (same
    // concat on both engines), so the oracle can verify the parse
    // round-trip by recomputing the ground truth directly — any
    // from_json type coercion or array-element loss splits the hash.
    // Parsing is a per-row projection: scan-speed at any corpus size.
    "q48_json_nested" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") % 50 === 0)
        .withColumn("js", concat(
          lit("{\"k\":"), col("o_orderkey"),
          lit(",\"s\":\""), col("o_orderstatus"),
          lit("\",\"items\":["), col("o_orderkey") % 5,
          lit(","), col("o_orderkey") % 7, lit("]}")))
        .withColumn("p",
          from_json(col("js"), "k BIGINT, s STRING, items ARRAY<BIGINT>",
            Map.empty[String, String]))
        .select(col("p.k").as("k"), col("p.s").as("s"),
          explode(col("p.items")).as("item"))
        .groupBy("s")
        .agg(count(lit(1)).as("n_items"), sum(col("item")).as("sum_items"),
          countDistinct(col("k")).as("n_orders"))
        .orderBy("s"))
        ,

    // q49: NOT IN under three-valued logic — the classic correctness
    // trap: a single NULL in the subquery list makes `x NOT IN (...)`
    // UNKNOWN for every row, collapsing the result to empty, while
    // NOT EXISTS keeps its rows. Both forms are computed against a
    // list that deliberately contains a NULL (priorities NULLIF'd),
    // and the counts of each are pinned side by side — an engine that
    // "fixes" NOT IN into an anti-join without null handling goes red
    // here. Catalyst plans the NOT IN as a null-aware anti join (one
    // broadcast of the small list), NOT EXISTS as a plain anti join.
    "q49_not_in_nulls" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.createOrReplaceTempView("orders_v")
      s.sql("""
        WITH probe AS (
          SELECT NULLIF(o_orderpriority, '1-URGENT') AS p FROM orders_v
          WHERE o_orderstatus = 'F'),
        not_in AS (
          SELECT COUNT(*) AS n FROM orders_v
          WHERE o_orderpriority NOT IN (SELECT p FROM probe)),
        not_exists AS (
          SELECT COUNT(*) AS n FROM orders_v o
          WHERE NOT EXISTS (
            SELECT 1 FROM probe WHERE probe.p = o.o_orderpriority))
        SELECT 'not_in' AS form, n FROM not_in
        UNION ALL
        SELECT 'not_exists' AS form, n FROM not_exists
        ORDER BY form""")
    }),

    // q51: TPC-H Q21's join algebra (the classic EXISTS + NOT-EXISTS
    // double correlation on one fact table), adapted to this schema:
    // "sole-blame" suppliers — (order, supplier) pairs with a RETURNED
    // item, on orders that DO have another supplier (EXISTS → left
    // semi) where NO other supplier also had a return (NOT EXISTS →
    // left anti). Both subqueries decorrelate to hash joins on
    // l_orderkey with the supplier inequality as residual — two
    // shuffles on the same key (co-partitioned back to back), no
    // nested loop anywhere, which is what Q21 needs at 100 TB.
    "q51_sole_blame_supplier" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
      val pairs = li.select("l_orderkey", "l_suppkey").distinct()
      // `bad` feeds BOTH the semi probe and the anti build: without
      // materialization the filter+distinct scan of lineitem runs
      // twice (ReuseExchange can't help — the two consumers sit under
      // different join exchanges). LAZY truncation: the blocks pin
      // while the first consumer's job computes them and the second
      // consumer reads the pinned blocks — one fact-table scan, no
      // dedicated materialization job (the round-5 eager form cost
      // more than the scan it saved at sf0.1: 3.81 → 4.76 s).
      val bad = li.filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey").distinct()
        .truncatedLazy
      val withOther = bad.as("b").join(pairs.as("o"),
        col("b.l_orderkey") === col("o.l_orderkey") &&
          col("b.l_suppkey") =!= col("o.l_suppkey"), "left_semi")
      val sole = withOther.as("w").join(bad.as("x"),
        col("w.l_orderkey") === col("x.l_orderkey") &&
          col("w.l_suppkey") =!= col("x.l_suppkey"), "left_anti")
      sole.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_sole_blame"))
        .orderBy(desc("n_sole_blame"), asc("l_suppkey"))
        .limit(20)
    }),

    // q52: UNPIVOT — the wide→long reshape opposite q27's pivot.
    // A per-priority rollup carries three measure columns; `unpivot`
    // melts them into (prio, measure, value) rows. The reshape is a
    // per-row Expand over the ALREADY-AGGREGATED 5-row rollup — zero
    // additional shuffle whatever the fact-table size; at 100 TB the
    // only big stage stays the partial+final priority aggregate.
    // Measures are all cast DOUBLE pre-melt (an unpivot value column
    // must be one type; mixing decimal and bigint would widen
    // differently in the two engines).
    "q52_unpivot" -> ((s, d) => {
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(
          asDouble(count(lit(1))).as("n_orders"),
          asDouble(sum(dec(col("o_totalprice")))).as("revenue"),
          asDouble(max(dec(col("o_totalprice")))).as("max_price"))
        .unpivot(
          ids = Array(col("prio")),
          values = Array(col("n_orders"), col("revenue"), col("max_price")),
          variableColumnName = "measure",
          valueColumnName = "value")
        .orderBy("prio", "measure")
    }),

    // q53: LOCF gap fill (last-observation-carried-forward) — the
    // IGNORE NULLS window family (LAST_VALUE IGNORE NULLS), the
    // standard time-series repair for sparse observations. Open
    // orders play the "unmeasured" rows (price nullified); each
    // customer's running last KNOWN price fills them, rows before a
    // customer's first known price stay null. Per-customer window,
    // total-ordered by (date, key) — state is one value per key, the
    // partition parallelism is the customer count, and nothing global
    // sorts; the exact shape a 100 TB sensor-fill job runs.
    "q53_locf_fill" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          when(col("o_orderstatus") =!= "O", dec(col("o_totalprice")))
            .as("observed"))
        .withColumn("filled",
          asDouble(last(col("observed"), ignoreNulls = true).over(w)))
        .select(col("o_custkey"), col("o_orderkey"),
          asDouble(col("observed")).as("observed"), col("filled"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // q54: EVENT FUNNEL — strict-sequence conversion analysis
    // (view → click-after-view → purchase-after-click per user), the
    // product-analytics staple every event store answers. Each step
    // is "first qualifying event after the previous step's time": one
    // filtered per-user aggregate, one equi-join on user_id with the
    // time bound as residual — three co-keyed shuffles on user_id
    // that reuse one partitioning, no window over the whole event
    // stream, no self-cross. Conversion rates divide the same
    // integers in both engines. At 100 TB this plan is the funnel:
    // step relations only ever shrink, and everything keys on the
    // natural user shard.
    "q54_event_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id")).filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id")).filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      v.agg(count(lit(1)).as("n_view")).withColumn("k", lit(1))
        .join(c.agg(count(lit(1)).as("n_click")).withColumn("k", lit(1)), Seq("k"))
        .join(p.agg(count(lit(1)).as("n_purchase")).withColumn("k", lit(1)), Seq("k"))
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          round(col("n_click").cast(DoubleType) /
            col("n_view").cast(DoubleType), 6).as("click_rate"),
          round(col("n_purchase").cast(DoubleType) /
            col("n_click").cast(DoubleType), 6).as("purchase_rate"))
    }),

    // q55: INTERVAL-OVERLAP SWEEP — peak concurrency per day (max
    // simultaneously-open 30-minute view sessions), the sweep-line
    // algorithm behind capacity planning, session-server sizing and
    // meeting-room problems. Each interval contributes a +1 at its
    // start and a −1 at its end; the running sum over the day's
    // ordered points is the live-session count and its max is the
    // answer. Half-open [s, e) semantics: at equal timestamps the −1
    // sorts first (delta ASC), so back-to-back sessions never
    // double-count. Both endpoints post to the START's day ledger —
    // a deterministic convention both engines replay identically.
    // The sweep partitions by day (and at 100 TB by (day, shard-key)
    // with a boundary merge): running state is one counter per
    // partition, never a global sort.
    "q55_max_concurrency" -> ((s, d) => {
      val v = Tables.events(s, d).filter(col("event_type") === "view")
        .select(to_date(col("ts")).as("day"), col("ts"))
      val points = v.select(col("day"), col("ts"), lit(1L).as("delta"))
        .unionByName(v.select(col("day"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("ts"),
          lit(-1L).as("delta")))
      val w = Window.partitionBy("day").orderBy(col("ts"), col("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      points.withColumn("live", sum(col("delta")).over(w))
        .groupBy("day")
        .agg(max(col("live")).as("max_concurrent"),
          (count(lit(1)) / 2).cast(LongType).as("n_sessions"))
        .orderBy("day")
    }),

    // q56: BATCH SESSIONIZATION — the gap-based session reconstruction
    // every event warehouse runs (GA4/Amplitude semantics: a >30-minute
    // silence starts a new session), and the batch twin of st03's
    // streaming session windows. The lag-flag-cumsum idiom: per user,
    // events ordered by time, a boundary flag where the gap exceeds
    // the timeout, and the running sum of flags IS the session number.
    // Everything is ONE shuffle on user_id (the natural event-store
    // shard) reused by the window AND the rollup — at 100 TB this
    // partitioning is what makes sessionization tractable: per-user
    // state is a lag register, never a global sort, and the output
    // stays co-partitioned for downstream per-user joins. Cross-engine
    // determinism: all arithmetic on integer epoch-MICROSECONDS
    // (unix_micros of the µs-normalized ts — no interval types, no
    // float), ties broken by event_id, duration via integer division.
    "q56_sessionize" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      ev.withColumn("prev", lag(col("us"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull ||
            col("us") - col("prev") > 1800000000L, 1L).otherwise(0L))
        .withColumn("session_seq", sum(col("new_s")).over(w))
        .groupBy("user_id", "session_seq")
        .agg(count(lit(1)).as("n_events"),
          expr("(max(us) - min(us)) div 1000000").as("duration_sec"),
          min(col("event_id")).as("first_event_id"))
        .orderBy("user_id", "session_seq")
    }),

    // q57: COHORT RETENTION — the canonical product-analytics matrix
    // (users grouped by first-seen day × activity-day offset), and
    // q56's natural companion: sessionization slices WITHIN a user's
    // timeline, retention slices ACROSS users by timeline start.
    // Shape: one per-user aggregate for the cohort day, a re-join on
    // user_id (the same natural shard the aggregate just produced —
    // at scale the shuffle is reused, and the cohort table is
    // |users|-sized, NOT broadcastable at 100 TB, so an equi-join on
    // the shared key is the correct contract), then a distinct-count
    // per (cohort_day, offset) cell. All date math on DATE/day
    // integers — datediff of DATEs replays exactly in any engine.
    "q57_cohort_retention" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val cohorts = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      ev.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast(LongType).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("active_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // q58: GAPS-AND-ISLANDS — longest consecutive-active-day streak
    // per user (the engagement metric next to q56's sessions and
    // q57's retention). The classic rewrite: island key = day −
    // row_number-as-days, constant within a consecutive run, so a
    // streak is one groupBy away — no self-join, no recursive scan.
    // Shape: ONE user_id shuffle feeds the per-user day window, and
    // both downstream aggregates (island lengths, per-user max) ride
    // that same hash partitioning — at 100 TB this is scan + one
    // exchange, per-user state bounded by the calendar, nothing
    // global but the output sort.
    "q58_longest_streak" -> ((s, d) => {
      val days = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val islands = days
        .withColumn("isl", date_sub(col("day"),
          row_number().over(
            Window.partitionBy("user_id").orderBy("day"))))
        .groupBy("user_id", "isl")
        .agg(count(lit(1)).as("len"), min(col("day")).as("streak_start"))
      islands.groupBy("user_id")
        .agg(max(col("len")).as("longest_streak"),
          sum(col("len")).as("active_days"),
          // tie-break on earliest start: max over (len, NEGATED days-
          // since-epoch) picks the longest streak, earliest when tied
          max(struct(col("len"),
            (lit(0) - datediff(col("streak_start"), lit("1970-01-01")))
              .as("neg"), col("streak_start"))).getField("streak_start")
            .as("longest_streak_start"))
        .orderBy("user_id")
    })
  )

  val oracle: Map[String, String] = Map(
    "q42_recursive_cte" -> """
      WITH RECURSIVE seq(n) AS (
        SELECT 1
        UNION ALL
        SELECT n + 1 FROM seq WHERE n < 12
      ),
      per_month AS (
        SELECT MONTH(o_orderdate) AS mth, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM orders
        WHERE YEAR(o_orderdate) = 1995
        GROUP BY MONTH(o_orderdate)
      )
      SELECT make_date(1995, n, 1) AS month_start,
             COALESCE(n_orders, 0) AS n_orders,
             COALESCE(revenue, CAST(0 AS DOUBLE)) AS revenue
      FROM seq LEFT JOIN per_month ON mth = n
      ORDER BY month_start""",

    "q43_listagg" -> """
      SELECT r.r_name AS region,
             STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS nations,
             COUNT(*) AS n_nations
      FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name
      ORDER BY region""",

    "q44_lateral_topn" -> """
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c,
      LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
      ) t
      WHERE c.c_mktsegment = 'BUILDING'
      ORDER BY c.c_custkey, t.o_orderkey""",

    "q45_set_ops_all" -> """
      SELECT o_custkey, 'both' AS side FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_totalprice > 150000
      )
      UNION ALL
      SELECT o_custkey, 'open_only' AS side FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_totalprice > 150000
      )
      ORDER BY side, o_custkey""",

    "q46_null_safe_join" -> """
      SELECT open.prio, n_open, n_done, rev_done
      FROM (
        SELECT NULLIF(o_orderpriority, '1-URGENT') AS prio, COUNT(*) AS n_open
        FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
      ) open
      JOIN (
        SELECT NULLIF(o_orderpriority, '1-URGENT') AS prio, COUNT(*) AS n_done,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev_done
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1
      ) done
      ON open.prio IS NOT DISTINCT FROM done.prio
      ORDER BY open.prio NULLS FIRST""",

    "q47_interval_join" -> """
      WITH w AS (
        SELECT user_id AS w_user, MIN(ts) AS w_start,
               MIN(ts) + INTERVAL 1 HOUR AS w_end
        FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      SELECT w_user, w_start, COUNT(*) AS n_errors
      FROM events e JOIN w ON e.ts >= w.w_start AND e.ts <= w.w_end
      WHERE e.event_type = 'error'
      GROUP BY w_user, w_start
      ORDER BY w_user""",

    // ground truth recomputed without parsing: the JSON was built
    // from these exact expressions, so a faithful parse must agree.
    "q48_json_nested" -> """
      WITH f AS (
        SELECT o_orderkey AS k, o_orderstatus AS s FROM orders
        WHERE o_orderkey % 50 = 0),
      x AS (SELECT k, s, unnest([k % 5, k % 7]) AS item FROM f)
      SELECT s, COUNT(*) AS n_items, CAST(SUM(item) AS BIGINT) AS sum_items,
        COUNT(DISTINCT k) AS n_orders
      FROM x GROUP BY s ORDER BY s""",

    "q49_not_in_nulls" -> """
      WITH probe AS (
        SELECT NULLIF(o_orderpriority, '1-URGENT') AS p FROM orders
        WHERE o_orderstatus = 'F'),
      not_in AS (
        SELECT COUNT(*) AS n FROM orders
        WHERE o_orderpriority NOT IN (SELECT p FROM probe)),
      not_exists AS (
        SELECT COUNT(*) AS n FROM orders o
        WHERE NOT EXISTS (
          SELECT 1 FROM probe WHERE probe.p = o.o_orderpriority))
      SELECT 'not_in' AS form, n FROM not_in
      UNION ALL
      SELECT 'not_exists' AS form, n FROM not_exists
      ORDER BY form""",

    "q51_sole_blame_supplier" -> """
      WITH p AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      b AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
            WHERE l_returnflag = 'R')
      SELECT l_suppkey, COUNT(*) AS n_sole_blame
      FROM b
      WHERE EXISTS (SELECT 1 FROM p
              WHERE p.l_orderkey = b.l_orderkey
                AND p.l_suppkey <> b.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM b b2
              WHERE b2.l_orderkey = b.l_orderkey
                AND b2.l_suppkey <> b.l_suppkey)
      GROUP BY l_suppkey
      ORDER BY n_sole_blame DESC, l_suppkey LIMIT 20""",

    // portable UNION-ALL melt (no dialect UNPIVOT keyword needed):
    // one row per (prio, measure) from the same wide rollup
    "q52_unpivot" -> """
      WITH wide AS (
        SELECT o_orderpriority AS prio,
               CAST(COUNT(*) AS DOUBLE) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
        FROM orders GROUP BY o_orderpriority
      )
      SELECT prio, measure, value FROM (
        SELECT prio, 'n_orders' AS measure, n_orders AS value FROM wide
        UNION ALL
        SELECT prio, 'revenue' AS measure, revenue AS value FROM wide
        UNION ALL
        SELECT prio, 'max_price' AS measure, max_price AS value FROM wide
      )
      ORDER BY prio, measure""",

    "q53_locf_fill" -> """
      SELECT o_custkey, o_orderkey,
        CAST(CASE WHEN o_orderstatus <> 'O'
          THEN CAST(o_totalprice AS DECIMAL(12,2)) END AS DOUBLE) AS observed,
        CAST(LAST_VALUE(CASE WHEN o_orderstatus <> 'O'
            THEN CAST(o_totalprice AS DECIMAL(12,2)) END IGNORE NULLS)
          OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
          AS filled
      FROM orders
      ORDER BY o_custkey, o_orderkey""",

    "q54_event_funnel" -> """
      WITH v AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY e.user_id),
      p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY e.user_id)
      SELECT (SELECT COUNT(*) FROM v) AS n_view,
             (SELECT COUNT(*) FROM c) AS n_click,
             (SELECT COUNT(*) FROM p) AS n_purchase,
             ROUND(CAST((SELECT COUNT(*) FROM c) AS DOUBLE) /
                   CAST((SELECT COUNT(*) FROM v) AS DOUBLE), 6) AS click_rate,
             ROUND(CAST((SELECT COUNT(*) FROM p) AS DOUBLE) /
                   CAST((SELECT COUNT(*) FROM c) AS DOUBLE), 6) AS purchase_rate""",

    // Engine-version robustness (the round-10 driver red): (a) the
    // Spark side reads events via Tables.events, which floor-truncates
    // the parquet timestamp to MICROSECOND precision — a DuckDB that
    // surfaces the column as TIMESTAMP_NS (1.1+ behavior) would order
    // sub-µs neighbours differently inside the running sum, shifting
    // the max by ±1. `CAST(ts AS TIMESTAMP)` applies the identical µs
    // floor BEFORE any arithmetic or ordering, on every DuckDB
    // version. (b) `//` is integer division; bare `/` is float + a
    // round-half-even cast that only coincidentally matched while the
    // per-day point count stayed even.
    "q55_max_concurrency" -> """
      WITH v AS (
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
               CAST(ts AS TIMESTAMP) AS ts
        FROM events
        WHERE event_type = 'view'),
      points AS (
        SELECT day, ts, CAST(1 AS BIGINT) AS delta FROM v
        UNION ALL
        SELECT day, ts + INTERVAL 30 MINUTE AS ts, CAST(-1 AS BIGINT) AS delta
        FROM v),
      swept AS (
        SELECT day,
          SUM(delta) OVER (PARTITION BY day ORDER BY ts, delta
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS live
        FROM points)
      SELECT day, CAST(MAX(live) AS BIGINT) AS max_concurrent,
        CAST(COUNT(*) // 2 AS BIGINT) AS n_sessions
      FROM swept GROUP BY day ORDER BY day""",

    // q56: same lag-flag-cumsum replay. The q55 robustness rules
    // apply: ts normalized to µs via CAST before ANY arithmetic (the
    // ordering feeds a running sum), all time math on integer
    // epoch_us, `//` for the duration, SUMs cast back from HUGEINT.
    "q56_sessionize" -> """
      WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      flagged AS (
        SELECT user_id, event_id, us,
          CASE WHEN LAG(us) OVER w IS NULL
                 OR us - LAG(us) OVER w > 1800000000
               THEN 1 ELSE 0 END AS new_s
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      sess AS (
        SELECT user_id, event_id, us,
          SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged)
      SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS duration_sec,
        MIN(event_id) AS first_event_id
      FROM sess GROUP BY user_id, session_seq
      ORDER BY user_id, session_seq""",

    // q57: same cohort matrix. ts normalized to µs TIMESTAMP before
    // the DATE cast (the q55 rule); DATE−DATE is integer days in
    // DuckDB, matching Spark's datediff exactly.
    "q57_cohort_retention" -> """
      WITH ev AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events),
      cohorts AS (
        SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY user_id)
      SELECT cohort_day,
        CAST(e.day - c.cohort_day AS BIGINT) AS day_offset,
        CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
      FROM ev e JOIN cohorts c USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // q58: same islands rewrite; DATE − INT is day arithmetic in
    // DuckDB, matching Spark's date_sub; ties broken on earliest
    // streak start via the same (len, −days) ordering
    "q58_longest_streak" -> """
      WITH days AS (
        SELECT DISTINCT user_id,
               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events),
      isl AS (
        SELECT user_id, day,
          day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY day) AS INT) AS isl
        FROM days),
      st AS (
        SELECT user_id, isl, CAST(COUNT(*) AS BIGINT) AS len,
               MIN(day) AS streak_start
        FROM isl GROUP BY 1, 2),
      rk AS (
        SELECT user_id, len, streak_start,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY len DESC, streak_start) AS r,
          SUM(len) OVER (PARTITION BY user_id) AS active_days
        FROM st)
      SELECT user_id, len AS longest_streak,
        CAST(active_days AS BIGINT) AS active_days,
        streak_start AS longest_streak_start
      FROM rk WHERE r = 1 ORDER BY user_id"""
  )
}
