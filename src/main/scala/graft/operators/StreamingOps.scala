package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}
import graft.streaming.EventStreams

/** Batch-mode registrations of the streaming window aggregations
  * (graft.streaming.EventStreams) so the DuckDB oracle can check
  * their semantics — window()/session_window() produce identical
  * results in batch and streaming for on-time data, so the gate
  * covers the streaming plans (SURVEY §7.3 M3).
  */
object StreamingOps extends QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st01_tumbling_window" -> ((s, d) =>
      EventStreams.tumblingCounts(Tables.events(s, d))
        .orderBy("window_start", "event_type")),

    "st02_sliding_window" -> ((s, d) =>
      EventStreams.slidingCounts(Tables.events(s, d))
        .orderBy("window_start", "event_type")),

    "st03_session_window" -> ((s, d) =>
      EventStreams.sessionStats(Tables.events(s, d))
        .orderBy("user_id", "session_start")),

    // st04: the stream-stream interval join, batch-mode — watermarks
    // are a no-op on a bounded source, so this checks exactly the join
    // predicate/state-bound condition the true streaming run uses
    // (StreamingSpec asserts batch/stream parity on the same plan).
    "st04_stream_stream_join" -> ((s, d) =>
      EventStreams.purchaseErrorJoinBatch(Tables.events(s, d))
        .orderBy("purchase_id", "error_id")),

    // st05: the convergent state of the flatMapGroupsWithState custom
    // aggregator (EventStreams.userTotalsStreaming), batch-mode — the
    // stream run's final snapshot equals this aggregate (parity pinned
    // in StreamingSpec); registering the batch twin puts the custom-
    // state semantics under the DuckDB hash gate too.
    "st05_stateful_user_totals" -> ((s, d) =>
      EventStreams.userTotalsBatch(Tables.events(s, d))
        .orderBy("user_id")),

    // st06: per-window distinct-user SKETCH maintenance — the batch
    // registration of EventStreams.windowUserSketch (streaming parity
    // is pinned in StreamingSpec: the HLL merge is register-max,
    // order-free, so stream and batch estimates are bit-identical).
    // The oracle-checkable half is the exact per-window distinct and
    // event count; the sketch's contribution is the per-window hll_ok
    // flag (a04/a08 convention: |est − exact| within the rsd-2%
    // envelope, +2 absolute for the small-window tail) — a constant-1
    // column the DuckDB replay derives independently, so estimator
    // drift flips the hash red. The exact leg is gate pricing only:
    // at 100 TB the PRODUCT is the sketch (fixed bytes per window);
    // the exact distinct exists to price it, the a05 pattern.
    "st06_window_distinct_hll" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val exact = ev
        .groupBy(window(col("ts"), "6 hours").as("w"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .select(col("w.start").as("window_start"), col("exact_users"))
      EventStreams.windowUserSketch(ev)
        .join(exact, Seq("window_start"))
        .select(col("window_start"), col("n_events"), col("exact_users"),
          when(abs(col("hll_users") - col("exact_users"))
            .cast(org.apache.spark.sql.types.DoubleType)
            <= col("exact_users") * 0.05 + lit(2.0), 1L)
            .otherwise(0L).as("hll_ok"))
        .orderBy("window_start")
    }),

    // st07: WATERMARK LATE-DATA DROP, batch-modeled (r13 verdict item
    // 1) — the one streaming behavior a bounded in-order fixture can
    // never exercise by itself. EventStreams.lateOnTime/lateArrivals
    // define a deterministic out-of-order replay of the events
    // fixture; lateSurvivors reproduces, µs-exactly, which late rows
    // a 2-h watermark admits into the 1-h tumbling aggregation
    // (ms-floored max event time − 2 h, judged per WINDOW END — see
    // the EventStreams scaladoc). The output is st01's window rows
    // over the surviving set plus the 1-row kept/dropped accounting
    // (c06-class broadcast crossJoin): a drop model that admits one
    // extra row or drops one admissible row moves window counts AND
    // the accounting, so the DuckDB replay — which re-derives the
    // watermark arithmetic independently in SQL — flips hash-red.
    // StreamingSpec closes the loop by pinning a REAL two-trigger
    // stream to this same model (and fails if the watermark is
    // removed, because the late rows would then all be counted).
    "st07_late_data_drop" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val surv = EventStreams.lateSurvivors(ev)
      val nOnTime = EventStreams.lateOnTime(ev).count() // bounded scalars:
      val nLate = EventStreams.lateArrivals(ev).count() // feed geometry only
      val acct = broadcast(surv
        .agg((count(lit(1)) - nOnTime).as("n_late_kept"))
        .select(col("n_late_kept"),
          (lit(nLate) - col("n_late_kept")).as("n_late_dropped")))
      EventStreams.tumblingCounts(surv)
        .crossJoin(acct)
        .orderBy("window_start", "event_type")
    })
  )

  // Oracle notes: Spark tumbling windows align to the epoch, exactly
  // like DuckDB time_bucket for sub-month widths. A sliding (1h, 30m)
  // window set == two phase-shifted tumbling sets (offsets 0m and 30m).
  // Session windows are the classic gaps-and-islands rewrite.
  val oracle: Map[String, String] = Map(
    "st01_tumbling_window" -> """
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY 1, 2 ORDER BY window_start, event_type""",

    "st02_sliding_window" -> """
      WITH starts AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS window_start,
               event_type FROM events)
      SELECT window_start, event_type, COUNT(*) AS n_events
      FROM starts GROUP BY 1, 2 ORDER BY window_start, event_type""",

    "st03_session_window" -> """
      WITH ordered AS (
        SELECT user_id, ts,
          CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL '30 minutes'
                 OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
               THEN 1 ELSE 0 END AS new_session
        FROM events),
      sessioned AS (
        SELECT user_id, ts,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM ordered)
      SELECT MIN(ts) AS session_start, user_id,
        COUNT(*) AS n_events, MAX(ts) AS last_ts
      FROM sessioned GROUP BY user_id, session_id
      ORDER BY user_id, session_start""",

    "st04_stream_stream_join" -> """
      SELECT p.user_id AS user_id, p.event_id AS purchase_id,
        e.event_id AS error_id, p.ts AS purchase_ts, e.ts AS error_ts
      FROM events p JOIN events e
        ON p.event_type = 'purchase' AND e.event_type = 'error'
        AND e.user_id = p.user_id
        AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL '30 minutes'
      ORDER BY purchase_id, error_id""",

    "st05_stateful_user_totals" -> """
      SELECT user_id, COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
        epoch_ms(MAX(ts)) AS last_seen_ms
      FROM events GROUP BY user_id ORDER BY user_id""",

    // st06: the exact per-window leg replays in SQL; the sketch's
    // accuracy contract arrives as the independently-derived
    // constant-1 hll_ok column
    "st06_window_distinct_hll" -> """
      SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
        COUNT(*) AS n_events,
        COUNT(DISTINCT user_id) AS exact_users,
        CAST(1 AS BIGINT) AS hll_ok
      FROM events GROUP BY 1 ORDER BY window_start""",

    // st07: the watermark drop model re-derived independently —
    // wm_µs = (ms-floor of the on-time max event time − 2 h) × 1000,
    // a late row survives iff its epoch-aligned 1-h window END
    // exceeds wm (Spark judges lateness per window, not per row; the
    // engine tracks max event time in MILLIS). `//` is integer
    // division (the µs arithmetic must floor, not round).
    "st07_late_data_drop" -> """
      WITH on_time AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
               event_type, value, props
        FROM events WHERE event_id % 11 <> 0),
      mx AS (SELECT max(ts) AS mts FROM on_time),
      late AS (
        SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
               event_type, value, props
        FROM events WHERE event_id % 11 = 0
        UNION ALL
        SELECT event_id, (SELECT mts FROM mx) AS ts, user_id,
               event_type, value, props
        FROM events WHERE event_id % 17 = 3),
      kept AS (
        SELECT l.* FROM late l
        WHERE (epoch_us(l.ts) // 3600000000 + 1) * 3600000000
            > (epoch_us((SELECT mts FROM mx)) // 1000 - 7200000) * 1000),
      survivors AS (
        SELECT * FROM on_time UNION ALL SELECT * FROM kept),
      acct AS (
        SELECT (SELECT COUNT(*) FROM kept) AS n_late_kept,
               (SELECT COUNT(*) FROM late) - (SELECT COUNT(*) FROM kept)
                 AS n_late_dropped)
      SELECT time_bucket(INTERVAL '1 hour', s.ts) AS window_start,
        s.event_type, COUNT(*) AS n_events,
        CAST(SUM(CAST(s.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
        (SELECT n_late_kept FROM acct) AS n_late_kept,
        (SELECT n_late_dropped FROM acct) AS n_late_dropped
      FROM survivors s GROUP BY 1, 2 ORDER BY 1, 2"""
  )
}
