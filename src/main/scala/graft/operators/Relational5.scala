package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}

/** Fifth relational batch: explicit skew-salted join and
  * distribution-rank window functions. Both absent from the reference
  * (whole program is `/root/reference/src/main.rs:49-210`, no joins or
  * windows at all); both oracle-checked against DuckDB.
  */
object Relational5 extends QueryModule {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))
  private def asDouble(c: org.apache.spark.sql.Column) = c.cast(DoubleType)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // q40: salted skew join — the deterministic fallback for producers
    // too skewed for AQE's runtime splitting (one key = 10% of a
    // 100 TB fact table). lineitem is salted into 8 sub-keys per
    // supplier, supplier is replicated 8x, the join key becomes
    // (suppkey, salt) so each hot key's rows spread across 8 reducers.
    // Semantically identical to the plain equi-join — which is exactly
    // what the oracle asserts. Salt comes from the row's own key
    // columns (not a random), so retries/speculative tasks re-derive
    // the same salt.
    "q40_skew_salted_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
        .withColumnRenamed("s_suppkey", "l_suppkey")
      Skew.saltedJoinDeterministic(li, sup, "l_suppkey",
          Seq(col("l_orderkey"), col("l_linenumber")), saltFactor = 8)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_items"),
          asDouble(sum(dec(col("l_extendedprice")))).as("revenue"))
        .orderBy("s_nationkey")
    }),

    // q41: distribution ranks — ntile quartiles, percent_rank,
    // cume_dist per market segment. The window order carries a unique
    // tiebreak (c_custkey) so ntile bucket assignment is total-ordered
    // and deterministic in both engines. One shuffle on the partition
    // key, then a per-partition sort — the standard window plan; at
    // scale the partition count (5 segments) bounds parallelism: each
    // segment's ENTIRE row set sorts on one task. q50 below is the
    // same query computed with a finer partition key — the shape this
    // one should take at 100 TB.
    "q41_window_distribution" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cum_dist"))
        .orderBy("c_mktsegment", "c_custkey")
    }),

    // q50: q41's distribution ranks at SCALE — identical output,
    // computed without ever sorting a whole segment on one task.
    // Technique (the distributed-ranking decomposition every engine's
    // global sort uses internally, made explicit):
    //   1. partition by (segment, VALUE-RANGE bucket) — ordered
    //      buckets, so ranks compose: parallelism is segments ×
    //      buckets instead of 5;
    //   2. row_number within each (segment, bucket) — the only
    //      per-row sort, over 1/22nd of a segment;
    //   3. a per-(segment, bucket) count relation (22 rows/segment)
    //      merged into prefix-sum offsets + segment totals — the
    //      "merged distribution stats": tiny, broadcast back;
    //   4. global rank = local rank + preceding-bucket offset, and
    //      ntile/percent_rank/cume_dist are closed-form in
    //      (rank, n) under a total order (the unique c_custkey
    //      tiebreak makes rank == row_number, no tie classes).
    // The oracle is the SAME plain-window SQL as q41 — DuckDB proves
    // the decomposition exact row-for-row.
    "q50_window_distribution_bucketed" -> ((s, d) => {
      val bucketed = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .withColumn("vbucket", floor((col("c_acctbal") + 1000.0) / 500.0))
      val wLocal = Window.partitionBy("c_mktsegment", "vbucket")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      val local = bucketed.withColumn("local_rn", row_number().over(wLocal))
      val wOff = Window.partitionBy("c_mktsegment").orderBy("vbucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = bucketed.groupBy("c_mktsegment", "vbucket")
        .agg(count(lit(1)).as("n_b"))
        .withColumn("off", coalesce(sum(col("n_b")).over(wOff), lit(0L)))
        .withColumn("n_seg",
          sum(col("n_b")).over(Window.partitionBy("c_mktsegment")))
        .drop("n_b")
      val rn = col("local_rn") + col("off")
      val n = col("n_seg")
      // ntile(4) closed form: first (n mod 4) tiles hold ceil(n/4)
      // rows. greatest(q, 1) only guards CASE evaluation; for n < 4
      // the first branch always fires.
      val q = floor(n / lit(4)).cast(LongType)
      val r = n % 4
      val tile = when(rn <= r * (q + 1), floor((rn - 1) / (q + 1)) + 1)
        .otherwise(r + floor((rn - r * (q + 1) - 1) / greatest(q, lit(1L))) + 1)
      local.join(broadcast(offs), Seq("c_mktsegment", "vbucket"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          tile.cast(IntegerType).as("quartile"),
          when(n > 1, (rn - 1).cast(DoubleType) / (n - 1).cast(DoubleType))
            .otherwise(lit(0.0)).as("pct_rank"),
          (rn.cast(DoubleType) / n.cast(DoubleType)).as("cum_dist"))
        .orderBy("c_mktsegment", "c_custkey")
    })
  )

  val oracle: Map[String, String] = Map(
    "q40_skew_salted_join" -> """
      SELECT s_nationkey, COUNT(*) AS n_items,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey ORDER BY s_nationkey""",

    "q41_window_distribution" -> """
      SELECT c_custkey, c_mktsegment, c_acctbal,
        CAST(ntile(4) OVER w AS INT) AS quartile,
        percent_rank() OVER w AS pct_rank,
        cume_dist() OVER w AS cum_dist
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      ORDER BY c_mktsegment, c_custkey""",

    // q50's oracle is q41's plain global window on purpose: the
    // bucketed decomposition must reproduce it row-for-row.
    "q50_window_distribution_bucketed" -> """
      SELECT c_custkey, c_mktsegment, c_acctbal,
        CAST(ntile(4) OVER w AS INT) AS quartile,
        percent_rank() OVER w AS pct_rank,
        cume_dist() OVER w AS cum_dist
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      ORDER BY c_mktsegment, c_custkey"""
  )
}
