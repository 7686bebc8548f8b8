package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.{QueryModule, Tables}

/** Typed UDAF surface — the user-extensible aggregation path the
  * reference lacks entirely (no function surface at all,
  * `/root/reference/src/main.rs:49-210`).
  *
  * A quantity-weighted average price as an `Aggregator[IN, BUF, OUT]`:
  * the canonical Spark custom-agg shape — partial-aggregable
  * (`reduce` on map side, `merge` across partitions), so it
  * distributes exactly like a built-in: map-side combine first, one
  * shuffle of 16-byte buffers per group, final merge. That property —
  * not the arithmetic — is what makes a custom aggregate shippable at
  * 100 TB; an agg that only works post-shuffle would move every row.
  *
  * Arithmetic is exact-integer on purpose: prices are 2-decimal and
  * quantities integral in this domain, so the buffer holds
  * (Σ cents·qty, Σ qty) as longs — merge order can't perturb the
  * result the way a double accumulator would, which keeps the value
  * bit-identical to the DuckDB oracle and across retries/partitionings.
  * (Long headroom: ~9.2e18 ≫ any per-group Σ cents·qty we'd meet;
  * switch the buffer to DECIMAL(38) beyond ~1e14 rows per group.)
  */
object WeightedAvg extends QueryModule {

  /** IN = (price, quantity); BUF = (Σ round(price·100)·qty, Σ qty). */
  object WeightedAvgCents
      extends Aggregator[(Double, Double), (Long, Long), Double] {
    def zero: (Long, Long) = (0L, 0L)
    def reduce(b: (Long, Long), a: (Double, Double)): (Long, Long) =
      (b._1 + math.round(a._1 * 100) * math.round(a._2),
        b._2 + math.round(a._2))
    def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
      (x._1 + y._1, x._2 + y._2)
    def finish(b: (Long, Long)): Double =
      if (b._2 == 0) Double.NaN else b._1.toDouble / (100.0 * b._2)
    def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val wavg = udaf(WeightedAvgCents)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // a03: the typed UDAF next to the built-ins it composes with —
    // one hash aggregate, map-side combine intact for all three.
    "a03_weighted_avg_udaf" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        // round to 6 dp like every other float output in the repo: the
        // integer sums agree with the oracle bit-for-bit, but the final
        // double division can differ in the last ulp between JVMs/DuckDB.
        .agg(round(wavg(col("l_extendedprice"), col("l_quantity")), 6).as("w_avg_price"),
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("l_returnflag"))
  )

  val oracle: Map[String, String] = Map(
    "a03_weighted_avg_udaf" -> """
      SELECT l_returnflag,
        ROUND(CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                 * CAST(round(l_quantity, 0) AS BIGINT)) AS DOUBLE)
          / (100.0 * SUM(CAST(round(l_quantity, 0) AS BIGINT))), 6) AS w_avg_price,
        COUNT(*) AS n,
        -- CAST: DuckDB's SUM(BIGINT) yields HUGEINT, which would not
        -- type-match Spark's long in the driver's hash compare.
        CAST(SUM(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
  )
}
