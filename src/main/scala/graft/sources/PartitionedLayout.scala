package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}

/** Hive-style partitioned layout — directory partition pruning, the
  * second leg of the 100 TB storage-layout story (the first is
  * [[Bucketing]]'s hash buckets). Data written `partitionBy(o_year)`
  * lands in `o_year=1997/` directories; a query filtering on the
  * partition column never LISTS (let alone reads) the other years'
  * files. At 100 TB with daily partitions, that is the difference
  * between scanning one day and scanning a decade. PlanQualitySpec
  * asserts the filter lands in the scan's `PartitionFilters` (not
  * the data filters).
  */
object PartitionedLayout extends QueryModule {

  /** Write orders partitioned by order year under the scratch dir
    * ([[graft.LocalScratch.scratchDir]]), once per (JVM, sfDir). */
  def ordersPartitioned(s: SparkSession, d: String): String = {
    // stamp the cache key with the source's size+mtime (the i06
    // lesson): a regenerated fixture invalidates instead of serving
    // stale partitions across JVMs
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(s"$d/orders.parquet")
    val st = fs.getFileStatus(src)
    val tag = java.lang.Integer.toHexString(d.hashCode) +
      s"_${st.getModificationTime}_${fs.getContentSummary(src).getLength}"
    val dir = graft.LocalScratch.scratchDir +
      s"/graft_partitioned/orders_$tag"
    if (!new java.io.File(dir, "_SUCCESS").exists())
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    dir
  }

  /** The i04 query: scan the partitioned layout with a partition-
    * column filter (pruned to one year's directories) and roll up
    * monthly revenue. */
  def prunedScan(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ordersPartitioned(s, d))
      .filter(col("o_year") === 1997)
      .groupBy(month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType)
          .as("revenue"))
      .orderBy("o_month")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i04_partition_pruning" -> ((s, d) => prunedScan(s, d))
  )

  val oracle: Map[String, String] = Map(
    "i04_partition_pruning" -> """
      SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS o_month,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders
      WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
      GROUP BY 1 ORDER BY 1"""
  )
}
