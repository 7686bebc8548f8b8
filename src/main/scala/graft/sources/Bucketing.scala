package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}

/** Bucketed storage — the co-located-join strategy the 100 TB design
  * stance calls for. Writing both join sides pre-hashed into the same
  * number of buckets on the join key means every subsequent equi-join
  * on that key reads already-distribution-compatible data: NO exchange
  * on either side, at any scale. On a 1000-executor cluster this is
  * the difference between a full 100 TB shuffle and a local
  * merge per bucket pair.
  *
  * The reference has no storage layout notion at all (it reads one
  * parquet file straight through, `/root/reference/src/main.rs:52`);
  * this is the Spark-native capability that replaces "hope the data
  * arrives partitioned right".
  */
object Bucketing extends QueryModule {

  val NumBuckets = 8

  /** Write `df` as a bucketed external parquet table (hash-bucketed +
    * per-bucket sorted on `key`) under `baseDir`, registered as
    * `table` in the session catalog. */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    baseDir: String, buckets: Int = NumBuckets): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", s"$baseDir/$table")
      .saveAsTable(table)

  /** Make `table` available in the session catalog: first caller in
    * the FIRST JVM writes the bucketed layout; later JVMs re-ATTACH to
    * the existing files with bucketed DDL (`CLUSTERED BY ... INTO n
    * BUCKETS LOCATION ...`) instead of rewriting — which is also the
    * 100 TB operating shape: a bucketed table is written once and
    * every subsequent session's catalog just points at it. The
    * attach carries the same bucket metadata, so the no-Exchange join
    * plan (BucketingSpec) is identical on either path. */
  private def ensureBucketed(s: SparkSession, df: DataFrame, table: String,
      key: String, base: String): Unit = {
    if (s.catalog.tableExists(table)) return
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$base/$table/_SUCCESS"))) {
      s.sql(s"""CREATE TABLE $table (${df.schema.toDDL})
        USING PARQUET
        CLUSTERED BY ($key) SORTED BY ($key) INTO $NumBuckets BUCKETS
        LOCATION '$base/$table'""")
    } else writeBucketed(df, table, key, base)
  }

  /** orders ⋈ customer both bucketed on custkey, then the revenue
    * rollup — the i03 query. The bucket metadata satisfies both
    * sides' hash-distribution requirement, so the join itself plans
    * with no Exchange (asserted in BucketingSpec); only the final
    * small aggregate shuffles. */
  /** Catalog names of the bucketed (orders, customer) tables for
    * `sfDir`: per-sfDir, stamped with the source's size+mtime so a
    * regenerated fixture invalidates instead of re-attaching to a
    * stale layout (one session may also touch several SF dirs), AND
    * with the bucket count: the attach path declares `INTO NumBuckets
    * BUCKETS` over whatever files exist at the path, so if the
    * constant changed while old files persisted, a fresh JVM would
    * co-locate the no-Exchange join on MISMATCHED hashing and return
    * wrong rows silently. Folding the count into the name makes a
    * constant change route to a fresh write instead. */
  def tableNames(s: SparkSession, d: String): (String, String) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    def stamp(t: String): String = {
      val p = new org.apache.hadoop.fs.Path(s"$d/$t.parquet")
      s"${fs.getFileStatus(p).getModificationTime}_${fs.getContentSummary(p).getLength}_b$NumBuckets"
    }
    val tag = java.lang.Integer.toHexString(d.hashCode)
    (s"orders_bkt_${tag}_${stamp("orders")}",
      s"customer_bkt_${tag}_${stamp("customer")}")
  }

  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (od, cd) = tableNames(s, d)
    val base = graft.LocalScratch.scratchDir + "/graft_bucketed"
    ensureBucketed(s, Tables.orders(s, d), od, "o_custkey", base)
    ensureBucketed(s, Tables.customer(s, d), cd, "c_custkey", base)
    s.table(od)
      .join(s.table(cd), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType)
          .as("revenue"))
      .orderBy("c_mktsegment")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i03_bucketed_join" -> ((s, d) => bucketedJoin(s, d))
  )

  val oracle: Map[String, String] = Map(
    "i03_bucketed_join" -> """
      SELECT c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""
  )
}
