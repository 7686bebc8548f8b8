package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}

/** CSV / JSON source formats — the `DataFrameReader` surface beyond
  * parquet. The reference reads exactly one hardcoded parquet file
  * (`/root/reference/src/main.rs:52`); a lake engine must also ingest
  * the text formats raw data actually arrives in.
  *
  * i05 proves the round-trip: write parquet-sourced rows out as CSV
  * and JSON, read them back with an explicit schema (schema-on-read —
  * never trust inference for a production pipeline: it costs an extra
  * pass and can flip types between batches), and checksum both paths
  * against the parquet originals. Doubles survive because Spark
  * serializes them shortest-round-trip; sums are computed in
  * DECIMAL(12,2) so partition merge order can't wiggle a bit.
  *
  * At scale both formats split fine (CSV by line, JSON-lines by line),
  * so a 100 TB text-format ingest parallelizes the same way the
  * parquet scan does — just without column pruning/pushdown, which is
  * the argument for converting to parquet on first touch (exactly
  * what this operator's write side is).
  */
object SourceFormats extends QueryModule {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))

  /** Fixture dir keyed by the sanitized source path PLUS the source's
    * size+mtime: different datasets can't collide, and a regenerated
    * source invalidates the cache instead of serving stale fixtures
    * (the i06 lesson, applied to every cached fixture here). */
  private def stampedBase(s: SparkSession, d: String, srcTable: String,
      name: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(s"$d/$srcTable.parquet")
    val st = fs.getFileStatus(src)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_") +
      s"_${st.getModificationTime}_${fs.getContentSummary(src).getLength}"
    graft.LocalScratch.scratchDir + s"/graft_${name}_$tag"
  }

  def roundTrip(s: SparkSession, d: String): DataFrame = {
    val csvDir = stampedBase(s, d, "orders", "formats") + "/orders_csv"
    val jsonDir = stampedBase(s, d, "customer", "formats") + "/customer_json"

    val orders = Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    val customer = Tables.customer(s, d)

    // Idempotent per sfDir: first caller materializes, reruns reuse.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$csvDir/_SUCCESS")))
      orders.write.mode("overwrite").option("header", "true").csv(csvDir)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$jsonDir/_SUCCESS")))
      customer.write.mode("overwrite").json(jsonDir)

    val ordersBack = s.read.schema(orders.schema)
      .option("header", "true").csv(csvDir)
    val customerBack = s.read.schema(customer.schema).json(jsonDir)

    val a = ordersBack.agg(
      count(lit(1)).as("n"),
      sum(dec(col("o_totalprice"))).cast(DoubleType).as("checksum"))
      .select(lit("csv_orders").as("fmt"), col("n"), col("checksum"))
    val b = customerBack.agg(
      count(lit(1)).as("n"),
      sum(dec(col("c_acctbal"))).cast(DoubleType).as("checksum"))
      .select(lit("json_customer").as("fmt"), col("n"), col("checksum"))
    a.unionByName(b).orderBy("fmt")
  }

  /** i06: schema evolution on read. Two parquet "generations" of the
    * documents table — gen2 added a `lang` column — read together
    * with `mergeSchema`: old files surface the new column as null,
    * the footer union is exact, and no rewrite of gen1's files ever
    * happens. That is the 100 TB schema-change story: evolve the
    * schema forward, never migrate data in place. (Spark reads each
    * file with its own footer schema; mergeSchema only reconciles the
    * catalog-level view, so the scan cost is unchanged.)
    */
  def evolvedScan(s: SparkSession, d: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val base = stampedBase(s, d, "documents", "evolved")
    val docs = Tables.documents(s, d)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$base/gen1/_SUCCESS")))
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), length(col("text")).as("text_len"),
          lit(1).as("gen"))
        .write.mode("overwrite").parquet(s"$base/gen1")
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$base/gen2/_SUCCESS")))
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), length(col("text")).as("text_len"),
          lit(2).as("gen"), col("lang"))
        .write.mode("overwrite").parquet(s"$base/gen2")
    s.read.option("mergeSchema", "true").parquet(s"$base/gen1", s"$base/gen2")
      .groupBy("gen")
      .agg(count(lit(1)).as("n_docs"),
        count(col("lang")).as("n_lang"),
        round(avg(col("text_len")), 6).as("avg_len"))
      .orderBy("gen")
  }

  /** i08: ORC round-trip — the other splittable COLUMNAR format Spark
    * ships natively (spark-avro isn't on this classpath, so Avro is
    * out of scope offline). Same contract as i05: write
    * parquet-sourced rows as ORC, read back schema-on-read, checksum
    * against the originals in DECIMAL(12,2). ORC keeps column
    * pruning + predicate pushdown (unlike the text formats), so at
    * 100 TB it's a peer of parquet, not a downgrade — the round-trip
    * proves the engine can both ingest an ORC lake and emit one.
    */
  def orcRoundTrip(s: SparkSession, d: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val dir = stampedBase(s, d, "lineitem", "orc") + "/lineitem_orc"
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_returnflag")
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")))
      li.write.mode("overwrite").orc(dir)
    s.read.schema(li.schema).orc(dir)
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("checksum"),
        sum(dec(col("l_quantity"))).cast(DoubleType).as("qty_sum"))
      .select(lit("orc_lineitem").as("fmt"), col("n"), col("checksum"),
        col("qty_sum"))
  }

  /** i07: data-quality audit — the constraint checks every ingest
    * pipeline runs before promoting a batch: row counts, null checks
    * on NOT NULL-intent columns, duplicate-key detection, and
    * referential orphans (lineitem keys without an order). Each check
    * is an independent aggregate/anti-join; at 100 TB they share the
    * table scans per-check and never materialize violating ROWS, only
    * counts. Zero-valued checks are the HEALTHY state — the row-count
    * entries keep the result non-vacuous.
    */
  def qualityAudit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    def one(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("chk"), col("n"))
    one("lineitem_rows", li.agg(count(lit(1)).as("n")))
      .unionByName(one("lineitem_null_qty",
        li.filter(col("l_quantity").isNull).agg(count(lit(1)).as("n"))))
      .unionByName(one("lineitem_orphan_orders",
        li.select("l_orderkey")
          .join(o.select("o_orderkey"),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n"))))
      .unionByName(one("orders_dup_keys",
        o.groupBy("o_orderkey").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).agg(count(lit(1)).as("n"))))
      .unionByName(one("orders_rows", o.agg(count(lit(1)).as("n"))))
      .orderBy("chk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i05_source_formats" -> ((s, d) => roundTrip(s, d)),
    "i06_schema_evolution" -> ((s, d) => evolvedScan(s, d)),
    "i07_quality_audit" -> ((s, d) => qualityAudit(s, d)),
    "i08_orc_roundtrip" -> ((s, d) => orcRoundTrip(s, d))
  )

  // The oracle reads the parquet originals: if the engine's CSV/JSON
  // round-trip loses a row or a bit of any value, the checksums split.
  val oracle: Map[String, String] = Map(
    "i05_source_formats" -> """
      SELECT 'csv_orders' AS fmt, COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS checksum
      FROM orders
      UNION ALL
      SELECT 'json_customer' AS fmt, COUNT(*) AS n,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS checksum
      FROM customer
      ORDER BY fmt""",

    // The oracle recomputes both generations from the source table:
    // gen1 (even ids) must count zero langs after the merged read.
    "i06_schema_evolution" -> """
      SELECT CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT) AS gen,
        COUNT(*) AS n_docs,
        COUNT(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_lang,
        ROUND(AVG(length(text)), 6) AS avg_len
      FROM documents
      GROUP BY 1 ORDER BY 1""",

    "i07_quality_audit" -> """
      SELECT 'lineitem_rows' AS chk, COUNT(*) AS n FROM lineitem
      UNION ALL
      SELECT 'lineitem_null_qty', COUNT(*) FROM lineitem WHERE l_quantity IS NULL
      UNION ALL
      SELECT 'lineitem_orphan_orders', COUNT(*)
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey IS NULL
      UNION ALL
      SELECT 'orders_dup_keys', COUNT(*)
      FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)
      UNION ALL
      SELECT 'orders_rows', COUNT(*) FROM orders
      ORDER BY chk""",

    "i08_orc_roundtrip" -> """
      SELECT 'orc_lineitem' AS fmt, COUNT(*) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS checksum,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_sum
      FROM lineitem"""
  )
}
