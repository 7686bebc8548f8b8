package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}
import graft.sources.SchemaMapper

/** Second tranche of the relational surface: outer joins, math/array
  * scalar functions, pagination, the SQL text surface (the reference
  * declared a sqlparser dependency it never used — SURVEY §0; our
  * engine gets a real SQL surface from Catalyst), and the schema/DDL
  * report (reference op #3, `generate_create_table_sql`,
  * /root/reference/src/main.rs:104-118).
  */
object Relational2 extends QueryModule {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // q22: outer joins — full outer over two aggregates with
    // mismatched key spaces (nation-level customer vs supplier
    // counts; suppliers exist in few nations → nulls on both sides).
    "q22_outer_join" -> ((s, d) => {
      val c = Tables.customer(s, d).groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
      val su = Tables.supplier(s, d).groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"))
      val n = Tables.nation(s, d)
      n.join(c, n("n_nationkey") === c("c_nationkey"), "left_outer")
        .join(su, n("n_nationkey") === su("s_nationkey"), "full_outer")
        .select(col("n_nationkey"), col("n_name"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
        .orderBy("n_nationkey")
    }),

    // q23: math scalar functions (all codegen'd builtins).
    "q23_math_funcs" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_linenumber") === 1)
        .select(col("l_orderkey"),
          round(abs(col("l_extendedprice") - 50000.0), 2).as("abs_diff"),
          ceil(col("l_quantity")).as("qty_ceil"),
          floor(col("l_discount") * 100).as("disc_pct"),
          round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
          round(pow(col("l_tax") + 1.0, 2), 6).as("tax_sq"),
          round(log(col("l_extendedprice") + 1.0), 6).as("ln_price"),
          pmod(col("l_orderkey"), lit(7L)).as("key_mod7"),
          greatest(col("l_quantity"), col("l_discount") * 100).as("gr"),
          least(col("l_quantity"), col("l_discount") * 100).as("ls"))
        .orderBy("l_orderkey")),

    // q24: array functions over the embeddings fixture.
    "q24_array_funcs" -> ((s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(col("embedding")).as("dim"),
          round(element_at(col("embedding"), 1).cast(DoubleType), 6).as("first_el"),
          round(element_at(col("embedding"), -1).cast(DoubleType), 6).as("last_el"),
          round(array_max(col("embedding")).cast(DoubleType), 6).as("max_el"),
          round(array_min(col("embedding")).cast(DoubleType), 6).as("min_el"),
          size(filter(col("embedding"), x => x > 0f)).as("n_positive"),
          round(aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x.cast(DoubleType)), 6)
            .as("el_sum"))
        .orderBy("vec_id")),

    // q25: pagination — ORDER BY ... LIMIT with OFFSET.
    "q25_pagination" -> ((s, d) =>
      Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .offset(20).limit(10)),

    // q26: the SQL text surface — the query is *parsed from SQL* by
    // Catalyst (reference aspired to this via its unused sqlparser
    // dep). Same text runs on DuckDB as the oracle.
    "q26_sql_surface" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      s.sql("""
        SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM orders_v o JOIN customer_v c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderstatus <> 'F'
        GROUP BY c.c_mktsegment
        ORDER BY segment""")
    }),

    // i02: the reference's DDL generation as a queryable report —
    // every lineitem column with its Spark type and generated PG type.
    "i02_schema_report" -> ((s, d) => {
      import s.implicits._
      val schema = Tables.lineitem(s, d).schema
      schema.fields.toSeq
        .map(f => (f.name, f.dataType.simpleString, SchemaMapper.pgType(f.dataType)))
        .toDF("column_name", "spark_type", "pg_type")
        .orderBy("column_name")
    })
  )

  val oracle: Map[String, String] = Map(
    "q22_outer_join" -> """
      SELECT n_nationkey, n_name,
        COALESCE(c.n_customers, 0) AS n_customers,
        COALESCE(s.n_suppliers, 0) AS n_suppliers
      FROM nation n
      LEFT JOIN (SELECT c_nationkey, COUNT(*) AS n_customers FROM customer GROUP BY 1) c
        ON n.n_nationkey = c.c_nationkey
      FULL JOIN (SELECT s_nationkey, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1) s
        ON n.n_nationkey = s.s_nationkey
      ORDER BY n_nationkey""",

    "q23_math_funcs" -> """
      SELECT l_orderkey,
        ROUND(ABS(l_extendedprice - 50000.0), 2) AS abs_diff,
        CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
        CAST(FLOOR(l_discount * 100) AS BIGINT) AS disc_pct,
        ROUND(SQRT(l_extendedprice), 6) AS sqrt_price,
        ROUND(POW(l_tax + 1.0, 2), 6) AS tax_sq,
        ROUND(LN(l_extendedprice + 1.0), 6) AS ln_price,
        l_orderkey % 7 AS key_mod7,
        GREATEST(l_quantity, l_discount * 100) AS gr,
        LEAST(l_quantity, l_discount * 100) AS ls
      FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey""",

    "q24_array_funcs" -> """
      SELECT vec_id,
        CAST(len(embedding) AS INT) AS dim,
        ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_el,
        ROUND(CAST(embedding[-1] AS DOUBLE), 6) AS last_el,
        ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS max_el,
        ROUND(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 6) AS min_el,
        CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive,
        ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS el_sum
      FROM embeddings ORDER BY vec_id""",

    "q25_pagination" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10 OFFSET 20""",

    "q26_sql_surface" -> """
      SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderstatus <> 'F'
      GROUP BY c.c_mktsegment
      ORDER BY segment""",

    // pins the corrected reference type map (SURVEY §1.3/§1.4) as data
    "i02_schema_report" -> """
      SELECT * FROM (VALUES
        ('l_orderkey', 'bigint', 'BIGINT'),
        ('l_partkey', 'bigint', 'BIGINT'),
        ('l_suppkey', 'bigint', 'BIGINT'),
        ('l_linenumber', 'int', 'INT'),
        ('l_quantity', 'double', 'DOUBLE PRECISION'),
        ('l_extendedprice', 'double', 'DOUBLE PRECISION'),
        ('l_discount', 'double', 'DOUBLE PRECISION'),
        ('l_tax', 'double', 'DOUBLE PRECISION'),
        ('l_returnflag', 'string', 'TEXT'),
        ('l_linestatus', 'string', 'TEXT'),
        ('l_shipdate', 'timestamp_ntz', 'TIMESTAMP')
      ) t(column_name, spark_type, pg_type) ORDER BY column_name"""
  )
}
