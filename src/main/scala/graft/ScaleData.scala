package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dev tool: generate a scratch ~sf1 corpus (10× the sf0.1 fixtures)
  * for the scale-substantiation runs — `documents` and `embeddings`
  * only (the tables the heavy dedup/graph/similarity family reads).
  * Deterministic (hash-derived content, no RNG state), same schema and
  * shape statistics as the driver fixtures (TESTDATA.md): ~54 tokens
  * per doc from the same-size vocabulary, 20 sources, 5 langs, 64-dim
  * float embeddings in [-1, 1], 10 labels. Content is synthesized, not
  * replicated from the fixtures: replication would make every doc a
  * 10-way exact duplicate and quadratically inflate the LSH buckets —
  * measuring THAT would benchmark the data, not the plan.
  *
  * Usage: runMain graft.ScaleData /root/repo/tools/sf1 [scale] [docs|orders]
  * (scale multiplies the sf0.1 row counts; default 10 ≈ sf1. A third
  * arg `docs` limits generation to documents+embeddings — the tables
  * the heavy dedup/graph/similarity family reads — so the 100× growth
  * corpus doesn't also pay a 15M-order star schema it never scans.
  * `orders` writes ONLY the orders table into an existing corpus dir —
  * the minimal extension that lets the CDC-apply 100× row run without
  * the lineitem/part/customer tables it never touches.)
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/root/repo/tools/sf1")
    val scale = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val docsOnly = args.drop(2).headOption.contains("docs")
    val ordersOnly = args.drop(2).headOption.contains("orders")
    val spark = GraftSession.local(32)

    val vocab = Seq("spark", "line", "column", "order", "small", "sort",
      "fast", "value", "scan", "batch", "part", "query", "agg", "table",
      "hash", "key", "group", "filter", "stream", "slow", "customer",
      "vector", "join", "shuffle", "page", "row", "index", "cache",
      "merge", "split", "read", "write", "plan", "stage", "task",
      "block", "file", "disk", "node", "core")
    val vocabCol = array(vocab.map(lit): _*)

    val nDocs = 5000L * scale
    val docs = spark.range(nDocs).toDF("doc_id")
      .withColumn("n_toks", (abs(xxhash64(col("doc_id"), lit("len"))) % 70 + 20).cast("int"))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), col("n_toks") - 1), i =>
          element_at(vocabCol,
            (abs(xxhash64(col("doc_id"), i, lit("tok"))) % vocab.size + 1).cast("int")))))
      .withColumn("lang", element_at(array(Seq("en", "de", "fr", "ja", "zh").map(lit): _*),
        (abs(xxhash64(col("doc_id"), lit("lang"))) % 5 + 1).cast("int")))
      .withColumn("source", concat(lit("src"), col("doc_id") % 20))
      .withColumn("n_chars", length(col("text")))
      .drop("n_toks")
    if (!ordersOnly)
      docs.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val nVecs = 2000L * scale
    val emb = spark.range(nVecs).toDF("vec_id")
      .withColumn("embedding",
        transform(sequence(lit(0), lit(63)), d =>
          ((abs(xxhash64(col("vec_id"), d, lit("emb"))) % 20001).cast("double")
            / 10000.0 - 1.0).cast("float")))
      .withColumn("label", (abs(xxhash64(col("vec_id"), lit("lab"))) % 10).cast("int"))
    if (!ordersOnly)
      emb.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    if (docsOnly) {
      println(s"wrote $nDocs docs + $nVecs vecs (docs-only) to $out")
      spark.stop()
      return
    }

    // ---- TPC-H-ish star schema + events, same schema/types/value
    // domains as the driver fixtures (profiled via DuckDB DESCRIBE +
    // min/max/distinct over /root/testdata/sf0.1 — TESTDATA.md), so the
    // FULL 111-query surface runs at any scale, not just the
    // documents/embeddings-reading heavy family. All content is
    // hash-derived (deterministic, no RNG state); row counts are the
    // sf0.1 counts × scale. Dimension keys reference the scaled
    // dimensions so join fan-outs keep their per-row shape as the
    // corpus grows — the property the growth-ratio bench measures.
    def h(cols: Column*): Column = abs(xxhash64(cols: _*))
    // Epoch bases (UTC): 1995-01-01 and 2024-01-01. timestamp_seconds
    // keeps the arithmetic in plain longs/doubles — no interval
    // construction, ANSI-safe, timezone-pinned below.
    val OrderEpoch = 788918400L
    val EventEpoch = 1704067200L

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    if (!ordersOnly) {
      spark.range(5).toDF("id")
        .select(col("id").cast("int").as("r_regionkey"),
          element_at(array(regions.map(lit): _*), col("id").cast("int") + 1).as("r_name"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/region.parquet")

      spark.range(25).toDF("id")
        .select(col("id").cast("int").as("n_nationkey"),
          concat(lit("NATION_"), col("id")).as("n_name"),
          (col("id") % 5).cast("int").as("n_regionkey"))
        .coalesce(1).write.mode("overwrite").parquet(s"$out/nation.parquet")
    }

    val nCust = 15000L * scale
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    if (!ordersOnly) spark.range(nCust).toDF("c_custkey")
      .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
      .withColumn("c_nationkey", (h(col("c_custkey"), lit("cn")) % 25).cast("int"))
      .withColumn("c_acctbal",
        round((h(col("c_custkey"), lit("cb")) % 1000000).cast("double") / 100.0 - 1000.0, 2))
      .withColumn("c_mktsegment", element_at(array(segs.map(lit): _*),
        (h(col("c_custkey"), lit("cs")) % 5 + 1).cast("int")))
      .repartition(32).write.mode("overwrite").parquet(s"$out/customer.parquet")

    val nSupp = 1000L * scale
    if (!ordersOnly) spark.range(nSupp).toDF("s_suppkey")
      .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
      .withColumn("s_nationkey", (h(col("s_suppkey"), lit("sn")) % 25).cast("int"))
      .withColumn("s_acctbal",
        round((h(col("s_suppkey"), lit("sb")) % 1000000).cast("double") / 100.0 - 1000.0, 2))
      .repartition(32).write.mode("overwrite").parquet(s"$out/supplier.parquet")

    val nPart = 20000L * scale
    val adjs = Seq("large", "hot", "blue", "small", "shiny", "red", "green", "dim")
    val nouns = Seq("ring", "bolt", "case", "plate", "tube", "cap", "rod", "gear")
    val ptypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    if (!ordersOnly) spark.range(nPart).toDF("p_partkey")
      .withColumn("p_name", concat_ws(" ",
        element_at(array(adjs.map(lit): _*), (h(col("p_partkey"), lit("pa")) % 8 + 1).cast("int")),
        element_at(array(nouns.map(lit): _*), (h(col("p_partkey"), lit("pn")) % 8 + 1).cast("int"))))
      .withColumn("p_brand",
        concat(lit("Brand#"), (h(col("p_partkey"), lit("pb")) % 25 + 1)))
      .withColumn("p_type", element_at(array(ptypes.map(lit): _*),
        (h(col("p_partkey"), lit("pt")) % 6 + 1).cast("int")))
      .withColumn("p_size", (h(col("p_partkey"), lit("ps")) % 50 + 1).cast("int"))
      .withColumn("p_retailprice",
        round(lit(900.0) + (col("p_partkey") % 100000).cast("double") / 10.0, 2))
      .repartition(32).write.mode("overwrite").parquet(s"$out/part.parquet")

    val nOrders = 150000L * scale
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    // o_orderdate spans 1995-01-01 .. 2001-08-01 (2404 days), midnight
    // timestamps — the fixture range, so date-window predicates keep
    // their selectivity at every scale.
    val orders = spark.range(nOrders).toDF("o_orderkey")
      .withColumn("o_custkey", h(col("o_orderkey"), lit("oc")) % nCust)
      .withColumn("o_orderstatus", element_at(array(Seq("O", "P", "F").map(lit): _*),
        (h(col("o_orderkey"), lit("os")) % 3 + 1).cast("int")))
      .withColumn("o_totalprice",
        round(lit(1000.0) + (h(col("o_orderkey"), lit("op")) % 49900000).cast("double") / 100.0, 2))
      .withColumn("o_orderdate", timestamp_seconds(
        lit(OrderEpoch) + (h(col("o_orderkey"), lit("od")) % 2404) * 86400L))
      .withColumn("o_orderpriority", element_at(array(prios.map(lit): _*),
        (h(col("o_orderkey"), lit("opr")) % 5 + 1).cast("int")))
    orders.repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")

    if (ordersOnly) {
      println(s"wrote $nOrders orders (orders-only) to $out")
      spark.stop()
      return
    }

    // ~4 lines/order (1..7 hash-derived). l_shipdate is drawn
    // INDEPENDENTLY of o_orderdate over the fixture's marginal span
    // (OrderEpoch + 0..2498 days = orderdate span + the 95-day ship
    // tail): in the driver fixture the two are uncorrelated (48% of
    // lines "ship" before their order date), and the semi-join /
    // 30-day-range queries that correlate them keep their fixture
    // selectivity only if the scaled joint distribution matches — a
    // +1..95-day offset made those joins ~100% selective and the
    // growth-ratio bench measured a different workload.
    orders.select(col("o_orderkey"), col("o_orderdate"))
      .withColumn("l_linenumber",
        explode(sequence(lit(1), (h(col("o_orderkey"), lit("ln")) % 7 + 1).cast("int"))))
      .select(
        col("o_orderkey").as("l_orderkey"),
        (h(col("o_orderkey"), col("l_linenumber"), lit("lp")) % nPart).as("l_partkey"),
        (h(col("o_orderkey"), col("l_linenumber"), lit("ls")) % nSupp).as("l_suppkey"),
        col("l_linenumber").cast("int").as("l_linenumber"),
        (h(col("o_orderkey"), col("l_linenumber"), lit("lq")) % 50 + 1).cast("double").as("l_quantity"),
        round(lit(900.0) +
          (h(col("o_orderkey"), col("l_linenumber"), lit("le")) % 10400000).cast("double") / 100.0, 2)
          .as("l_extendedprice"),
        ((h(col("o_orderkey"), col("l_linenumber"), lit("ld")) % 11).cast("double") / 100.0)
          .as("l_discount"),
        ((h(col("o_orderkey"), col("l_linenumber"), lit("lt")) % 9).cast("double") / 100.0)
          .as("l_tax"),
        element_at(array(Seq("A", "N", "R").map(lit): _*),
          (h(col("o_orderkey"), col("l_linenumber"), lit("lr")) % 3 + 1).cast("int"))
          .as("l_returnflag"),
        element_at(array(Seq("F", "O").map(lit): _*),
          (h(col("o_orderkey"), col("l_linenumber"), lit("ll")) % 2 + 1).cast("int"))
          .as("l_linestatus"),
        timestamp_seconds(lit(OrderEpoch) +
          (h(col("o_orderkey"), col("l_linenumber"), lit("lsd")) % (2404 + 95)) * 86400L)
          .as("l_shipdate"))
      .repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // events: 30 days of 2024-01, ts monotone-ish in event_id (~26 s
    // apart + sub-minute jitter), user pool scales with the corpus.
    val nEvents = 100000L * scale
    val nUsers = 1500L * scale
    val etypes = Seq("click", "error", "purchase", "signup", "view")
    spark.range(nEvents).toDF("event_id")
      // ts is written as a plain INT64 of epoch-NANOS: the driver
      // fixture's physical type is parquet TIMESTAMP(NANOS), which
      // Spark 4 only reads via the nanosAsLong legacy conf — i.e. as a
      // long — and graft.Tables/EventStreams normalize from that long.
      // Writing the same long here keeps the generated corpus
      // byte-compatible with both the batch loader and the streaming
      // rawSchema (ts: LongType).
      .withColumn("ts",
        // step precomputed driver-side: `event_id * span / n` would
        // overflow Long once event_id ≳ 3.5M (scale ≥ 36) and, with
        // ANSI off, silently corrupt timestamps instead of erroring.
        ((lit(EventEpoch * 1000000L) +
          col("event_id") * lit(2591900000000L / nEvents) +
          h(col("event_id"), lit("ej")) % 50000000L) * 1000L).as("ts"))
      .withColumn("user_id", h(col("event_id"), lit("eu")) % nUsers)
      .withColumn("event_type", element_at(array(etypes.map(lit): _*),
        (h(col("event_id"), lit("et")) % 5 + 1).cast("int")))
      .withColumn("value",
        round((h(col("event_id"), lit("ev")) % 56021).cast("double") / 100.0, 2))
      .withColumn("props", concat(lit("{\"k\": "),
        h(col("event_id"), lit("ek")) % 100, lit("}")))
      .repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")

    println(s"wrote $nDocs docs + $nVecs vecs + $nOrders orders (+star schema, events) to $out")
    spark.stop()
  }
}
