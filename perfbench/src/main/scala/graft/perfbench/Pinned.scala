package graft.perfbench

/** The workloads' op lists, pinned by name. A query registered later
  * joins a workload only by being added here. */
object Pinned {
  /** Relational hot spots whose aggregates `count()` prunes away: a01
    * costs about 50× more materialized than counted, q28 about 15×;
    * q01 is the TPC-H Q1 flagship. */
  val relational: Seq[String] = Seq("a01_approx_sketches", "q28_percentiles",
    "q01_pricing_summary")

  /** The nine fixture tables without array columns. */
  val ingestTables: Seq[String] = Seq("lineitem", "orders", "customer", "part",
    "supplier", "nation", "region", "events", "documents")

  val fixtureTables: Seq[String] = ingestTables :+ "embeddings"
}
