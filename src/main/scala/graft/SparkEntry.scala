package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The engine is a library of operators-as-named-DataFrame-programs
  * (SURVEY §7.1): each entry is `(SparkSession, sfDir) => DataFrame`,
  * fully declarative so Catalyst/AQE owns the physical plan. Modules:
  *   - [[graft.operators.Relational]]  — scans/joins/aggs/windows/set-ops (SURVEY §2.2)
  *   - [[graft.sources]]               — reference-parity ingest (SURVEY §2.1)
  *   - Dedup / Similarity / TextAnalysis / Multimodal / Streaming — M2/M3
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1 analog: scan→filter→agg→sort end-to-end (SURVEY §7.2). */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every query module; each carries its builders and its oracle SQL. */
  val modules: Seq[QueryModule] = Seq(
    Relational, Relational2, Relational3, Relational4, Relational5, Relational6,
    Upsert, Corpus, Dedup, Similarity, TextAnalysis, Multimodal, StreamingOps, Sketches,
    graft.functions.WeightedAvg,
    graft.sources.Bucketing, graft.sources.PartitionedLayout,
    graft.sources.SourceFormats, graft.sources.LakeMaintenance, graft.sources.SnapshotLog)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops
    * (d02 minhash-LSH, d03 simhash, s02 ann-lsh → rows-only check +
    * ScalaTest property coverage instead). */
  val oracleSql: Map[String, String] = modules.flatMap(_.oracle).toMap
}

/** A registered group of named queries. `oracle` holds the DuckDB SQL
  * of those of its own `queries` that SQL can express. */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracle: Map[String, String]
}
