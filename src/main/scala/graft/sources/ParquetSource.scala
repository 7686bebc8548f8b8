package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reference-parity Parquet source (SURVEY §2.1 ops 1–2).
  *
  * The reference opens one file, parses the footer, and pulls Arrow
  * record batches of 1000 rows (`/root/reference/src/main.rs:52-56,74`).
  * Spark's vectorized Parquet reader does all of that natively and
  * multi-file / multi-executor: a path may be a single file, a glob, or
  * a 100 TB directory tree — partition planning, footer-schema
  * inference, predicate pushdown and column pruning are automatic.
  */
object ParquetSource {

  /** Open a Parquet path. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
