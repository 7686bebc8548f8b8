package graft

import org.apache.spark.sql.SaveMode
import graft.sources.{JdbcSink, ParquetSink, RelationalSink, SchemaMapper}

/** Reference-parity entry point: the WHOLE behavior of
  * TFMV/parquet_to_postgres (`/root/reference/src/main.rs:49-102`) as
  * a Spark job — open a Parquet source, report the inferred schema +
  * generated DDL, bulk-load it into a relational sink with bounded
  * concurrency, print elapsed time.
  *
  * Usage:
  *   runMain graft.IngestMain <parquet-path> <table> [jdbcUrl]
  * Without a jdbcUrl (none reachable in this offline image — SURVEY
  * §7.1) the sink is a parquet directory under /tmp/graft_ingest,
  * exercising the same RelationalSink path.
  *
  * Knob parity: batchsize 1000 (`src/main.rs:74`), ≤10 concurrent
  * connections (`src/main.rs:68`), CREATE TABLE IF NOT EXISTS from the
  * inferred schema (`src/main.rs:104-118` — here via SchemaMapper,
  * which also handles the Int16/Date/Timestamp/decimal/nested types
  * the reference mishandled, SURVEY §1.4).
  */
object IngestMain {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/root/testdata/sf0.001/lineitem.parquet")
    val table = if (args.length > 1) args(1) else "flights"
    val jdbcUrl = args.lift(2)

    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val t0 = System.nanoTime()
    val df = sources.ParquetSource.read(spark, path)
    println(s"schema: ${df.schema.simpleString}")
    println(s"ddl: ${SchemaMapper.createTableSql(table, df.schema)}")

    val sink: RelationalSink = jdbcUrl match {
      case Some(url) =>
        val props = new java.util.Properties()
        new JdbcSink(url, props)
      case None => new ParquetSink("/tmp/graft_ingest")
    }
    sink.write(df, table, SaveMode.Append)
    // the reference's only metric (src/main.rs:100)
    println(f"Time taken: ${(System.nanoTime() - t0) / 1e9}%.3fs")
    spark.stop()
  }
}
