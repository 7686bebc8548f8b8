package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM is forked once by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    // The surface's DOCUMENTED bounded global windows (gate rows, the
    // t11 held-out AUC slice, source-count-sized aggregates) each log
    // WindowExec's "No Partition Defined" warning on every run —
    // hundreds of identical lines that drown any NEW accidental global
    // window in the test log. GlobalWindowSpec now pins the exact set
    // of queries allowed to carry an empty-partition Window (a plan
    // check, deterministic), so the log warning is redundant in tests
    // and is silenced HERE ONLY — Bench/Verify/production keep it.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}
