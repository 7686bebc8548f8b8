package graft

import org.apache.spark.sql.SparkSession

/** The one builder of local sessions. Every harness main (Bench, Verify,
  * Explain, StreamBench, IngestMain, ScaleData) and the test session
  * start here, so the plans the oracle verifies and the tests check are
  * the plans the bench measures. Callers choose only the core count; the
  * master and the shuffle width follow from it.
  */
object GraftSession {

  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder().config(conf(cores)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def conf(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // AQE ON — matching the DEPLOYMENT.md cluster recommendation, so
    // the measured config IS the shipped config. History: round-5's
    // FULL surface saw c03's contraction loop hit 73 s AQE-on
    // (re-planning + re-codegen of every lazily-cut round), arguing for
    // off-locally. The round-6 lazy-truncation rework removed that
    // pathology, and two same-surface A/Bs since (r8: 112.3 s on vs
    // 116.6 s off; c03 4.6 s, c11 4.1 s AQE-on) confirm on is now
    // neutral-to-faster everywhere.
    "spark.sql.adaptive.enabled" -> "true",
    // AQE partition coalescing ON (the Spark default) since r15: the
    // r14 driver run measured local[32] 35 % SLOWER than local[8] on
    // identical code — at sf0.1 every exchange carries KB-scale data
    // into `cores` reduce tasks, so a 32-core run pays 4× the tiny-task
    // fixed cost of an 8-core run for zero extra parallelism (worst:
    // t17 1.6×, t08/m04 1.65× slower at 32 cores). Coalescing merges
    // those KB partitions down and the inversion disappears.
    // parallelismFirst stays at its true default, so the merge target
    // is max(bytes/parallelism, minPartitionSize): the floor is lowered
    // 1m → 64k because the CPU-dense mid-size shuffles (the
    // documents/embeddings fan-outs, exploded gram tables —
    // single-digit-MB but seconds of CPU) must KEEP their width; 64k
    // only collapses the genuinely featherweight exchanges. Scale
    // story: the floor binds only when bytes/parallelism < 64k — at
    // 100 TB no query-path shuffle is that small, so the setting is
    // inert there (production keeps its own advisory sizing,
    // DEPLOYMENT.md §AQE); it is a tiny-input de-overheader, not a
    // local tuning of real shuffles.
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
    // 4m, deliberately BELOW Spark's 10m default: a broadcast hash
    // relation is built on ONE thread, so a "small" 600k-row side that
    // sneaks under a fat threshold serializes the whole stage
    // (observed: q04 28s from broadcasting projected lineitem). True
    // dims are far under 4m at any bench SF; genuinely-small
    // intermediates are hinted with broadcast() at the query site.
    "spark.sql.autoBroadcastJoinThreshold" -> "4m",
    // Align whole-stage-codegen fallback with HotSpot's 8000-bytecode
    // JIT ceiling (DontCompileHugeMethods): a fused method over this
    // size would never be JIT-compiled and runs interpreted at 10-50x.
    // Falling back to per-operator execution keeps codegen'd
    // projections AND JIT-able method sizes. SPARK-21871's knob.
    "spark.sql.codegen.hugeMethodLimit" -> "4000",
    // Split generated expression code into ~256-byte-estimate methods
    // (default 1024): keeps every generated method far below HotSpot's
    // compile ceiling so the JIT always wins; fat methods (decimal
    // money math) otherwise sat in a dead zone where C2 sometimes never
    // compiled them and a 200k-row task burned minutes in the
    // interpreter (observed in Decimal.changePrecision).
    "spark.sql.codegen.methodSplitThreshold" -> "256",
    // Catalyst extension point: range-join binning rule + SQL function
    // registry (graft.GraftExtensions scaladoc).
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.graft.rangeJoin.binSeconds" -> "3600",
    // spark.graft.lsh.planes/bands stay UNSET so Similarity's
    // corpus-size auto-sizing (bits ∝ log2 n) is the measured path.
    //
    // The SQL status store keeps every finished execution's plan graph
    // and metrics, 1000 by default. StreamBench records one per
    // micro-batch, and nothing in these processes reads the store (the
    // UI is off), so keep only the last 10. Static conf: it must be set
    // before the session starts.
    "spark.sql.ui.retainedExecutions" -> "10",
    // dev-only: SPARK_GRAFT_EVENTLOG=true dumps per-stage metrics
    "spark.eventLog.enabled" -> sys.env.getOrElse("SPARK_GRAFT_EVENTLOG", "false"),
    "spark.eventLog.dir" -> "/tmp/spark-events",
    "spark.ui.enabled" -> "false",
  ) ++
    // tmpfs scratch for shuffle/broadcast blocks when available — the
    // sandbox block device write-throttles intermittently and poisons
    // shuffle-heavy timings (LocalScratch scaladoc).
    LocalScratch.conf
}
