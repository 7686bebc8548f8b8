package graft.perfbench

/** Turns a run's op records into the JVM's result file: end-to-end
  * figures from the untraced passes, per-layer figures from the traced
  * ones, and the output checks. run.py adds `setup_s`, the DuckDB
  * checks and the final verdict. */
object Report {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def passes(run: Run, traced: Boolean): Seq[Seq[Op]] =
    run.ops.filter(_.traced == traced).groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.toSeq)

  private def wall(ops: Seq[Op]) = ops.filter(_.timed).map(_.seconds).sum

  def apply(run: Run, wl: Workload, cores: Int, heapMb: Double, checks: String,
      checkFailed: Int, args: Map[String, String]): String = {
    val plain = passes(run, traced = false)
    val traced = passes(run, traced = true)
    val timed = run.ops.filter(_.timed)
    val e2e = Map("wall_s" -> median(plain.map(wall)), "heap_live_peak_mb" -> heapMb)
    val layer: Map[String, Double] =
      if (traced.isEmpty) Map.empty
      else {
        val per = traced.map(p => layers(p, wl, cores))
        per.head.keys.map(k => k -> median(per.map(_(k)))).toMap +
          ("trace.overhead_s" -> (median(traced.map(wall)) - median(plain.map(wall))))
      }
    Json(Map(
      "workload" -> args("workload"), "seed" -> args("seed").toLong, "cores" -> cores,
      "passes" -> (plain.size + traced.size),
      "pass_wall_s" -> plain.map(wall), "traced_pass_wall_s" -> traced.map(wall),
      "attempted" -> timed.size,
      "failed" -> (timed.count(_.error.nonEmpty) + checkFailed),
      "errors" -> timed.flatMap(o => o.error.map(e => s"${o.name}: $e")).distinct.take(20),
      "rows_per_pass" -> wl.rowsPerPass,
      "e2e" -> e2e, "layer" -> layer,
      "op_seconds" -> timed.filterNot(_.traced).groupBy(_.name).map { case (n, os) =>
        n -> median(os.map(_.seconds).toSeq) },
      "checks" -> RawJson(checks)))
  }

  /** Per-layer figures of one traced pass. */
  def layers(ops: Seq[Op], wl: Workload, cores: Int): Map[String, Double] = {
    val timed = ops.filter(_.timed)
    val w = wall(ops)
    val st = timed.flatMap(_.stats)
    def sum(f: GroupStats => Long) = st.map(s => f(s._2)).sum.toDouble
    def part(os: Seq[Op], name: String) = os.flatMap(_.parts).filter(_._1 == name).map(_._2).sum
    def jobs(o: Op) = o.stats.map(_._2.jobs).sum.toDouble
    val taskRun = sum(_.taskRunMs) / 1e3
    val gap = st.map { case (_, g, a, b) => Ledger.idleMs(g.jobSpans, a, b) }.sum / 1e3
    val spark = Map(
      "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks), "spark.driver_gap_s" -> gap,
      "spark.task_run_s" -> taskRun, "spark.task_cpu_s" -> sum(_.taskCpuNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.core_busy_ratio" -> (if (w > 0) taskRun / (w * cores) else 0.0),
      "spark.input_bytes" -> sum(_.inputBytes),
      "spark.shuffle_read_bytes" -> sum(_.shuffleReadBytes),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "spark.spill_bytes" -> sum(_.spillBytes), "spark.output_bytes" -> sum(_.outputBytes),
      "catalyst.executions" -> sum(_.executions),
      "catalyst.analysis_s" -> sum(_.analysisMs) / 1e3,
      "catalyst.optimization_s" -> sum(_.optimizationMs) / 1e3,
      "catalyst.planning_s" -> sum(_.planningMs) / 1e3)
    val operators = Workloads.modules.flatMap { case (m, _) =>
      val os = timed.filter(_.module == m)
      Seq(s"operators.$m.build_s" -> part(os, "build"),
        s"operators.$m.exec_s" -> part(os, "exec"),
        s"operators.$m.jobs" -> os.map(jobs).sum)
    }
    val ingest = timed.filter(_.kind == "ingest")
    val decode = part(ops.filter(_.kind == "decode"), "decode")
    val write = part(ingest, "write")
    val writeStats = ingest.flatMap(_.stats).filter(_._1 == "write").map(_._2)
    // skew of the largest table's write: the one that bounds the load
    val skew = ingest.find(_.name == Pinned.ingestTables.head).flatMap(_.stats.find(_._1 == "write"))
      .map { case (_, g, _, _) =>
        val ms = g.taskMs.map(_.toDouble).toSeq
        if (ms.isEmpty || median(ms) <= 0) 0.0 else ms.max / median(ms)
      }.getOrElse(0.0)
    val ingestRows = if (ingest.nonEmpty) wl.rowsPerPass.toDouble else 0.0
    val sources = Map(
      "sources.parquet.read_s" -> part(ingest, "read"),
      "sources.parquet.decode_s" -> decode,
      "sources.parquet.rows" -> ingestRows,
      "sources.jdbc.write_s" -> write,
      "sources.jdbc.insert_s" -> (if (ingest.nonEmpty) write - decode else 0.0),
      "sources.jdbc.write_tasks" -> writeStats.map(_.tasks).sum.toDouble,
      "sources.jdbc.task_skew" -> skew,
      "sources.jdbc.rows_written" -> ingestRows)
    val commits = timed.filter(o => o.kind == "commit" && o.name != "seed" && o.name != "compact")
    val reads = timed.filter(o => o.kind == "read" && o.name != "read_final")
    val snap = wl match {
      case l: Lake => l.snapshot.filter(_._1 == ops.head.pass)
      case _ => Seq.empty
    }
    def secs(n: String) = timed.find(o => o.kind == "commit" && o.name == n).map(_.seconds).getOrElse(0.0)
    val snapshot = Map(
      "sources.snapshot.seed_s" -> secs("seed"),
      "sources.snapshot.commit_s" -> median(commits.map(_.seconds)),
      "sources.snapshot.read_s" -> median(reads.map(_.seconds)),
      "sources.snapshot.read_last_s" -> reads.lastOption.map(_.seconds).getOrElse(0.0),
      "sources.snapshot.compact_s" -> secs("compact"),
      "sources.snapshot.jobs_per_commit" ->
        (if (commits.isEmpty) 0.0 else commits.map(jobs).sum / commits.size),
      "sources.snapshot.bytes_written" -> snap.map(_._3).sum.toDouble,
      "sources.snapshot.files_live" -> (if (snap.isEmpty) 0.0 else snap.map(_._4).max.toDouble))
    spark ++ operators ++ sources ++ snapshot
  }

  /** The per-op ledger of a traced run, one JSON object per line. */
  def ledgerLines(run: Run): String = run.ops.map { o =>
    Json(Map("pass" -> o.pass, "traced" -> o.traced, "op" -> o.name, "kind" -> o.kind,
      "module" -> o.module, "timed" -> o.timed, "seconds" -> o.seconds,
      "parts" -> o.parts.toMap, "error" -> o.error,
      "spark" -> o.stats.map { case (p, g, a, b) => p -> Map(
        "jobs" -> g.jobs, "stages" -> g.stages, "tasks" -> g.tasks,
        "driver_gap_ms" -> Ledger.idleMs(g.jobSpans, a, b),
        "task_run_ms" -> g.taskRunMs, "task_cpu_ns" -> g.taskCpuNs, "gc_ms" -> g.gcMs,
        "input_bytes" -> g.inputBytes, "shuffle_read_bytes" -> g.shuffleReadBytes,
        "shuffle_write_bytes" -> g.shuffleWriteBytes, "spill_bytes" -> g.spillBytes,
        "output_bytes" -> g.outputBytes, "executions" -> g.executions,
        "analysis_ms" -> g.analysisMs, "optimization_ms" -> g.optimizationMs,
        "planning_ms" -> g.planningMs) }.toMap))
  }.mkString("", "\n", "\n")
}

/** A value already rendered as JSON. */
final case class RawJson(text: String)
