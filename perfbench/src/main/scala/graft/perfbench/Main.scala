package graft.perfbench

import java.nio.file.{Files, Paths}

/** The benchmark's JVM side. run.py starts it once per run:
  *
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *       --data DIR --work DIR --out FILE --ledger FILE
  *
  * It sets up (session, warm-up, one-off fixtures), prints
  * `PERFBENCH_READY`, then runs whole passes of the workload's op list
  * while the next pass should still end within S seconds of timed ops,
  * checks outputs outside the timed region, and writes the records to
  * FILE (and a traced run's per-op ledger to the --ledger file). */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val work = a("work")
    val t0 = System.nanoTime()
    val spark = Session.create(cores, work)
    val t1 = System.nanoTime()
    val env = Env(spark, cores, a("data"), work, a("seed").toLong)
    val wl = Workloads(a("workload"), env)
    wl.setup()
    System.err.println(f"[perfbench] session ${(t1 - t0) / 1e9}%.2f s, workload setup ${(System.nanoTime() - t1) / 1e9}%.2f s")
    println("PERFBENCH_READY")
    System.out.flush()

    val trace = a("trace") == "1"
    val ledger = if (trace) Some(new Ledger(spark)) else None
    val run = new Run(spark, ledger)
    val budget = a("seconds").toDouble
    var spent = 0.0
    var p = 0
    // Whole passes while the next one should still end inside the budget
    // (at least one). A traced run makes untraced, traced, untraced
    // passes, so warm-up drift does not bias the tracing overhead.
    while (p == 0 || spent + spent / p <= budget || (trace && p < 3)) {
      run.pass = p
      run.traced = trace && p % 2 == 1
      if (run.traced) ledger.get.attach()
      val before = run.ops.size
      try wl.pass(run) finally if (run.traced) ledger.get.detach()
      spent += run.ops.drop(before).filter(_.timed).map(_.seconds).sum
      run.heap.sample()
      p += 1
    }
    System.err.println(f"[perfbench] $p passes, ${spent}%.2f s timed")
    val (checks, checkFailed) = wl.check()
    val out = Report(run, wl, cores, run.heap.peakMb, checks, checkFailed, a)
    Files.write(Paths.get(a("out")), out.getBytes("UTF-8"))
    if (trace) {
      Files.createDirectories(Paths.get(a("ledger")).getParent)
      Files.write(Paths.get(a("ledger")), Report.ledgerLines(run).getBytes("UTF-8"))
    }
    spark.stop()
  }
}

/** Heap still in use after a full collection, sampled at the end of
  * each pass (outside the timed ops), while the pass's state is live. */
final class HeapSampler {
  var peakMb = 0.0
  def sample(): Unit = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    peakMb = math.max(peakMb, m.getUsed / 1048576.0)
  }
}
