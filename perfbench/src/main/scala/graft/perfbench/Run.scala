package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One call the benchmark made into the program, with its parts. */
final case class Op(pass: Int, traced: Boolean, name: String, kind: String,
    module: String, timed: Boolean, seconds: Double,
    parts: Seq[(String, Double)], error: Option[String],
    stats: Seq[(String, GroupStats, Long, Long)])

/** The only timed action for a DataFrame: full materialization into
  * Spark's `noop` sink. Every row and column the query produces is
  * computed; nothing is written anywhere. */
object Timed {
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Runs ops one after another (a closed loop with one client) and keeps
  * their records. Each part of an op runs under its own job group, so a
  * traced run can attribute every Spark job to the call that caused it. */
final class Run(val spark: SparkSession, val ledger: Option[Ledger]) {
  val ops = ArrayBuffer[Op]()
  val heap = new HeapSampler
  var pass = 0
  var traced = false
  private var seq = 0

  private var lastGroup: String = null

  /** A traced run adds the Catalyst time spent building `df` (analysis
    * runs when a DataFrame is created) to the part that built it. */
  def built(df: DataFrame): Unit =
    ledger.filter(_ => traced).foreach(_.record(lastGroup, df.queryExecution))

  final class Parts(prefix: String) {
    val times = ArrayBuffer[(String, Double)]()
    val groups = ArrayBuffer[(String, String, Long, Long)]()
    def apply[T](part: String)(body: => T): T = {
      val group = s"$prefix/$part"
      lastGroup = group
      val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
      try ledger.filter(_ => traced) match {
        case Some(l) => l.within(group)(body)
        case None =>
          spark.sparkContext.setJobGroup(group, group)
          try body finally spark.sparkContext.clearJobGroup()
      } finally {
        times += part -> (System.nanoTime() - t0) / 1e9
        groups += ((part, group, w0, System.currentTimeMillis()))
      }
    }
  }

  /** Time one op. A failing op is recorded with its error and the run
    * goes on; `timed = false` marks extra traced-only work that no
    * end-to-end metric includes. */
  def op(name: String, kind: String, module: String, timed: Boolean = true)(
      body: Parts => Unit): Op = {
    seq += 1
    val parts = new Parts(s"pb/$pass/$seq/$name")
    val t0 = System.nanoTime()
    val err =
      try { body(parts); None }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        Some(e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("").take(300))
      }
    val secs = (System.nanoTime() - t0) / 1e9
    val stats = ledger.filter(_ => traced).toSeq.flatMap(l =>
      parts.groups.map { case (p, g, a, b) => (p, l.stats(g), a, b) })
    val o = Op(pass, traced, name, kind, module, timed, secs, parts.times.toSeq, err, stats.toSeq)
    ops += o
    o
  }
}
