package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Self-checks of the benchmark: its timed action does the whole query,
  * and nothing in it times `count()`. Run with `sbt test` in perfbench/. */
class TimedActionSpec extends AnyFunSuite {
  private val testdata = sys.env.getOrElse("GRAFT_TESTDATA",
    Paths.get(sys.props("user.home"), "testdata").toString)

  test("a01's timed executed plan keeps the aggregate that count() prunes") {
    val work = Files.createTempDirectory("perfbench-spec").toString
    val spark = Session.create(2, work)
    try {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan.toString)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val a01 = graft.SparkEntry.queries("a01_approx_sketches")
      val sf = s"$testdata/sf0.001"
      def planOf(action: => Unit): String = {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        plans.clear()
        action
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        plans.asScala.mkString("\n")
      }
      val timed = planOf(Timed.materialize(a01(spark, sf)))
      val counted = planOf(a01(spark, sf).count())
      assert(timed.contains("percentile_approx"), timed)
      assert(timed.contains("approx_count_distinct"), timed)
      // the contrast that makes this check meaningful
      assert(!counted.contains("percentile_approx"), counted)
    } finally spark.stop()
  }

  test("the harness times no count()") {
    val main = Paths.get("src", "main")
    val files = Files.walk(main).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
    assert(files.exists(_.toString.endsWith("Run.scala")))
    val hits = files.filter(p => Files.readString(p).contains(".count()"))
    assert(hits.isEmpty, s"count() in ${hits.mkString(", ")}")
    val run = Files.readString(Paths.get("run.py"))
    assert(!run.contains(".count()"))
    assert(Files.readString(main.resolve("scala/graft/perfbench/Run.scala"))
      .contains("""df.write.format("noop").mode("overwrite").save()"""))
  }

  test("driver gap counts only time no job covers") {
    assert(Ledger.idleMs(Seq((10L, 20L), (15L, 30L), (40L, 50L)), 0L, 60L) == 30L)
    assert(Ledger.idleMs(Nil, 5L, 9L) == 4L)
  }
}
