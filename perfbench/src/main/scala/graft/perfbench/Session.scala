package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The measured session: the knobs of `graft.Bench`'s suite session,
  * at `local[cores]` with one shuffle partition per core. Scratch space
  * (`spark.local.dir` via `SPARK_LOCAL_DIRS`, warehouse, Derby home)
  * lives under the run's work directory. */
object Session {
  def create(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.autoBroadcastJoinThreshold", "4m")
      .config("spark.sql.codegen.hugeMethodLimit", "4000")
      .config("spark.sql.codegen.methodSplitThreshold", "256")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.graft.rangeJoin.binSeconds", "3600")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
