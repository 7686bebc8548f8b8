package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.operators.{Relational, Relational3, Sketches}
import graft.sources.{JdbcSink, ParquetSource, SchemaMapper, SnapshotLog}
import graft.streaming.CdcStream

/** Where a workload finds its inputs and keeps its scratch files:
  * `data` holds one fixture directory per scale factor. Every workload
  * measures sf0.1; the smaller scales serve warm-ups. */
final case class Env(spark: SparkSession, cores: Int, data: String, work: String, seed: Long) {
  val sf = s"$data/sf0.1"
  val warmSf = s"$data/sf0.001"
}

/** One benchmark workload: one-off set-up (counted in `setup_s`), one
  * pass of its timed op list, and output checks made outside any timed
  * region. `check` returns JSON for run.py plus the failed-op count the
  * JVM could decide by itself. */
trait Workload {
  def setup(): Unit
  def pass(run: Run): Unit
  /** Rows one pass lands or produces, when the JVM knows it. */
  def rowsPerPass: Long = 0L
  def check(): (String, Int)
}

object Workloads {
  /** Operator modules of the query workload, by the name their
    * per-layer metrics use. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> Relational.queries, "Relational3" -> Relational3.queries,
    "Sketches" -> Sketches.queries)

  def moduleOf(name: String): String =
    modules.collectFirst { case (m, qs) if qs.contains(name) => m }.getOrElse("?")

  /** Seed-fixed order of one pass's ops. */
  def order[T](xs: Seq[T], seed: Long, pass: Int): Seq[T] =
    new Random(seed * 1000003L + pass).shuffle(xs)

  def apply(name: String, env: Env): Workload = name match {
    case "ingest_star_derby" => new Ingest(env)
    case "query_relational" => new Queries(env, Pinned.relational)
    case "lake_mor_churn" => new Lake(env)
  }
}

/** Registered queries, each built through `SparkEntry.queries` and
  * materialized. Set-up warms exactly these plans at sf0.01, then runs
  * every query once at full scale and writes its result for run.py to
  * compare with the DuckDB oracle SQL. */
final class Queries(env: Env, names: Seq[String]) extends Workload {
  import env._
  private val qs = SparkEntry.queries
  require(names.forall(qs.contains), s"unregistered: ${names.filterNot(qs.contains)}")
  private var checked: Seq[Map[String, Any]] = Nil

  def setup(): Unit = {
    for (t <- Pinned.fixtureTables if new java.io.File(s"$sf/$t.parquet").exists)
      Tables.table(spark, sf, t)
    for (n <- names)
      try Timed.materialize(qs(n)(spark, s"$data/sf0.01")) catch { case _: Throwable => () }
    checked = names.map { n =>
      val dir = s"$work/check/$n"
      val err =
        try { qs(n)(spark, sf).coalesce(1).write.mode("overwrite").parquet(dir); None }
        catch { case e: Throwable => Some(e.toString.take(300)) }
      Map("name" -> n, "dir" -> dir, "oracle" -> SparkEntry.oracleSql.get(n), "error" -> err)
    }
  }

  def pass(run: Run): Unit =
    for (n <- Workloads.order(names, seed, run.pass))
      run.op(n, "query", Workloads.moduleOf(n)) { p =>
        val df = p("build")(qs(n)(spark, sf))
        run.built(df)
        p("exec")(Timed.materialize(df))
      }

  def check(): (String, Int) =
    (Json(Map("kind" -> "queries", "sf" -> sf, "queries" -> checked)),
      checked.count(_("error") != None))
}

/** The paper's pipeline for each of the nine non-array tables:
  * ParquetSource.read → SchemaMapper.createTableSql → JdbcSink.write into
  * a fresh in-memory Derby database per pass, with at most `cores`
  * connections. Each pass is read back over JDBC (row count and the sum
  * of every numeric column) outside the timed ops. */
final class Ingest(env: Env) extends Workload {
  import env._
  private val verified = ArrayBuffer[Map[String, Any]]()
  private var rows = 0L

  private def url(db: String) = s"jdbc:derby:memory:$db"
  private def props = new java.util.Properties()
  private def sink(db: String) = new JdbcSink(url(db), props, batchSize = 1000, numPartitions = cores)

  private def createDb(db: String): Unit =
    java.sql.DriverManager.getConnection(url(db) + ";create=true").close()
  private def dropDb(db: String): Unit =
    try java.sql.DriverManager.getConnection(url(db) + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception

  /** Boots Derby and warms the whole pipeline on every table at sf0.01. */
  def setup(): Unit = {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    createDb("pbwarm")
    for (t <- Pinned.ingestTables) {
      val df = ParquetSource.read(spark, s"$data/sf0.01/$t.parquet")
      SchemaMapper.createTableSql(t, df.schema)
      sink("pbwarm").write(df, t, SaveMode.Append)
    }
    dropDb("pbwarm")
  }

  def pass(run: Run): Unit = {
    val db = s"pb${run.pass}"
    createDb(db)
    for (t <- Workloads.order(Pinned.ingestTables, seed, run.pass)) {
      val path = s"$sf/$t.parquet"
      run.op(t, "ingest", "sources") { p =>
        val df = p("read")(ParquetSource.read(spark, path))
        p("ddl")(SchemaMapper.createTableSql(t, df.schema))
        p("write")(sink(db).write(df, t, SaveMode.Append))
      }
      if (run.traced)
        run.op(t, "decode", "sources", timed = false) { p =>
          p("decode")(Timed.materialize(ParquetSource.read(spark, path)))
        }
    }
    verify(run, db)
    run.heap.sample()
    dropDb(db)
  }

  /** Row count and numeric-column sums of every landed table. */
  private def verify(run: Run, db: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url(db))
    try for (t <- Pinned.ingestTables) {
      val numeric = ParquetSource.read(spark, s"$sf/$t.parquet").schema.fields.collect {
        case f if f.dataType.isInstanceOf[NumericType] => f.name
      }
      val sql = ("COUNT(*)" +: numeric.map(n => s"""SUM(CAST("$n" AS DOUBLE))"""))
        .mkString(s"SELECT ", ", ", s" FROM $t")
      val r = c.createStatement().executeQuery(sql)
      r.next()
      val n = r.getLong(1)
      rows += n
      verified += Map("pass" -> run.pass, "table" -> t, "rows" -> n,
        "sums" -> numeric.zipWithIndex.map { case (f, i) => f -> r.getDouble(i + 2) }.toMap)
    } finally c.close()
  }

  override def rowsPerPass: Long = rows / math.max(1, verified.map(_("pass")).distinct.size)

  def check(): (String, Int) =
    (Json(Map("kind" -> "ingest", "sf" -> sf, "tables" -> verified)), 0)
}

/** A snapshot-log table churned by merge-on-read mutations: seed orders,
  * then 3 rounds of deleteMor/updateMor/patchMor on ~1 % of the keys each
  * (seed-chosen) plus a materialized readMor, then compactMor and a final
  * read. Checked against an expected state computed with plain DataFrame
  * operations. */
final class Lake(env: Env) extends Workload {
  import env._
  private val key = "o_orderkey"
  private val rounds = 3
  private val share = 0.01
  private var orders: DataFrame = _
  private var byKey: Map[Long, Row] = _
  private var keys: IndexedSeq[Long] = _
  private var lastPass: Option[(String, Seq[(String, DataFrame)], Long, Long)] = None
  val snapshot = ArrayBuffer[(Int, String, Long, Int)]() // pass, op, bytes written, files live

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def setup(): Unit = {
    orders = Tables.orders(spark, sf)
    val all = orders.collect()
    byKey = all.map(r => r.getAs[Long](key) -> r).toMap
    keys = all.map(_.getAs[Long](key)).sorted.toIndexedSeq
    val warm = s"$work/lake/warm"
    val small = Tables.orders(spark, warmSf)
    CdcStream.seedTarget(spark, warm, small, key)
    val k = small.select(key).limit(5)
    SnapshotLog.deleteMor(spark, warm, k, key)
    SnapshotLog.updateMor(spark, warm, small.limit(5), key)
    SnapshotLog.patchMor(spark, warm, small.select(col(key), col("o_orderstatus")).limit(5), key)
    Timed.materialize(SnapshotLog.readMor(spark, warm, SnapshotLog.currentVersion(spark, warm), key))
    SnapshotLog.compactMor(spark, warm, key)
  }

  /** Mutation batches of one pass, as local relations built before any
    * timed op: (op, batch) in the seed's order. */
  private def batches(pass: Int): Seq[Seq[(String, DataFrame)]] = {
    val rnd = new Random(seed * 7919L + pass)
    val n = math.max(1, (keys.size * share).toInt)
    def pick() = Seq.fill(n)(keys(rnd.nextInt(keys.size))).distinct
    val keySchema = StructType(Seq(StructField(key, LongType)))
    val patchSchema = StructType(Seq(StructField(key, LongType), StructField("o_orderstatus", StringType)))
    (1 to rounds).map { r =>
      val del = local(pick().map(Row(_)), keySchema)
      val upd = local(pick().map { k =>
        val b = byKey(k)
        Row.fromSeq(orders.schema.fieldNames.toSeq.map {
          case "o_totalprice" => b.getAs[Double]("o_totalprice") + r
          case "o_orderpriority" => s"$r-UPDATED"
          case f => b.getAs[Any](f)
        })
      }, orders.schema)
      val pat = local(pick().map(k => Row(k, s"P$r")), patchSchema)
      rnd.shuffle(Seq("delete" -> del, "update" -> upd, "patch" -> pat))
    }
  }

  override def rowsPerPass: Long =
    keys.size + rounds * 3L * math.max(1, (keys.size * share).toInt)

  private def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) return 0L
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum
    finally s.close()
  }

  def pass(run: Run): Unit = {
    val table = s"$work/lake/p${run.pass}"
    val plan = batches(run.pass)
    def v() = SnapshotLog.currentVersion(spark, table)
    def live(): Int = SnapshotLog.readManifest(spark, table, v()).map(m =>
      m.files.size + m.deletes.size + m.updates.size + m.patches.size).getOrElse(0)
    def commit(name: String)(body: => Any): Unit = {
      val before = if (run.traced) dirBytes(table) else 0L
      run.op(name, "commit", "SnapshotLog") { p => p("commit")(body) }
      if (run.traced) snapshot += ((run.pass, name, dirBytes(table) - before, live()))
    }
    def read(name: String): Unit =
      run.op(name, "read", "SnapshotLog") { p =>
        val df = p("build")(SnapshotLog.readMor(spark, table, v(), key))
        run.built(df)
        p("exec")(Timed.materialize(df))
      }
    commit("seed")(CdcStream.seedTarget(spark, table, orders, key))
    for ((round, r) <- plan.zipWithIndex) {
      for ((op, df) <- round) op match {
        case "delete" => commit(s"delete${r + 1}")(SnapshotLog.deleteMor(spark, table, df, key))
        case "update" => commit(s"update${r + 1}")(SnapshotLog.updateMor(spark, table, df, key))
        case "patch" => commit(s"patch${r + 1}")(SnapshotLog.patchMor(spark, table, df, key))
      }
      read(s"read${r + 1}")
    }
    val lastRead = v()
    commit("compact")(SnapshotLog.compactMor(spark, table, key))
    read("read_final")
    lastPass = Some((table, plan.flatten, lastRead, v()))
  }

  /** The state the mutations must leave, computed without SnapshotLog:
    * deletes drop keys, updates upsert whole rows, patches overwrite one
    * column of keys still present. */
  private def expected(plan: Seq[(String, DataFrame)]): DataFrame =
    plan.foldLeft(orders) { case (st, (op, b)) => op match {
      case "delete" => st.join(b, Seq(key), "left_anti")
      case "update" => st.join(b.select(key), Seq(key), "left_anti").unionByName(b)
      case "patch" =>
        st.join(b.withColumnRenamed("o_orderstatus", "__p"), Seq(key), "left_outer")
          .withColumn("o_orderstatus", coalesce(col("__p"), col("o_orderstatus")))
          .drop("__p")
    }}

  def check(): (String, Int) = {
    val (ok, detail) = lastPass match {
      case None => (false, "no pass completed")
      case Some((table, plan, lastRead, finalV)) =>
        try {
          val cols = orders.columns.map(col).toSeq
          val fin = SnapshotLog.readMor(spark, table, finalV, key).select(cols: _*)
          val last = SnapshotLog.readMor(spark, table, lastRead, key).select(cols: _*)
          val exp = expected(plan).select(cols: _*)
          val same = (a: DataFrame, b: DataFrame) => a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
          val m = SnapshotLog.readManifest(spark, table, finalV).get
          val compacted = m.deletes.isEmpty && m.updates.isEmpty && m.patches.isEmpty
          val vsExpected = same(fin, exp)
          val vsLast = same(fin, last)
          (compacted && vsExpected && vsLast,
            s"compacted=$compacted final==expected:$vsExpected final==lastReadMor:$vsLast")
        } catch { case e: Throwable => (false, e.toString.take(300)) }
    }
    (Json(Map("kind" -> "lake", "sf" -> sf, "ok" -> ok, "detail" -> detail)), if (ok) 0 else 1)
  }
}
