package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}

/** Lake maintenance — the rewrite operations a 100 TB parquet lake
  * runs continuously plus the file-statistics index that makes the
  * rewritten layout cheap to query, none of which the reference has
  * any notion of (it reads one file straight through,
  * `/root/reference/src/main.rs:52`):
  *
  *   - **i09 compaction**: streaming/micro-batch ingest leaves each
  *     partition directory full of small files (here: the partitioned
  *     layout's up-to-32 shuffle outputs per year). Small files are
  *     the classic lake killer — per-file open/footer overhead
  *     dominates, and at 100 TB a listing of tens of millions of
  *     files breaks planning long before IO. Compaction rewrites each
  *     partition to one (or a few target-sized) file(s), sorted
  *     within the partition on the query-dominant column so row-group
  *     min/max stats become selective.
  *   - **i10 z-order clustering**: single-column sorting only helps
  *     filters on THAT column. Interleaving the bits of two dimension
  *     keys (Morton / z-order curve — the technique behind Delta
  *     OPTIMIZE ZORDER BY and Hudi/Iceberg clustering) and
  *     range-partitioning on the interleaved value gives every file a
  *     narrow min/max envelope on BOTH dimensions, so parquet
  *     row-group stats prune box queries on either or both.
  *
  * Both layouts are materialized once per (source stamp) under the
  * tmpfs scratch dir and re-used across JVMs; the queries then READ
  * the maintained layout and aggregate — so the oracle checks that the
  * rewrite is lossless (counts + DECIMAL checksums), while
  * LakeMaintenanceSpec asserts the layout properties themselves
  * (file-per-partition, per-file dimension spans).
  */
object LakeMaintenance extends QueryModule {

  /** Z-ordered layout sizing: the file count is proportional to input
    * bytes (~1 GiB target files — the Delta OPTIMIZE shape), floored at
    * [[MinZFiles]] so the range partitioning stays wide enough to
    * parallelize on a cluster even for a small table. At 100 TB the
    * bytes term dominates (≈100k files); on the MB-scale fixtures the
    * floor dominates and the layout is exactly the spec-pinned 64. */
  val MinZFiles = 64
  val TargetZFileBytes: Long = 1L << 30

  /** ceil(bytes / target), floored at MinZFiles. */
  def zFileCount(inputBytes: Long): Int = {
    val proportional = (inputBytes + TargetZFileBytes - 1) / TargetZFileBytes
    math.max(MinZFiles.toLong, proportional).min(Int.MaxValue).toInt
  }

  private def stamped(s: SparkSession, d: String, name: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(s"$d/orders.parquet")
    val st = fs.getFileStatus(src)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_") +
      s"_${st.getModificationTime}_${fs.getContentSummary(src).getLength}"
    graft.LocalScratch.scratchDir + s"/graft_${name}_$tag"
  }

  private def success(s: SparkSession, dir: String): Boolean =
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS"))

  /** Compact the small-file partitioned layout: one file per year,
    * rows sorted by o_orderdate inside it. `repartition(col)` routes
    * every row of a year to exactly one task, so each partition
    * directory gets exactly one output file — the degenerate
    * (small-SF) case of "repartition to ceil(bytes/target) files".
    * Returns the compacted layout path. */
  def compactedOrders(s: SparkSession, d: String): String = {
    val dir = stamped(s, d, "compacted")
    if (!success(s, dir)) {
      val smallFiles = PartitionedLayout.ordersPartitioned(s, d)
      s.read.parquet(smallFiles)
        .repartition(col("o_year"))
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite").partitionBy("o_year").parquet(dir)
    }
    dir
  }

  /** i09: read the COMPACTED layout and roll up per year — proves the
    * rewrite lost nothing (counts + checksum vs the source oracle).
    * The layout property (1 file/partition) is asserted in
    * LakeMaintenanceSpec, where a filesystem fact belongs. */
  def compactionRollup(s: SparkSession, d: String): DataFrame =
    s.read.parquet(compactedOrders(s, d))
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType)
          .as("revenue"))
      .orderBy("o_year")

  /** Spread the low 16 bits of `x` to even bit positions (classic
    * Morton interleave, 4 shift-or-mask rounds — pure codegen'd
    * integer ops, no UDF). */
  private def spread16(x: Column): Column = {
    val a = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val c = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
    (c.bitwiseOR(shiftleft(c, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Normalize a numeric column to 0..65535 given its [min, max]. The
    * mapping only drives LAYOUT (which file a row lands in), never a
    * query answer, so double arithmetic is fine. */
  private def norm16(x: Column, min: Double, max: Double): Column =
    least(lit(65535L), floor((x.cast(DoubleType) - lit(min)) /
      lit(math.max(max - min + 1e-9, 1e-9)) * lit(65536.0)).cast(LongType))

  /** Z-order the orders table on (o_custkey, o_orderdate): interleave
    * the two normalized 16-bit keys and range-partition on the Morton
    * value, so every output file covers a narrow rectangle of the
    * (customer, date) plane. Dimension bounds come from one 1-row
    * aggregate — the bounded driver-side consumption pattern (same
    * class as a06's sketch read), NOT a per-row collect. */
  def zorderedOrders(s: SparkSession, d: String): String = {
    // sizing constants folded into the stamp (the Bucketing/minhash-
    // index convention): changing MinZFiles/TargetZFileBytes must
    // invalidate a persisted layout, not silently reattach it
    val dir = stamped(s, d, s"zorder_f${MinZFiles}t${TargetZFileBytes >> 20}")
    if (!success(s, dir)) {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      val nFiles = zFileCount(fs.getContentSummary(
        new org.apache.hadoop.fs.Path(s"$d/orders.parquet")).getLength)
      val o = Tables.orders(s, d)
        .withColumn("o_orderdate_day",
          datediff(col("o_orderdate").cast(DateType), lit("1990-01-01").cast(DateType))
            .cast(LongType))
      val bounds = o.agg(
        min(col("o_custkey")), max(col("o_custkey")),
        min(col("o_orderdate_day")), max(col("o_orderdate_day"))).head()
      val (ck0, ck1) = (bounds.getLong(0).toDouble, bounds.getLong(1).toDouble)
      val (dd0, dd1) = (bounds.getLong(2).toDouble, bounds.getLong(3).toDouble)
      val z = spread16(norm16(col("o_custkey"), ck0, ck1))
        .bitwiseOR(shiftleft(spread16(norm16(col("o_orderdate_day"), dd0, dd1)), 1))
      o.withColumn("zval", z)
        .drop("o_orderdate_day")
        .repartitionByRange(nFiles, col("zval"))
        .sortWithinPartitions("zval")
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** i10: box query over the z-ordered layout — customers 100–500 in
    * H1-1996. Parquet row-group stats on BOTH dimensions are narrow
    * per file (LakeMaintenanceSpec asserts the spans), so the scan
    * prunes most row groups; the oracle proves the clustered copy
    * answers exactly like the source table. */
  def zorderBoxQuery(s: SparkSession, d: String): DataFrame = {
    val lo = java.time.LocalDateTime.parse("1996-01-01T00:00:00")
    val hi = java.time.LocalDateTime.parse("1996-07-01T00:00:00")
    graft.Tables.parquetDir(s, zorderedOrders(s, d))
      .filter(col("o_custkey").between(100L, 500L) &&
        col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType)
          .as("revenue"),
        coalesce(countDistinct(col("o_custkey")), lit(0L)).as("n_custs"))
  }

  /** Zone-map (file-statistics) index over the z-ordered layout: one
    * row per data file with the min/max envelope of the two clustered
    * dimensions plus a row count — the manifest-stats pattern every
    * table format keeps (Iceberg manifests, Delta Add.stats, Hudi
    * column_stats). Parquet row-group stats (i10) prune INSIDE files
    * the scan already opened; the zone map prunes files BEFORE the
    * scan plans, which at 100 TB is the difference between planning
    * over ~100k file entries and opening ~100k footers. Built with one
    * linear pass (`_metadata.file_path` group-by — no footer parsing,
    * no driver loop) and persisted next to the layout, re-used across
    * JVMs via the same source stamp. */
  def zoneMapIndex(s: SparkSession, d: String): String = {
    // the stamp carries BOTH the sizing constants (a re-sized layout
    // must never pair with a stale index) and a fingerprint of the
    // layout's actual file listing: if the z-ordered dir is deleted
    // and rebuilt (fresh part-file UUIDs) while an old index dir
    // survives, the fingerprint changes and the index rebuilds instead
    // of returning dangling paths. The listing is one fs.listStatus
    // over ~zFileCount entries — the same metadata footprint any
    // file-source scan already pays.
    val layout = zorderedOrders(s, d)
    val dir = stamped(s, d,
      s"zonemap_f${MinZFiles}t${TargetZFileBytes >> 20}_l${layoutFingerprint(s, layout)}")
    if (!success(s, dir)) {
      fileStats(s.read.parquet(layout))
        .coalesce(1) // index is 1 row per data file — single tiny file
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  /** Stable hex fingerprint of a layout directory's data-file listing
    * (names + lengths, sorted). Two materializations of the same
    * logical layout differ (part-file UUIDs), so an index stamped with
    * this can only ever attach to the exact files it indexed. */
  private[graft] def layoutFingerprint(s: SparkSession, dir: String): String = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      s.sparkContext.hadoopConfiguration)
    val listing = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(st => s"${st.getPath.getName}:${st.getLen}")
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(listing.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** Per-file stats rows for any orders-shaped scan — the zone map's
    * one aggregation, factored so INCREMENTAL maintenance reuses it:
    * per-file stats are embarrassingly decomposable, so appending a
    * shard of files to the layout updates the index with
    * `fileStats(read(shardDir))` unioned onto the existing rows —
    * O(appended bytes), never a table rescan. At 100 TB this is the
    * difference between a daily index refresh costing one day's
    * ingest and costing the whole lake (the Iceberg incremental-
    * manifest / Delta Add.stats-on-commit behavior).
    * LakeMaintenanceSpec pins incremental-update ≡ full-rebuild. */
  def fileStats(scan: DataFrame): DataFrame =
    scan.groupBy(col("_metadata.file_path").as("file"))
      .agg(min(col("o_custkey")).as("ck_min"), max(col("o_custkey")).as("ck_max"),
        min(col("o_orderdate")).as("od_min"), max(col("o_orderdate")).as("od_max"),
        count(lit(1)).as("n_rows"))

  /** Files of the z-ordered layout whose [min, max] envelope overlaps
    * the query box. The collect is bounded by the FILE count (=
    * [[zFileCount]], ~1 entry/GiB — ~100k strings at 100 TB), the
    * same driver-side footprint Spark's own `InMemoryFileIndex`
    * carries for any file-source scan; the zone map hands the planner
    * a shorter list, never a longer one. */
  private[graft] def overlappingFiles(s: SparkSession, d: String,
      ckLo: Long, ckHi: Long,
      odLo: java.time.LocalDateTime, odHi: java.time.LocalDateTime): Seq[String] =
    graft.Tables.parquetDir(s, zoneMapIndex(s, d))
      .filter(col("ck_max") >= ckLo && col("ck_min") <= ckHi &&
        col("od_max") >= lit(odLo) && col("od_min") < lit(odHi))
      .select(col("file")).collect().toIndexedSeq.map(_.getString(0)).sorted

  /** i11: the i10-style box query executed through zone-map file
    * pruning — scan ONLY the overlapping files, then apply the exact
    * residual predicate (zone maps are a superset filter, so the
    * residual keeps the answer exact; the oracle proves it against
    * the unclustered source table). LakeMaintenanceSpec asserts the
    * pruning actually bites (pruned file list ≪ layout file count)
    * and that the pruned scan equals the unpruned one. */
  def zoneMapPrunedBox(s: SparkSession, d: String): DataFrame = {
    val lo = java.time.LocalDateTime.parse("1995-07-01T00:00:00")
    val hi = java.time.LocalDateTime.parse("1996-01-01T00:00:00")
    val (ckLo, ckHi) = (1000L, 1400L)
    val files = overlappingFiles(s, d, ckLo, ckHi, lo, hi)
    val scan =
      if (files.isEmpty) graft.Tables.parquetDir(s, zorderedOrders(s, d)).limit(0)
      else SnapshotLog.footerSparkSchema(s, files.head) match {
        // zone-pruned file lists are slices of the homogeneous
        // z-ordered layout: first footer's metadata schema covers the
        // read with zero inference jobs, inferring read as fallback
        case Some(st) => s.read.schema(st).parquet(files: _*)
        case None => s.read.parquet(files: _*)
      }
    scan
      .filter(col("o_custkey").between(ckLo, ckHi) &&
        col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType)
          .as("revenue"),
        coalesce(countDistinct(col("o_custkey")), lit(0L)).as("n_custs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i09_compaction" -> ((s, d) => compactionRollup(s, d)),
    "i10_zorder_box" -> ((s, d) => zorderBoxQuery(s, d)),
    "i11_zonemap_prune" -> ((s, d) => zoneMapPrunedBox(s, d))
  )

  val oracle: Map[String, String] = Map(
    // the oracle reads the SOURCE table: if compaction dropped,
    // duplicated or corrupted one row, a count or checksum splits
    "i09_compaction" -> """
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders
      GROUP BY 1 ORDER BY 1""",

    "i10_zorder_box" -> """
      SELECT COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        COUNT(DISTINCT o_custkey) AS n_custs
      FROM orders
      WHERE o_custkey BETWEEN 100 AND 500
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'""",

    // i11 reads only zone-map-selected files; the oracle reads the
    // whole source table — a green hash proves file pruning is a
    // pure optimization, never a filter
    "i11_zonemap_prune" -> """
      SELECT COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        COUNT(DISTINCT o_custkey) AS n_custs
      FROM orders
      WHERE o_custkey BETWEEN 1000 AND 1400
        AND o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'"""
  )
}
