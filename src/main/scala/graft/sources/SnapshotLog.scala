package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryModule, Tables}

/** Snapshot / time-travel manifest over parquet layouts — the atomic
  * commit-log pattern of Iceberg metadata files and the Delta
  * transaction log, and the one lake capability the i09–i12 layer
  * (compaction, z-order, zone maps) still lacked. The reference has no
  * notion of table versions at all (it reads one file straight
  * through, `/root/reference/src/main.rs:52`); every production lake
  * needs them, because at 100 TB "the table" is tens of thousands of
  * files mutated by concurrent compactors, appenders and CDC appliers,
  * and the ONLY consistent view is "the file list some committed
  * manifest names".
  *
  * Design (the Iceberg/Delta core, re-expressed minimally):
  *   - A table is a directory: data files under `data/<writeId>/`,
  *     an append-only log under `_log/` with one immutable manifest
  *     per version (`v00000001`, `v00000002`, …).
  *   - A manifest is a self-validating text file: header
  *     (version/parent/op), one `f:<path>\t<len>` line per data file,
  *     and a trailing `end` sentinel — a reader that sees no `end`
  *     treats the file as an in-flight torn write and ignores it.
  *   - **Commit = atomically creating the next version file.** On
  *     POSIX (`file:` scheme) that is CREATE_NEW (O_CREAT|O_EXCL);
  *     on HDFS, `fs.create(path, overwrite=false)` is atomic at the
  *     NameNode. Two concurrent writers racing for `v(N+1)`: exactly
  *     one create succeeds; the loser re-reads the current version
  *     and either retries at N+2 (append mode — last commit wins the
  *     higher version, nothing is lost) or aborts (optimistic
  *     expected-parent mode, the Iceberg conflict check). Object
  *     stores without atomic create need a catalog/lock service —
  *     exactly the caveat Iceberg documents; the FS contract is
  *     isolated in [[publishAtomic]].
  *   - **Data files are immutable and never deleted by commits** —
  *     a rewrite (compaction) writes NEW files and commits a manifest
  *     naming them; old versions keep reading their own file list
  *     bit-identically. A losing writer's orphaned data files are
  *     garbage, not corruption (Iceberg's `remove_orphan_files`
  *     semantics).
  *
  * Scale: a manifest at 100 TB is ~100k `f:` lines — a few MB of
  * text read once per query plan, replacing a recursive directory
  * listing over the same 100k objects; commit cost is O(files in the
  * snapshot) bytes and ONE atomic create, independent of data size.
  * Readers plan from `read(table, v)` = `spark.read.parquet(files…)`,
  * so pushdown/pruning/AQE all apply unchanged.
  */
object SnapshotLog extends QueryModule {

  /** `stats` carries optional per-file [min, max] of one integral
    * column (`s:` manifest lines) — the Iceberg scan-planning stats
    * that let a reader skip files whose range misses its predicate
    * WITHOUT opening any footer. `deletes` carries merge-on-read
    * equality-delete files (`d:` lines): small parquet files holding
    * deleted key values that readers anti-join at scan time, so a
    * delete commit is O(deleted keys), never a data-file rewrite
    * (Iceberg v2 MOR). `updates` carries merge-on-read equality-UPDATE
    * files (`u:` lines, the Hudi MOR log-file shape): small parquet
    * files of FULL replacement rows that readers overlay latest-wins
    * at scan time, so an update commit is O(updated rows), never a
    * data-file rewrite. `seqs` gives each mutation file (delete or
    * update) its commit SEQUENCE — the Iceberg data-sequence-number
    * idea, minimally: per key the highest-seq mutation wins, so a
    * delete after an update retracts it and an update after a delete
    * re-inserts, without any reader-side guessing (legacy lines
    * without a seq field parse as seq 0; data rows are implicitly
    * seq 0, masked by ANY mutation on their key). `ndv` carries
    * optional per-file HLL sketch blobs (base64, `n:` lines) of one
    * key column — the Iceberg Puffin / Theta-sketch pattern: a
    * table-level distinct-count estimate is then a union-merge of the
    * blobs already in the manifest, NO data scan (see [[fileNdv]] /
    * i25). `schema` persists the TABLE schema (Spark StructType JSON,
    * `schema:` line) at commit time — the Delta pattern: rewrites
    * project to it, so schema evolution survives writers that never
    * pass a mergeSchema flag. All are optional line types older
    * manifests simply lack and prefix-filtering parsers ignore — the
    * format stays forward- and backward-compatible. */
  case class Manifest(version: Long, parent: Long, op: String,
      files: Seq[(String, Long)],
      stats: Map[String, (Long, Long)] = Map.empty,
      deletes: Seq[(String, Long)] = Nil,
      ndv: Map[String, String] = Map.empty,
      updates: Seq[(String, Long)] = Nil,
      seqs: Map[String, Long] = Map.empty,
      schema: Option[String] = None,
      ts: Long = 0L, // commit-time epoch millis (`ts:` line; 0 = legacy)
      // partial-column patch files (`p:` lines, u11): each carries
      // (key + a SUBSET of columns); readers coalesce per column by
      // sequence (readPatched). Prefix-filter parsing keeps older
      // builds' manifests compatible (they simply have no p: lines).
      patches: Seq[(String, Long)] = Nil)

  /** Every on-disk file a manifest references — data, delete, update
    * AND patch files. The single definition expire's reference
    * counting and orphan listing share, so a new mutation-file type
    * can never be reclaimed out from under a live snapshot by a
    * cleanup path that predates it. */
  private def refFiles(m: Manifest): Seq[(String, Long)] =
    m.files ++ m.deletes ++ m.updates ++ m.patches

  /** Thrown in expected-parent mode when another writer committed
    * first — the caller re-reads table state and re-plans (the
    * optimistic-concurrency contract). */
  final class SnapshotConflict(msg: String) extends RuntimeException(msg)

  private def fsOf(s: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)

  private def logDir(table: String) = s"$table/_log"
  private def vPath(table: String, v: Long) =
    new org.apache.hadoop.fs.Path(f"${logDir(table)}/v$v%08d")

  // -----------------------------------------------------------------
  // Version discovery — the Delta `_last_checkpoint` pattern.
  //
  // A manifest here is already SELF-CONTAINED (it names the full file
  // list, not a delta of actions), so the log-replay problem Delta's
  // checkpoint parquet solves does not arise: readAt is one manifest
  // read at any history length. What WAS O(versions) is discovery —
  // finding the current version listed the whole `_log` directory on
  // every commit attempt, every CDC probe, every fixture check; at
  // 10^5 commits that is a 10^5-entry listing per call against an
  // object store. `_log/_last_checkpoint` pins a recently-committed
  // version; discovery verifies it and probes FORWARD (existence
  // checks) to catch commits that landed after the pointer was
  // written — O(commits since the pointer) instead of O(history).
  // The pointer is advisory: missing, torn, or stale-past-expiry
  // pointers fall back to the full listing, which remains the
  // correctness anchor (SnapshotLogSpec pins agreement + read counts).
  // -----------------------------------------------------------------

  /** Manifest reads spent by the last [[currentVersion]] call, and
    * whether it fell back to the directory listing — exposed for the
    * discovery-cost spec (observability, not state). */
  @volatile private[graft] var lastVersionDiscoveryReads: Int = -1
  @volatile private[graft] var lastVersionDiscoveryListed: Boolean = false

  private def ckptPath(table: String) =
    new org.apache.hadoop.fs.Path(s"${logDir(table)}/_last_checkpoint")

  private def readCkptHint(s: SparkSession, table: String): Option[Long] = {
    val fs = fsOf(s); val p = ckptPath(table)
    if (!fs.exists(p)) return None
    scala.util.Try {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = text.split("\n").filter(_.nonEmpty)
      require(lines.length == 2 && lines(1) == "end", "torn checkpoint pointer")
      lines(0).toLong
    }.toOption
  }

  /** Best-effort pointer update (temp + rename; a loss or crash only
    * costs the next reader its shortcut, never correctness). A stale
    * CONCURRENT update landing after ours is equally fine — forward
    * probing absorbs any lag. */
  private def writeCkptHint(s: SparkSession, table: String, v: Long): Unit =
    try {
      val fs = fsOf(s)
      val dst = ckptPath(table)
      val tmp = new org.apache.hadoop.fs.Path(
        dst.getParent, s"._last_checkpoint.tmp-${java.util.UUID.randomUUID}")
      val out = fs.create(tmp, false)
      try out.write(s"$v\nend".getBytes("UTF-8")) finally out.close()
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
    } catch { case _: java.io.IOException => () }

  /** Highest version with a VALID (end-sentinel-complete) manifest;
    * 0 when the table has no committed snapshot. Torn or garbage
    * version files are skipped — they are in-flight or failed
    * commits, not table state.
    *
    * Fast path: verify the `_last_checkpoint` hint, then probe
    * forward (file-existence checks; squatter files are stepped over,
    * validity tracked separately) until the numbering runs out — no
    * directory listing, O(commits since the pointer) manifest reads.
    * Fallback (no/torn/expired-past pointer): list `_log` and probe
    * version numbers DESCENDING, returning the first valid manifest
    * (first-valid-from-the-top ≡ max-over-valid). */
  def currentVersion(s: SparkSession, table: String): Long = {
    val fs = fsOf(s)
    readCkptHint(s, table) match {
      case Some(h) if readManifest(s, table, h).isDefined =>
        var reads = 1
        var best = h
        var probe = h + 1
        while (fs.exists(vPath(table, probe))) {
          reads += 1
          if (readManifest(s, table, probe).isDefined) best = probe
          probe += 1
        }
        lastVersionDiscoveryReads = reads
        lastVersionDiscoveryListed = false
        best
      case _ => currentVersionByListing(s, table)
    }
  }

  private[graft] def currentVersionByListing(s: SparkSession, table: String): Long = {
    val fs = fsOf(s)
    lastVersionDiscoveryListed = true
    lastVersionDiscoveryReads = 0
    val dir = new org.apache.hadoop.fs.Path(logDir(table))
    if (!fs.exists(dir)) return 0L
    fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong)
      .toArray.sorted(Ordering[Long].reverse)
      .find { v =>
        lastVersionDiscoveryReads += 1
        readManifest(s, table, v).isDefined
      }
      .getOrElse(0L)
  }

  /** Parse one manifest; None when absent or torn (no `end`). */
  def readManifest(s: SparkSession, table: String, v: Long): Option[Manifest] = {
    val fs = fsOf(s)
    val p = vPath(table, v)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, "UTF-8")
    } finally in.close()
    val lines = text.split("\n", -1).toIndexedSeq
    if (!lines.contains("end")) return None // torn write — not committed
    def field(k: String): Option[String] =
      lines.find(_.startsWith(s"$k:")).map(_.drop(k.length + 1))
    for {
      ver <- field("version").map(_.toLong)
      par <- field("parent").map(_.toLong)
      op  <- field("op")
    } yield {
      val committed = lines.takeWhile(_ != "end")
      // mutation lines (d:/u:) optionally carry a trailing seq field;
      // legacy d: lines without one parse as seq 0
      def mutLines(prefix: String): (Seq[(String, Long)], Map[String, Long]) = {
        val parsed = committed.filter(_.startsWith(prefix)).map { l =>
          val parts = l.drop(2).split("\t", 3)
          (parts(0), parts(1).toLong,
            if (parts.length >= 3) parts(2).toLong else 0L)
        }
        (parsed.map(p => (p._1, p._2)),
          parsed.filter(_._3 != 0L).map(p => p._1 -> p._3).toMap)
      }
      val (dels, dSeqs) = mutLines("d:")
      val (upds, uSeqs) = mutLines("u:")
      val (pats, pSeqs) = mutLines("p:")
      Manifest(ver, par, op,
        committed.filter(_.startsWith("f:")).map { l =>
          val Array(path, len) = l.drop(2).split("\t", 2)
          (path, len.toLong)
        },
        committed.filter(_.startsWith("s:")).map { l =>
          val Array(path, mn, mx) = l.drop(2).split("\t", 3)
          path -> (mn.toLong, mx.toLong)
        }.toMap,
        dels,
        committed.filter(_.startsWith("n:")).map { l =>
          val Array(path, b64) = l.drop(2).split("\t", 2)
          path -> b64
        }.toMap,
        upds,
        dSeqs ++ uSeqs ++ pSeqs,
        field("schema"),
        field("ts").map(_.toLong).getOrElse(0L),
        patches = pats)
    }
  }

  private def render(m: Manifest): String = {
    def mutLine(prefix: String)(p: String, l: Long): String =
      m.seqs.get(p) match {
        case Some(q) => s"$prefix$p\t$l\t$q"
        case None => s"$prefix$p\t$l"
      }
    (Seq(s"graft-snapshot:1", s"version:${m.version}", s"parent:${m.parent}",
      s"op:${m.op}") ++
      (if (m.ts > 0L) Seq(s"ts:${m.ts}") else Nil) ++
      m.schema.map(js => s"schema:$js").toSeq ++
      m.files.map { case (p, l) => s"f:$p\t$l" } ++
      // stats only for files this manifest names — data AND mutation
      // files (merge proves disjointness from mutation-file ranges);
      // emission follows the manifest's own file order, so render is
      // deterministic and identical commits are byte-identical
      (m.files ++ m.deletes ++ m.updates ++ m.patches).flatMap { case (p, _) =>
        m.stats.get(p).map { case (mn, mx) => s"s:$p\t$mn\t$mx" } } ++
      m.files.flatMap { case (p, _) =>
        m.ndv.get(p).map(b64 => s"n:$p\t$b64") } ++
      m.deletes.map { case (p, l) => mutLine("d:")(p, l) } ++
      m.updates.map { case (p, l) => mutLine("u:")(p, l) } ++
      m.patches.map { case (p, l) => mutLine("p:")(p, l) } :+ "end")
      .mkString("\n")
  }

  /** Atomically create `path` with `content`, failing if it already
    * exists. `file:` scheme goes through java.nio CREATE_NEW — true
    * O_CREAT|O_EXCL, atomic under concurrent local writers (the test
    * harness case). Other schemes use `fs.create(overwrite=false)`,
    * which HDFS makes atomic at the NameNode. */
  private def publishAtomic(s: SparkSession, path: org.apache.hadoop.fs.Path,
      content: String): Unit = {
    val fs = fsOf(s)
    val uri = fs.makeQualified(path).toUri
    if (uri.getScheme == "file") {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(uri.getPath),
        content.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
    } else {
      val out = fs.create(path, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Commit `files` as the next snapshot. `expectedParent = Some(p)`
    * is the Iceberg optimistic check: the commit only lands if the
    * table is still at version p, else [[SnapshotConflict]] — use it
    * when `files` were DERIVED from version p (a rewrite). `None` is
    * blind-append mode: retry past losses until a version lands
    * (last committed writer simply wins the higher version number —
    * safe when the commit is self-contained, e.g. appending a shard).
    * Returns the committed version. */
  def commit(s: SparkSession, table: String, op: String,
      files: Seq[(String, Long)],
      expectedParent: Option[Long] = None,
      stats: Map[String, (Long, Long)] = Map.empty,
      deletes: Seq[(String, Long)] = Nil,
      ndv: Map[String, String] = Map.empty,
      updates: Seq[(String, Long)] = Nil,
      seqs: Map[String, Long] = Map.empty,
      schema: Option[String] = None,
      tsMillis: Option[Long] = None,
      patches: Seq[(String, Long)] = Nil): Long = {
    // the manifest format is line/tab-delimited: an op or path
    // carrying those characters would write a manifest that parses
    // into the WRONG file list — reject loudly instead
    require(!op.exists(c => c == '\n' || c == '\r' || c == '\t'),
      s"op must be single-line, got: ${op.take(80)}")
    (files ++ deletes ++ updates ++ patches).foreach { case (p, _) =>
      require(!p.exists(c => c == '\n' || c == '\r' || c == '\t'),
        s"file path contains manifest delimiters: ${p.take(120)}") }
    // a non-positive seq would tie with the implicit data-row seq 0
    // and make the latest-wins collapse ambiguous — reject it here
    seqs.foreach { case (p, q) =>
      require(q >= 1, s"mutation seq must be >= 1, got $q for $p") }
    // StructType.json is compact single-line JSON; anything else would
    // corrupt the line format
    schema.foreach(js =>
      require(!js.exists(c => c == '\n' || c == '\r' || c == '\t'),
        "schema JSON must be single-line (StructType.json)"))
    // an inverted range would silently prune a file that DOES contain
    // matching keys — the one failure mode advisory stats must not
    // have; reject it loudly at the source instead of trusting readers
    stats.foreach { case (p, (mn, mx)) =>
      require(mn <= mx, s"inverted stats range [$mn, $mx] for $p") }
    // sketch blobs are base64 (delimiter-free by construction) — a
    // raw blob with a tab/newline would corrupt the line format, and
    // a non-base64 blob would poison every READER at decode time, so
    // reject at the source. ASCII class check, not isLetterOrDigit:
    // the Unicode-aware predicate admits 'é'-class chars that base64
    // decode then throws on.
    ndv.foreach { case (p, b64) =>
      require(b64.nonEmpty && b64.forall(c =>
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == '+' || c == '/' || c == '='),
        s"ndv blob for $p is not base64") }
    fsOf(s).mkdirs(new org.apache.hadoop.fs.Path(logDir(table)))
    var attempt = math.max(currentVersion(s, table),
      expectedParent.getOrElse(0L)) + 1
    while (true) {
      expectedParent.foreach { p =>
        val cur = currentVersion(s, table)
        if (cur != p) throw new SnapshotConflict(
          s"table $table moved to v$cur while writer derived from v$p")
      }
      val m = Manifest(attempt, attempt - 1, op, files, stats, deletes, ndv,
        updates, seqs, schema,
        tsMillis.getOrElse(System.currentTimeMillis()), patches)
      try {
        publishAtomic(s, vPath(table, attempt), render(m))
        writeCkptHint(s, table, attempt) // advisory; loss = no shortcut
        return attempt
      } catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          // lost the race (or a garbage file squats on this number):
          // bump past BOTH the current valid version and the occupied
          // number, re-check the parent precondition, go again
          attempt = math.max(currentVersion(s, table), attempt) + 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Read the table AS OF snapshot `v` — plan over exactly the files
    * that manifest names (never a directory listing, so concurrent
    * rewrites and orphaned loser files are invisible).
    * `mergeSchema = true` is the schema-evolution read: rows from
    * pre-evolution files null-fill the added columns. When the
    * manifest persists the table schema (the Delta read-through-log
    * contract — every committed file was projected to the log schema
    * of its time, so columns only grow toward it), that schema is
    * handed to the reader directly: per-file null-fill is identical
    * to the footer union's, and the distributed footer-union job —
    * O(manifest files) per read at scale — never runs. Legacy
    * schema-less tables keep the honest footer merge, bounded by the
    * manifest's file list. The default (mergeSchema = false)
    * single-footer read is right for homogeneous snapshots. */
  def readAt(s: SparkSession, table: String, v: Long,
      mergeSchema: Boolean = false): DataFrame = {
    val m = readManifest(s, table, v).getOrElse(throw new IllegalArgumentException(
      s"no committed snapshot v$v in $table"))
    val files = m.files.map(_._1)
    m.schema match {
      case Some(js) =>
        // the persisted schema answers BOTH modes: it equals the
        // footer union (columns only grow toward the log schema), and
        // unlike the default read's arbitrary-footer sample it is
        // deterministic on heterogeneous snapshots. No inference job.
        s.read.schema(DataType.fromJson(js).asInstanceOf[StructType])
          .parquet(files: _*)
      case None =>
        s.read.option("mergeSchema", mergeSchema.toString).parquet(files: _*)
    }
  }

  // -----------------------------------------------------------------
  // Scan planning from manifest stats (the Iceberg min/max route) and
  // merge-on-read equality deletes (the Iceberg v2 delete-file route).
  // -----------------------------------------------------------------

  /** Files planned / skipped by the last [[readAtPruned]] call —
    * observability for the pruning spec and the i23 gate, mirroring
    * [[lastVersionDiscoveryReads]]. */
  @volatile private[graft] var lastPrunePlanned: Int = -1
  @volatile private[graft] var lastPruneSkipped: Int = -1

  /** Per-file [min, max] of an integral column, for carrying in a
    * commit's `stats`. Since r15 the ranges come from the files'
    * parquet FOOTERS when those can answer exactly (plain INT32/INT64
    * column with complete statistics — bit-identical to the scan's
    * min/max for an integral key): a footer read is driver-side
    * metadata IO, so every commit-time stats attach costs ZERO Spark
    * jobs — the r14-verdict "fuse the per-mutation stat jobs into the
    * writes" item. Any file the footer cannot decide (string/decimal
    * key, missing stats, unexpected type) falls back to the original
    * one-job column scan for the WHOLE list, so results never mix
    * provenance. The footer path is capped at 64 files — commit-time
    * callers hand it the 1-4 files they just wrote; a bulk historical
    * backfill keeps the distributed scan. */
  def fileStats(s: SparkSession, files: Seq[String],
      keyCol: String): Map[String, (Long, Long)] =
    if (files.isEmpty) Map.empty
    else footerStats(s, files, keyCol).getOrElse(fileStatsViaScan(s, files, keyCol))

  /** The pre-r15 distributed form: ONE column-only scan of `files`
    * grouped by `_metadata.file_path` — cost O(files × one column),
    * result bounded by file count (the a06 bounded-driver-read
    * class). Fallback when footers cannot answer exactly. */
  private[graft] def fileStatsViaScan(s: SparkSession, files: Seq[String],
      keyCol: String): Map[String, (Long, Long)] =
    s.read.parquet(files: _*)
      .select(col(keyCol).cast(org.apache.spark.sql.types.LongType).as("__k"),
        col("_metadata.file_path").as("__f"))
      .where(col("__k").isNotNull)
      .groupBy("__f").agg(min(col("__k")).as("mn"), max(col("__k")).as("mx"))
      .collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath ->
        (r.getLong(1), r.getLong(2)))
      .toMap

  /** All files' key ranges decided from footers alone, or None to fall
    * back to the scan. A file with zero rows (or an all-null key)
    * contributes no entry — exactly like the scan's isNotNull filter. */
  private def footerStats(s: SparkSession, files: Seq[String],
      keyCol: String): Option[Map[String, (Long, Long)]] = {
    if (files.size > 64) return None
    val per = files.map(f => footerKeyRange(s, f, keyCol).map(f -> _))
    if (per.exists(_.isEmpty)) None // some footer couldn't answer
    else Some(per.flatten.collect { case (f, Some(r)) =>
      new org.apache.hadoop.fs.Path(f).toUri.getPath -> r }.toMap)
  }

  /** One file's key range from its parquet footer. Outer None = the
    * footer cannot answer exactly (caller must scan); inner Option =
    * the decided answer (None ⟺ no non-null key values, matching the
    * scan's empty result). Exact only for plain signed INT32/INT64
    * (no DECIMAL/DATE logical annotation, whose cast-to-long semantics
    * differ from the raw stored values) with complete statistics. */
  private def footerKeyRange(s: SparkSession, file: String,
      keyCol: String): Option[Option[(Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        s.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val ranges = scala.collection.mutable.ListBuffer[(Long, Long)]()
        for (block <- reader.getFooter.getBlocks.asScala
             if block.getRowCount > 0) {
          val chunk = block.getColumns.asScala
            .find(_.getPath.toDotString == keyCol)
            .getOrElse(return None) // column absent ⇒ let the scan path decide (it throws, as before)
          val pt = chunk.getPrimitiveType
          val integral = (pt.getPrimitiveTypeName == INT64 ||
            pt.getPrimitiveTypeName == INT32) &&
            (pt.getLogicalTypeAnnotation match {
              case null => true
              case i: IntLogicalTypeAnnotation => i.isSigned
              case _ => false // DECIMAL/DATE/etc: cast-to-long differs
            })
          if (!integral) return None
          val st = chunk.getStatistics
          if (st == null) return None
          if (st.hasNonNullValue) {
            val (mn, mx) = st.genericGetMin match {
              case l: java.lang.Long =>
                (l.longValue, st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
              case i: java.lang.Integer =>
                (i.longValue, st.genericGetMax.asInstanceOf[java.lang.Integer].longValue)
              case _ => return None
            }
            ranges += ((mn, mx))
          } else if (!(st.isNumNullsSet && st.getNumNulls == block.getRowCount)) {
            return None // stats incomplete and not provably all-null
          }
        }
        if (ranges.isEmpty) Some(None)
        else Some(Some((ranges.map(_._1).min, ranges.map(_._2).max)))
      } finally reader.close()
    } catch { case _: Exception => None } // unreadable footer ⇒ scan decides
  }

  /** Per-file HLL sketch blobs of `keyCol`, base64 for the manifest's
    * `n:` lines — the Iceberg Puffin / Theta-sketch workflow: ONE
    * distributed aggregate over the files being committed (the same
    * job shape as [[fileStats]]), after which a table-level
    * distinct-count estimate is a union-merge of blobs already in the
    * manifest text — no data scan, ever again. Driver-side map is
    * file-count-bounded (the fileStats class), each blob ~1.5 KB. */
  def fileNdv(s: SparkSession, files: Seq[String],
      keyCol: String): Map[String, String] =
    if (files.isEmpty) Map.empty
    else s.read.parquet(files: _*)
      .select(col(keyCol).as("__k"), col("_metadata.file_path").as("__f"))
      .where(col("__k").isNotNull)
      .groupBy("__f").agg(hll_sketch_agg(col("__k")).as("sk"))
      .collect()
      .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toUri.getPath ->
        java.util.Base64.getEncoder.encodeToString(r.getAs[Array[Byte]]("sk")))
      .toMap

  /** Plan a snapshot read that SKIPS every file whose manifest-carried
    * [min, max] range on `keyCol` is disjoint from [lo, hi] — zero
    * footer opens, zero data IO for skipped files; the decision is
    * made entirely from the manifest text already in hand. Files
    * WITHOUT stats are conservatively kept, so stats are a pure
    * accelerator (pruning never affects correctness — the caller
    * still applies its own predicate; this only shrinks the file
    * list the scan plans over). At 100 TB this is the difference
    * between a point-range query opening 100k footers and opening
    * exactly the handful of files whose range can match. */
  def readAtPruned(s: SparkSession, table: String, v: Long, keyCol: String,
      lo: Long, hi: Long): DataFrame = {
    val m = readManifest(s, table, v).getOrElse(throw new IllegalArgumentException(
      s"no committed snapshot v$v in $table"))
    val kept = m.files.map(_._1).filter { p =>
      m.stats.get(p).forall { case (mn, mx) => mx >= lo && mn <= hi } }
    lastPrunePlanned = kept.size
    lastPruneSkipped = m.files.size - kept.size
    val base =
      if (kept.isEmpty) readAt(s, table, v).limit(0)
      else s.read.parquet(kept: _*)
    overlayDeletes(s, m, base)
  }

  /** MOR-delete overlay for CONSUMER read paths that resolve a
    * version by something other than an explicit readMor call (pruned
    * reads, tags, timestamps, the publish pointer): deleted rows must
    * not resurrect, and update files — whose key column these
    * signatures do not name — are REFUSED loudly rather than silently
    * served stale (readMor/compactMor are the update-aware paths).
    * The delete file is single-column by construction, which names
    * the equality key without the caller passing it. Plain [[readAt]]
    * deliberately stays the RAW file-list read (the MOR contract —
    * compaction-equivalence checks depend on it). */
  private def overlayDeletes(s: SparkSession, m: Manifest,
      base: DataFrame): DataFrame = {
    require(m.updates.isEmpty,
      s"snapshot v${m.version} carries MOR update files — read it through " +
        "readMor (or compactMor first); this path cannot overlay them")
    require(m.patches.isEmpty,
      s"snapshot v${m.version} carries partial-column patch files — read " +
        "it through readPatched (or compactMor first); this path cannot " +
        "coalesce them")
    if (m.deletes.isEmpty) base
    else {
      // all delete files of one table share the single-key schema by
      // construction (deleteMor writes `keys.select(key)`) — the first
      // footer's metadata schema covers the read, zero inference jobs
      val delFiles = m.deletes.map(_._1)
      val raw = footerSparkSchema(s, delFiles.head) match {
        case Some(st) => s.read.schema(st).parquet(delFiles: _*)
        case None => s.read.parquet(delFiles: _*)
      }
      val dk = raw.distinct()
      base.join(broadcast(dk), dk.columns.toSeq, "left_anti")
    }
  }

  /** Read a `$v\nend` version-pointer file: Some(v) when present and
    * well-formed, None when ABSENT; present-but-torn throws (fail
    * closed — a torn pointer mapped to "missing" would let expire
    * reclaim a referenced snapshot or a monotonic guard accept a
    * backwards move). One definition for the `_published`, `_tag-*`
    * and `_branchbase-*` pointers so the fail-closed contract cannot
    * drift per pointer type. */
  private def readVersionPointer(s: SparkSession,
      p: org.apache.hadoop.fs.Path, what: String): Option[Long] = {
    val fs = fsOf(s)
    if (!fs.exists(p)) return None
    scala.util.Try {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = text.split("\n").filter(_.nonEmpty)
      require(lines.length == 2 && lines(1) == "end", s"torn $what")
      Some(lines(0).toLong)
    }.getOrElse(throw new java.io.IOException(
      s"unreadable/torn $what — failing closed (restore or delete it " +
        "explicitly)"))
  }

  /** Replace a version-pointer file via tmp-create + OVERWRITING
    * rename (the `_published` pattern). Where the filesystem exposes
    * `FileContext` (local fs, HDFS) the swap is a single overwriting
    * rename — no window where the pointer reads as absent, so an
    * `expire` racing a `publish` can never observe publishedVersion=0
    * and skip the published-snapshot pin. Filesystems without an
    * AbstractFileSystem binding fall back to delete-then-rename;
    * there readers of a vanished pointer still fall back per their
    * own contract (publishedVersion → 0, branchBase → the branch
    * tag), never to garbage, because a partially-written tmp never
    * occupies the destination name. */
  private def writeVersionPointer(s: SparkSession,
      dst: org.apache.hadoop.fs.Path, v: Long, what: String): Unit = {
    val fs = fsOf(s)
    val tmp = new org.apache.hadoop.fs.Path(
      dst.getParent, s".${dst.getName}.tmp-${java.util.UUID.randomUUID}")
    val out = fs.create(tmp, false)
    try out.write(s"$v\nend".getBytes("UTF-8")) finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, s.sparkContext.hadoopConfiguration)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(dst),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        fs.delete(dst, false)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"$what rename lost (v$v)")
    }
  }

  /** Mutation rows must not re-type a table column: a mutation file
    * is committed irrevocably (no API removes one), and a diverged
    * type either NULLs values through the read-side union coercion or
    * throws on every read — then compaction bakes it into data files.
    * Columns the mutation does not carry are fine (the documented
    * subset/union contract); columns it carries must match the table
    * type exactly. dataScan's schema (the caller-provided `tbl` map)
    * honors the manifest-persisted schema and falls back to the
    * footer union on legacy tables — footer reads only, no data IO. */
  private def requireMutationTypes(tbl: Map[String, DataType],
      rows: StructType, what: String): Unit = {
    val mistyped = rows.filter(f =>
      tbl.contains(f.name) && tbl(f.name) != f.dataType)
    require(mistyped.isEmpty, s"$what column types diverge from the table " +
      s"schema: ${mistyped.map(f =>
        s"${f.name} ($what ${f.dataType.simpleString} vs table " +
        s"${tbl(f.name).simpleString})").mkString(", ")}")
  }

  /** Next mutation sequence for a commit derived from manifest `m`
    * at version `cur`: strictly above BOTH the version counter and
    * every carried sequence. The two can diverge — a fast-forwarded
    * branch (i29) carries mutation sequences assigned in the BRANCH's
    * version space, which may exceed the receiving table's counter;
    * a writer that blindly used cur+1 would then reuse (or fall
    * below) a live sequence and invert latest-wins. */
  private[graft] def nextSeq(m: Manifest, cur: Long): Long =
    math.max(cur, m.seqs.values.foldLeft(0L)(math.max)) + 1

  /** Commit a MERGE-ON-READ equality delete: `keys` (one column named
    * `key`) is written as a small delete file and the new snapshot
    * carries the SAME data files plus the delete file — O(deleted
    * keys) work and one atomic commit, never a data-file rewrite.
    * Deletes accumulate across versions until [[compactMor]] folds
    * them in; [[readMor]] applies them at scan time. The delete file
    * gets the next commit's SEQUENCE, so it beats any earlier update
    * file on the same key (and loses to a later one) — the Iceberg
    * sequence-number contract. */
  /** Min/max of an integral key column over one just-written mutation
    * file — the `s:` range a merge uses to prove two sides touched
    * disjoint keys. One footer + one tiny file scan (mutation files
    * are batch-sized by construction). None for empty files or
    * non-integral keys (a failed cast nulls out) — callers simply
    * record no range. */
  private def keyRange(s: SparkSession, path: String,
      key: String): Option[(Long, Long)] =
    // footer-first (r15): the range of a just-written mutation file
    // comes from its parquet footer statistics — driver metadata IO,
    // zero Spark jobs per commit — with the original one-job scan as
    // the fallback for keys footers can't answer exactly
    footerKeyRange(s, path, key).getOrElse {
      val r = s.read.parquet(path)
        .agg(min(col(key).cast(LongType)), max(col(key).cast(LongType))).head()
      if (r.isNullAt(0) || r.isNullAt(1)) None
      else Some((r.getLong(0), r.getLong(1)))
    }

  /** `stats` entries for freshly-written mutation files: each file's
    * key range, keyed by its path — riding the same manifest `s:`
    * lines as data-file ranges (memory: stats that belong to a
    * snapshot ride the manifest). Advisory like all stats; [[merge]]
    * is the consumer. */
  private def mutationStats(s: SparkSession, files: Seq[(String, Long)],
      key: String): Map[String, (Long, Long)] =
    files.flatMap { case (p, _) => keyRange(s, p, key).map(p -> _) }.toMap

  def deleteMor(s: SparkSession, table: String, keys: DataFrame,
      key: String): Long = {
    val cur = currentVersion(s, table)
    val m = readManifest(s, table, cur).getOrElse(throw new IllegalStateException(
      s"MOR delete against unseeded $table"))
    val dir = s"$table/data/deletes/${java.util.UUID.randomUUID}"
    keys.select(col(key)).distinct().coalesce(1).write.parquet(dir)
    val df = dataFiles(s, dir)
    // data files are untouched, so stats AND ndv blobs carry verbatim
    // (post-delete the blob NDV is an upper bound until compaction —
    // advisory metadata, like stats under MOR); updates, patches,
    // seqs and the persisted schema carry too (the i25/r11
    // carry-forward lesson). The delete file itself contributes its
    // key range so a later merge can prove disjointness.
    commit(s, table, "mor-delete", m.files, Some(cur),
      m.stats ++ mutationStats(s, df, key), m.deletes ++ df, m.ndv,
      updates = m.updates, seqs = m.seqs ++ df.map(_._1 -> nextSeq(m, cur)),
      schema = m.schema, patches = m.patches)
  }

  /** Commit a MERGE-ON-READ equality UPDATE (u10, the Hudi MOR
    * log-file shape): `rows` are FULL replacement rows (duplicate
    * keys within the batch are collapsed deterministically — see
    * [[updateMorAs]]) written as a
    * small update file the new snapshot carries as a `u:` line with
    * the next commit's sequence. O(batch rows) + one manifest, ZERO
    * data-file rewrites — where the copy-on-write apply (u04) rewrites
    * every touched file per batch, an update-heavy CDC feed commits
    * here and pays the rewrite ONCE at [[compactMor]] time. Readers
    * ([[readMor]]) overlay updates latest-wins per key at scan time:
    * an update row masks the key's data row; a LATER delete retracts
    * the update; a later update to a deleted key re-inserts it —
    * all decided by the per-file sequence, never by guesswork.
    * Semantics are upsert: a key absent from the data files is an
    * insert.
    *
    * `orderBy`: feeds with a genuine intra-batch order (a CDC ts /
    * LSN column) pass it here and the collapse keeps the LATEST row
    * per key — max over (orderBy columns, then the remaining non-key
    * columns as a deterministic tiebreak). Without it the collapse is
    * value-maximal over the whole non-key struct: deterministic and
    * replay-idempotent, but NOT recency-based. */
  def updateMor(s: SparkSession, table: String, rows: DataFrame,
      key: String, orderBy: Seq[String] = Nil): Long =
    updateMorAs(s, table, rows, key, "mor-update", orderBy)

  /** [[updateMor]] with a caller-chosen op string — the streaming
    * layer stamps its (appId, batchId) marker here so a replayed
    * batch is detectable in the crash window. */
  def updateMorAs(s: SparkSession, table: String, rows: DataFrame,
      key: String, op: String, orderBy: Seq[String] = Nil): Long = {
    val cur = currentVersion(s, table)
    val m = readManifest(s, table, cur).getOrElse(throw new IllegalStateException(
      s"MOR update against unseeded $table"))
    val bad = orderBy.filter(c => c == key || !rows.columns.contains(c))
    require(bad.isEmpty,
      s"orderBy columns must be non-key columns of the batch: $bad")
    // a duplicate would build a struct with twin field names and fail
    // deep in the collapse as an opaque ambiguity error
    require(orderBy.distinct.size == orderBy.size,
      s"orderBy columns must be distinct: $orderBy")
    // same irrevocable-commit hazard as patchMor: a re-typed column in
    // an update file would NULL/throw through the read union and bake
    // in at compaction
    requireMutationTypes(tableTypes(s, m), rows.schema, "update")
    val dir = s"$table/data/updates/${java.util.UUID.randomUUID}"
    // PER-KEY COLLAPSE before the write: duplicate keys within one
    // batch would BOTH win the latest-wins overlay (same sequence)
    // and both survive to readers, and compaction would bake the
    // duplicate in forever. Two rows per key in one batch is the
    // normal CDC case (applyBatch collapses via latestOps). The
    // struct comparison is field-ORDER-sensitive, so the caller's
    // orderBy columns lead: max over the struct is then "latest by
    // the feed's own order, remaining columns as the deterministic
    // tiebreak" — and with no orderBy it degrades to the
    // value-maximal total order, so replays stay idempotent either
    // way.
    val others = rows.columns.filterNot(_ == key)
    val cmpCols = orderBy ++ others.filterNot(orderBy.contains)
    rows.where(col(key).isNotNull)
      .groupBy(col(key))
      .agg(max(struct(cmpCols.map(col).toSeq: _*)).as("__r"))
      .select(col(key) +: others.toSeq.map(c => col(s"__r.$c").as(c)): _*)
      .coalesce(1).write.parquet(dir)
    val uf = dataFiles(s, dir)
    // data files untouched: stats/ndv carry (advisory under MOR —
    // updated rows may drift outside a file's recorded range only if
    // the update REKEYS, which equality updates by definition do not);
    // the update file contributes its own key range for merge
    commit(s, table, op, m.files, Some(cur),
      m.stats ++ mutationStats(s, uf, key), m.deletes, m.ndv,
      updates = m.updates ++ uf, seqs = m.seqs ++ uf.map(_._1 -> nextSeq(m, cur)),
      schema = m.schema, patches = m.patches)
  }

  /** The table's column→type map for the mutation-write type guards.
    * When the manifest persists a schema that IS the table schema
    * (the Delta read-through-log contract) — parse it directly rather
    * than paying dataScan's mergeSchema footer union over ALL data
    * files on every O(batch)-cost mutation commit (dataScan would
    * project to the persisted schema anyway, so the footer union is
    * pure overhead there). Legacy schema-less tables fall back to the
    * footer-derived scan schema. */
  private def tableTypes(s: SparkSession, m: Manifest): Map[String, DataType] =
    (m.schema match {
      case Some(js) => DataType.fromJson(js).asInstanceOf[StructType]
      case None => dataScan(s, m).schema
    }).map(f => f.name -> f.dataType).toMap

  /** The snapshot's data files as one scan, projected to the
    * PERSISTED table schema when the manifest carries one — handed to
    * the reader directly (per-file null-fill for columns a file
    * predates), the Delta read-through-log-schema contract: same
    * result as the old mergeSchema union + null-fill projection,
    * without the distributed footer-union job that union cost on
    * EVERY read (O(manifest files) at scale). Footer-schema read for
    * legacy schema-less tables. */
  private def dataScan(s: SparkSession, m: Manifest): DataFrame =
    m.schema match {
      case Some(js) =>
        s.read.schema(DataType.fromJson(js).asInstanceOf[StructType])
          .parquet(m.files.map(_._1): _*)
      case None => s.read.parquet(m.files.map(_._1): _*)
    }

  /** A file's Spark schema from its parquet footer's
    * `org.apache.spark.sql.parquet.row.metadata` key-value entry —
    * present in every Spark-written file, and every mutation file is
    * ours. Driver-side metadata IO (the footerKeyRange class), so a
    * single-file read built on it skips the per-read schema-inference
    * job Spark otherwise runs. None on any failure or foreign file —
    * callers fall back to the inferring read, same result. */
  private[graft] def footerSparkSchema(s: SparkSession,
      file: String): Option[StructType] =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        s.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(js => DataType.fromJson(js).asInstanceOf[StructType])
      finally reader.close()
    } catch { case _: Exception => None }

  /** One file as a DataFrame, schema from its own footer metadata
    * when possible (zero-job), inferring read otherwise. */
  private[graft] def readFile(s: SparkSession, p: String): DataFrame =
    footerSparkSchema(s, p) match {
      case Some(st) => s.read.schema(st).parquet(p)
      case None => s.read.parquet(p)
    }

  /** Mutation files (d:/u: entries) as one DataFrame with their
    * manifest-carried sequence attached as `__seq`. Per-file reads
    * unioned — plan size is bounded by the mutation-file count, which
    * compaction (and the CDC apply's fold) keeps small by
    * construction. */
  private def mutationScan(s: SparkSession, m: Manifest,
      entries: Seq[(String, Long)]): Option[DataFrame] =
    if (entries.isEmpty) None
    else Some(entries.map { case (p, _) =>
      readFile(s, p).withColumn("__seq", lit(m.seqs.getOrElse(p, 0L)))
    }.reduce(_.unionByName(_, allowMissingColumns = true)))

  /** Overlay a snapshot's MOR mutations (equality deletes + equality
    * updates) on its data scan: per key the HIGHEST-sequence mutation
    * wins (update → its replacement row is live; delete → the key is
    * gone), and ANY mutation on a key masks its data row (data rows
    * are implicitly sequence 0). All mutation state is small by
    * construction — every join below broadcasts it; the data scan is
    * never shuffled. */
  private def applyMutations(s: SparkSession, m: Manifest, key: String,
      data: DataFrame): DataFrame = {
    val del = mutationScan(s, m, m.deletes)
    val upd = mutationScan(s, m, m.updates)
    (del, upd) match {
      case (None, None) => data
      case (Some(dk), None) => // pure-delete fast path (u08/u09 shape)
        data.join(broadcast(dk.select(key).distinct()), Seq(key), "left_anti")
      case _ =>
        val muts = del.map(_.select(col(key), col("__seq"),
            lit(0).as("__upd"))).toSeq ++
          upd.map(_.select(col(key), col("__seq"), lit(1).as("__upd"))).toSeq
        val all = muts.reduce(_.unionByName(_))
        // winner per key: max (seq, kind) — seqs are unique per commit,
        // so the kind tiebreak only disambiguates legacy seq-0 files
        val win = all.groupBy(key)
          .agg(max(struct(col("__seq"), col("__upd"))).as("w"))
          .select(col(key), col("w.__seq").as("__seq"),
            col("w.__upd").as("__upd"))
        val liveUpd = upd.get.join(
          broadcast(win.filter(col("__upd") === 1).select(key, "__seq")),
          Seq(key, "__seq"), "left_semi").drop("__seq")
        data.join(broadcast(win.select(key)), Seq(key), "left_anti")
          .unionByName(liveUpd, allowMissingColumns = true)
    }
  }

  /** Read snapshot `v` with its equality deletes AND updates applied:
    * the data scan anti-joins the (small, broadcast) mutation key set,
    * then latest-wins update rows union in. Reader cost is the scan +
    * one broadcast probe per row — the Iceberg v2 / Hudi MOR read
    * path. */
  def readMor(s: SparkSession, table: String, v: Long,
      key: String): DataFrame = {
    val m = readManifest(s, table, v).getOrElse(throw new IllegalArgumentException(
      s"no committed snapshot v$v in $table"))
    // a patch-carrying snapshot needs the per-column coalesce — this
    // signature HAS the key, so delegate instead of refusing (the
    // overlayDeletes paths, which lack it, refuse)
    if (m.patches.nonEmpty) readPatched(s, table, v, key)
    else applyMutations(s, m, key, dataScan(s, m))
  }

  /** Commit a PARTIAL-COLUMN patch (u11): `patch` carries the key
    * plus a SUBSET of the table's columns; per key the named columns
    * are overwritten, everything else keeps its current value — the
    * Hudi partial-update payload / "patch file" shape. A batch
    * commits O(batch rows × patched columns) + one manifest, ZERO
    * data-file rewrites, where updateMor must ship FULL replacement
    * rows (forcing the writer to read-modify-write upstream when the
    * feed only knows the changed columns). Sequencing is the shared
    * mutation contract: the patch takes the committing version's
    * sequence; a later delete retracts it; a later full update masks
    * it; a later patch overrides it column-by-column; patches never
    * insert (a key absent from the resolved base is a no-op).
    * Duplicate keys within a batch collapse value-maximally first
    * (the updateMorAs rule, same replay-idempotence rationale). */
  def patchMor(s: SparkSession, table: String, patch: DataFrame,
      key: String, op: String = "mor-patch"): Long = {
    val cur = currentVersion(s, table)
    val m = readManifest(s, table, cur).getOrElse(throw new IllegalStateException(
      s"MOR patch against unseeded $table"))
    val others = patch.columns.filterNot(_ == key)
    require(patch.columns.contains(key) && others.nonEmpty,
      s"patch must carry the key '$key' plus at least one column")
    // patched columns must exist in the table's schema WITH the same
    // type — a typo'd column would ride the manifest forever and
    // silently never apply; a type-mismatched one is worse: the
    // per-column coalesce would coerce the whole column (and
    // compaction would bake the coerced type into data files,
    // diverging from the persisted schema) with no API to remove a
    // committed patch. The KEY column is checked too (a mistyped key
    // never matches and the patch silently no-ops forever).
    val tbl = tableTypes(s, m)
    val missing = others.filterNot(tbl.contains)
    require(missing.isEmpty, s"patch names columns absent from the table " +
      s"schema: ${missing.mkString(", ")}")
    requireMutationTypes(tbl, patch.schema, "patch")
    val dir = s"$table/data/patches/${java.util.UUID.randomUUID}"
    patch.where(col(key).isNotNull)
      .groupBy(col(key))
      .agg(max(struct(others.map(col).toSeq: _*)).as("__r"))
      .select(col(key) +: others.toSeq.map(c => col(s"__r.$c").as(c)): _*)
      .coalesce(1).write.parquet(dir)
    val pf = dataFiles(s, dir)
    commit(s, table, op, m.files, Some(cur),
      m.stats ++ mutationStats(s, pf, key), m.deletes, m.ndv,
      updates = m.updates, seqs = m.seqs ++ pf.map(_._1 -> nextSeq(m, cur)),
      schema = m.schema, patches = m.patches ++ pf)
  }

  /** Read snapshot `v` with deletes, full updates AND partial-column
    * patches applied. Resolution is two steps of the same sequence
    * algebra: (1) the ROW-DEFINING winner per key — data row (seq 0),
    * latest full update, or delete — exactly [[readMor]]'s collapse,
    * but keeping the winner's sequence as `__rseq`; (2) per patched
    * COLUMN, the latest patch value per key applies iff its sequence
    * beats `__rseq` (a patch older than the row it would modify is
    * masked; the latest patch overall is the latest above `__rseq`
    * whenever any is — sequences are unique per commit). Plan shape:
    * the base scan + one broadcast probe (deletes/updates) + ONE slim
    * broadcast join PER PATCHED COLUMN (patch relations are O(patch
    * rows), never data-sized); patch-file schemas are read on the
    * driver, bounded by the patch-file count (the fileStats class) —
    * compaction keeps that count small by construction. */
  def readPatched(s: SparkSession, table: String, v: Long,
      key: String): DataFrame = {
    val m = readManifest(s, table, v).getOrElse(throw new IllegalArgumentException(
      s"no committed snapshot v$v in $table"))
    val base0 = dataScan(s, m)
    val del = mutationScan(s, m, m.deletes)
    val upd = mutationScan(s, m, m.updates)
    // row-defining winner per key, carrying its sequence out
    val resolved: DataFrame = (del, upd) match {
      case (None, None) => base0.withColumn("__rseq", lit(0L))
      case _ =>
        val muts = del.map(_.select(col(key), col("__seq"),
            lit(0).as("__upd"))).toSeq ++
          upd.map(_.select(col(key), col("__seq"), lit(1).as("__upd"))).toSeq
        val all = muts.reduce(_.unionByName(_))
        val win = all.groupBy(key)
          .agg(max(struct(col("__seq"), col("__upd"))).as("w"))
          .select(col(key), col("w.__seq").as("__seq"),
            col("w.__upd").as("__upd"))
        val untouched = base0
          .join(broadcast(win.select(key)), Seq(key), "left_anti")
          .withColumn("__rseq", lit(0L))
        upd match {
          case Some(u) =>
            val liveUpd = u.join(
              broadcast(win.filter(col("__upd") === 1).select(key, "__seq")),
              Seq(key, "__seq"), "left_semi")
              .withColumnRenamed("__seq", "__rseq")
            untouched.unionByName(liveUpd, allowMissingColumns = true)
          case None => untouched // pure deletes: winners are all drops
        }
    }
    // per-column patch overlay
    var out = resolved
    if (m.patches.nonEmpty) {
      // driver-side schema probe, patch-file-count bounded — footer
      // metadata first (zero-job), inferring read as fallback
      val fileCols: Seq[(String, Seq[String])] = m.patches.map { case (p, _) =>
        p -> footerSparkSchema(s, p).getOrElse(s.read.parquet(p).schema)
          .fieldNames.toSeq.filterNot(_ == key) }
      val patchCols = fileCols.flatMap(_._2).distinct
      for (c <- patchCols) {
        val rel = fileCols.filter(_._2.contains(c)).map { case (p, _) =>
          readFile(s, p)
            .select(col(key), col(c), lit(m.seqs.getOrElse(p, 0L)).as("__pseq")) }
          .reduce(_.unionByName(_))
          .groupBy(key)
          .agg(max(struct(col("__pseq"), col(c))).as("w"))
          .select(col(key), col("w.__pseq").as(s"__pseq_$c"),
            col(s"w.$c").as(s"__pval_$c"))
        out = out.join(broadcast(rel), Seq(key), "left_outer")
          .withColumn(c, when(col(s"__pseq_$c") > col("__rseq"),
            col(s"__pval_$c")).otherwise(col(c)))
          .drop(s"__pseq_$c", s"__pval_$c")
      }
    }
    out.drop("__rseq")
  }

  /** Fold accumulated equality deletes and updates into the data
    * files: rewrite the surviving rows, commit a snapshot with NO
    * mutation files. The Iceberg `rewrite_data_files` maintenance step
    * — readers before and after see the identical row set ([[readMor]]
    * ≡ plain [[readAt]] post-compaction); the mutation-overlay cost is
    * paid once here instead of on every subsequent read. */
  def compactMor(s: SparkSession, table: String, key: String): Long = {
    val cur = currentVersion(s, table)
    val m = readManifest(s, table, cur).getOrElse(throw new IllegalStateException(
      s"MOR compaction against unseeded $table"))
    if (m.deletes.isEmpty && m.updates.isEmpty && m.patches.isEmpty) return cur
    val dir = s"$table/data/compact-v$cur"
    // readMor is patch-aware (delegates to readPatched), so one
    // compaction folds deletes, updates AND partial-column patches
    readMor(s, table, cur, key)
      .repartition(math.max(1, m.files.size)).write.parquet(dir)
    // carried stats/ndv would describe the REWRITTEN-AWAY files —
    // deliberately dropped (the compaction column may differ from the
    // sketched one, so recomputing here could sketch the wrong key;
    // the next stats-aware writer re-attaches them). The persisted
    // schema is TABLE-level, not file-level — it carries.
    commit(s, table, "mor-compact", dataFiles(s, dir), Some(cur),
      schema = m.schema)
  }

  // -----------------------------------------------------------------
  // Write-audit-publish (WAP) — the staged-commit workflow (Netflix's
  // Iceberg pattern, Delta's shadow-branch equivalent): a writer
  // COMMITS its snapshot normally (atomic, immutable, time-travelable)
  // but consumers read through a separate `_published` pointer that
  // only an explicit publish step advances — after audits pass. A
  // failed audit simply never publishes: the bad snapshot exists for
  // forensics but is unreachable through the consumer path, and no
  // rollback (with its races) is ever needed. At 100 TB this is how
  // pipelines gate petabyte appends on data-quality checks without
  // either blocking the writer or exposing readers to unaudited data.
  // -----------------------------------------------------------------

  private def pubPath(table: String) =
    new org.apache.hadoop.fs.Path(s"${logDir(table)}/_published")

  /** The version consumers see: the `_published` pointer, or 0 when
    * nothing has been published (missing/torn pointer = nothing
    * published — the pointer is AUTHORITATIVE, unlike the advisory
    * `_last_checkpoint`, so a torn write must fail closed, and the
    * temp+rename publish below makes torn states near-impossible on
    * rename-atomic filesystems). */
  def publishedVersion(s: SparkSession, table: String): Long =
    // missing means "nothing published"; readVersionPointer fails
    // CLOSED on a torn file — mapping it to 0 would let expire()
    // delete the published snapshot's files out from under consumers
    // and let publish()'s monotonic guard accept a backwards move
    readVersionPointer(s, pubPath(table),
      s"_published pointer for $table").getOrElse(0L)

  /** Atomically advance the publish pointer to committed version `v`
    * (monotonic: publishing backwards is refused — that's a restore,
    * which commits a NEW version). */
  def publish(s: SparkSession, table: String, v: Long): Unit = {
    require(readManifest(s, table, v).isDefined,
      s"cannot publish uncommitted v$v of $table")
    val prev = publishedVersion(s, table)
    require(v >= prev, s"publish would move backwards: v$v < published v$prev")
    writeVersionPointer(s, pubPath(table), v, s"publish for $table")
  }

  /** The consumer read path: the latest PUBLISHED snapshot, never a
    * staged-but-unaudited one. MOR deletes are overlaid and
    * update-carrying snapshots refused (audit + publish a compacted
    * snapshot, or read through [[readMor]]) — consumers must never
    * see retracted rows. */
  def readPublished(s: SparkSession, table: String): DataFrame = {
    val v = publishedVersion(s, table)
    require(v >= 1, s"nothing published in $table")
    overlayDeletes(s, readManifest(s, table, v).getOrElse(
      throw new IllegalStateException(
        s"published v$v of $table is missing/torn")), readAt(s, table, v))
  }

  // -----------------------------------------------------------------
  // Named refs: TAGS (Iceberg `tag` / audit-pin pattern) — a tag is an
  // immutable name → version pointer under `_log/_tag-<name>`, created
  // atomically (CREATE_NEW, the commit discipline) and never moved: a
  // re-tag to the same version is an idempotent no-op, to a different
  // version a loud error (moving a name is what WAP's publish pointer
  // is for). Tagged snapshots survive [[expire]] like the published
  // one — the whole point: pin "the Q3 training corpus" by name and
  // retention can never pull its files. At 100 TB a tag costs one
  // ~10-byte atomic create; readers resolve it with one GET.
  // -----------------------------------------------------------------

  private def tagPath(table: String, name: String) = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"tag name must be a simple token: $name")
    new org.apache.hadoop.fs.Path(s"${logDir(table)}/_tag-$name")
  }

  /** Tag committed version `v` as `name` (immutable; idempotent for
    * the same version). */
  def tagSnapshot(s: SparkSession, table: String, name: String, v: Long): Unit = {
    require(readManifest(s, table, v).isDefined,
      s"cannot tag uncommitted v$v of $table")
    try publishAtomic(s, tagPath(table, name), s"$v\nend")
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        val cur = tagVersion(s, table, name)
        require(cur == v,
          s"tag $name already points at v$cur of $table — tags are immutable")
    }
  }

  /** Resolve a tag. Missing OR torn both throw — a tag is an
    * authoritative ref (the fail-closed `_published` discipline): a
    * reader silently falling back past a torn tag would read the
    * wrong snapshot. */
  def tagVersion(s: SparkSession, table: String, name: String): Long =
    readVersionPointer(s, tagPath(table, name), s"tag $name for $table")
      .getOrElse(throw new IllegalArgumentException(
        s"no tag $name in $table"))

  /** Read the snapshot a tag names — a CONSUMER path: MOR deletes are
    * overlaid and update-carrying snapshots refused (resolve the tag
    * and call [[readMor]] for those). */
  def readTagged(s: SparkSession, table: String, name: String): DataFrame = {
    val v = tagVersion(s, table, name)
    val m = readManifest(s, table, v).getOrElse(throw new IllegalStateException(
      s"tag $name of $table names missing/torn v$v"))
    overlayDeletes(s, m, readAt(s, table, v))
  }

  /** TIMESTAMP time travel (Delta `TIMESTAMP AS OF` / Iceberg
    * snapshot-at-timestamp): the latest version whose commit time is
    * ≤ `tsMillis`. Commit times ride the manifest (`ts:` line, stamped
    * at commit; fixtures may pass explicit times for determinism).
    * Resolution scans the manifest headers — O(history) metadata
    * reads, bounded by expire like every other log walk; a production
    * log would binary-search, but ts monotonicity is only advisory
    * here (clock skew across writers), so the linear max-over-≤ is the
    * honest version. Throws when `tsMillis` predates the first commit
    * (the Delta contract — silently resolving to the oldest snapshot
    * would misattribute pre-history reads). Legacy manifests without
    * a ts line (ts 0) are treated as "always before" and never win
    * over a stamped one. */
  def versionAsOf(s: SparkSession, table: String, tsMillis: Long): Long = {
    val cur = currentVersion(s, table)
    val candidates = (1L to cur)
      .flatMap(v => readManifest(s, table, v))
      .filter(_.ts <= tsMillis)
    require(candidates.nonEmpty,
      s"no snapshot of $table at or before ts=$tsMillis (first commit is later)")
    candidates.maxBy(m => (m.ts, m.version)).version
  }

  /** Read as of a timestamp — a CONSUMER path like [[readTagged]]:
    * MOR deletes overlaid, update-carrying snapshots refused. */
  def readAsOf(s: SparkSession, table: String, tsMillis: Long): DataFrame = {
    val v = versionAsOf(s, table, tsMillis)
    overlayDeletes(s, readManifest(s, table, v).get, readAt(s, table, v))
  }

  /** All tags of a table (name → version) — one `_log` listing. */
  def tags(s: SparkSession, table: String): Map[String, Long] = {
    val fs = fsOf(s)
    val dir = new org.apache.hadoop.fs.Path(logDir(table))
    if (!fs.exists(dir)) return Map.empty
    fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .filter(_.startsWith("_tag-"))
      .map(n => n.drop(5) -> tagVersion(s, table, n.drop(5)))
      .toMap
  }

  // -----------------------------------------------------------------
  // Branches (i29) — the Iceberg/Nessie branch workflow: a named,
  // WRITABLE line of development cut from a snapshot, isolated from
  // main's readers, merged back by FAST-FORWARD when main hasn't
  // moved. Zero-copy: the branch is its own snapshot log (under
  // `$table/_branches/<name>`) whose first manifest REFERENCES the
  // parent's data files verbatim — cutting a branch moves no data,
  // and every existing writer (append/deleteMor/updateMor/patchMor/
  // CDC apply) works on the branch path unchanged. The branch's base
  // snapshot is pinned on the parent with an immutable tag
  // (`branch-<name>`), so parent expire can never reclaim the shared
  // files out from under the branch (the tag-retention contract i26
  // pins). Fast-forward is conflict-checked: it lands only if main
  // is still at the branch's base version — otherwise the histories
  // diverged and the caller must rebase (SnapshotConflict, the
  // optimistic-concurrency shape commit() already speaks).
  // -----------------------------------------------------------------

  private def branchPath(table: String, name: String): String = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"branch name must be a simple token: $name")
    s"$table/_branches/$name"
  }

  private def branchBasePath(table: String, name: String) =
    new org.apache.hadoop.fs.Path(s"${logDir(table)}/_branchbase-$name")

  /** The parent version branch `name` currently forks from — cut
    * version at birth, ADVANCED by every successful [[fastForward]]
    * (the tag, by contrast, is immutable: it pins the ORIGINAL base's
    * files against parent expire forever). A MISSING pointer falls
    * back to the immutable tag — that serves branches cut by builds
    * that predate the pointer AND the crash window where the pointer
    * write was lost (fastForward's self-heal then re-derives the
    * advanced base). A PRESENT-but-torn pointer still fails closed,
    * like `_published`. */
  def branchBase(s: SparkSession, table: String, name: String): Long =
    readVersionPointer(s, branchBasePath(table, name),
      s"branch base pointer for $table@$name")
      .getOrElse(tagVersion(s, table, s"branch-$name"))

  private def writeBranchBase(s: SparkSession, table: String, name: String,
      v: Long): Unit =
    writeVersionPointer(s, branchBasePath(table, name), v,
      s"branch base for $table@$name")

  /** Cut branch `name` from snapshot `v` of `table`. Returns the
    * branch's table path — every SnapshotLog/CdcStream API accepts it
    * as a table. One manifest write + one tag + one pointer; zero
    * data IO. */
  def branch(s: SparkSession, table: String, name: String, v: Long): String = {
    val m = readManifest(s, table, v).getOrElse(throw new IllegalArgumentException(
      s"no committed snapshot v$v in $table to branch from"))
    val bt = branchPath(table, name)
    require(currentVersion(s, bt) == 0L, s"branch $name already exists")
    // pin the shared base against parent expire BEFORE the branch
    // becomes discoverable (tag first: a crash between the two leaves
    // an unused tag, never an unpinned branch), then seed the mutable
    // base pointer fastForward advances
    tagSnapshot(s, table, s"branch-$name", v)
    writeBranchBase(s, table, name, v)
    commit(s, bt, s"branch-from-v$v", m.files, Some(0L), m.stats,
      m.deletes, m.ndv, m.updates, m.seqs, m.schema, patches = m.patches)
    bt
  }

  /** Merge branch `name` back by fast-forward: commit the branch
    * HEAD's state (files + mutation overlay, verbatim) onto the
    * parent — iff the parent is still at the branch's base version.
    * Carried mutation sequences stay valid because every writer
    * allocates via [[nextSeq]] (strictly above carried sequences, not
    * just the version counter). On success the branch BASE advances
    * to the landed version, so write→fast-forward cycles repeat
    * indefinitely: the new base's files are exactly the branch
    * head's (original base files, pinned by the immutable branch
    * tag, plus branch-dir files, which parent expire never reclaims)
    * — no new retention pin is needed. Returns the new parent
    * version. */
  def fastForward(s: SparkSession, table: String, name: String): Long = {
    val bt = branchPath(table, name)
    val bv = currentVersion(s, bt)
    require(bv >= 1, s"no branch $name on $table")
    val bm = readManifest(s, bt, bv).getOrElse(
      throw new IllegalStateException(s"branch $name head v$bv unreadable"))
    val base = branchBase(s, table, name)
    val cur = currentVersion(s, table)
    val cm = readManifest(s, table, cur)
    def sameState(c: Manifest): Boolean =
      c.files == bm.files && c.deletes == bm.deletes &&
        c.updates == bm.updates && c.patches == bm.patches
    // Idempotency + crash-window self-heal (the txn-sidecar pattern):
    // if the parent HEAD already carries EXACTLY the branch head's
    // state, the merge is landed — whether the base pointer advanced
    // (a straight re-call: cur == base and the head state matches) or
    // was lost in the crash window (cur != base but the head is our
    // own fast-forward commit). Either way (re)advance the pointer
    // and report the landed version instead of committing a duplicate
    // identical snapshot or sending the caller to replay landed work.
    if (cm.exists(c => sameState(c) &&
        (cur == base || c.op == s"fast-forward-$name"))) {
      writeBranchBase(s, table, name, cur)
      return cur
    }
    if (cur != base)
      throw new SnapshotConflict(
        s"$table moved v$base -> v$cur since branch $name was cut; " +
          "fast-forward impossible — cut a fresh branch from the current " +
          "version and replay the work")
    val ffv = commit(s, table, s"fast-forward-$name", bm.files, Some(cur),
      bm.stats, bm.deletes, bm.ndv, bm.updates, bm.seqs, bm.schema,
      patches = bm.patches)
    writeBranchBase(s, table, name, ffv)
    ffv
  }

  /** Three-way MERGE of branch `name` into a DIVERGED parent (i30) —
    * the case [[fastForward]] refuses. The branch's new MOR mutation
    * files replay onto the parent's head when the two sides provably
    * touched DISJOINT key ranges; otherwise [[SnapshotConflict]]
    * (rebase: cut a fresh branch and replay). The proof is metadata:
    * every MOR writer records its mutation file's key range as a
    * manifest `s:` stat, so the conflict check is an O(changed-files²)
    * driver loop over ranges — zero data IO on the stats path (legacy
    * stat-less files fall back to one tiny per-file scan). The replay
    * is also metadata-only: the branch's new delete/update/patch
    * files are added to the parent head's manifest verbatim (no file
    * rewrite), RE-SEQUENCED above the parent's highest sequence in
    * branch-commit order, so latest-wins stays correct on both sides
    * — cross-side order is immaterial precisely because the ranges
    * are disjoint. One commit, one manifest; at 100 TB a merge costs
    * the same as any MOR commit.
    *
    * Scope guards (each refused with SnapshotConflict, not silently
    * mis-merged): both sides' DATA files and persisted schema must be
    * unchanged since the cut — a compaction, CDC apply or schema
    * evolution on either side folds or re-types state the replay
    * cannot reason about. Idempotent: already-merged files (present
    * on the parent) are skipped; a re-call with nothing new returns
    * the current version and commits nothing. A merged branch is
    * CONSUMED: the base pointer deliberately does not advance, so a
    * later fastForward of the same branch refuses instead of
    * clobbering the parent's divergent history. */
  def merge(s: SparkSession, table: String, name: String, key: String): Long = {
    val bt = branchPath(table, name)
    val bv = currentVersion(s, bt)
    require(bv >= 1, s"no branch $name on $table")
    val bm = readManifest(s, bt, bv).getOrElse(
      throw new IllegalStateException(s"branch $name head v$bv unreadable"))
    val base = branchBase(s, table, name)
    val cur = currentVersion(s, table)
    if (cur == base) return fastForward(s, table, name) // degenerate merge
    val cm = readManifest(s, table, cur).getOrElse(
      throw new IllegalStateException(s"parent head v$cur unreadable"))
    val baseM = readManifest(s, table, base).getOrElse(
      throw new IllegalStateException(
        s"branch base v$base of $table unreadable — expired without its " +
          "branch tag pin?"))
    if (bm.files != baseM.files) throw new SnapshotConflict(
      s"branch $name rewrote data files since the cut (compaction/CDC " +
        "apply); merge replays mutation-only branches — fold differently " +
        "or cut a fresh branch")
    if (cm.files != baseM.files) throw new SnapshotConflict(
      s"$table rewrote data files since branch $name was cut; the branch's " +
        "mutations may target folded state — cut a fresh branch from " +
        s"v$cur and replay")
    if (bm.schema != baseM.schema || cm.schema != baseM.schema)
      throw new SnapshotConflict(
        s"schema diverged since branch $name was cut; merge refuses to " +
          "re-type mutation state")
    val baseRefs = refFiles(baseM).map(_._1).toSet
    val curRefs = refFiles(cm).map(_._1).toSet
    def freshOnBranch(entries: Seq[(String, Long)]) =
      entries.filterNot(e => baseRefs(e._1) || curRefs(e._1))
    val newDel = freshOnBranch(bm.deletes)
    val newUpd = freshOnBranch(bm.updates)
    val newPat = freshOnBranch(bm.patches)
    val branchNew = newDel ++ newUpd ++ newPat
    if (branchNew.isEmpty) return cur // nothing new / already merged
    val mainNew = refFiles(cm).filterNot(e => baseRefs(e._1))
    def range(m: Manifest, p: String): (Long, Long) =
      m.stats.getOrElse(p, keyRange(s, p, key).getOrElse(
        throw new SnapshotConflict(
          s"no key range derivable for $p (empty file or non-integral " +
            "key) — cannot prove disjointness, merge refused")))
    val bRanges = branchNew.map(e => e._1 -> range(bm, e._1))
    val mRanges = mainNew.map(e => e._1 -> range(cm, e._1))
    for ((bp, (bmn, bmx)) <- bRanges; (mp, (mmn, mmx)) <- mRanges)
      if (bmn <= mmx && mmn <= bmx) throw new SnapshotConflict(
        s"merge of branch $name touches keys the parent also touched: " +
          s"branch file $bp [$bmn,$bmx] overlaps parent file $mp " +
          s"[$mmn,$mmx] — rebase required")
    // replay: branch-relative mutation order preserved, re-sequenced
    // above every sequence the parent has ever assigned
    val ordered = branchNew.sortBy(e => bm.seqs.getOrElse(e._1, 0L))
    var seq = nextSeq(cm, cur)
    val newSeqs = ordered.map { e =>
      val q = seq; seq += 1; e._1 -> q }.toMap
    commit(s, table, s"merge-$name", cm.files, Some(cur),
      cm.stats ++ bRanges.toMap, cm.deletes ++ newDel, cm.ndv,
      updates = cm.updates ++ newUpd,
      seqs = cm.seqs ++ newSeqs,
      schema = cm.schema, patches = cm.patches ++ newPat)
  }

  /** Expire all snapshots except the newest `keepLast`: delete their
    * manifests, then delete every data file referenced ONLY by expired
    * manifests (reference-count against the retained set — a file
    * shared with a live snapshot survives). The Iceberg
    * `expire_snapshots` contract: live reads are untouched, storage
    * for dead versions is reclaimed, expired versions become
    * unreadable. Metadata-only driver work, bounded by (versions ×
    * files-per-manifest) — the same footprint as reading the log.
    * Returns (expired versions, deleted data files). */
  def expire(s: SparkSession, table: String, keepLast: Int): (Seq[Long], Seq[String]) = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    // a branch's early snapshots reference files the PARENT (or, post
    // fast-forward, the parent's head) still serves — reference
    // counting inside the branch log alone cannot see those readers,
    // so reclamation on a branch is forbidden (fold the branch back
    // and expire the parent instead)
    require(!table.contains("/_branches/"),
      s"expire on a branch could reclaim files shared with its parent: $table")
    val fs = fsOf(s)
    // Concurrent-committer guard: a writer landing v(cur+1) AFTER the
    // retained set was computed may re-reference pre-cutoff files
    // (commit() permits a restore-to-v1), which deletion would then
    // pull out from under a just-committed LIVE snapshot. Re-read the
    // current version and recompute until it is stable — any commit
    // that lands during the computation is folded into the retained
    // set before anything is deleted. A writer landing BETWEEN the
    // stability check and the deletes below remains exposed: like
    // [[orphanFiles]], run expire with no writer in flight (production
    // systems add an age threshold for exactly this race).
    var cur = currentVersion(s, table)
    var cutoff = 0L
    var retained = Set.empty[String]
    var stable = false
    while (!stable) {
      cutoff = cur - keepLast + 1 // retain [cutoff, cur]
      retained = (cutoff to cur)
        .flatMap(v => readManifest(s, table, v))
        .flatMap(m => refFiles(m).map(_._1)).toSet
      val recheck = currentVersion(s, table)
      if (recheck == cur) stable = true else cur = recheck
    }
    // a WAP table's PUBLISHED snapshot is the consumer read path —
    // it must survive expiration even when it trails the cutoff
    // (published-but-superseded is the normal audit-lag state)
    val pub = publishedVersion(s, table)
    if (pub >= 1 && pub < cutoff)
      retained ++= readManifest(s, table, pub).toSeq
        .flatMap(m => refFiles(m).map(_._1))
    // tagged snapshots are retention-pinned by name (the Iceberg tag
    // contract): their manifests stay readable and their files stay
    // protected no matter how far they trail the cutoff
    val tagged = tags(s, table).values.toSet
    for (tv <- tagged if tv >= 1 && tv < cutoff)
      retained ++= readManifest(s, table, tv).toSeq
        .flatMap(m => refFiles(m).map(_._1))
    val expired = (1L until cutoff)
      .filter(v => v != pub && !tagged(v))
      .flatMap(v => readManifest(s, table, v).map(v -> _))
    val doomed = expired.flatMap(e =>
      refFiles(e._2).map(_._1))
      .distinct.filterNot(retained)
      // Files under a branch directory are governed by the BRANCH's
      // snapshot log, which this parent-side reference count cannot
      // see: a fast-forwarded version references branch-written
      // mutation files that the branch head still serves — deleting
      // them here would break every read of the live branch. Parent
      // expire therefore never reclaims branch-dir files; a folded
      // branch's storage is reclaimed by deleting its directory once
      // the branch is abandoned (and a parent compaction has rewritten
      // its rows into parent-owned files).
      .filterNot(_.contains("/_branches/"))
    // data first, manifests second: a crash between the two leaves
    // expired manifests pointing at deleted files — readManifest still
    // parses but readAt fails loudly, and a re-run completes the
    // deletion; the reverse order would leak the files forever
    doomed.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
    expired.foreach { case (v, _) =>
      fs.delete(vPath(table, v), false)
      // legacy sidecar cleanup: key-range stats now ride the manifest
      // itself (`s:` lines), but tables written by older builds may
      // still carry per-version `_stats/vNNNNNNNN` files
      fs.delete(new org.apache.hadoop.fs.Path(f"$table/_stats/v$v%08d"), false)
    }
    // re-anchor the discovery pointer: a pointer left below the
    // cutoff would miss (expired manifest) and cost readers the
    // listing fallback until the next commit
    if (expired.nonEmpty) writeCkptHint(s, table, cur)
    (expired.map(_._1), doomed)
  }

  /** Grace window for orphan cleanup: files younger than this are
    * never treated as orphans. Every writer (seedTarget / applyBatch /
    * deleteMor / updateMor) lands its data files BEFORE the manifest
    * commit, so an in-flight writer's files are indistinguishable from
    * a losing writer's garbage by reference-set alone — only age
    * separates them. Iceberg's `remove_orphan_files` defaults to an
    * older-than cutoff (3 days) for exactly this race; same default
    * here. */
  val defaultOrphanGraceMs: Long = 3L * 24 * 3600 * 1000

  /** Data files on disk that NO valid manifest references — the
    * leftovers of losing concurrent writers (their commit lost the
    * race; their files are garbage, not table state). The Iceberg
    * `remove_orphan_files` listing half; deletion is the caller's
    * explicit second step so a dry run is the default.
    *
    * Files whose modification time is within `olderThanMillis` of now
    * are skipped: they may belong to a writer whose commit has not
    * landed yet (deleting them would make that commit reference
    * vanished files and break every read of the new snapshot). Pass
    * `olderThanMillis = 0` ONLY when writers are provably quiesced
    * (the test-harness mode); leave the default otherwise and never
    * run concurrently with a compaction/expire of the same table. */
  def orphanFiles(s: SparkSession, table: String,
                  olderThanMillis: Long = defaultOrphanGraceMs): Seq[String] = {
    val fs = fsOf(s)
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val referenced = (1L to currentVersion(s, table))
      .flatMap(v => readManifest(s, table, v))
      .flatMap(m => refFiles(m).map(_._1)).toSet
    val dataRoot = new org.apache.hadoop.fs.Path(s"$table/data")
    if (!fs.exists(dataRoot)) return Nil
    val it = fs.listFiles(dataRoot, true)
    val found = scala.collection.mutable.ListBuffer[String]()
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      if (st.isFile && p.getName.startsWith("part-") &&
          st.getModificationTime <= cutoff &&
          !referenced(p.toUri.getPath))
        found += p.toUri.getPath
    }
    found.toList.sorted
  }

  def removeOrphans(s: SparkSession, table: String,
                    olderThanMillis: Long = defaultOrphanGraceMs): Seq[String] = {
    val fs = fsOf(s)
    val orphans = orphanFiles(s, table, olderThanMillis)
    orphans.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
    orphans
  }

  /** All data files currently under `dir` (one Spark write's output),
    * as manifest entries. */
  private[graft] def dataFiles(s: SparkSession, dir: String): Seq[(String, Long)] = {
    val fs = fsOf(s)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
      .map(st => (st.getPath.toUri.getPath, st.getLen))
      .sortBy(_._1).toIndexedSeq
  }

  // ---------------------------------------------------------------
  // i13/i14 fixture: a snapshotted orders table with a poisoned append
  // ---------------------------------------------------------------

  private def stamped(s: SparkSession, d: String): String = {
    val fs = fsOf(s)
    val src = new org.apache.hadoop.fs.Path(s"$d/orders.parquet")
    val st = fs.getFileStatus(src)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_") +
      s"_${st.getModificationTime}_${fs.getContentSummary(src).getLength}"
    graft.LocalScratch.scratchDir + s"/graft_snaptable_$tag"
  }

  /** The deterministic "poison" shard appended at v2: clones of the
    * %97 keys with shifted keys, status Z and +250.25 price. Both the
    * i13 and i14 oracles know this shape, so a time-travel reader
    * that leaks v2 files into a v1 read (or vice versa) moves counts
    * AND checksums — the leak cannot hash green. */
  private def poisonShard(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderkey") % 97 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(30000000L))
      .withColumn("o_orderstatus", lit("Z"))
      .withColumn("o_totalprice", col("o_totalprice") + lit(250.25))
      .withColumn("o_orderpriority", lit("8-SNAP"))

  /** Build (once per source stamp, idempotent and crash-resumable —
    * the log itself records how far the build got) a two-snapshot
    * orders table: v1 = the base data, v2 = v1 + the poison shard.
    * Concurrent builders race on the commit, not on a lock: the loser
    * gets [[SnapshotConflict]], re-reads, and finds the work done. */
  def snapshottedOrders(s: SparkSession, d: String): String = synchronized {
    val table = stamped(s, d)
    if (currentVersion(s, table) == 0L) {
      val base = s"$table/data/base"
      Tables.orders(s, d).repartition(4)
        .write.mode("overwrite").parquet(base)
      try commit(s, table, "base-load", dataFiles(s, base), Some(0L))
      catch { case _: SnapshotConflict => () } // another JVM won — done
    }
    if (currentVersion(s, table) == 1L) {
      val shard = s"$table/data/shard1"
      poisonShard(s, d).repartition(1)
        .write.mode("overwrite").parquet(shard)
      val v1 = readManifest(s, table, 1L).get
      try commit(s, table, "append-shard",
        v1.files ++ dataFiles(s, shard), Some(1L))
      catch { case _: SnapshotConflict => () }
    }
    table
  }

  private def statusRollup(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType)
          .as("revenue"))
      .orderBy("o_orderstatus")

  /** i15 fixture: a three-snapshot table whose history is then
    * expired down to the current snapshot — v1 base, v2 = v1 + poison
    * shard (file reuse), v3 = full compaction REWRITE of v2 (fresh
    * files, so v1/v2's files become exclusively-dead and expiration
    * has something real to reclaim). Idempotent and crash-resumable
    * via the log, like [[snapshottedOrders]]. */
  def expiredOrdersTable(s: SparkSession, d: String): String = synchronized {
    val table = stamped(s, d) + "_exp"
    if (currentVersion(s, table) == 0L) {
      val base = s"$table/data/base"
      Tables.orders(s, d).repartition(4)
        .write.mode("overwrite").parquet(base)
      try commit(s, table, "base-load", dataFiles(s, base), Some(0L))
      catch { case _: SnapshotConflict => () }
    }
    if (currentVersion(s, table) == 1L) {
      val shard = s"$table/data/shard1"
      poisonShard(s, d).repartition(1)
        .write.mode("overwrite").parquet(shard)
      val v1 = readManifest(s, table, 1L).get
      try commit(s, table, "append-shard",
        v1.files ++ dataFiles(s, shard), Some(1L))
      catch { case _: SnapshotConflict => () }
    }
    if (currentVersion(s, table) == 2L) {
      val rw = s"$table/data/compact2"
      readAt(s, table, 2L).repartition(2)
        .write.mode("overwrite").parquet(rw)
      try commit(s, table, "compact", dataFiles(s, rw), Some(2L))
      catch { case _: SnapshotConflict => () }
    }
    expire(s, table, keepLast = 1) // no-op when already expired
    table
  }

  /** i27 fixture: the i13 two-snapshot shape with EXPLICIT commit
    * timestamps (v1 at t=1,000,000 ms, v2 at t=2,000,000 ms) so
    * timestamp-based resolution is fully deterministic — the same
    * move every Delta test suite makes. Idempotent via the log. */
  def timestampedOrders(s: SparkSession, d: String): String = synchronized {
    val table = stamped(s, d) + "_tts"
    if (currentVersion(s, table) == 0L) {
      val base = s"$table/data/base"
      Tables.orders(s, d).repartition(4)
        .write.mode("overwrite").parquet(base)
      try commit(s, table, "base-load", dataFiles(s, base), Some(0L),
        tsMillis = Some(1000000L))
      catch { case _: SnapshotConflict => () }
    }
    if (currentVersion(s, table) == 1L) {
      val shard = s"$table/data/shard1"
      poisonShard(s, d).repartition(1)
        .write.mode("overwrite").parquet(shard)
      val v1 = readManifest(s, table, 1L).get
      try commit(s, table, "append-shard",
        v1.files ++ dataFiles(s, shard), Some(1L), tsMillis = Some(2000000L))
      catch { case _: SnapshotConflict => () }
    }
    table
  }

  /** i17 fixture: the table's schema EVOLVES at v2 — the appended
    * shard carries a new `o_channel` column the base files lack.
    * Files stay immutable (no rewrite of old data to add a column —
    * the whole point of lake schema evolution). */
  def schemaEvolvedOrders(s: SparkSession, d: String): String = synchronized {
    val table = stamped(s, d) + "_sev"
    if (currentVersion(s, table) == 0L) {
      val base = s"$table/data/base"
      Tables.orders(s, d).repartition(4)
        .write.mode("overwrite").parquet(base)
      try commit(s, table, "base-load", dataFiles(s, base), Some(0L))
      catch { case _: SnapshotConflict => () }
    }
    if (currentVersion(s, table) == 1L) {
      val shard = s"$table/data/evolved1"
      Tables.orders(s, d).filter(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(40000000L))
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
        .withColumn("o_channel", lit("WEB"))
        .repartition(1).write.mode("overwrite").parquet(shard)
      val v1 = readManifest(s, table, 1L).get
      try commit(s, table, "append-evolved",
        v1.files ++ dataFiles(s, shard), Some(1L))
      catch { case _: SnapshotConflict => () }
    }
    table
  }

  /** Data files under `dir` RECURSIVELY (a partitioned write nests
    * them under `col=value/` dirs), as manifest entries. */
  private[graft] def dataFilesRecursive(s: SparkSession, dir: String): Seq[(String, Long)] = {
    val fs = fsOf(s)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(dir), true)
    val found = scala.collection.mutable.ListBuffer[(String, Long)]()
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.startsWith("part-"))
        found += ((st.getPath.toUri.getPath, st.getLen))
    }
    found.toList.sortBy(_._1)
  }

  /** i18 fixture: DYNAMIC PARTITION OVERWRITE (Delta `replaceWhere` /
    * Hive `INSERT OVERWRITE PARTITION`) through the snapshot log. The
    * base load is laid out partitioned by o_year; v2 then REPLACES
    * exactly the 1995 partition — its manifest carries every v1 file
    * EXCEPT those under `o_year=1995/` plus the freshly-written
    * replacement files. This is the file-granular contract that makes
    * partition overwrite O(one partition) at 100 TB: untouched
    * partitions' files are carried over by reference (never rewritten,
    * never even opened), the swap is one atomic manifest commit, and
    * readers at v1 keep the pre-overwrite table (pinned in
    * SnapshotLogSpec). The partition predicate is resolved against
    * the LAYOUT (path prefix), the same pruning a partition-aware
    * catalog does — no data file is read to decide membership. */
  def partitionOverwrittenOrders(s: SparkSession, d: String): String = synchronized {
    val table = stamped(s, d) + "_pow"
    if (currentVersion(s, table) == 0L) {
      val base = s"$table/data/base"
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .repartition(4)
        .write.mode("overwrite").partitionBy("o_year").parquet(base)
      try commit(s, table, "base-load-partitioned",
        dataFilesRecursive(s, base), Some(0L))
      catch { case _: SnapshotConflict => () }
    }
    if (currentVersion(s, table) == 1L) {
      val repl = s"$table/data/repl1995"
      Tables.orders(s, d)
        .filter(year(col("o_orderdate")) === 1995)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("o_orderpriority", lit("7-REPL"))
        .repartition(1).write.mode("overwrite").parquet(repl)
      val v1 = readManifest(s, table, 1L).get
      val kept = v1.files.filterNot(_._1.contains("/o_year=1995/"))
      try commit(s, table, "overwrite-partition-1995",
        kept ++ dataFiles(s, repl), Some(1L))
      catch { case _: SnapshotConflict => () }
    }
    table
  }

  // ---------------------------------------------------------------
  // Catalog layer: MULTI-TABLE atomic commits
  // ---------------------------------------------------------------

  /** Atomic MULTI-TABLE commit: one catalog manifest pins a (table →
    * version) assignment for every member table — the cross-table
    * transaction single-table logs (Delta) cannot express and
    * REST-catalog Iceberg added for exactly this reason. Readers
    * resolve ALL tables through one catalog version, so they can
    * never observe a torn cross-table state (orders at v2 joined to
    * lineitem at v1). Implementation reuses the manifest machinery
    * wholesale — a catalog entry is a manifest "file" row whose
    * length slot carries the pinned version — so atomic CREATE_NEW
    * publication, optimistic expected-parent, torn-manifest
    * invisibility and squatter-skipping all hold verbatim. */
  def catalogCommit(s: SparkSession, catalog: String,
      pins: Seq[(String, Long)], expectedParent: Option[Long] = None): Long =
    commit(s, catalog, "catalog-pin", pins, expectedParent)

  /** The (table → version) assignment at catalog version `v`. */
  def readCatalog(s: SparkSession, catalog: String, v: Long): Map[String, Long] =
    readManifest(s, catalog, v).getOrElse(throw new IllegalArgumentException(
      s"no committed catalog version v$v in $catalog")).files.toMap

  /** Read `table` AS PINNED BY catalog version `cv`. */
  def readThroughCatalog(s: SparkSession, catalog: String, cv: Long,
      table: String): DataFrame =
    readAt(s, table, readCatalog(s, catalog, cv)(table))

  /** u06 fixture: two snapshot tables that must move TOGETHER —
    * orders and lineitem each get a matching poison shard (the same
    * +30M key offset, so the shards JOIN), and the catalog pins
    * (A→1, B→1) at cv1, then (A→2, B→2) at cv2 atomically. A reader
    * that mixed versions would see orphaned join keys; through the
    * catalog that state is unrepresentable. */
  def cataloggedPair(s: SparkSession, d: String): (String, String, String) = synchronized {
    val a = snapshottedOrders(s, d) // v1 base, v2 = +poison orders
    val b = stamped(s, d) + "_li"
    if (currentVersion(s, b) == 0L) {
      val base = s"$b/data/base"
      Tables.lineitem(s, d).repartition(4)
        .write.mode("overwrite").parquet(base)
      try commit(s, b, "base-load", dataFiles(s, base), Some(0L))
      catch { case _: SnapshotConflict => () }
    }
    if (currentVersion(s, b) == 1L) {
      val shard = s"$b/data/shard1"
      Tables.lineitem(s, d).filter(col("l_orderkey") % 97 === 0)
        .withColumn("l_orderkey", col("l_orderkey") + lit(30000000L))
        .withColumn("l_returnflag", lit("Z"))
        .repartition(1).write.mode("overwrite").parquet(shard)
      val v1 = readManifest(s, b, 1L).get
      try commit(s, b, "append-shard",
        v1.files ++ dataFiles(s, shard), Some(1L))
      catch { case _: SnapshotConflict => () }
    }
    val cat = stamped(s, d) + "_cat"
    if (currentVersion(s, cat) == 0L) {
      try catalogCommit(s, cat, Seq(a -> 1L, b -> 1L), Some(0L))
      catch { case _: SnapshotConflict => () }
    }
    if (currentVersion(s, cat) == 1L) {
      try catalogCommit(s, cat, Seq(a -> 2L, b -> 2L), Some(1L))
      catch { case _: SnapshotConflict => () }
    }
    (cat, a, b)
  }

  /** i19 fixture: base load (v1), poison append (v2), then RESTORE to
    * v1 as v3 — a new commit that re-references v1's exact file list.
    * Idempotent via the log like the other fixtures. */
  def restoredOrdersTable(s: SparkSession, d: String): String = synchronized {
    val table = stamped(s, d) + "_rst"
    if (currentVersion(s, table) == 0L) {
      val base = s"$table/data/base"
      Tables.orders(s, d).repartition(4)
        .write.mode("overwrite").parquet(base)
      try commit(s, table, "base-load", dataFiles(s, base), Some(0L))
      catch { case _: SnapshotConflict => () }
    }
    if (currentVersion(s, table) == 1L) {
      val shard = s"$table/data/shard1"
      poisonShard(s, d).repartition(1)
        .write.mode("overwrite").parquet(shard)
      val v1 = readManifest(s, table, 1L).get
      try commit(s, table, "append-shard",
        v1.files ++ dataFiles(s, shard), Some(1L))
      catch { case _: SnapshotConflict => () }
    }
    if (currentVersion(s, table) == 2L) {
      // the restore: v3 = v1's file list, committed like any write
      try commit(s, table, "restore-to-v1",
        readManifest(s, table, 1L).get.files, Some(2L))
      catch { case _: SnapshotConflict => () }
    }
    table
  }

  /** i22 fixture: a LONG log — base load then ten single-shard
    * appends (12 reachable versions incl. the implicit v0) — the
    * shape where discovery cost shows: every commit k appends the
    * deterministic %131 slice re-priced by +k. Idempotent and
    * crash-resumable via the log like the other fixtures. */
  def checkpointedOrdersTable(s: SparkSession, d: String): String = synchronized {
    val table = stamped(s, d) + "_ckp"
    if (currentVersion(s, table) == 0L) {
      val base = s"$table/data/base"
      Tables.orders(s, d).repartition(4)
        .write.mode("overwrite").parquet(base)
      try commit(s, table, "base-load", dataFiles(s, base), Some(0L))
      catch { case _: SnapshotConflict => () }
    }
    var v = currentVersion(s, table)
    while (v < 11L) {
      val k = v // shard k lands as version k+1
      val shard = s"$table/data/shard$k"
      Tables.orders(s, d).filter(col("o_orderkey") % 131 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(k.toDouble))
        .repartition(1).write.mode("overwrite").parquet(shard)
      val prev = readManifest(s, table, v).get
      try commit(s, table, s"append-$k",
        prev.files ++ dataFiles(s, shard), Some(v))
      catch { case _: SnapshotConflict => () }
      v = currentVersion(s, table)
    }
    table
  }

  /** i23 fixture: orders range-partitioned on o_orderkey into 8 files
    * and committed WITH per-file [min, max] key stats in the manifest
    * — the layout where manifest-level pruning shows (each file owns a
    * disjoint key range, so a narrow key predicate can only match a
    * few files). Idempotent via the log like the other fixtures. */
  def statsPrunedOrdersTable(s: SparkSession, d: String): String = synchronized {
    val table = stamped(s, d) + "_prn"
    if (currentVersion(s, table) == 0L) {
      val base = s"$table/data/base"
      Tables.orders(s, d).repartitionByRange(8, col("o_orderkey"))
        .write.mode("overwrite").parquet(base)
      val files = dataFiles(s, base)
      try commit(s, table, "base-load", files, Some(0L),
        stats = fileStats(s, files.map(_._1), "o_orderkey"))
      catch { case _: SnapshotConflict => () }
    }
    table
  }

  /** i25 fixture: v1 = base load (8 range files) with per-file NDV
    * sketch blobs committed alongside; v2 appends the %97 re-keyed
    * [[poisonShard]] — whose rows keep their ORIGINAL custkeys, the
    * property the i25 oracle depends on (v2's exact distinct-custkey
    * set equals the base table's) — with a sketch computed for the
    * NEW file ONLY; the base files' blobs are CARRIED from v1's
    * manifest verbatim (sketched once at write time, never
    * re-scanned: the whole point). Idempotent via the log like the
    * other fixtures. */
  def ndvOrdersTable(s: SparkSession, d: String): String = synchronized {
    val table = stamped(s, d) + "_ndv"
    if (currentVersion(s, table) == 0L) {
      val base = s"$table/data/base"
      Tables.orders(s, d).repartitionByRange(8, col("o_orderkey"))
        .write.mode("overwrite").parquet(base)
      val files = dataFiles(s, base)
      try commit(s, table, "base-load", files, Some(0L),
        ndv = fileNdv(s, files.map(_._1), "o_custkey"))
      catch { case _: SnapshotConflict => () }
    }
    if (currentVersion(s, table) == 1L) {
      val shard = s"$table/data/shard1"
      poisonShard(s, d).repartition(1)
        .write.mode("overwrite").parquet(shard)
      val m = readManifest(s, table, 1L).get
      val sf = dataFiles(s, shard)
      try commit(s, table, "append-shard", m.files ++ sf, Some(1L),
        ndv = m.ndv ++ fileNdv(s, sf.map(_._1), "o_custkey"))
      catch { case _: SnapshotConflict => () }
    }
    table
  }

  /** i24 fixture: the WAP lifecycle — v1 base (published), v2 = base
    * + an audited-good shard (%131 re-priced +5, audit passes →
    * published), v3 = v2 + a CORRUPT shard (negative prices — the
    * audit fails, so v3 is committed but NEVER published). The audit
    * here is the canonical data-quality predicate (no negative
    * totals); any check slots into the same gate. Idempotent via the
    * log like the other fixtures. */
  def wapOrdersTable(s: SparkSession, d: String): String = synchronized {
    val table = stamped(s, d) + "_wap"
    if (currentVersion(s, table) == 0L) {
      val base = s"$table/data/base"
      Tables.orders(s, d).repartition(4)
        .write.mode("overwrite").parquet(base)
      try commit(s, table, "base-load", dataFiles(s, base), Some(0L))
      catch { case _: SnapshotConflict => () }
    }
    def auditPasses(v: Long): Boolean =
      readAt(s, table, v).filter(col("o_totalprice") < 0).limit(1).count() == 0
    if (publishedVersion(s, table) < 1L) publish(s, table, 1L)
    if (currentVersion(s, table) == 1L) {
      val shard = s"$table/data/good1"
      Tables.orders(s, d).filter(col("o_orderkey") % 131 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(50000000L))
        .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))
        .repartition(1).write.mode("overwrite").parquet(shard)
      val v1 = readManifest(s, table, 1L).get
      try {
        val v2 = commit(s, table, "stage-good",
          v1.files ++ dataFiles(s, shard), Some(1L))
        if (auditPasses(v2)) publish(s, table, v2) // write, AUDIT, publish
      } catch { case _: SnapshotConflict => () }
    }
    if (currentVersion(s, table) == 2L) {
      val shard = s"$table/data/bad2"
      Tables.orders(s, d).filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(60000000L))
        .withColumn("o_totalprice", (col("o_totalprice") * lit(-1.0)) - lit(1.0))
        .repartition(1).write.mode("overwrite").parquet(shard)
      val v2 = readManifest(s, table, 2L).get
      try {
        val v3 = commit(s, table, "stage-bad",
          v2.files ++ dataFiles(s, shard), Some(2L))
        if (auditPasses(v3)) publish(s, table, v3) // audit fails: no publish
      } catch { case _: SnapshotConflict => () }
    }
    table
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // i24: WRITE-AUDIT-PUBLISH — consumers read through the publish
    // pointer, which only audited snapshots advance. The rollup runs
    // over the PUBLISHED view: the corrupt staged head (v3, negative
    // prices) must be invisible to it even though it is the table's
    // current version — if the read path ever leaks the staged head,
    // the negative totals shift every revenue checksum. wap_ok pins
    // the lifecycle facts: published == 2 while current == 3, the
    // staged head really contains bad rows, the published view none.
    "i24_wap_publish" -> ((s, d) => {
      val table = wapOrdersTable(s, d)
      val pub = publishedVersion(s, table)
      val cur = currentVersion(s, table)
      val stagedBad = readAt(s, table, cur)
        .filter(col("o_totalprice") < 0).limit(1).count()
      val pubBad = readPublished(s, table)
        .filter(col("o_totalprice") < 0).limit(1).count()
      val ok = pub == 2L && cur == 3L && stagedBad > 0 && pubBad == 0
      statusRollup(readPublished(s, table))
        .withColumn("wap_ok", lit(if (ok) 1L else 0L))
    }),

    // i23: MANIFEST-STATS PRUNED SCAN — a narrow key-range query plans
    // over ONLY the files whose manifest-carried [min, max] can match:
    // no footer opens, no data IO for the rest. The rollup runs over
    // the pruned read (so the oracle's full-table replay catches a
    // lost row the instant pruning is wrong); pruned_ok pins that
    // pruning actually skipped files AND the plan covered all 8.
    // At 100 TB: a point-range query on a 100k-file table goes from
    // 100k footer opens to a manifest already in hand — the Iceberg
    // min/max scan-planning path, and what the CDC layer's stats
    // sidecar (u04) looks like promoted into the commit itself.
    "i23_stats_pruned_scan" -> ((s, d) => {
      val table = statsPrunedOrdersTable(s, d)
      val cur = currentVersion(s, table)
      val pruned = readAtPruned(s, table, cur, "o_orderkey", 1L, 2000L)
        .filter(col("o_orderkey").between(1L, 2000L))
      val ok = lastPruneSkipped >= 1 &&
        lastPrunePlanned + lastPruneSkipped == 8
      statusRollup(pruned)
        .withColumn("pruned_ok", lit(if (ok) 1L else 0L))
    }),

    // i25: METADATA-ONLY NDV — the Iceberg Puffin / DataSketches
    // pattern: each commit carries a per-file HLL sketch blob in the
    // manifest (`n:` lines), sketched ONCE when the file is written
    // (v2 carries v1's blobs VERBATIM — the append job sketched only
    // its own shard, see [[ndvOrdersTable]]). A table-level
    // distinct-count estimate is then a union-merge of blobs already
    // in the manifest TEXT: zero data files opened, zero footers —
    // the planner-side cardinality estimate a CBO wants for free, and
    // at 100 TB the difference between reading ~1.5 KB × files of
    // metadata and re-shuffling the key column of the whole table.
    // The exact leg prices the gate on the fixture (the a05
    // convention); ndv_ok pins the estimate inside the HLL envelope
    // AND the structural fact that EVERY file carried a blob.
    "i25_ndv_stats" -> ((s, d) => {
      import s.implicits._
      val table = ndvOrdersTable(s, d)
      val cur = currentVersion(s, table)
      val m = readManifest(s, table, cur).get
      // file-count-bounded driver list (the i11 zone-map class)
      val blobs = m.files.flatMap { case (p, _) => m.ndv.get(p) }
        .map(java.util.Base64.getDecoder.decode)
      val est = blobs.toDF("sk")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = readAt(s, table, cur)
        .agg(countDistinct(col("o_custkey")).as("exact_custkeys"))
      exact.withColumn("k", lit(1))
        .join(est.withColumn("k", lit(1)), Seq("k"))
        .select(lit(m.files.size.toLong).as("n_files"),
          col("exact_custkeys"),
          when(lit(blobs.size == m.files.size) &&
            abs(col("est") - col("exact_custkeys")) <=
              col("exact_custkeys") * 0.05 + lit(5.0), 1L)
            .otherwise(0L).as("ndv_ok"))
    }),

    // i22: CHECKPOINTED DISCOVERY — on a 11-commit log, finding the
    // current version through the `_last_checkpoint` pointer must (a)
    // agree exactly with the listing-based discovery, (b) cost O(1)
    // manifest reads (pointer current → 1 read + 1 existence miss)
    // with NO directory listing, and (c) read bit-identical content.
    // The rollup is over the pointer-discovered snapshot; ckpt_ok
    // pins the structural facts. At 100 TB this is the difference
    // between one GET and a 10^5-entry LIST per plan — on object
    // stores the listing is the slowest, most throttled call in the
    // metadata path (why Delta ships `_last_checkpoint`).
    "i22_checkpointed_log" -> ((s, d) => {
      val table = checkpointedOrdersTable(s, d)
      val viaCkpt = currentVersion(s, table)
      val reads = lastVersionDiscoveryReads
      val listed = lastVersionDiscoveryListed
      val viaListing = currentVersionByListing(s, table)
      val ok = !listed && reads <= 2 && viaCkpt == viaListing &&
        viaCkpt == 11L
      statusRollup(readAt(s, table, viaCkpt))
        .withColumn("ckpt_ok", lit(if (ok) 1L else 0L))
    }),
    // i13: TIME TRAVEL — read AS OF v1 after v2 exists. The oracle is
    // the plain source table: if the reader planned from a directory
    // listing (or any file v1's manifest doesn't name), the poison
    // shard's Z rows appear and every checksum splits.
    "i13_time_travel" -> ((s, d) =>
      statusRollup(readAt(s, snapshottedOrders(s, d), 1L))),

    // i14: CURRENT snapshot — same rollup at v2; the oracle replays
    // the append in SQL. Green i13 + green i14 together pin that the
    // two versions coexist over shared immutable base files.
    "i14_snapshot_current" -> ((s, d) => {
      val table = snapshottedOrders(s, d)
      statusRollup(readAt(s, table, currentVersion(s, table)))
    }),

    // i15: snapshot EXPIRATION — after expiring history down to the
    // current compacted snapshot, the live read must still be exactly
    // the v2 logical content (the oracle replays it), and the gate
    // column pins that exactly ONE manifest remains on disk and zero
    // orphans linger — storage actually reclaimed, reads undisturbed.
    // SnapshotLogSpec pins the sharper structural facts (expired
    // versions unreadable, dead files deleted, shared files kept).
    "i15_snapshot_expire" -> ((s, d) => {
      val table = expiredOrdersTable(s, d)
      val fs = fsOf(s)
      val manifests = fs.listStatus(
        new org.apache.hadoop.fs.Path(logDir(table)))
        .map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.drop(1).forall(_.isDigit))
        .count(n => readManifest(s, table, n.drop(1).toLong).isDefined)
      val ok = manifests == 1 && orphanFiles(s, table).isEmpty
      statusRollup(readAt(s, table, currentVersion(s, table)))
        .withColumn("retained_ok", lit(if (ok) 1L else 0L))
    }),

    // i16: snapshot DIFF / changelog read — what changed between v1
    // and v2, computed at FILE granularity from the manifests (the
    // Delta change-data-feed trick for append/remove commits): files
    // only in v2 hold exactly the inserted rows (files are immutable,
    // so a row in a new file IS new), files only in v1 hold the
    // removed rows. Cost is O(changed files), never O(table) — at
    // 100 TB a daily changelog reads the day's files, not the lake.
    // The oracle independently derives the inserted rows (the poison
    // append is deterministic) and pins removed-file count at 0, so a
    // diff that scanned shared files or missed the shard splits the
    // hash.
    "i16_snapshot_diff" -> ((s, d) => {
      val table = snapshottedOrders(s, d)
      val m1 = readManifest(s, table, 1L).get.files.map(_._1).toSet
      val m2 = readManifest(s, table, 2L).get.files.map(_._1)
      val added = m2.filterNot(m1)
      val removed = m1 -- m2.toSet
      statusRollup(s.read.parquet(added: _*))
        .withColumn("n_removed_files", lit(removed.size.toLong))
    }),

    // i17: SCHEMA EVOLUTION through the snapshot log — v2 appends a
    // shard with a new `o_channel` column while the base files stay
    // untouched (no table rewrite to add a column). The merged read
    // null-fills old rows; the rollup keys on the evolved column, so
    // a read that dropped it (or rewrote history) splits the hash.
    // SnapshotLogSpec pins the sharper facts: v1 keeps the OLD schema,
    // only the merged current read carries the new column.
    "i17_schema_evolution" -> ((s, d) => {
      val table = schemaEvolvedOrders(s, d)
      readAt(s, table, currentVersion(s, table), mergeSchema = true)
        .groupBy(coalesce(col("o_channel"), lit("LEGACY")).as("channel"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType)
            .as("revenue"))
        .orderBy("channel")
    }),

    // i19: RESTORE / rollback (Delta RESTORE TABLE ... VERSION AS OF;
    // Iceberg rollback_to_snapshot) — undo the poison append by
    // committing a NEW version whose file list is v1's. Nothing is
    // deleted and nothing is rewritten: the restore is one manifest
    // commit referencing the still-immutable v1 files, history stays
    // intact (v2 remains readable until expired), and at 100 TB the
    // cost is O(manifest), not O(table) — the whole point of
    // manifest-level undo. The read-after-restore must equal the BASE
    // table exactly (the plain-orders oracle): one leaked v2 file
    // splits every checksum. The gate column pins that the restore
    // landed as a version bump (history preserved), not a rewind.
    "i19_snapshot_restore" -> ((s, d) => {
      val table = restoredOrdersTable(s, d)
      val cur = currentVersion(s, table)
      val restoredOk =
        readManifest(s, table, cur).get.files ==
          readManifest(s, table, 1L).get.files && cur >= 3L
      statusRollup(readAt(s, table, cur))
        .withColumn("restored_ok", lit(if (restoredOk) 1L else 0L))
    }),

    // u06: MULTI-TABLE catalog snapshot — orders and lineitem resolve
    // through ONE catalog version, so the cross-table join can only
    // ever see matching states: at cv2 both poison shards (same +30M
    // key offset) appear and JOIN; a reader mixing A@2 with B@1
    // would orphan every poison key, and that state is
    // unrepresentable through the catalog (SnapshotLogSpec pins the
    // cv1 side: zero poison rows in either table). The oracle replays
    // both appends and the join — a torn cross-table read moves the
    // Z-row group or orphans keys, splitting the hash either way.
    "u06_catalog_snapshot" -> ((s, d) => {
      val (cat, a, b) = cataloggedPair(s, d)
      val cv = currentVersion(s, cat)
      val o = readThroughCatalog(s, cat, cv, a)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val li = readThroughCatalog(s, cat, cv, b)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"))
      o.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(DecimalType(12, 2)))
            .cast(DoubleType).as("revenue"))
        .orderBy("o_orderstatus", "l_returnflag")
    }),

    // i21: TABLE HISTORY (DESCRIBE HISTORY / Iceberg snapshots
    // metadata table) — the audit surface every lakehouse exposes:
    // one row per committed version with its parent, operation and
    // file count, read straight from the manifests (O(log), zero
    // data-file IO). On the i13 fixture the history is fully
    // deterministic (base-load lands 4 files, the poison append adds
    // 1), so the oracle pins it as literal VALUES — the i02
    // convention. Byte sizes are deliberately excluded: parquet
    // encoder output is not contractual across Spark versions, and an
    // audit row must not flap on codec drift.
    "i21_table_history" -> ((s, d) => {
      import s.implicits._
      val table = snapshottedOrders(s, d)
      (1L to currentVersion(s, table))
        .flatMap(v => readManifest(s, table, v))
        .map(m => (m.version, m.parent, m.op, m.files.size.toLong))
        .toDF("version", "parent", "op", "n_files")
        .orderBy("version")
    }),

    // i18: PARTITION OVERWRITE — after replacing the 1995 partition,
    // the per-year rollup must show exactly the re-priced 1995 rows
    // and untouched everything-else (the oracle replays the
    // replacement in SQL). A leaked old 1995 file doubles that year's
    // counts; a clobbered other partition moves its year's row —
    // either way the hash splits. The partition column lives in the
    // LAYOUT (Hive-style o_year= dirs, dropped from file contents),
    // so the read re-derives the year from o_orderdate.
    "i18_partition_overwrite" -> ((s, d) => {
      val table = partitionOverwrittenOrders(s, d)
      readAt(s, table, currentVersion(s, table))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType)
            .as("revenue"))
        .orderBy("o_year")
    }),

    // i26: SNAPSHOT TAGS — the Iceberg tag / audit-pin workflow: pin
    // "the blessed corpus" by NAME, read through the name forever,
    // and retention can never reclaim it. On the i13 fixture v1 is
    // tagged `baseline` (idempotent — re-running re-tags the same
    // version as a no-op); the rollup reads THROUGH the tag, so a
    // resolve that drifted to the poison-appended v2 moves every
    // checksum. tag_ok pins the ref semantics: resolves to 1 while
    // the table head is 2, a re-tag to a different version is
    // REFUSED (tags are immutable), and the listing shows exactly
    // the one tag. Expire-survival is pinned in SnapshotLogSpec on a
    // private table (this fixture is shared).
    "i26_snapshot_tag" -> ((s, d) => {
      val table = snapshottedOrders(s, d)
      tagSnapshot(s, table, "baseline", 1L)
      val retagRefused = scala.util.Try(
        tagSnapshot(s, table, "baseline", 2L)).isFailure
      val ok = tagVersion(s, table, "baseline") == 1L && retagRefused &&
        tags(s, table) == Map("baseline" -> 1L) &&
        currentVersion(s, table) == 2L
      statusRollup(readTagged(s, table, "baseline"))
        .withColumn("tag_ok", lit(if (ok) 1L else 0L))
    }),

    // i28: ORPHAN-FILE CLEANUP (Iceberg `remove_orphan_files`) — the
    // maintenance half of optimistic concurrency: a LOSING writer's
    // data files are garbage no manifest names, invisible to readers
    // but paying storage forever until reclaimed. A fresh snapshot
    // table gets a planted loser write (one parquet shard under
    // data/ that no commit references); the listing finds exactly it,
    // removal deletes exactly it, and the table read is bit-identical
    // before and after (the rollup ≡ the base oracle — reclamation
    // that touched a LIVE file would split every checksum).
    // orphan_ok pins the counts: 1 found, the same 1 removed, 0 left —
    // AND that the default 3-day grace window sees the fresh loser as
    // a possible in-flight writer and refuses to touch it (the
    // listing under the default is empty; only the explicit
    // quiesced-writers grace of 0 reclaims). At 100 TB this is the
    // difference between object storage growing monotonically under
    // writer races and a bounded table footprint — without the grace
    // window ever deleting a live writer's pre-commit files.
    "i28_orphan_cleanup" -> ((s, d) => {
      val table = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(graft.LocalScratch.scratchDir),
        "graft_i28_table").toString
      graft.streaming.CdcStream.seedTarget(s, table, Tables.orders(s, d))
      // the loser writer: data landed, commit never did
      Tables.orders(s, d).filter(col("o_orderkey") % 97 === 0)
        .repartition(1).write.mode("overwrite").parquet(s"$table/data/loser")
      // under the DEFAULT grace the just-written loser is protected
      val gracedSkips = orphanFiles(s, table).isEmpty
      // harness writers are quiesced: explicit grace 0 reclaims
      val before = orphanFiles(s, table, olderThanMillis = 0L)
      val removed = removeOrphans(s, table, olderThanMillis = 0L)
      val after = orphanFiles(s, table, olderThanMillis = 0L)
      val ok = gracedSkips && before.size == 1 && removed == before &&
        after.isEmpty && before.head.contains("/data/loser/")
      statusRollup(readAt(s, table, currentVersion(s, table)))
        .withColumn("orphan_ok", lit(if (ok) 1L else 0L))
    }),

    // i27: TIMESTAMP TIME TRAVEL (Delta `TIMESTAMP AS OF`) — resolve
    // "the table as of 1,500,000 ms" against manifest-carried commit
    // times: between v1 (t=1,000,000) and v2 (t=2,000,000) the read
    // must land on v1 (the rollup ≡ the base table — a resolve that
    // drifted to v2 moves every checksum). asof_ok pins the
    // resolution semantics: mid-window → v1, exactly-at and far-after
    // → v2, before-history REFUSED (never silently the oldest).
    "i27_time_travel_ts" -> ((s, d) => {
      val table = timestampedOrders(s, d)
      val preHistoryRefused = scala.util.Try(
        versionAsOf(s, table, 999999L)).isFailure
      val ok = versionAsOf(s, table, 1500000L) == 1L &&
        versionAsOf(s, table, 2000000L) == 2L &&
        versionAsOf(s, table, 9999999999L) == 2L && preHistoryRefused
      statusRollup(readAsOf(s, table, 1500000L))
        .withColumn("asof_ok", lit(if (ok) 1L else 0L))
    }),

    // i29: BRANCH WRITES + FAST-FORWARD (the Iceberg/Nessie branch
    // workflow) — an audit line of development cut ZERO-COPY from v1,
    // takes a MOR delete (%31) and a MOR upsert (%17, re-inserting
    // the %527 overlap — sequence algebra crosses the branch
    // boundary intact), while main's readers stay bit-identically at
    // v1; fast-forward then lands the branch head as main v2 in one
    // conflict-checked commit. branch_ok pins the whole contract:
    // isolation (main unmoved during branch writes), ff version,
    // a STALE branch refused once main moved (the rebase-required
    // conflict), expire-on-branch refused (shared-file safety), and
    // the base pinned by the branch tag. The rollup reads main's
    // post-ff head — a fast-forward that dropped a mutation file or
    // resequenced the overlay moves every checksum. At 100 TB:
    // cutting a branch is one manifest + one tag (no data IO), the
    // audit pipeline runs against it with every existing writer
    // unchanged, and merge-back is O(1) metadata.
    "i29_branch_writes" -> ((s, d) => {
      val table = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(graft.LocalScratch.scratchDir),
        "graft_i29_table").toString
      graft.streaming.CdcStream.seedTarget(s, table, Tables.orders(s, d),
        "o_orderkey")
      val orders = Tables.orders(s, d)
      val bt = branch(s, table, "audit", 1L)
      deleteMor(s, bt,
        orders.filter(col("o_orderkey") % 31 === 0).select("o_orderkey"),
        "o_orderkey")
      updateMor(s, bt,
        orders.filter(col("o_orderkey") % 17 === 0)
          .select(col("o_orderkey"), lit("BR").as("o_orderstatus"),
            (col("o_totalprice") + lit(75.0)).as("o_totalprice")),
        "o_orderkey")
      val isolated = currentVersion(s, table) == 1L &&
        readAt(s, table, 1L).count() == orders.count()
      val ffv = fastForward(s, table, "audit")
      branch(s, table, "stale", 1L)
      val staleRefused = scala.util.Try(fastForward(s, table, "stale")).isFailure
      val expireRefused = scala.util.Try(expire(s, bt, 1)).isFailure
      val pinned = tags(s, table).get("branch-audit").contains(1L)
      val ok = isolated && ffv == 2L && staleRefused && expireRefused && pinned
      statusRollup(readMor(s, table, ffv, "o_orderkey"))
        .withColumn("branch_ok", lit(if (ok) 1L else 0L))
    }),

    // i30: THREE-WAY BRANCH MERGE WITH CONFLICT DETECTION — the case
    // i29's fast-forward refuses: parent AND branch both moved since
    // the cut. The branch fixes LOW keys (< 750: a MOR delete then a
    // MOR upsert) while main independently fixes HIGH keys (≥ 750) —
    // the manifest-carried key ranges prove the two sides disjoint,
    // so merge() replays the branch's mutation files onto main's head
    // re-sequenced above main's history, one metadata-only commit.
    // merge_ok pins the contract: the merged version number, replay
    // idempotence (a re-merge commits nothing), overlap REFUSAL (a
    // second branch touching main's high keys is thrown out with
    // SnapshotConflict, main unmoved), and consumed-branch safety (a
    // post-merge fastForward of the merged branch refuses rather than
    // clobbering main's divergent history). The rollup reads main's
    // merged head — a replay that dropped a mutation file, inverted a
    // sequence, or let one side's keys leak into the other moves
    // every checksum. At 100 TB: the conflict proof is a driver loop
    // over manifest ranges and the merge is one manifest write — no
    // data IO at any table size.
    "i30_branch_merge" -> ((s, d) => {
      val table = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(graft.LocalScratch.scratchDir),
        "graft_i30_table").toString
      graft.streaming.CdcStream.seedTarget(s, table, Tables.orders(s, d),
        "o_orderkey")
      val orders = Tables.orders(s, d)
      val low = col("o_orderkey") < 750
      val bt = branch(s, table, "fix", 1L)
      deleteMor(s, bt,
        orders.filter(low && col("o_orderkey") % 31 === 0).select("o_orderkey"),
        "o_orderkey")
      updateMor(s, bt,
        orders.filter(low && col("o_orderkey") % 17 === 0)
          .select(col("o_orderkey"), lit("BR").as("o_orderstatus"),
            (col("o_totalprice") + lit(75.0)).as("o_totalprice")),
        "o_orderkey")
      deleteMor(s, table,
        orders.filter(!low && col("o_orderkey") % 29 === 0).select("o_orderkey"),
        "o_orderkey")
      updateMor(s, table,
        orders.filter(!low && col("o_orderkey") % 13 === 0)
          .select(col("o_orderkey"), lit("BM").as("o_orderstatus"),
            (col("o_totalprice") + lit(50.0)).as("o_totalprice")),
        "o_orderkey")
      val ffRefused = scala.util.Try(fastForward(s, table, "fix")).isFailure
      val mv = merge(s, table, "fix", "o_orderkey")
      val remerge = merge(s, table, "fix", "o_orderkey") // idempotent
      val consumed = scala.util.Try(fastForward(s, table, "fix")).isFailure
      val bt2 = branch(s, table, "clash", mv)
      deleteMor(s, bt2,
        orders.filter(!low && col("o_orderkey") % 23 === 0).select("o_orderkey"),
        "o_orderkey")
      deleteMor(s, table,
        orders.filter(!low && col("o_orderkey") % 19 === 0).select("o_orderkey"),
        "o_orderkey")
      val preClash = currentVersion(s, table)
      val clashRefused = scala.util.Try(
        merge(s, table, "clash", "o_orderkey")).isFailure
      val ok = ffRefused && mv == 4L && remerge == mv && consumed &&
        clashRefused && currentVersion(s, table) == preClash
      statusRollup(readMor(s, table, mv, "o_orderkey"))
        .withColumn("merge_ok", lit(if (ok) 1L else 0L))
    })
  )

  val oracle: Map[String, String] = Map(
    // i24: the published view = base + the audited-good shard; the
    // corrupt staged head never appears. wap_ok replays as the pinned
    // lifecycle constant.
    "i24_wap_publish" -> """
      WITH all_rows AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderstatus, o_totalprice + 5.0 FROM orders
        WHERE o_orderkey % 131 = 0)
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(1 AS BIGINT) AS wap_ok
      FROM all_rows GROUP BY 1 ORDER BY 1""",

    // i23: the pruned scan must be exactly the full-table filter —
    // a wrongly-skipped file loses rows and splits every checksum;
    // pruned_ok is the pinned structural constant (files skipped,
    // plan covered all 8)
    "i23_stats_pruned_scan" -> """
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(1 AS BIGINT) AS pruned_ok
      FROM orders WHERE o_orderkey BETWEEN 1 AND 2000
      GROUP BY 1 ORDER BY 1""",

    // i25: the poison shard re-keys %97 clones but keeps their
    // custkeys, so v2's exact distinct-custkey set IS the base
    // table's; n_files = 8 range files + 1 shard; ndv_ok is the
    // pinned sketch-envelope gate (the a05 convention)
    "i25_ndv_stats" -> """
      SELECT CAST(9 AS BIGINT) AS n_files,
        CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custkeys,
        CAST(1 AS BIGINT) AS ndv_ok
      FROM orders""",

    // i22: base + ten re-priced %131 shards, replayed with a
    // generator instead of ten UNION ALL arms; ckpt_ok is the pinned
    // structural constant (pointer path agreed with listing at O(1)
    // reads)
    "i22_checkpointed_log" -> """
      WITH ks AS (SELECT unnest(range(1, 11)) AS k),
      shards AS (
        SELECT o_orderstatus, o_totalprice + k AS o_totalprice
        FROM orders CROSS JOIN ks
        WHERE o_orderkey % 131 = 0),
      all_rows AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderstatus, o_totalprice FROM shards)
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(1 AS BIGINT) AS ckpt_ok
      FROM all_rows GROUP BY 1 ORDER BY 1""",

    "i13_time_travel" -> """
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY 1 ORDER BY 1""",

    "i14_snapshot_current" -> """
      WITH snap2 AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT 'Z' AS o_orderstatus, o_totalprice + 250.25 AS o_totalprice
        FROM orders WHERE o_orderkey % 97 = 0)
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM snap2 GROUP BY 1 ORDER BY 1""",

    // i15: the live content equals v2's logical rows (compaction is a
    // rewrite); retained_ok is the pinned structural constant (one
    // manifest left, zero orphans)
    "i15_snapshot_expire" -> """
      WITH snap2 AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        UNION ALL
        SELECT 'Z' AS o_orderstatus, o_totalprice + 250.25 AS o_totalprice
        FROM orders WHERE o_orderkey % 97 = 0)
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(1 AS BIGINT) AS retained_ok
      FROM snap2 GROUP BY 1 ORDER BY 1""",

    // i16: the v1→v2 diff is exactly the poison append (inserted) and
    // nothing removed — derived here independently of the manifests
    "i16_snapshot_diff" -> """
      SELECT 'Z' AS o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice + 250.25 AS DECIMAL(12,2))) AS DOUBLE)
          AS revenue,
        CAST(0 AS BIGINT) AS n_removed_files
      FROM orders WHERE o_orderkey % 97 = 0
      GROUP BY 1 ORDER BY 1""",

    "i17_schema_evolution" -> """
      WITH evolved AS (
        SELECT 'LEGACY' AS channel, o_totalprice FROM orders
        UNION ALL
        SELECT 'WEB' AS channel, o_totalprice + 10.0 AS o_totalprice
        FROM orders WHERE o_orderkey % 101 = 0)
      SELECT channel, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM evolved GROUP BY 1 ORDER BY 1""",

    // i18: the overwrite replayed in SQL — every non-1995 row as-is,
    // every 1995 row re-priced +100.0
    "i18_partition_overwrite" -> """
      WITH snap2 AS (
        SELECT o_orderdate, o_totalprice FROM orders
        WHERE YEAR(o_orderdate) <> 1995
        UNION ALL
        SELECT o_orderdate, o_totalprice + 100.0 AS o_totalprice
        FROM orders WHERE YEAR(o_orderdate) = 1995)
      SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM snap2 GROUP BY 1 ORDER BY 1""",

    // u06: both poison appends replayed, then the join — the catalog
    // guarantees the versions move together, the oracle checks the
    // joined result of exactly that pair
    "u06_catalog_snapshot" -> """
      WITH o AS (
        SELECT o_orderkey, o_orderstatus FROM orders
        UNION ALL
        SELECT o_orderkey + 30000000 AS o_orderkey, 'Z' AS o_orderstatus
        FROM orders WHERE o_orderkey % 97 = 0),
      li AS (
        SELECT l_orderkey, l_returnflag, l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_orderkey + 30000000 AS l_orderkey, 'Z' AS l_returnflag,
               l_extendedprice
        FROM lineitem WHERE l_orderkey % 97 = 0)
      SELECT o_orderstatus, l_returnflag, COUNT(*) AS n_items,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM o JOIN li ON o.o_orderkey = li.l_orderkey
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // i21: the i13 fixture's deterministic history as literal VALUES
    "i21_table_history" -> """
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'base-load', CAST(4 AS BIGINT)),
        (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'append-shard', CAST(5 AS BIGINT)))
        AS t(version, parent, op, n_files)
      ORDER BY version""",

    // i29: the branch's two writes replayed over orders — survivors
    // keep their base row unless the %17 upsert replaced them ('BR',
    // +75, re-inserting the %31-deleted overlap); branch_ok replays
    // as the pinned workflow constant
    "i29_branch_writes" -> """
      WITH f AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 31 <> 0 AND o_orderkey % 17 <> 0
        UNION ALL
        SELECT 'BR', o_totalprice + 75.0 FROM orders
        WHERE o_orderkey % 17 = 0)
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(1 AS BIGINT) AS branch_ok
      FROM f GROUP BY 1 ORDER BY o_orderstatus""",

    // i30: the merged head = branch's low-key fixes + main's high-key
    // fixes, each side's later upsert re-inserting its own deleted
    // overlap (sequence order preserved through the re-sequenced
    // replay); merge_ok replays as the pinned lifecycle constant
    "i30_branch_merge" -> """
      WITH f AS (
        SELECT o_orderstatus, o_totalprice FROM orders
        WHERE (o_orderkey < 750
               AND o_orderkey % 31 <> 0 AND o_orderkey % 17 <> 0)
           OR (o_orderkey >= 750
               AND o_orderkey % 29 <> 0 AND o_orderkey % 13 <> 0)
        UNION ALL
        SELECT 'BR', o_totalprice + 75.0 FROM orders
        WHERE o_orderkey < 750 AND o_orderkey % 17 = 0
        UNION ALL
        SELECT 'BM', o_totalprice + 50.0 FROM orders
        WHERE o_orderkey >= 750 AND o_orderkey % 13 = 0)
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(1 AS BIGINT) AS merge_ok
      FROM f GROUP BY 1 ORDER BY o_orderstatus""",

    // i19: read-after-restore ≡ the untouched base table; restored_ok
    // pins the history-preserving version bump
    "i19_snapshot_restore" -> """
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(1 AS BIGINT) AS restored_ok
      FROM orders GROUP BY 1 ORDER BY 1""",

    // i26: reading through the `baseline` tag ≡ the untouched base
    // table (v1, before the poison append); tag_ok replays as the
    // pinned ref-semantics constant
    "i26_snapshot_tag" -> """
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(1 AS BIGINT) AS tag_ok
      FROM orders GROUP BY 1 ORDER BY 1""",

    // i27: the mid-window timestamp resolves to v1 ≡ the untouched
    // base table; asof_ok replays as the pinned resolution constant
    "i27_time_travel_ts" -> """
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(1 AS BIGINT) AS asof_ok
      FROM orders GROUP BY 1 ORDER BY 1""",

    // i28: the live read is bit-identical before/after reclamation ≡
    // the base table; orphan_ok replays as the pinned count constants
    "i28_orphan_cleanup" -> """
      SELECT o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        CAST(1 AS BIGINT) AS orphan_ok
      FROM orders GROUP BY 1 ORDER BY 1"""
  )
}
