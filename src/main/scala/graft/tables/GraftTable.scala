package graft.tables

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID

import scala.collection.JavaConverters._
import scala.collection.immutable.VectorMap
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, LongType, StringType, TimestampType, IntegerType}

/** One commit in a table's log. Mirrors the metadata surface the reference
  * relies on: `DESCRIBE HISTORY` columns + `operationParameters.predicate`
  * (mined by the delta-optimizer at `OPT:1345-1423`).
  */
final case class Commit(
    version: Long,
    timestampMs: Long,
    operation: String,
    operationParameters: Map[String, String],
    addedFiles: Seq[String],
    removedFiles: Seq[String],
    schemaJson: String,
    properties: Map[String, String],
    identityHighWatermark: Long,
    metrics: Map[String, Long],
    fileStats: Map[String, Map[String, (String, String)]] = Map.empty,
    // deletion-vector sidecar files (merge-on-read deletes), same
    // add/remove delta semantics as data files
    addedDvFiles: Seq[String] = Nil,
    removedDvFiles: Seq[String] = Nil,
    // the log format the commit file records (see GraftTable.LogFormat)
    format: Int = GraftTable.LogFormat)

/** A table's state at one version: live data files (table-relative path
  * → footer stats, in the order they became live), live deletion-vector
  * files, and the version's timestamp, log format, schema, properties and
  * identity watermark. `next` is the one fold of a commit into a state; a
  * checkpoint is one rendered Snapshot. Stats cover live files only; a
  * file committed without them (its footer could not be read) maps to an
  * empty map, which pruning keeps. */
private[tables] final class Snapshot private (
    val version: Long,
    val format: Int,
    val timestampMs: Long,
    val schemaJson: String,
    val properties: Map[String, String],
    val identityHighWatermark: Long,
    val files: VectorMap[String, FileStats.Stats],
    val dvFiles: VectorMap[String, Unit],
    removals: Int,
    private var parsedSchema: StructType) {

  /** The schema, parsed once and carried along the fold while the JSON
    * stays the same. */
  def schema: StructType = {
    if (parsedSchema == null) parsedSchema = GraftTable.DataType.fromJson(schemaJson)
    parsedSchema
  }

  /** Removes first, then adds: a file removed and re-added moves to the
    * end, a live file re-added keeps its place. A commit that touches no
    * file keeps both maps. */
  def next(c: Commit): Snapshot = {
    def at(fs: VectorMap[String, FileStats.Stats], dvs: VectorMap[String, Unit], dead: Int) =
      new Snapshot(c.version, c.format, c.timestampMs, c.schemaJson, c.properties,
        c.identityHighWatermark, fs, dvs, dead, if (c.schemaJson == schemaJson) parsedSchema else null)
    if (c.addedFiles.isEmpty && c.removedFiles.isEmpty &&
        c.addedDvFiles.isEmpty && c.removedDvFiles.isEmpty) return at(files, dvFiles, removals)
    val fs = (files -- c.removedFiles) ++
      c.addedFiles.map(f => f -> c.fileStats.getOrElse(f, files.getOrElse(f, Map.empty)))
    val dvs = (dvFiles -- c.removedDvFiles) ++ c.addedDvFiles.map(_ -> (()))
    val dead = removals + c.removedFiles.size + c.removedDvFiles.size
    // VectorMap keeps a tombstone per removed key: rebuild once they
    // outnumber live keys (`from` returns a VectorMap argument as-is)
    if (dead <= fs.size + dvs.size + 64) at(fs, dvs, dead)
    else at(VectorMap.from(fs.iterator), VectorMap.from(dvs.iterator), 0)
  }
}

private[tables] object Snapshot {
  val empty = new Snapshot(-1L, GraftTable.LogFormat, 0L, null, Map.empty, 0L,
    VectorMap.empty, VectorMap.empty, 0, null)

  /** A state as a checkpoint records it. */
  def apply(version: Long, format: Int, timestampMs: Long, schemaJson: String,
      properties: Map[String, String], identityHighWatermark: Long,
      files: Seq[(String, FileStats.Stats)], dvFiles: Seq[String]): Snapshot =
    new Snapshot(version, format, timestampMs, schemaJson, properties, identityHighWatermark,
      VectorMap.from(files), VectorMap.from(dvFiles.map(_ -> (()))), 0, null)

  /** Count of snapshots built below the tip (tests: tip questions build
    * none, a historical read builds one). */
  private[tables] val replays = new java.util.concurrent.atomic.AtomicLong()
}

/** Versioned Parquet table ("tacklelog"): a data directory plus a JSON
  * commit log, giving the Delta-style semantics the reference leans on —
  * snapshot isolation, time travel, RESTORE, DESCRIBE HISTORY, CDF,
  * OPTIMIZE — over plain Spark (no Delta jars in this environment; see
  * SURVEY.md §7).
  *
  * Layout:
  * {{{
  *   <path>/_log/v00000000000000000042.json          // one commit per version
  *   <path>/_log/checkpoint-v00000000000000000040.json // state at v40
  *   <path>/data/<commit-uuid>/part-*.parquet        // immutable data files
  *   <path>/_changes/v42/part-*.parquet              // optional change feed
  * }}}
  * A checkpoint, written every `checkpointInterval` commits, is the
  * table's state at its version (live files with their stats, live DV
  * files, schema, properties, identity watermark), so its size follows
  * the live data, not the history. Every commit and checkpoint records
  * the log format, [[GraftTable.LogFormat]]; a log of any other format
  * (one without the field is format 1) is refused when it is loaded.
  *
  * Scale design: the log stores *file lists*, so a snapshot read plans
  * from the log alone — a [[LogFileIndex]] over the live files, with no
  * storage listing and no Spark job, skipping files by their logged stats
  * — while parquet pushdown works unchanged, and DML rewrites only the
  * files that contain matched rows (see MergeOps).
  * Commits are atomic single-file renames; concurrent writers race on the
  * version filename and the loser retries (`Concurrency.retry`), matching
  * the reference's retry-merge helper (`HF/deltahelpers.py:132-172`).
  */
final class GraftTable private (val spark: SparkSession, val path: String) {
  import GraftTable._

  private def logDir: Path = Paths.get(path, "_log")
  private def dataDir: Path = Paths.get(path, "data")

  // ---- log access --------------------------------------------------------

  /** Every commit, oldest first. Read from the commit files when first
    * asked, then kept in the log cache and extended commit by commit, so
    * history-heavy callers pay once and a session that never asks holds
    * no per-commit state. */
  def commits: Seq[Commit] = {
    val st = logState
    st.history.getOrElse {
      val h = (0L to st.tip.version).map(readCommit).toVector
      logCache.replace(path, st, new LogState(st.tip, Some(h)))
      h
    }
  }

  /** The session's view of the log: the tip [[Snapshot]], cached
    * session-wide (keyed by table path, shared across GraftTable
    * instances). Versions are published by hard link, so they are
    * contiguous from 0 and no call lists `_log`: a warm call stats
    * `v{tip}` (a log that shrank behind the session's back is reloaded)
    * and reads forward while `v{tip+1}` exists, folding only those
    * commits. A cold (or diverged) view finds the tip by probing version
    * numbers and builds the state there as time travel does; a state of
    * another log format throws before it is cached, so every read and
    * write of such a table fails. */
  private def logState: LogState = {
    val cached = logCache.get(path)
    val st =
      if (cached == null || (cached.tip.version >= 0 && !Files.exists(commitFile(cached.tip.version)))) {
        val tip = stateAt(probeTip())
        if (tip.version >= 0 && tip.format != LogFormat) throw new IllegalStateException(
          s"$path has log format ${tip.format}, but this engine reads only log format $LogFormat")
        new LogState(tip, None)
      } else {
        val tail = Iterator.iterate(cached.tip.version + 1)(_ + 1)
          .takeWhile(v => Files.exists(commitFile(v))).map(readCommit).toVector
        if (tail.isEmpty) return cached
        new LogState(tail.foldLeft(cached.tip)(_ next _), cached.history.map(_ ++ tail))
      }
    logCache.put(path, st)
    st
  }

  /** The newest version, -1 for an empty (or missing) log: `v{n}` exists
    * exactly for n up to the tip, so doubling n until `v{n}` is missing
    * brackets the tip and a bisection finds it, in O(log tip) stats. */
  private def probeTip(): Long = {
    def exists(v: Long) = Files.exists(commitFile(v))
    // v{lo} exists, v{hi} does not
    @annotation.tailrec def bisect(lo: Long, hi: Long): Long =
      if (hi - lo == 1) lo
      else {
        val mid = (lo + hi) >>> 1
        if (exists(mid)) bisect(mid, hi) else bisect(lo, mid)
      }
    if (!exists(0)) -1L
    else {
      val hi = Iterator.iterate(1L)(_ * 2).find(!exists(_)).get
      bisect(hi / 2, hi)
    }
  }

  /** Live state at the tip, kept in the log cache and advanced commit by
    * commit — never re-folded while the cache is warm. */
  private[tables] def snapshot: Snapshot = logState.tip

  /** State at `version`: the tip, or (time travel) [[stateAt]]. */
  private[tables] def snapshotAt(version: Long): Snapshot = {
    val tip = logState.tip
    if (version >= tip.version) tip
    else if (version < 0) Snapshot.empty
    else {
      Snapshot.replays.incrementAndGet()
      stateAt(version)
    }
  }

  /** State at `version` (at most the tip) read from the log: the newest
    * checkpoint at or below it, found by probing multiples of
    * `checkpointInterval` downward (one lost to a crash before it was
    * written is skipped), plus the commit files after it. */
  private def stateAt(version: Long): Snapshot = {
    val base = Iterator.iterate(version - version % checkpointInterval)(_ - checkpointInterval)
      .takeWhile(_ > 0).find(v => Files.exists(checkpointFile(v)))
      .fold(Snapshot.empty)(readCheckpoint)
    (base.version + 1 to version).foldLeft(base)((s, v) => s.next(readCommit(v)))
  }

  /** Absolute path of a table-relative file, as `filesAt` returns it. */
  private def absPath(rel: String): String = Paths.get(path, rel).toString

  /** Table-relative path of a file under this table, as the log stores
    * it (both sides absolute and normalized). */
  private[graft] def relPath(file: String): String =
    Paths.get(path).toAbsolutePath.normalize
      .relativize(Paths.get(file).toAbsolutePath.normalize).toString

  private def commitFile(version: Long): Path = logDir.resolve(f"v$version%020d.json")
  private def checkpointFile(version: Long): Path =
    logDir.resolve(f"checkpoint-v$version%020d.json")

  private def readLogFile(p: Path): String = {
    logFileReads.incrementAndGet()
    new String(Files.readAllBytes(p), "UTF-8")
  }

  private def readCommit(version: Long): Commit = parseCommit(readLogFile(commitFile(version)))

  private def readCheckpoint(version: Long): Snapshot =
    parseCheckpoint(readLogFile(checkpointFile(version)))

  def currentVersion: Long = logState.tip.version

  /** The commit at `version`, read from its file. */
  def commitAt(version: Long): Commit = {
    if (version < 0 || version > currentVersion)
      throw new IllegalArgumentException(s"$path has no version $version")
    readCommit(version)
  }

  /** Version whose snapshot was current at `tsMs` (Delta's TIMESTAMP AS
    * OF semantics: the latest commit at-or-before the timestamp; a
    * timestamp after the last commit resolves to the latest version; one
    * before the first commit is an error, matching Delta's
    * timestampEarlierThanTableFirstCommit). */
  def versionAtTimestamp(tsMs: Long): Long = {
    val cs = commits
    require(cs.nonEmpty, s"$path has no commits")
    // clock skew between racing writers can locally reverse raw stamps;
    // monotonize with a running max (Delta's timestamp adjustment) so
    // the at-or-before search is well-defined
    val eff = cs.scanLeft(Long.MinValue)((m, c) => math.max(m, c.timestampMs)).drop(1)
    val idx = eff.lastIndexWhere(_ <= tsMs)
    if (idx < 0) throw new IllegalArgumentException(
      s"timestamp $tsMs predates the first commit of $path " +
        s"(${cs.head.timestampMs}); earliest available version is ${cs.head.version}")
    cs(idx).version
  }

  /** TIMESTAMP AS OF read: snapshot current at `tsMs`. */
  def readAsOfTimestamp(tsMs: Long): DataFrame = read(versionAtTimestamp(tsMs))

  /** Live data files (absolute paths) at a version (default: latest). */
  def filesAt(version: Long = Long.MaxValue): Seq[String] =
    snapshotAt(version).files.keysIterator.map(absPath).toVector

  /** Live deletion-vector files (absolute paths) at a version. */
  def dvAt(version: Long = Long.MaxValue): Seq[String] =
    snapshotAt(version).dvFiles.keysIterator.map(absPath).toVector

  /** Merge-on-read deletes enabled (`graft.deletionVectors` property):
    * DELETE writes a (file, row position) sidecar instead of rewriting
    * data files; reads anti-join it away. */
  def dvEnabled: Boolean =
    properties.getOrElse("graft.deletionVectors", "false") == "true"

  def schemaAt(version: Long = Long.MaxValue): StructType = {
    val s = snapshotAt(version)
    require(s.version >= 0, s"$path has no commits <= $version")
    s.schema
  }

  def properties: Map[String, String] = logState.tip.properties

  def identityHighWatermark: Long = logState.tip.identityHighWatermark

  // ---- reads -------------------------------------------------------------

  /** Partition columns (Hive-style layout) configured for this table. */
  def partitionColumns: Seq[String] =
    properties.get("graft.partitionBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** Read a specific set of this table's data files. Partition values are
    * stored in the files themselves (writeData partitions the directory
    * layout by a `__part_` *copy* of each partition column), so no Hive
    * partition inference is needed — inference breaks across multiple
    * commit dirs (CONFLICTING_DIRECTORY_STRUCTURES) and would resolve the
    * columns to null under a raw `spark.read.parquet(files)`. Every
    * internal reader (DML rewrites, CDF re-reads, streams) goes through
    * here, and plans from the file list alone: a [[LogFileIndex]] over
    * `files` with an empty partition schema, so Spark neither lists the
    * paths again nor infers partitions from the `__part_k=v` segments. */
  private[graft] def readFiles(files: Seq[String], readSchema: StructType = null): DataFrame =
    readSnapshot(files, readSchema, dvAt(), keepPos = false)

  /** As readFiles, but keeps the (__dv_file, __dv_pos) provenance columns
    * — the delete path records them into deletion vectors. Live DVs (at
    * `dvVersion`, default the latest) are already anti-joined away, so
    * callers never see deleted rows. */
  private[graft] def readFilesWithPos(files: Seq[String],
      readSchema: StructType = null, dvVersion: Long = Long.MaxValue): DataFrame =
    readSnapshot(files, readSchema, dvAt(dvVersion), keepPos = true)

  /** Provenance columns are scanned only when the caller keeps them or
    * live DVs need them for the anti-join — otherwise a plain read would
    * carry `_metadata.file_path`/`row_index` into the scan and drop them
    * after. */
  private def readSnapshot(files: Seq[String], readSchema: StructType,
      liveDvs: => Seq[String], keepPos: Boolean,
      stats: Map[String, (String, FileStats.Stats)] = Map.empty): DataFrame = {
    val s = Option(readSchema).getOrElse(schemaAt())
    if (files.isEmpty) {
      val out = if (keepPos) StructType(s.fields ++ DvSchema.fields) else s
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], out)
    }
    val dv = liveDvs
    val scan = LogFileIndex.read(spark, files, s, stats)
    val df =
      if (!keepPos && dv.isEmpty) scan
      else scan
        .withColumn(DvFileCol, col("_metadata.file_path"))
        .withColumn(DvPosCol, col("_metadata.row_index"))
    if (dv.isEmpty) df
    else {
      val posCols = Seq(DvFileCol, DvPosCol)
      val live = df.join(LogFileIndex.read(spark, dv, DvSchema), posCols, "left_anti")
      if (keepPos) live else live.drop(posCols: _*)
    }
  }

  /** Snapshot read (optionally `VERSION AS OF`); its scan skips files by
    * the snapshot's stats for any filter on it (see [[LogFileIndex]]). */
  def read(versionAsOf: Long = Long.MaxValue): DataFrame = {
    val snap = snapshotAt(versionAsOf)
    require(snap.version >= 0, s"$path has no commits <= $versionAsOf")
    val files = snap.files.toVector.map { case (rel, st) => (absPath(rel), (rel, st)) }
    readSnapshot(files.map(_._1), snap.schema,
      snap.dvFiles.keysIterator.map(absPath).toVector, keepPos = false, files.toMap)
  }

  /** DESCRIBE HISTORY equivalent (`DP/Step 1:235-239`). */
  def history: DataFrame = {
    import spark.implicits._
    commits.reverse.map { c =>
      (c.version, new java.sql.Timestamp(c.timestampMs), c.operation,
        c.operationParameters.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(";"),
        c.addedFiles.size.toLong, c.removedFiles.size.toLong,
        c.metrics.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(";"))
    }.toDF("version", "timestamp", "operation", "operationParameters",
      "numAddedFiles", "numRemovedFiles", "operationMetrics")
  }

  /** Change feed read: rows written by CDF-enabled commits from `fromVersion`
    * on, each tagged `_change_type` / `_commit_version`
    * (`table_changes(t, v)` in the reference, `DP/Advanced CDC:271,395`). */
  def changes(fromVersion: Long = 0L): DataFrame = {
    val dirs = (math.max(0L, fromVersion) to currentVersion)
      .map(v => Paths.get(path, "_changes", s"v$v"))
      .filter(Files.isDirectory(_))
      .map(_.toString)
    if (dirs.isEmpty) {
      val schema = schemaAt()
        .add("_change_type", StringType).add("_commit_version", LongType)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else spark.read.parquet(dirs: _*)
  }

  // ---- writes ------------------------------------------------------------

  /** Footer stats for freshly written table-relative files. */
  private[tables] def harvestStats(relFiles: Seq[String]): Map[String, Map[String, (String, String)]] =
    harvestStatsAndRows(relFiles)._1

  /** Footer stats plus total row count (one footer read per file). */
  private[tables] def harvestStatsAndRows(
      relFiles: Seq[String]): (Map[String, Map[String, (String, String)]], Long) = {
    val abs = relFiles.map(absPath)
    val h = FileStats.harvestWithRows(spark, abs)
    val stats = relFiles.zip(abs)
      .map { case (rel, a) => rel -> h.get(a).map(_._2).getOrElse(Map.empty) }
      .filter(_._2.nonEmpty).toMap
    (stats, h.values.map(_._1).sum)
  }

  /** Per-file stats of the live files at a version (rel path → col →
    * (min,max), empty when none were recorded): the snapshot's file map,
    * so at the tip a pruned read never re-folds the log. */
  def statsAt(version: Long = Long.MaxValue): Map[String, FileStats.Stats] =
    snapshotAt(version).files

  /** Stats-pruned file list for a conjunctive predicate: only files whose
    * min/max ranges can match, with the live file count. Keeps every file
    * on shapes it cannot evaluate; a predicate that does not parse throws. */
  def pruneFiles(predicateSql: String): (Seq[String], Int) =
    pruneFilesByExpr(spark.sessionState.sqlParser.parseExpression(predicateSql))

  /** As `pruneFiles`, over an already-built predicate expression. */
  private[graft] def pruneFilesByExpr(
      pred: org.apache.spark.sql.catalyst.expressions.Expression): (Seq[String], Int) = {
    val live = snapshot.files
    val schema = schemaAt()
    val kept = live.iterator
      .filter { case (rel, stats) => FileStats.fileMightMatch(rel, stats, pred, schema) }
      .map(e => absPath(e._1)).toVector
    (kept, live.size)
  }

  /** Write `df` as new immutable files; returns table-relative file paths.
    * Honors `graft.bloomFilterColumns` (comma-separated) via parquet
    * column bloom filters (`CREATE BLOOMFILTER INDEX`, `DP/Step 1:308-313`). */
  private[tables] def writeData(df: DataFrame): Seq[String] = {
    val sub = s"data/${UUID.randomUUID().toString.take(12)}"
    val dest = Paths.get(path, sub)
    val parts = partitionColumns.filter(df.columns.contains)
    // Partition the directory layout by a __part_ COPY of each partition
    // column so the real column stays in the parquet files: reads never
    // depend on partition inference (which breaks across commit dirs) and
    // footer stats cover partition columns too. The duplicate column
    // dict/RLE-encodes to ~nothing.
    val toWrite = parts.foldLeft(df)((d, c) => d.withColumn(s"__part_$c", col(c)))
    val w = properties.get("graft.bloomFilterColumns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty))
      .getOrElse(Array.empty[String])
      .foldLeft(toWrite.write.mode(SaveMode.Overwrite)) { (wr, c) =>
        wr.option(s"parquet.bloom.filter.enabled#$c", "true")
      }
    (if (parts.nonEmpty) w.partitionBy(parts.map("__part_" + _): _*) else w).parquet(dest.toString)
    walkDir(dest)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => relPath(p.toString)).sorted
  }

  /** Write a deletion-vector sidecar — rows of (__dv_file, __dv_pos) —
    * and return its table-relative parquet paths plus the row count. */
  private[tables] def writeDv(df: DataFrame): (Seq[String], Long) = {
    val sub = s"dv/${UUID.randomUUID().toString.take(12)}"
    val dest = Paths.get(path, sub)
    df.write.mode(SaveMode.Overwrite).parquet(dest.toString)
    val rels = walkDir(dest)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(p => relPath(p.toString)).sorted
    val rows = FileStats.harvestWithRows(spark, rels.map(absPath)).values.map(_._1).sum
    (rels, rows)
  }

  private[tables] def writeChanges(df: DataFrame, version: Long): Unit =
    df.write.mode(SaveMode.Overwrite)
      .parquet(Paths.get(path, "_changes", s"v$version").toString)

  def cdfEnabled: Boolean =
    properties.getOrElse("graft.enableChangeDataFeed", "false") == "true"

  /** Atomically append a commit; throws ConcurrentCommitException if the
    * version was taken by a concurrent writer. */
  private[graft] def commit(
      operation: String,
      added: Seq[String],
      removed: Seq[String],
      schema: StructType,
      params: Map[String, String] = Map.empty,
      props: Map[String, String] = null,
      identity: Long = -1L,
      metrics: Map[String, Long] = Map.empty,
      fileStats: Map[String, Map[String, (String, String)]] = Map.empty,
      addedDv: Seq[String] = Nil,
      removedDv: Seq[String] = Nil,
      schemaUnion: Boolean = true): Commit = {
    Files.createDirectories(logDir)
    val tip = logState.tip
    // Write-write conflict detection (Delta's ConcurrentDeleteDelete
    // semantics): the version is assigned from the tip read here, so a
    // rewrite computed against an older snapshot would not collide on the
    // version — but if a file this commit removes was already removed by
    // an interleaved commit, both writers rewrote the same rows and
    // publishing would duplicate them. Throw so Concurrency.retry
    // recomputes against the fresh snapshot. Pure appends (removed empty)
    // never conflict, matching Delta's append concurrency.
    val gone = removed.filterNot(tip.files.contains) ++
      removedDv.filterNot(tip.dvFiles.contains)
    if (gone.nonEmpty) throw new ConcurrentCommitException(
      s"concurrent modification: ${gone.size} file(s) this $operation rewrites " +
        s"were already removed by another writer (e.g. ${gone.head})", null)
    // schemaUnion (the default, for every data operation): the version
    // is assigned from the tip read HERE, so a writer whose snapshot
    // predates a concurrent schema evolution would otherwise publish its
    // stale captured schema and silently narrow the table (schema
    // regression under racing writers — caught by ConcurrencySpec).
    // Widening is monotone, so union with the current tip's schema is
    // race-safe without a conflict/retry; the intentionally exact ops
    // (CREATE, REPLACE/overwrite, RESTORE) pass schemaUnion = false.
    val effSchema =
      if (!schemaUnion || tip.version < 0) schema
      else {
        val tipNames = tip.schema.fieldNames.toSet
        StructType(tip.schema.fields ++ schema.fields.filterNot(f => tipNames(f.name)))
      }
    val c = Commit(
      version = tip.version + 1,
      timestampMs = System.currentTimeMillis(),
      operation = operation,
      operationParameters = params,
      addedFiles = added,
      removedFiles = removed,
      schemaJson = effSchema.json,
      properties = Option(props).getOrElse(tip.properties),
      identityHighWatermark = if (identity >= 0) identity else tip.identityHighWatermark,
      metrics = metrics,
      fileStats = fileStats,
      addedDvFiles = addedDv,
      removedDvFiles = removedDv)
    val tmp = writeNew(".commit", renderCommit(c))
    val target = commitFile(c.version)
    // Publish via hard link: link(2) fails with EEXIST *atomically*, so
    // exactly one of N racing writers wins the version. (Files.move
    // without REPLACE_EXISTING is check-then-rename — two racers can both
    // pass the check and the second rename silently clobbers the first,
    // losing a commit; caught by ConcurrencySpec.)
    try {
      try Files.createLink(target, tmp)
      catch { case _: UnsupportedOperationException => Files.move(tmp, target) }
    } catch {
      case NonFatal(e) =>
        throw new ConcurrentCommitException(s"version ${c.version} already committed", e)
    } finally Files.deleteIfExists(tmp)
    // advance the session cache in place (no re-read, no re-fold)
    val state = tip.next(c)
    val cachedNow = logCache.get(path)
    if (cachedNow != null && cachedNow.tip.version == tip.version)
      logCache.replace(path, cachedNow, new LogState(state, cachedNow.history.map(_ :+ c)))
    // periodic checkpoint: the state at this version, so a cold load reads
    // it plus the commits after it
    if (c.version > 0 && c.version % checkpointInterval == 0) {
      Files.move(writeNew(".ckpt", renderState(state)), checkpointFile(c.version),
        StandardCopyOption.REPLACE_EXISTING)
    }
    c
  }

  /** `text` written to a fresh, uniquely named file in `_log`, opened
    * once. */
  private def writeNew(prefix: String, text: String): Path =
    Files.write(logDir.resolve(s"$prefix${UUID.randomUUID()}.tmp"), text.getBytes("UTF-8"),
      StandardOpenOption.CREATE_NEW)

  def append(df: DataFrame, operation: String = "WRITE",
      params: Map[String, String] = Map.empty,
      extraProps: Map[String, String] = Map.empty,
      extraMetrics: Map[String, Long] = Map.empty): Commit =
    appendImpl(df, operation, params, extraProps, extraMetrics, replaceKey = None)

  /** [[append]] that also deletes, IN THE SAME COMMIT, every live row
    * sharing a `key` value with an appended row: a delete plus an insert
    * as one version of remove and add actions, as Delta commits a MERGE.
    * The new files are written first and their footer stats bound the
    * appended keys; live files whose stats rule those ranges out are
    * never read, so an append of fresh keys (keys that cluster by
    * arrival) is the write job and nothing else. Otherwise the matched
    * rows leave through a deletion-vector sidecar on DV tables, else by
    * rewriting the files that hold them. */
  private[graft] def appendReplacing(df: DataFrame, key: String,
      operation: String): Commit =
    appendImpl(df, operation, Map.empty, Map.empty, Map.empty, Some(key))

  private def appendImpl(df: DataFrame, operation: String,
      params: Map[String, String], extraProps: Map[String, String],
      extraMetrics: Map[String, Long], replaceKey: Option[String]): Commit = {
    val withId = assignIdentity(df)
    val data = evolveSchema(withId._1)
    val files = writeData(data)
    val (stats, nRows) = harvestStatsAndRows(files)
    // the appended keys, and the live rows they replace with their
    // (file, position)
    val replaced = replaceKey.flatMap { k =>
      val candidates = if (nRows == 0) Nil else overlapping(k, files, stats)
      if (candidates.isEmpty) None else {
        val keys = readFiles(files.map(absPath), data.schema).select(k)
        Some((k, keys, readFilesWithPos(candidates, data.schema).join(keys, Seq(k), "left_semi")))
      }
    }
    val (rewritten, removed, dvs) = replaced match {
      case None => (Nil, Nil, Nil)
      case Some((_, _, hit)) if dvEnabled =>
        val (dv, n) = writeDv(hit.select(DvFileCol, DvPosCol))
        if (n == 0) dv.foreach(f => Files.deleteIfExists(Paths.get(path, f)))
        (Nil, Nil, if (n == 0) Nil else dv)
      case Some((k, keys, hit)) =>
        val touched = localFiles(hit.select(DvFileCol))
        val kept = if (touched.isEmpty) Nil
          else writeData(readFiles(touched, data.schema).join(keys, Seq(k), "left_anti"))
        (kept, touched.map(relPath), Nil)
    }
    val c = commit(operation, files ++ rewritten, removed, data.schema, params,
      props = if (extraProps.isEmpty) null else properties ++ extraProps,
      identity = if (withId._2 >= 0) withId._2 + nRows else -1L,
      metrics = extraMetrics + ("numOutputRows" -> nRows),
      fileStats = stats ++ harvestStats(rewritten), addedDv = dvs)
    if (cdfEnabled && files.nonEmpty) {
      val inserts = readFiles(files.map(absPath), data.schema)
        .withColumn("_change_type", lit("insert"))
      val changes = replaced.fold(inserts)(r => inserts.unionByName(
        r._3.drop(DvFileCol, DvPosCol).withColumn("_change_type", lit("delete"))))
      writeChanges(changes.withColumn("_commit_version", lit(c.version)), c.version)
    }
    c
  }

  /** Live files whose `key` range can overlap one of the freshly written
    * `files`' key ranges; every live file when one of them recorded no
    * range for `key`. Stats hold rendered values, and FileStats compares
    * a rendered literal against them by the column's type. */
  private def overlapping(key: String, files: Seq[String],
      stats: Map[String, FileStats.Stats]): Seq[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, GreaterThanOrEqual, LessThanOrEqual, Literal, Or}
    val ranges = files.map(f => stats.get(f).flatMap(_.get(key)))
    if (ranges.contains(None)) return filesAt()
    val k = UnresolvedAttribute(key)
    pruneFilesByExpr(ranges.flatten.map { case (lo, hi) =>
      And(GreaterThanOrEqual(k, Literal(lo)), LessThanOrEqual(k, Literal(hi)))
    }.reduce[org.apache.spark.sql.catalyst.expressions.Expression](Or(_, _)))._1
  }

  def overwrite(df: DataFrame, operation: String = "OVERWRITE",
      extraProps: Map[String, String] = Map.empty): Commit = {
    val removed = snapshot.files.keys.toSeq
    val withId = assignIdentity(df)
    val files = writeData(withId._1)
    // stale DV sidecars must go with the data files they index, or they
    // stay live-referenced forever (vacuum can't reclaim, reads keep
    // anti-joining them, clones always take the materialize path)
    commit(operation, files, removed, withId._1.schema, identity = withId._2,
      props = if (extraProps.isEmpty) null else properties ++ extraProps,
      fileStats = harvestStats(files),
      removedDv = snapshot.dvFiles.keys.toSeq, schemaUnion = false)
  }

  /** Overwrite CONDITIONED ON A SNAPSHOT: removes exactly
    * `snapshotFiles` (absolute paths — the file list the caller READ
    * before computing `df`). If an interleaved commit already removed
    * any of them, the write-write conflict check throws
    * [[GraftTable.ConcurrentCommitException]] so `Concurrency.retry`
    * can recompute from the fresh tip — the read-modify-write
    * protection a plain [[overwrite]] cannot give (its removed list is
    * re-listed at commit time, so a stale rewrite would silently
    * replace an interleaved writer's commit). Index-maintenance callers
    * (e.g. the Bloom dedup index) read state, merge, and publish with
    * this. */
  def overwriteSnapshot(df: DataFrame, snapshotFiles: Seq[String],
      operation: String = "OVERWRITE",
      extraProps: Map[String, String] = Map.empty): Commit = {
    val withId = assignIdentity(df)
    val files = writeData(withId._1)
    commit(operation, files, snapshotFiles.map(relPath), withId._1.schema,
      identity = withId._2,
      props = if (extraProps.isEmpty) null else properties ++ extraProps,
      fileStats = harvestStats(files),
      removedDv = snapshot.dvFiles.keys.toSeq, schemaUnion = false)
  }

  /** TRUNCATE: drop every live file, keep schema (`DP/Step 1:231`). */
  def truncate(): Commit = {
    val live = snapshot
    commit("TRUNCATE", Nil, live.files.keys.toSeq, schemaAt(),
      removedDv = live.dvFiles.keys.toSeq)
  }

  /** RESTORE TO TIMESTAMP AS OF: repoint to the snapshot current at `tsMs`. */
  def restoreToTimestamp(tsMs: Long): Commit = restoreTo(versionAtTimestamp(tsMs))

  /** RESTORE TABLE ... VERSION AS OF v (`HF/transactions.py:420-449`).
    * Re-added files carry their stats from the restored snapshot, so
    * pruning after a RESTORE keeps what it kept at `version`. */
  def restoreTo(version: Long): Commit = {
    val want = snapshotAt(version)
    require(want.version >= 0, s"$path has no commits <= $version")
    val cur = snapshot
    val added = want.files.keys.filterNot(cur.files.contains).toSeq
    commit("RESTORE", added, cur.files.keys.filterNot(want.files.contains).toSeq,
      want.schema, Map("restoredVersion" -> version.toString),
      fileStats = added.map(f => f -> want.files(f)).filter(_._2.nonEmpty).toMap,
      addedDv = want.dvFiles.keys.filterNot(cur.dvFiles.contains).toSeq,
      removedDv = cur.dvFiles.keys.filterNot(want.dvFiles.contains).toSeq,
      schemaUnion = false)
  }

  /** Number of versions committed within the last `hours` (age→version
    * retention conversion for VACUUM RETAIN ... HOURS). */
  def versionsWithinHours(hours: Double): Int = {
    val horizon = System.currentTimeMillis() - (hours * 3600 * 1000).toLong
    commits.count(_.timestampMs >= horizon)
  }

  /** VACUUM with the default 7-day safety window (the reference's
    * default): every version committed in the last 7 days stays
    * time-travelable; only files referenced by no retained version are
    * deleted. */
  def vacuum(): Seq[String] = vacuum(versionsWithinHours(7 * 24))

  /** VACUUM: physically delete files no longer referenced by any version
    * newer than the retention horizon. `retainVersions = 0` keeps only
    * the current snapshot — time travel, RESTORE, shallow clones, and
    * rollback to older versions stop working; the SQL route requires an
    * explicit FORCE for it. */
  def vacuum(retainVersions: Int): Seq[String] = {
    val tip = currentVersion
    val keepFrom = math.max(0L, tip - retainVersions)
    // every retained version's live set: what is live at keepFrom plus
    // every file a later commit added, reading only those commits
    val kept = snapshotAt(keepFrom)
    val referenced = (kept.files.keys ++ kept.dvFiles.keys ++
        (keepFrom + 1 to tip).map(readCommit).flatMap(c => c.addedFiles ++ c.addedDvFiles))
      .map(f => Paths.get(path, f).toAbsolutePath.normalize.toString).toSet
    val dvDir = Paths.get(path, "dv")
    val roots = Seq(dataDir, dvDir).filter(Files.isDirectory(_))
    if (roots.isEmpty) return Nil
    val deleted = roots.flatMap(walkDir)
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .filterNot(p => referenced.contains(p.toAbsolutePath.normalize.toString))
      .toList
    deleted.foreach(Files.delete)
    deleted.map(_.toString)
  }

  /** DEEP CLONE: copy live files + fresh single-commit log
    * (`10-migrations/05-uc-upgrade`). */
  def cloneTo(destPath: String): GraftTable = {
    // DV sidecars key on the source's file URIs, which change under
    // copy/symlink — clones of DV-carrying tables materialize the deletes
    if (dvAt().nonEmpty) {
      val dest = GraftTable.create(spark, destPath, schemaAt(), properties)
      dest.append(read(), "CLONE", Map("source" -> path, "materializedDv" -> "true"))
      return dest
    }
    val dest = GraftTable.create(spark, destPath, schemaAt(), properties)
    def copyAll(srcs: Seq[String], sub: String): Seq[String] = srcs.map { src =>
      val rel = s"$sub/clone-${UUID.randomUUID().toString.take(8)}-${Paths.get(src).getFileName}"
      val d = Paths.get(destPath, rel)
      Files.createDirectories(d.getParent)
      Files.copy(Paths.get(src), d, StandardCopyOption.REPLACE_EXISTING)
      rel
    }
    dest.commit("CLONE", copyAll(filesAt(), "data"), Nil, schemaAt(),
      Map("source" -> path))
    dest
  }

  /** SHALLOW CLONE: new table whose commit references the source's live
    * files in place (metadata-only, zero data copy). Caveat (same as
    * Delta's): VACUUMing the source after it rewrites breaks the clone's
    * links — deep-clone or re-clone before vacuuming the source. */
  def shallowCloneTo(destPath: String): GraftTable = {
    if (dvAt().nonEmpty) return cloneTo(destPath) // see cloneTo: DV paths don't survive links
    val dest = GraftTable.create(spark, destPath, schemaAt(), properties)
    // absolute source paths recorded relative to the dest via ".." hops is
    // brittle; store absolute by making the commit path-relative a no-op:
    // we register files under a symlink dir inside the clone.
    def linkAll(srcs: Seq[String], sub: String): Seq[String] = {
      val linkDir = Paths.get(destPath, sub, "shallow")
      Files.createDirectories(linkDir)
      srcs.zipWithIndex.map { case (src, i) =>
        val link = linkDir.resolve(f"f$i%05d-${Paths.get(src).getFileName}")
        Files.createSymbolicLink(link, Paths.get(src).toAbsolutePath)
        Paths.get(destPath).relativize(link).toString
      }
    }
    dest.commit("SHALLOW CLONE", linkAll(filesAt(), "data"), Nil, schemaAt(),
      Map("source" -> path))
    dest
  }

  def setProperties(kv: Map[String, String]): Commit =
    commit("SET TBLPROPERTIES", Nil, Nil, schemaAt(), props = properties ++ kv)

  /** ALTER ... SYNC IDENTITY (`DP/Step 13:25-57`): reset the high-water
    * counter to max(id) actually present. */
  def syncIdentity(): Commit = {
    val idCol = properties.getOrElse("graft.identity.column", "")
    require(idCol.nonEmpty, "no identity column configured")
    val mx = read().agg(max(col(idCol))).head().getLong(0)
    commit("SYNC IDENTITY", Nil, Nil, schemaAt(), identity = mx)
  }

  /** Schema evolution on append (`mergeSchema` semantics,
    * `C360/01.5:161`): the table schema becomes old ∪ new columns; rows
    * missing a column carry null (old files read null for new columns via
    * parquet by-name resolution). */
  private def evolveSchema(df: DataFrame): DataFrame = {
    if (currentVersion < 0) return df
    val old = schemaAt()
    if (old.fieldNames.toSeq == df.schema.fieldNames.toSeq) return df
    val oldNames = old.fieldNames.toSet
    val merged = StructType(
      old.fields ++ df.schema.fields.filterNot(f => oldNames(f.name)))
    val filled = merged.fields.foldLeft(df) { (d, f) =>
      if (d.columns.contains(f.name)) d
      else d.withColumn(f.name, org.apache.spark.sql.functions.lit(null).cast(f.dataType))
    }
    filled.select(merged.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
  }

  /** If an identity column is configured and absent in `df`, assign dense
    * ids above the high watermark. Per-partition offsets come from one
    * count pass, then the ids are stamped in the write pass itself — two
    * jobs total (dense sequential ids cannot be done in fewer), no
    * driver-side loop, so this scales to arbitrarily large appends.
    * Returns (df-with-ids, previous high watermark) — the caller advances
    * the watermark by the committed row count, so no extra count() job. */
  private def assignIdentity(df: DataFrame): (DataFrame, Long) = {
    val idCol = properties.getOrElse("graft.identity.column", "")
    if (idCol.isEmpty || df.columns.contains(idCol)) return (df, -1L)
    val hw = identityHighWatermark
    val schema = StructType(
      org.apache.spark.sql.types.StructField(idCol, LongType, nullable = false) +: df.schema.fields)
    val rdd0 = df.rdd
    val counts = rdd0.mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val rdd = rdd0.mapPartitionsWithIndex { (i, it) =>
      var next = hw + offsets(i)
      it.map { r => next += 1; Row.fromSeq(next +: r.toSeq) }
    }
    (spark.createDataFrame(rdd, schema), hw)
  }
}

object GraftTable {
  // expose DataType.fromJson under a stable name
  private[tables] object DataType {
    def fromJson(json: String): StructType =
      org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]
  }

  private val M = new ObjectMapper()

  /** The log format every commit and checkpoint records, and the only one
    * this engine reads. A log without the field is format 1. */
  val LogFormat = 2

  /** One table's cached log: the tip [[Snapshot]], and every commit once
    * the history has been asked for. Compared by reference. */
  private final class LogState(val tip: Snapshot, val history: Option[Vector[Commit]])

  /** Session-wide log cache: table path → [[LogState]]. Shared across
    * GraftTable instances, so repeated `load()`s of the same table stay
    * O(1) and every instance reads and extends the same tip snapshot.
    * An access-ordered LRU bounded at 512 tables, so it does not grow
    * with the DISTINCT tables a long-lived session touches (a streaming
    * service churning scratch tables would otherwise leak); eviction
    * just means a cold reload through the checkpoint path. */
  private val logCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, LogState](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, LogState]): Boolean =
        size() > 512
    })

  private[tables] def clearLogCache(path: String): Unit = logCache.remove(path)

  /** Drop every cached log and snapshot (benchmark-harness reset: scratch
    * tables are deleted between queries; their cache entries would
    * otherwise accumulate for the whole run). */
  def clearAllCaches(): Unit = logCache.clear()

  /** Count of physical log-file reads (commit files + checkpoints) —
    * observable in tests asserting O(1) reads after warm-up. */
  private[tables] val logFileReads = new java.util.concurrent.atomic.AtomicLong()

  /** Commits between state checkpoints (a cold load reads the newest
    * checkpoint and at most this many commits minus one; so does a
    * historical snapshot). */
  private val checkpointInterval = 10L

  /** Column names for deletion-vector provenance (file URI + row index). */
  private[graft] val DvFileCol = "__dv_file"
  private[graft] val DvPosCol = "__dv_pos"

  /** Schema of a deletion-vector sidecar file. */
  private[graft] val DvSchema: StructType =
    new StructType().add(DvFileCol, StringType).add(DvPosCol, LongType)

  /** Loan-pattern directory listing/walk — the returned streams hold an
    * open directory FD until closed, which leaks under the idiomatic
    * `.iterator().asScala` chaining. */
  private[tables] def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  private[tables] def walkDir(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** Distinct local paths of a one-column frame of `_metadata.file_path`
    * URIs — the files a DML or MERGE touched. */
  private[tables] def localFiles(uris: DataFrame): Seq[String] =
    uris.distinct().collect()
      .map(r => Paths.get(new java.net.URI(r.getString(0))).toString).toSeq

  /** Evict the cached logs of every table at or under `root`. Without
    * this a table deleted and recreated at the same path can be served
    * another table's cached snapshot (same tip version, different
    * files) — and long-lived non-bench sessions would grow the cache
    * unboundedly as scratch tables churn. */
  private def evictCachesUnder(root: Path): Unit = {
    val r = root.toAbsolutePath.normalize.toString
    val prefix = r + java.io.File.separator
    def hit(k: String): Boolean = {
      val a = Paths.get(k).toAbsolutePath.normalize.toString
      a == r || a.startsWith(prefix)
    }
    // synchronizedMap contract: hold the map's monitor while iterating
    val keys = logCache.synchronized { logCache.keySet.asScala.toList }
    keys.filter(hit).foreach(logCache.remove)
  }

  /** Best-effort recursive delete (no-op on a missing path; per-path IO
    * errors skipped) — shared by the bench harness and scratch-table
    * cleanup so the walk-sort-delete loop lives once. Also evicts the
    * log-cache entries of every table under the tree, so a recreate at
    * the same path can never be served stale state. */
  def deleteTree(p: Path): Unit =
    if (Files.isDirectory(p) || Files.isRegularFile(p)) {
      evictCachesUnder(p)
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(q =>
          try { Files.deleteIfExists(q); () }
          catch { case _: java.io.IOException => () })
      finally s.close()
    }

  class ConcurrentCommitException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

  def create(spark: SparkSession, path: String, schema: StructType,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val t = new GraftTable(spark, path)
    Files.createDirectories(Paths.get(path))
    t.commit("CREATE TABLE", Nil, Nil, schema, props = properties, schemaUnion = false)
    t
  }

  def createFrom(spark: SparkSession, path: String, df: DataFrame,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val t = create(spark, path, df.schema, properties)
    t.append(df, "CREATE TABLE AS SELECT")
    t
  }

  def load(spark: SparkSession, path: String): GraftTable = {
    val t = new GraftTable(spark, path)
    require(t.currentVersion >= 0, s"not a graft table: $path")
    t
  }

  def exists(path: String): Boolean =
    Files.isDirectory(Paths.get(path, "_log"))

  // ---- JSON (Jackson ships with Spark; no extra deps) --------------------

  private[tables] def renderCommit(c: Commit): String = {
    val n = M.createObjectNode()
    n.put("version", c.version)
    n.put("format", LogFormat)
    n.put("timestampMs", c.timestampMs)
    n.put("operation", c.operation)
    putStrings(n.putObject("operationParameters"), c.operationParameters)
    val a = n.putArray("addedFiles"); c.addedFiles.foreach(a.add)
    val r = n.putArray("removedFiles"); c.removedFiles.foreach(r.add)
    n.put("schemaJson", c.schemaJson)
    putStrings(n.putObject("properties"), c.properties)
    n.put("identityHighWatermark", c.identityHighWatermark)
    val m = n.putObject("metrics")
    c.metrics.foreach { case (k, v) => m.put(k, v) }
    val fs = n.putObject("fileStats")
    c.fileStats.foreach { case (file, stats) => putStats(fs.putObject(file), stats) }
    val adv = n.putArray("addedDvFiles"); c.addedDvFiles.foreach(adv.add)
    val rdv = n.putArray("removedDvFiles"); c.removedDvFiles.foreach(rdv.add)
    M.writerWithDefaultPrettyPrinter().writeValueAsString(n)
  }

  /** A checkpoint: the state at its version, with the live data files in
    * snapshot order, each with its stats. */
  private[tables] def renderState(s: Snapshot): String = {
    val n = M.createObjectNode()
    n.put("version", s.version)
    n.put("format", LogFormat)
    n.put("timestampMs", s.timestampMs)
    n.put("schemaJson", s.schemaJson)
    putStrings(n.putObject("properties"), s.properties)
    n.put("identityHighWatermark", s.identityHighWatermark)
    val fs = n.putArray("files")
    s.files.foreach { case (f, stats) =>
      val o = fs.addObject()
      o.put("path", f)
      putStats(o.putObject("stats"), stats)
    }
    val dvs = n.putArray("dvFiles"); s.dvFiles.keysIterator.foreach(dvs.add)
    M.writeValueAsString(n)
  }

  /** The state a checkpoint records. */
  private[tables] def parseCheckpoint(json: String): Snapshot = {
    val n = M.readTree(json)
    Snapshot(
      version = n.get("version").asLong(),
      format = formatOf(n),
      timestampMs = n.get("timestampMs").asLong(),
      schemaJson = n.get("schemaJson").asText(),
      properties = strMap(n.get("properties")),
      identityHighWatermark = n.get("identityHighWatermark").asLong(),
      files = n.get("files").elements().asScala
        .map(f => f.get("path").asText() -> readStats(f.get("stats"))).toSeq,
      dvFiles = strings(n.get("dvFiles")))
  }

  private[tables] def parseCommit(json: String): Commit = parseNode(M.readTree(json))

  private def formatOf(n: JsonNode): Int = n.path("format").asInt(1)

  private def putStrings(o: ObjectNode, kv: Map[String, String]): Unit =
    kv.foreach { case (k, v) => o.put(k, v) }

  private def putStats(o: ObjectNode, stats: FileStats.Stats): Unit =
    stats.foreach { case (cname, (mn, mx)) =>
      val arr = o.putArray(cname); arr.add(mn); arr.add(mx)
    }

  private def strMap(f: JsonNode): Map[String, String] =
    f.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap

  private def strings(f: JsonNode): Seq[String] = f.elements().asScala.map(_.asText()).toSeq

  private def readStats(f: JsonNode): FileStats.Stats =
    f.fields().asScala.map { ce =>
      ce.getKey -> (ce.getValue.get(0).asText(), ce.getValue.get(1).asText())
    }.toMap

  private def parseNode(n: JsonNode): Commit =
    Commit(
      version = n.get("version").asLong(),
      timestampMs = n.get("timestampMs").asLong(),
      operation = n.get("operation").asText(),
      operationParameters = strMap(n.get("operationParameters")),
      addedFiles = strings(n.get("addedFiles")),
      removedFiles = strings(n.get("removedFiles")),
      schemaJson = n.get("schemaJson").asText(),
      properties = strMap(n.get("properties")),
      identityHighWatermark = n.get("identityHighWatermark").asLong(),
      metrics = n.get("metrics").fields().asScala
        .map(e => e.getKey -> e.getValue.asLong()).toMap,
      fileStats = n.get("fileStats").fields().asScala
        .map(e => e.getKey -> readStats(e.getValue)).toMap,
      addedDvFiles = strings(n.get("addedDvFiles")),
      removedDvFiles = strings(n.get("removedDvFiles")),
      format = formatOf(n))
}

/** Optimistic-concurrency retry with exponential backoff, mirroring
  * `DeltaMergeHelpers.retrySqlStatement` (`HF/deltahelpers.py:132-172`). */
object Concurrency {
  def retry[A](maxTries: Int = 5, baseDelayMs: Long = 100)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: GraftTable.ConcurrentCommitException =>
          attempt += 1
          if (attempt >= maxTries) throw e
          Thread.sleep(baseDelayMs * (1L << attempt))
      }
    }
    sys.error("unreachable")
  }
}
