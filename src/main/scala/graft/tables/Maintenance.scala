package graft.tables

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** OPTIMIZE / ZORDER / targetFileSize compaction (SURVEY.md §4;
  * reference `DP/Step 1:224,297`, `DP/Step 2`).
  *
  * One clustering column is laid out with `repartitionByRange +
  * sortWithinPartitions` — each output file covers a narrow key range, so
  * parquet row-group min/max stats (and our per-file pruning) skip files
  * exactly the way the reference's ZORDER demos show (`DP/Step 2:115-202`
  * — 33/34 files pruned on a point lookup).
  *
  * Two or three numeric clustering columns get a true Z-curve: each
  * column is equi-depth bucketed (one `approxQuantile` sketch pass whose
  * boundaries are driver-collected — the same sampling cost Delta's
  * RangePartitioner pays), the bucket ids are bit-interleaved into a
  * z-value, and the table is range-clustered by that z-value. Files then
  * subdivide ALL clustering dimensions at once, so a 2-column box query
  * prunes ~√(per-dim selectivity) of the files instead of pruning on the
  * leading column only, which is what lexicographic range-clustering
  * degrades to at 100×. Non-numeric or >3 columns fall back to
  * lexicographic range-cluster (documented approximation).
  */
object Maintenance {

  private val DefaultTargetFileBytes = 128L * 1024 * 1024
  private val ZBitsPerColumn = 8 // 256 equi-depth buckets per dimension

  /** Table-property fallbacks shared by every OPTIMIZE variant: explicit
    * args win, else `graft.clusterBy` / `graft.clusterCurve` /
    * `graft.targetFileSize` (review finding — this lived as three
    * copy-pastes, one per variant). */
  private def resolveLayout(t: GraftTable, zorderBy: Seq[String],
      curve: String): (Seq[String], String, Long) = {
    val cols =
      if (zorderBy.nonEmpty) zorderBy
      else t.properties.get("graft.clusterBy")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val curveEff =
      if (curve != "z") curve
      else t.properties.getOrElse("graft.clusterCurve", "z")
    val target = t.properties.get("graft.targetFileSize")
      .map(parseSize).getOrElse(DefaultTargetFileBytes)
    (cols, curveEff, target)
  }

  /** Compact the live deletion-vector sidecars after a rewrite of
    * `rewritten` data files: entries pointing at them are dead (the
    * rewrite materialized those deletions via `readFiles`), so the
    * SURVIVING entries are rewritten into one fresh sidecar and every
    * old sidecar is dropped from the log. Without this, a table
    * maintained exclusively by partial OPTIMIZEs — the 100 TB
    * production pattern — accumulates DV files without bound and every
    * read anti-joins all of them (review finding). Cost: one pass over
    * the DV rows (≪ table). Returns (addedDv, removedDv). */
  private def compactDvs(t: GraftTable,
      rewritten: Seq[String]): (Seq[String], Seq[String]) = {
    val dvFiles = t.dvAt()
    if (dvFiles.isEmpty) return (Nil, Nil)
    import org.apache.spark.sql.functions.{broadcast, regexp_replace}
    val spark = t.spark
    import spark.implicits._
    // __dv_file holds _metadata.file_path URIs (file:/...); normalize
    // both sides to plain absolute paths before comparing
    val rewrittenDf = rewritten
      .map(p => Paths.get(p).toAbsolutePath.normalize.toString).toDF("__rm")
    val dvRows = LogFileIndex.read(spark, dvFiles, GraftTable.DvSchema)
    val surviving = dvRows.join(broadcast(rewrittenDf),
      regexp_replace(col(GraftTable.DvFileCol), "^file:/+", "/") === col("__rm"),
      "left_anti")
    if (surviving.isEmpty) (Nil, dvFiles.map(t.relPath))
    else (t.writeDv(surviving)._1, dvFiles.map(t.relPath))
  }

  /** Equi-depth bucket ids (0..255) per column — the shared first stage
    * of both curve layouts: one sketch pass for every column together
    * (dates/timestamps ride as epoch doubles); boundaries are tiny and
    * ride the codegen'd [[graft.functions.BucketIdx]] expression, so the
    * bucket mapping is a narrow binary-search projection. (Round 19: the
    * previous `size(filter(<255-lit array>, b => x >= b))` form was an
    * interpreted HOF referenced 8×·|cols| times by the bit-interleave and
    * evaluated twice per rewrite — sampling pass + shuffle — measured as
    * the in-OPTIMIZE wall of q245; BucketIdx is its exact replacement,
    * guide §4. Equality incl. null/NaN/±0.0 pinned in LayoutNativeSpec.) */
  private def bucketIds(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    val nBuckets = 1 << ZBitsPerColumn
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val asDouble = cols.zipWithIndex.map { case (c, i) =>
      col(c).cast("double").as(s"__zc$i") }
    val proj = df.select(asDouble: _*)
    val bounds = proj.stat.approxQuantile(
      cols.indices.map(i => s"__zc$i").toArray, probs, 0.001)
    cols.zip(bounds).map { case (c, bs) =>
      graft.functions.LayoutNative.bucketIdx(
        col(c).cast("double"), bs.distinct.sorted)
    }
  }

  /** Bit-interleaved z-value over equi-depth bucket ids of `cols`
    * (z-orderable columns only; caller checks). */
  private def zValue(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Column = {
    val bucketCols = bucketIds(df, cols)
    (0 until ZBitsPerColumn).flatMap { k =>
      bucketCols.zipWithIndex.map { case (b, i) =>
        shiftleft(shiftrightunsigned(b, k).bitwiseAND(lit(1L)),
          k * cols.size + i)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** 2-D/3-D Hilbert index over the same equi-depth bucket ids — the
    * liquid-clustering-style layout: consecutive curve positions are
    * always one Manhattan step apart, so a box query's bucket rectangle
    * maps to FEWER disjoint curve ranges than under the z-curve (whose
    * seam jumps split the rectangle across distant file ranges —
    * measured in BASELINE.md). 3-D uses Skilling's
    * transform ([[graft.functions.HilbertKernel.xyz2d]]). */
  private def hilbertValue(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.Column = {
    require(cols.size == 2 || cols.size == 3, "the Hilbert layout is 2-D or 3-D")
    bucketIds(df, cols) match {
      case Seq(bx, by) =>
        graft.functions.HilbertIndex.hilbert_index(df.sparkSession, bx, by)
      case Seq(bx, by, bz) =>
        graft.functions.HilbertIndex.hilbert_index(df.sparkSession, bx, by, bz)
    }
  }

  private def zOrderable(df: org.apache.spark.sql.DataFrame, c: String): Boolean =
    df.schema(c).dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.DateType => true
      case org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }

  /** Range-cluster `df` into `nFiles` output partitions. A single output
    * file needs no range partitioning — `coalesce(1) + sortWithinPartitions`
    * skips repartitionByRange's sampling pass AND the full-table shuffle
    * (coalesce is a narrow dependency); the produced file is identically
    * sorted. The multi-file path keeps the sampling+shuffle, which is the
    * correct (and unavoidable) plan once file count > 1. `interleave`
    * selects the Z-curve layout for 2-3 numeric columns (on by default;
    * Bench's pruning experiment uses false as the comparison baseline).
    *
    * `partitionCols` (Hive-layout partition columns, e.g. the ANN
    * index's `cell`) lead the clustering key when present: the write
    * splits the directory tree by those columns, so output tasks must
    * hold CONTIGUOUS partition-column runs or every task writes a file
    * into every partition dir — a tasks × partitions tiny-file explosion
    * that would undo the compaction it's performing. Range-clustering on
    * (partitionCols ++ zorderBy) keeps each task inside at most two
    * partition dirs (a boundary task straddles one edge) while still
    * laying out `zorderBy` runs within each; the trailing zorder keys
    * also let the range partitioner split WITHIN a hot partition value,
    * so parallelism is not capped at the distinct-partition count. */
  private[graft] def clusterInto(df: org.apache.spark.sql.DataFrame,
      zorderBy: Seq[String], nFiles: Int, interleave: Boolean = true,
      partitionCols: Seq[String] = Nil,
      curve: String = "z"): org.apache.spark.sql.DataFrame = {
    require(curve == "z" || curve == "hilbert", s"unknown curve: $curve")
    val pcs = partitionCols.filter(df.columns.contains)
    if (pcs.nonEmpty) {
      val cols = (pcs ++ zorderBy.filterNot(pcs.contains)).map(col)
      if (nFiles == 1) df.coalesce(1).sortWithinPartitions(cols: _*)
      else df.repartitionByRange(nFiles, cols: _*)
        .sortWithinPartitions(cols: _*)
    }
    else if (zorderBy.isEmpty) df.coalesce(nFiles)
    else if (nFiles == 1)
      df.coalesce(1).sortWithinPartitions(zorderBy.map(col): _*)
    else if (interleave && zorderBy.size >= 2 && zorderBy.size <= 3 &&
        zorderBy.forall(zOrderable(df, _))) {
      val cv =
        if (curve == "hilbert") hilbertValue(df, zorderBy)
        else zValue(df, zorderBy)
      val z = df.withColumn("__z", cv)
      z.repartitionByRange(nFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    } else df.repartitionByRange(nFiles, zorderBy.map(col): _*)
      .sortWithinPartitions(zorderBy.map(col): _*)
  }

  def parseSize(s: String): Long = {
    val t = s.trim.toLowerCase
    if (t.endsWith("gb")) t.dropRight(2).trim.toLong * 1024 * 1024 * 1024
    else if (t.endsWith("mb")) t.dropRight(2).trim.toLong * 1024 * 1024
    else if (t.endsWith("kb")) t.dropRight(2).trim.toLong * 1024
    else t.toLong
  }

  /** OPTIMIZE [ZORDER BY (cols)]: rewrite the table into
    * ceil(bytes / targetFileSize) files, range-clustered by `zorderBy`.
    * Without explicit columns, a `graft.clusterBy` table property (set by
    * `CLUSTER BY` DDL — liquid-clustering surface) supplies the layout
    * key, so a bare OPTIMIZE re-clusters incrementally ingested data.
    * `curve = "hilbert"` (2 columns) lays files along the Hilbert curve
    * instead of the z-curve — better box-query locality, measured in
    * BASELINE.md. A `graft.clusterCurve` table property supplies the
    * curve when the caller doesn't (the liquid-clustering shape: the
    * TABLE declares its layout once, every bare OPTIMIZE — including
    * the SQL-routed one — re-applies it). */
  def optimize(t: GraftTable, zorderBy: Seq[String] = Nil,
      interleave: Boolean = true, curve: String = "z"): Commit = {
    val (zorderByEff, curveEff, target) = resolveLayout(t, zorderBy, curve)
    val files = t.filesAt()
    if (files.isEmpty) return t.commit("OPTIMIZE", Nil, Nil, t.schemaAt())
    // the rewrite materialized any deletion vectors (the read applies them)
    rewrite(t, files, zorderByEff, curveEff, target,
      Map("zOrderBy" -> zorderByEff.mkString(","), "curve" -> curveEff), interleave)(
      (Nil, t.dvAt().map(t.relPath)))
  }

  /** Predicate-scoped OPTIMIZE — `OPTIMIZE t WHERE p [ZORDER BY (...)]`:
    * rewrite ONLY the files whose stats ranges overlap `p` (the same
    * pruning evaluator reads use), leaving the rest of the table's
    * layout untouched. This is how the delta-optimizer's emitted
    * commands target hot partitions in production — a full-table
    * rewrite per maintenance pass is a non-starter at 100 TB, but the
    * current day's ingest (a date-range predicate) compacts in O(that
    * slice). Matching is stats-conservative: a file with no stats or an
    * overlapping range is INCLUDED (rewriting too much is slower, never
    * wrong). Deletion vectors follow the optimizeIncremental policy:
    * the rewrite materializes DVs of the files it reads, so their
    * entries dangle harmlessly; entries for untouched files stay live. */
  def optimizeWhere(t: GraftTable, predicateSql: String,
      zorderBy: Seq[String] = Nil, curve: String = "z"): Commit = {
    val (zorderByEff, curveEff, target) = resolveLayout(t, zorderBy, curve)
    val params = Map("zOrderBy" -> zorderByEff.mkString(","),
      "curve" -> curveEff, "predicate" -> predicateSql)
    // parse EAGERLY and fail loudly, naming the predicate: a typo'd
    // predicate must never become a full-table rewrite
    val pred =
      try t.spark.sessionState.sqlParser.parseExpression(predicateSql)
      catch {
        case scala.util.control.NonFatal(e) => throw new IllegalArgumentException(
          s"cannot parse OPTIMIZE WHERE predicate: $predicateSql", e)
      }
    val (matching, _) = t.pruneFilesByExpr(pred)
    if (matching.size < 2) // nothing to compact in scope — record the no-op
      return t.commit("OPTIMIZE", Nil, Nil, t.schemaAt(), params)
    rewrite(t, matching, zorderByEff, curveEff, target, params)(compactDvs(t, matching))
  }

  /** Incremental OPTIMIZE: compact only files below
    * `smallFileFraction × targetFileSize` — what repeated small appends
    * leave behind — and leave well-sized files alone. A full-table
    * rewrite per OPTIMIZE is a non-starter at 100 TB; this is the
    * steady-state maintenance pass (Delta's OPTIMIZE compacts exactly
    * this way: only files under minFileSize are rewritten). Deletion
    * vectors are COMPACTED, not dropped: entries for rewritten files
    * are dead (the rewrite materialized them) and are rewritten away
    * with the surviving entries into one fresh sidecar — a table
    * maintained only by partial passes must not accumulate sidecars
    * (review finding); entries for skipped files stay live. */
  def optimizeIncremental(t: GraftTable, zorderBy: Seq[String] = Nil,
      smallFileFraction: Double = 0.5): Commit = {
    val (zorderByEff, curveEff, target) = resolveLayout(t, zorderBy, "z")
    val small = t.filesAt()
      .filter(f => Files.size(Paths.get(f)) < (target * smallFileFraction).toLong)
    if (small.size < 2)
      return t.commit("OPTIMIZE", Nil, Nil, t.schemaAt(),
        Map("zOrderBy" -> zorderByEff.mkString(","), "incremental" -> "true"))
    rewrite(t, small, zorderByEff, curveEff, target,
      Map("zOrderBy" -> zorderByEff.mkString(","), "incremental" -> "true",
        "curve" -> curveEff))(compactDvs(t, small))
  }

  /** The tail every OPTIMIZE shares: the live `files` (absolute paths)
    * read back, clustered into ceil(bytes / target) files and swapped for
    * them in one commit. `dvs` — the (added, removed) deletion-vector
    * files — is evaluated once the new files are written. */
  private def rewrite(t: GraftTable, files: Seq[String], zorderBy: Seq[String],
      curve: String, target: Long, params: Map[String, String],
      interleave: Boolean = true)(dvs: => (Seq[String], Seq[String])): Commit = {
    val totalBytes = files.map(f => Files.size(Paths.get(f))).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / target).toInt)
    val added = t.writeData(clusterInto(t.readFiles(files), zorderBy, nFiles, interleave,
      t.partitionColumns, curve))
    val (addedDv, removedDv) = dvs
    t.commit("OPTIMIZE", added, files.map(t.relPath), t.schemaAt(), params,
      metrics = Map(
        "numFilesRemoved" -> files.size.toLong,
        "numFilesAdded" -> added.size.toLong,
        "bytesCompacted" -> totalBytes),
      fileStats = t.harvestStats(added),
      addedDv = addedDv, removedDv = removedDv)
  }
}
