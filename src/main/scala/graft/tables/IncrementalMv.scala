package graft.tables

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance for grouped count/sum
  * aggregates (avg derives as sum/cnt at read time).
  *
  * The reference's ST/MV refresh fully recomputes
  * (`HF/stmvorchestrator.py`); this is the scale path beyond it: each
  * refresh reads only the source files appended since the last applied
  * version and MERGEs the partial aggregates into the view — refresh
  * cost ∝ new data, not table size. Any non-append commit since the
  * watermark (rewrite, delete, deletion vector) voids the delta
  * assumption and the refresh falls back to a full recompute of exactly
  * the same result.
  *
  * View schema: keys ++ `cnt` ++ (`sum_<col>`, `cnt_<col>`) per summed
  * column — `cnt_<col>` is the NON-NULL count, the denominator an exact
  * avg rewrite needs (avg(c) skips NULLs; dividing sum by cnt=count(*)
  * silently under-reports any group with a NULL — review finding). The
  * applied source version is tracked in the view's
  * `graft.mv.appliedVersion` property.
  */
object IncrementalMv {

  final case class Refresh(appliedVersion: Long, incremental: Boolean)

  private def aggOf(df: DataFrame, keys: Seq[String], sumCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("cnt") +: sumCols.flatMap(c =>
      Seq(sum(col(c)).as(s"sum_$c"), count(col(c)).as(s"cnt_$c")))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Bring `view` up to date with `source`, exactly as of the source
    * version observed at entry. The delta window is bounded on BOTH ends
    * (`applied < v <= cur`) and the full-recompute path reads `AS OF cur`:
    * a commit landing mid-refresh is left for the next refresh instead of
    * being silently folded in with a lower recorded watermark (which would
    * double-apply it next time). The new appliedVersion rides in the same
    * commit as the data change (merge/overwrite `extraProps`), so a crash
    * between "apply" and "record" cannot split them. */
  def refresh(source: GraftTable, view: GraftTable,
      keys: Seq[String], sumCols: Seq[String]): Refresh = {
    requireCounts(view, sumCols)
    val applied = view.properties.get("graft.mv.appliedVersion").map(_.toLong).getOrElse(-1L)
    val cur = source.currentVersion
    if (cur == applied) return Refresh(cur, incremental = true)
    val since = if (applied < 0) Nil else (applied + 1 to cur).map(source.commitAt)
    val appendOnly = applied >= 0 && since.forall(c =>
      c.removedFiles.isEmpty && c.addedDvFiles.isEmpty && c.removedDvFiles.isEmpty)
    val versionProp = Map("graft.mv.appliedVersion" -> cur.toString)

    if (!appendOnly) {
      view.overwrite(aggOf(source.read(cur), keys, sumCols), "REFRESH MV (full)",
        extraProps = versionProp)
      return Refresh(cur, incremental = false)
    }

    val newFiles = since.flatMap(_.addedFiles)
      .map(f => Paths.get(source.path, f).toString)
    if (newFiles.nonEmpty) {
      // DV state pinned to cur too: a deletion vector committed after cur
      // (mid-refresh) must not suppress rows of this window's files
      val windowRows = source.readFilesWithPos(newFiles, dvVersion = cur)
        .drop(GraftTable.DvFileCol, GraftTable.DvPosCol)
      val delta = aggOf(windowRows, keys, sumCols)
      val keyCond = keys.map(k => s"target.$k = source.$k").mkString(" AND ")
      val updates = Map("cnt" -> "target.cnt + source.cnt") ++
        sumCols.flatMap(c => Seq(
          s"sum_$c" ->
            s"coalesce(target.sum_$c, 0) + coalesce(source.sum_$c, 0)",
          s"cnt_$c" -> s"target.cnt_$c + source.cnt_$c"))
      MergeOps.mergeInto(view, delta, keyCond,
        matched = Seq(MergeOps.WhenMatched(None, MergeOps.UpdateSet(updates))),
        notMatched = Seq(MergeOps.WhenNotMatched(None, MergeOps.InsertAll)),
        extraProps = versionProp)
    } else view.setProperties(versionProp)
    Refresh(cur, incremental = true)
  }

  /** Refuses a view that lacks the `cnt_<col>` of a summed column: the
    * incremental MERGE and the avg rewrite both need it, and every view
    * [[create]] makes has it. */
  private[graft] def requireCounts(view: GraftTable, sumCols: Seq[String]): Unit = {
    val cols = view.schemaAt().fieldNames.toSet
    val missing = sumCols.map(c => s"cnt_$c").filterNot(cols)
    require(missing.isEmpty, s"${view.path} is not a view of these sum columns: " +
      s"it lacks ${missing.mkString(", ")} (create it with IncrementalMv.create)")
  }

  /** Create the view table and run the first (full) refresh. */
  def create(spark: org.apache.spark.sql.SparkSession, path: String,
      source: GraftTable, keys: Seq[String], sumCols: Seq[String]): GraftTable = {
    val df = aggOf(source.read(), keys, sumCols)
    val view = GraftTable.createFrom(spark, path, df)
    view.setProperties(Map("graft.mv.appliedVersion" -> source.currentVersion.toString))
    view
  }
}
