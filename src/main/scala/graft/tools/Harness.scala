package graft.tools

import org.apache.spark.sql.SparkSession

/** The measurement-harness idioms shared by `graft.Bench` and the scaling
  * tools — ONE implementation so a reset fix applies to every harness at
  * once (these evolve per round: derived-stream stopping and the
  * scratch-tree wipe were both such fixes) and cross-tool numbers stay
  * comparable. */
object Harness {

  /** The harness session: [[graft.GraftSession]] with a bounded in-memory
    * status store. A harness drives ~10^4 jobs through one JVM, and the
    * default retention (1000 SQL executions, unbounded-ish job/stage
    * history) grows the driver heap all run, taxing late queries with GC
    * they didn't cause. `spark.cleaner.periodicGC.interval` stays at its
    * default (30 min, never inside a run) on purpose: a short timer would
    * fire full GCs inside timed queries; [[resetRunState]] forces GC
    * strictly between them instead. */
  def session(cores: Int): SparkSession =
    graft.GraftSession.localBuilder(cores)
      .config("spark.sql.ui.retainedExecutions", "25")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()

  /** Per-measurement state reset: every query must see the session the
    * previous one started with — stray streams stopped (incl. derived
    * sessions' streams, invisible to this session's manager),
    * persisted/localCheckpointed blocks unpersisted (ContextCleaner only
    * reclaims them on driver GC, far too late mid-run), the scratch-table
    * tree wiped, dead tables' commit-log/stats caches dropped, and
    * (optionally) a forced GC so the ContextCleaner actually releases
    * shuffle files/broadcasts between measurements, never inside one. */
  def resetRunState(spark: SparkSession, gc: Boolean = true): Unit = {
    spark.streams.active.foreach(_.stop())
    graft.queries.StreamQueries.stopDerivedStreams()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
    graft.tables.GraftTable.clearAllCaches()
    wipeScratch()
    if (gc) System.gc()
  }

  /** Wipe the shared query-scratch tree (`Scratch.Root`). */
  def wipeScratch(): Unit =
    graft.tables.GraftTable.deleteTree(
      java.nio.file.Paths.get(graft.queries.Scratch.Root))

  /** Median of a non-empty sample — the harnesses' headline statistic. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
