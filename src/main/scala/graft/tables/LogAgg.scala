package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Append-only delta-log aggregate: a [[GraftTable]] holding PARTIAL
  * grouped counters (several rows per key allowed) that streaming
  * maintenance appends to and readers fold with one keyed aggregate.
  *
  * This is the scale-safe shape for high-cardinality UNIFORM key spaces
  * — corpus vocabulary stats, per-entity counters — where a per-batch
  * MERGE cannot win: merge file-discovery prunes by source key range
  * (MergeOps.pruneTargetFiles), but a vocabulary delta's words hash
  * uniformly across the whole key space, so every batch's range covers
  * every file and the MERGE rewrites essentially the full table per
  * batch (measured: ProfLogAgg). Bucketing the table doesn't help for
  * the same reason — a uniform delta touches every bucket. Appending
  * the delta costs O(delta) files written and ZERO rewritten,
  * regardless of table size; the fold cost is bounded by compacting on
  * a cadence ([[compactIfDue]]), amortizing the rewrite over many
  * batches instead of paying it every batch — the same
  * accumulate-then-fold idea as an LSM level or a Delta
  * minor-compaction.
  *
  * Contract: `read()` is ALWAYS exact (it folds whatever mix of
  * compacted rows and pending deltas the log holds); compaction only
  * changes the physical row count, never the aggregate — both are
  * spec-pinned, and q270 gates the streaming loop end-to-end against
  * the batch-recompute oracle.
  */
object LogAgg {

  private val KeysProp = "graft.logagg.keys"
  private val CountersProp = "graft.logagg.counters"
  private[tables] val DeltaOp = "LOGAGG DELTA"
  private[tables] val CompactOp = "LOGAGG COMPACT"

  /** Create the table; `keys` group, `counters` sum (long/double). */
  def create(spark: SparkSession, path: String, schema: StructType,
      keys: Seq[String], counters: Seq[String]): GraftTable = {
    require(keys.nonEmpty, "logagg needs at least one key column")
    require(counters.nonEmpty, "logagg needs at least one counter column")
    val missing = (keys ++ counters).filterNot(schema.fieldNames.contains)
    require(missing.isEmpty, s"schema is missing: ${missing.mkString(", ")}")
    GraftTable.create(spark, path, schema,
      Map(KeysProp -> keys.mkString(","), CountersProp -> counters.mkString(",")))
  }

  private def prop(t: GraftTable, key: String): Seq[String] =
    t.properties.getOrElse(key,
      throw new IllegalArgumentException(
        s"${t.path} is not a LogAgg table: property $key missing " +
          "(create one with LogAgg.create)")).split(",").toSeq

  /** Record one batch's partial counts: a pure append — O(delta) files
    * written, zero rewritten (spec-pinned via the commit's removedFiles).
    * The delta must already be aggregated per key WITHIN the batch
    * (one map-side-combined groupBy), or the log grows by raw rows. */
  def append(t: GraftTable, delta: DataFrame): Commit =
    t.append(delta, DeltaOp)

  /** The exact current aggregate: fold compacted rows + pending deltas
    * with one keyed sum. Readers at 100 TB pay (compacted rows + deltas
    * since last compact) — the compaction cadence bounds the second
    * term. */
  def read(t: GraftTable): DataFrame = {
    val keys = prop(t, KeysProp)
    val aggs = prop(t, CountersProp).map(c => sum(col(c)).as(c))
    t.read().groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Delta commits appended since the last compaction (or creation):
    * the commits read back from the tip, one file each, down to it. */
  def deltasSinceCompact(t: GraftTable): Int =
    Iterator.iterate(t.currentVersion)(_ - 1).takeWhile(_ >= 0).map(t.commitAt)
      .takeWhile(_.operation != CompactOp).count(_.operation == DeltaOp)

  /** Fold the whole log to one row per key — the scheduled rewrite that
    * bounds read cost. This is the ONLY operation that rewrites files,
    * and it runs once per `every` batches, not per batch. */
  def compact(t: GraftTable): Commit =
    t.overwrite(read(t), CompactOp)

  /** Compact when `every` or more deltas accumulated since the last
    * compaction; the streaming foreachBatch calls this after each
    * append and pays the fold on the cadence, not per batch. */
  def compactIfDue(t: GraftTable, every: Int): Option[Commit] = {
    require(every >= 1, "compaction cadence must be >= 1")
    if (deltasSinceCompact(t) >= every) Some(compact(t)) else None
  }
}
