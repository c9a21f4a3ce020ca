package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Divide, EqualTo, Expression, If, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Sum}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.DoubleType

import graft.tables.{GraftTable, IncrementalMv}

/** Automatic materialized-view rewrite — a Catalyst `Rule[LogicalPlan]`
  * that makes [[graft.tables.IncrementalMv]] views TRANSPARENT: a
  * grouped count/sum/avg aggregate scanning a registered source table
  * is rewritten to re-aggregate the (key-cardinality) view instead of
  * the (corpus-scale) source, exactly when the view is FRESH
  * (appliedVersion == the source's current version — a stale view
  * silently disables the rewrite rather than serving wrong rows).
  * This is the half of the reference's ST/MV story the refresh
  * orchestrator can't give you: the query author doesn't have to KNOW
  * the view exists, which is how warehouse MV rewrite (and Databricks
  * MV routing) actually ships.
  *
  * Rewrite preconditions, all structural (anything else leaves the
  * plan untouched):
  *   - the aggregate's child is a pure column projection over a
  *     parquet scan whose FILE SET equals the registered source's
  *     current snapshot (alias-free Projects only — a rename could
  *     smuggle a different column under a key's name);
  *   - grouping keys ⊆ the view's keys (subset ⇒ rollup re-aggregation
  *     is exact for count/sum, and avg derives as sum/cnt);
  *   - every aggregate is count(non-null lit), sum(col ∈ sumCols) or
  *     avg(col ∈ sumCols), non-DISTINCT, un-FILTERed, with matching
  *     result type. avg is NULL-exact: it divides by the view's
  *     per-column NON-NULL count (`cnt_<col>` — avg(c) skips NULLs,
  *     so sum/count(*) would silently under-report any group with a
  *     NULL), and only fires when the original result type is
  *     DoubleType (a decimal avg swapped for a double expression under
  *     the original exprId would corrupt the output type for parent
  *     operators). [[register]] refuses a view without those columns.
  *
  * The replacement plan re-aggregates the view (`sum(cnt)`,
  * `sum(sum_c)`, `sum(cnt_c)`) and projects onto the ORIGINAL output
  * attribute ids, so parent operators never notice. Semantics are
  * oracle-gated (q278 compares against DuckDB over the raw data); the
  * mechanism — view files scanned instead of source, staleness
  * disabling, refresh re-enabling — is pinned in MvRewriteSpec.
  *
  * Optimizer-hot-path cost (review finding — the rule runs on EVERY
  * Aggregate of every query while any MV is registered): a candidate
  * is probed by the scan's FIRST ROOT PATH first — O(registered MVs)
  * string compares, no file enumeration and no commit-log read — and
  * only a root under a registered source's directory pays the
  * freshness check; the source's normalized snapshot file set is
  * memoized per (source path, version), so repeated queries against a
  * fresh MV re-read the commit log for the CURRENT version only, not
  * the full file-set normalization (ProfMv measures the non-candidate
  * probe at ~0 per query with 100 registered MVs).
  */
object MvRewrite {

  final case class MvEntry(source: GraftTable, view: GraftTable,
      keys: Seq[String], sumCols: Seq[String])

  private val registry = TrieMap.empty[String, MvEntry]

  /** normalized source path → (version, normalized snapshot file set).
    * Only the LATEST observed version is kept per source: the rewrite
    * only ever compares against the source's CURRENT version (a stale
    * view disables it), so an older version's file set can never match
    * a fresh view again — retaining it would grow one Set[String] of
    * all file paths per version for the life of the session on a
    * frequently-appended source (review finding). register/unregister
    * evict the source's entry; `clear()` empties the map with the
    * registry. */
  private val snapshotCache = TrieMap.empty[String, (Long, Set[String])]

  private def norm(p: String): String = {
    val s = if (p.startsWith("file:")) new java.net.URI(p).getPath else p
    java.nio.file.Paths.get(s).toAbsolutePath.normalize.toString
  }

  /** Register a source → view mapping (idempotent by source path). The
    * view must carry every `cnt_<col>` of `sumCols`. */
  def register(source: GraftTable, view: GraftTable,
      keys: Seq[String], sumCols: Seq[String]): Unit = {
    IncrementalMv.requireCounts(view, sumCols)
    val key = norm(source.path)
    snapshotCache.remove(key) // a re-register must not serve a predecessor's snapshot
    registry.put(key, MvEntry(source, view, keys, sumCols))
  }

  def unregister(source: GraftTable): Unit = {
    val key = norm(source.path)
    registry.remove(key)
    snapshotCache.remove(key)
  }
  def clear(): Unit = { registry.clear(); snapshotCache.clear() }

  /** Install the rule on `spark` (idempotent). Uses
    * `experimental.extraOptimizations` — the public session-level hook
    * for optimizer rules, running after the built-in batches. */
  def enable(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[RewriteToMv]))
      spark.experimental.extraOptimizations = cur :+ RewriteToMv(spark)
  }

  private def snapshotAt(e: MvEntry, version: Long): Set[String] = {
    val key = norm(e.source.path)
    snapshotCache.get(key) match {
      case Some((v, files)) if v == version => files
      case _ =>
        val files = e.source.filesAt(version).map(norm).toSet
        snapshotCache.put(key, (version, files))
        files
    }
  }

  /** Test-only visibility: cached snapshot versions per source path. */
  private[graft] def cachedSnapshotVersions: Map[String, Long] =
    snapshotCache.readOnlySnapshot().toMap.map { case (k, (v, _)) => k -> v }

  final case class RewriteToMv(spark: SparkSession) extends Rule[LogicalPlan] {

    /** The scan's parquet relation, when the child is a pure alias-free
      * column projection over one relation (no filters — a filtered
      * rewrite would need the predicate to be key-only; out of scope). */
    private def scanRelation(child: LogicalPlan): Option[HadoopFsRelation] =
      child match {
        case PhysicalOperation(projects, Nil, l: LogicalRelation)
            if projects.forall(_.isInstanceOf[AttributeReference]) =>
          l.relation match {
            case fs: HadoopFsRelation => Some(fs)
            case _ => None
          }
        case _ => None
      }

    /** O(registered MVs) candidate probe by the scan's first root path
      * — GraftTable reads plan through a `LogFileIndex`, whose root paths
      * are the snapshot's qualified file URIs, so every root lives under
      * the table directory. `toUri` keeps a path with a space parseable
      * by `norm`. No commit-log IO here. */
    private def candidate(fs: HadoopFsRelation): Option[MvEntry] =
      fs.location.rootPaths.headOption.map(p => norm(p.toUri.toString)).flatMap {
        root =>
          registry.values.find { e =>
            val p = norm(e.source.path)
            root == p || root.startsWith(p + java.io.File.separator)
          }
      }

    /** Null when some aggregate output is not rewritable. */
    private def rewritten(agg: Aggregate, e: MvEntry): Option[LogicalPlan] = {
      val groupNames = agg.groupingExpressions.map {
        case a: AttributeReference => a.name
        case _ => return None
      }
      if (groupNames.isEmpty || !groupNames.forall(e.keys.contains))
        return None
      // roll the view up to the query's grouping, per-column non-null
      // counts along
      val first = sum(col("cnt")).as("__cnt")
      val rest = e.sumCols.flatMap(c =>
        Seq(sum(col(s"sum_$c")).as(s"__sum_$c"), sum(col(s"cnt_$c")).as(s"__cnt_$c")))
      val rolled = e.view.read()
        .groupBy(groupNames.map(col): _*)
        .agg(first, rest: _*)
      val rolledPlan = rolled.queryExecution.analyzed
      val byName = rolledPlan.output.map(a => a.name -> a).toMap
      val projList: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case a: AttributeReference if groupNames.contains(a.name) =>
          Alias(byName(a.name), a.name)(exprId = a.exprId)
        case al @ Alias(ae: AggregateExpression, name)
            if !ae.isDistinct && ae.filter.isEmpty =>
          val repl: Option[Expression] = ae.aggregateFunction match {
            // count(NULL) is 0 per group, not count(*) — only a
            // NON-NULL literal maps to the view's cnt (review finding)
            case Count(Seq(Literal(v, _))) if v != null => Some(byName("__cnt"))
            case Sum(a: AttributeReference, _) if e.sumCols.contains(a.name) =>
              // restore NULL for all-NULL groups: the MERGE fold
              // coalesces partial sums to 0, but sum(c) over zero
              // non-null values is NULL
              Some(byName(s"__sum_${a.name}")).filter(_.dataType == al.dataType)
                .map(s => If(EqualTo(byName(s"__cnt_${a.name}"), Literal(0L)),
                  Literal(null, s.dataType), s))
            case Average(a: AttributeReference, _)
                if e.sumCols.contains(a.name) &&
                  al.dataType == DoubleType =>
              // avg(c) divides by the NON-NULL count
              val c = byName(s"__cnt_${a.name}")
              Some(If(EqualTo(c, Literal(0L)), Literal(null, DoubleType),
                Divide(Cast(byName(s"__sum_${a.name}"), DoubleType), Cast(c, DoubleType))))
            case _ => None
          }
          repl match {
            case Some(r) => Alias(r, name)(exprId = al.exprId)
            case None => return None
          }
        case _ => return None
      }
      Some(Project(projList, rolledPlan))
    }

    override def apply(plan: LogicalPlan): LogicalPlan =
      if (registry.isEmpty) plan
      else plan.transformUp {
        case agg: Aggregate =>
          (for {
            fs <- scanRelation(agg.child)
            e <- candidate(fs)
            cur = e.source.currentVersion
            // stale view → rewrite silently disabled, never wrong rows
            if e.view.properties.get("graft.mv.appliedVersion")
              .exists(_.toLong == cur)
            // file-set-exact over the index's qualified file URIs: a
            // time-travel read, a partial-file read, or a foreign table
            // that merely lives under the source dir all mismatch and
            // stay untouched
            if fs.location.inputFiles.map(norm).toSet == snapshotAt(e, cur)
            out <- rewritten(agg, e)
          } yield out).getOrElse(agg)
      }
  }
}
