package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.optimizer.WorkloadOptimizer
import graft.optimizer.WorkloadOptimizer.QueryRecord

/** Workload auto-tuner coverage: profile a fixed query history, emit the
  * ranked ZORDER/ANALYZE strategy (`OPT:1714-1967`).
  */
object OptimizerQueries extends QueryBatch {

  /** A representative workload over the star schema. */
  def workload(dir: String): Seq[QueryRecord] = Seq(
    QueryRecord(
      """SELECT o_orderpriority, count(*) FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01' GROUP BY o_orderpriority""", 4000),
    QueryRecord(
      """SELECT c_mktsegment, sum(o_totalprice) FROM orders
         JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment""", 9000),
    QueryRecord(
      """SELECT * FROM orders WHERE o_orderkey = 42""", 1000),
    QueryRecord(
      """SELECT o_custkey, count(*) FROM orders
         JOIN lineitem ON l_orderkey = o_orderkey
         WHERE l_shipdate < TIMESTAMP '1997-01-01' GROUP BY o_custkey""", 15000))

  /** Strategy output: which columns the tuner would ZORDER each table by.
    * The Catalyst plan profiling of the fixed workload is data-independent,
    * so the oracle hardcodes the profiled usage tuples and replays the
    * whole scaling → scoring → ranking pipeline in SQL over live exact
    * cardinalities (the gate runs exactCardinality; HLL is the 100 TB
    * default). */
  private val q120 = GQ(
    "q120_workload_optimizer",
    (s, dir) => {
      import s.implicits._
      val tables = Map(
        "orders" -> (Tables.t(s, dir, "orders"), None),
        "customer" -> (Tables.t(s, dir, "customer"), None),
        "lineitem" -> (Tables.t(s, dir, "lineitem"), None))
      WorkloadOptimizer.buildStrategy(s, workload(dir), tables, minDistinct = 50,
          exactCardinality = true)
        .map(st => (st.table, st.zorderCols.mkString(","), st.optimizeCommand))
        .toDF("table", "zorder_cols", "optimize_command")
        .orderBy("table")
    },
    Some("""WITH usage(tbl, col, n_join, n_filter, n_group, n_queries, total_runtime) AS (
              VALUES ('customer','c_custkey',1,0,0,1,9000),
                     ('customer','c_mktsegment',0,0,1,1,9000),
                     ('lineitem','l_orderkey',1,0,0,1,15000),
                     ('lineitem','l_shipdate',0,1,0,1,15000),
                     ('orders','o_custkey',1,0,1,2,24000),
                     ('orders','o_orderdate',0,1,0,1,4000),
                     ('orders','o_orderkey',1,1,0,2,16000),
                     ('orders','o_orderpriority',0,0,1,1,4000)),
            cards(tbl, col, total, dist) AS (
              SELECT 'customer','c_custkey', count(*), count(DISTINCT c_custkey) FROM customer
              UNION ALL SELECT 'customer','c_mktsegment', count(*), count(DISTINCT c_mktsegment) FROM customer
              UNION ALL SELECT 'lineitem','l_orderkey', count(*), count(DISTINCT l_orderkey) FROM lineitem
              UNION ALL SELECT 'lineitem','l_shipdate', count(*), count(DISTINCT l_shipdate) FROM lineitem
              UNION ALL SELECT 'orders','o_custkey', count(*), count(DISTINCT o_custkey) FROM orders
              UNION ALL SELECT 'orders','o_orderdate', count(*), count(DISTINCT o_orderdate) FROM orders
              UNION ALL SELECT 'orders','o_orderkey', count(*), count(DISTINCT o_orderkey) FROM orders
              UNION ALL SELECT 'orders','o_orderpriority', count(*), count(DISTINCT o_orderpriority) FROM orders),
            spine AS (
              SELECT u.*, c.dist, CAST(c.dist AS DOUBLE) / c.total AS card_prop
              FROM usage u JOIN cards c ON u.tbl = c.tbl AND u.col = c.col),
            scaled AS (
              SELECT *,
                CASE WHEN max(n_queries) OVER () = min(n_queries) OVER () THEN 0.5
                     ELSE CAST(n_queries - min(n_queries) OVER () AS DOUBLE)
                          / (max(n_queries) OVER () - min(n_queries) OVER ()) END AS query_ref_scaled,
                CASE WHEN max(total_runtime) OVER () = min(total_runtime) OVER () THEN 0.5
                     ELSE CAST(total_runtime - min(total_runtime) OVER () AS DOUBLE)
                          / (max(total_runtime) OVER () - min(total_runtime) OVER ()) END AS runtime_scaled,
                CASE WHEN max(n_join) OVER () = min(n_join) OVER () THEN 0.5
                     ELSE CAST(n_join - min(n_join) OVER () AS DOUBLE)
                          / (max(n_join) OVER () - min(n_join) OVER ()) END AS occurrences_scaled,
                CASE WHEN max(card_prop) OVER () = min(card_prop) OVER () THEN 0.5
                     ELSE (card_prop - min(card_prop) OVER ())
                          / (max(card_prop) OVER () - min(card_prop) OVER ()) END AS card_scaled
              FROM spine),
            ranked AS (
              SELECT tbl, col, dist,
                row_number() OVER (PARTITION BY tbl ORDER BY
                  (CASE WHEN n_join + n_filter + n_group > 0 THEN 1 ELSE 0 END)
                    * (1 + query_ref_scaled + runtime_scaled + occurrences_scaled
                       + CASE WHEN n_filter > 0 THEN 1 ELSE 0 END
                       + CASE WHEN n_join > 0 THEN 1 ELSE 0 END
                       + CASE WHEN n_group > 0 THEN 1 ELSE 0 END)
                    * (0.001 + card_scaled) DESC, col) AS rnk
              FROM scaled)
            SELECT tbl AS "table",
              string_agg(col, ',' ORDER BY rnk) AS zorder_cols,
              'OPTIMIZE ' || tbl || ' ZORDER BY ('
                || string_agg(col, ', ' ORDER BY rnk) || ')' AS optimize_command
            FROM ranked WHERE rnk <= 2 AND dist >= 50
            GROUP BY tbl ORDER BY tbl""")
  )

  /** A table of `df` at scratch `tag`, clustered by `key` into files of
    * 1/32 of its bytes clamped to [4 KB, 32 MB]: at small test scales
    * that keeps ≥ 32 files, so a gate's pruning requirement never goes
    * vacuous; at large scales the 32 MB CAP makes file COUNT (= sort
    * partitions) grow with the data instead of file size — an uncapped
    * bytes/32 rule grew per-task sort memory 10× per decade and the m100
    * ScaleBench point spilled (SCALING.md round-17). Same lesson as
    * production OPTIMIZE: targetFileSize is a constant, parallelism
    * scales with the table. */
  private def clustered(s: SparkSession, tag: String, df: DataFrame,
      key: String): graft.tables.GraftTable = {
    val t = graft.tables.GraftTable.createFrom(s, Scratch.dir(tag), df)
    val totalBytes = t.filesAt()
      .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
    t.setProperties(Map("graft.targetFileSize" ->
      math.min(math.max(totalBytes / 32, 4L * 1024), 32L * 1024 * 1024).toString))
    graft.tables.Maintenance.optimize(t, zorderBy = Seq(key))
    t
  }

  /** Stats-based file skipping correctness: a range lookup through
    * `read().filter` on a ZORDERed table returns exactly the unpruned
    * filter result (`DP/Step 2` behavior). The gate REQUIRES that the
    * probe prunes; the file size is derived from table bytes. */
  private val q121 = GQ(
    "q121_stats_skipping",
    (s, dir) => {
      import org.apache.spark.sql.functions.col
      val t = clustered(s, "skip", Tables.t(s, dir, "lineitem"), "l_orderkey")
      val (kept, total) = t.pruneFiles("l_orderkey <= 100")
      require(kept.size < total, s"the probe must prune: ${kept.size}/$total")
      t.read().filter(col("l_orderkey") <= 100)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE l_orderkey <= 100 ORDER BY l_orderkey, l_linenumber""")
  )

  /** BETWEEN-range file skipping (round 17): Spark 4's bare
    * `parseExpression` keeps BETWEEN as an UNRESOLVED `between(x, lo,
    * hi)` call, which used to fall through `FileStats.mightMatch`'s
    * conservative keep-everything path — a box probe written with
    * BETWEEN read every file. The gate REQUIRES the mechanism (the
    * probe prunes, and keeps exactly the files its >=/<= desugaring
    * keeps) and the oracle checks the returned rows against the
    * unpruned filter, so a pruning rule that skipped a matching file
    * would hash-mismatch. */
  private val q285 = GQ(
    "q285_between_prune",
    (s, dir) => {
      val t = clustered(s, "btwprobe", Tables.t(s, dir, "lineitem"), "l_orderkey")
      val probe = "l_orderkey BETWEEN 40 AND 60"
      val (kept, total) = t.pruneFiles(probe)
      require(kept.size < total, s"BETWEEN must prune: ${kept.size}/$total")
      require(kept.toSet ==
        t.pruneFiles("l_orderkey >= 40 AND l_orderkey <= 60")._1.toSet,
        "BETWEEN must keep exactly its desugaring's files")
      t.read().filter(probe)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
            WHERE l_orderkey BETWEEN 40 AND 60
            ORDER BY l_orderkey, l_linenumber""")
  )

  /** IS NULL file skipping (round 18): parquet footers carry per-column
    * null counts for free; the harvest records them as `__nulls_<col>`
    * stats entries, and `mightMatch` prunes `IS NULL` probes against
    * files whose null count is known zero. This is the SCD2 current-row
    * scan shape (`_end_timestamp IS NULL`, the reference's `DP/Step 12:
    * 143-146` pattern): a table clustered by key keeps its "open" rows
    * (NULL end) in the top key-range files, so the probe reads only
    * those. The gate REQUIRES pruning (kept < total) and that the kept
    * set is exactly the null-bearing files; the oracle replays the
    * derived-column semantics over the raw data, so a rule that skipped
    * a matching file would hash-mismatch. */
  private val q286 = GQ(
    "q286_isnull_prune",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val o = Tables.t(s, dir, "orders")
      val maxKey = o.agg(max("o_orderkey")).head().getLong(0)
      val cut = maxKey - 500 // the "current rows": high keys, end open
      val staged = o.select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") > cut, lit(null).cast("timestamp"))
          .otherwise(col("o_orderdate")).as("o_end"))
      val t = clustered(s, "nullprobe", staged, "o_orderkey")
      val (kept, total) = t.pruneFiles("o_end IS NULL")
      require(kept.size < total, s"IS NULL must prune: ${kept.size}/$total")
      // exactness: kept ≡ the files whose footer null count is > 0
      val stats = t.statsAt()
      val withNulls = t.filesAt().filter { abs =>
        stats.get(t.relPath(abs)).flatMap(_.get("__nulls_o_end"))
          .exists(_._1.toLong > 0)
      }.toSet
      require(kept.toSet == withNulls,
        "IS NULL must keep exactly the null-bearing files")
      t.read().filter(col("o_end").isNull)
        .select("o_orderkey", "o_custkey").orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey FROM orders
            WHERE o_orderkey > (SELECT max(o_orderkey) - 500 FROM orders)
            ORDER BY o_orderkey""")
  )

  /** Predicate-scoped compaction (round 18): `OPTIMIZE t WHERE p`
    * through the SQL router rewrites ONLY the files whose stats overlap
    * `p` — the delta-optimizer's emitted commands target hot partitions
    * exactly this way in production (a full-table rewrite per
    * maintenance pass is a non-starter at 100 TB). The gate builds the
    * table from two DISJOINT key slices (low slice fragmented into many
    * small files, high slice compact), scopes the OPTIMIZE to the low
    * slice, and REQUIRES the commit's removed set to be exactly the low
    * files with every high file untouched; the oracle checks the full
    * read-back, so a scope bug that dropped or duplicated rows would
    * hash-mismatch. */
  private val q287 = GQ(
    "q287_optimize_where",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      import graft.tables.GraftTable
      val p = Scratch.dir("optwhere")
      val o = Tables.t(s, dir, "orders")
      val cut = o.agg(max("o_orderkey")).head().getLong(0) / 2
      val t = GraftTable.create(s, p, o.schema)
      t.append(o.filter(col("o_orderkey") <= cut).repartition(6)) // fragmented hot slice
      t.append(o.filter(col("o_orderkey") > cut).coalesce(1))     // compact cold slice
      val lowBefore = t.pruneFiles(s"o_orderkey <= $cut")._1.toSet
      val highBefore = t.pruneFiles(s"o_orderkey > $cut")._1.toSet
      require(lowBefore.intersect(highBefore).isEmpty, "slices must be stats-disjoint")
      val g = new graft.sql.GraftSql(s, p + "-sql")
      g.register("orders", t)
      g.sql(s"OPTIMIZE orders WHERE o_orderkey <= $cut ZORDER BY (o_orderkey)")
      val c = t.commits.last
      require(c.operation == "OPTIMIZE" &&
        c.operationParameters("predicate") == s"o_orderkey <= $cut")
      require(c.removedFiles.toSet == lowBefore.map(t.relPath),
        "OPTIMIZE WHERE must rewrite exactly the in-scope files")
      require(highBefore.subsetOf(t.filesAt().toSet),
        "out-of-scope files must be untouched")
      t.read().select("o_orderkey", "o_custkey", "o_orderdate")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey, o_orderdate FROM orders
            ORDER BY o_orderkey""")
  )

  /** Apply-then-measure auto-tuning round trip — the reference's Strategy
    * RUNNER step (`30-performance/delta-optimizer/customer-facing-delta-
    * optimizer/Step 2_ Strategy Runner.py`: execute the ranked commands
    * the optimizer emitted), which q120 mirrored in emission only.
    * A fragmented, unclustered copy of `orders` is profiled against the
    * workload; the emitted `OPTIMIZE … ZORDER BY (…)` is APPLIED through
    * the SQL router (the emitted string is real DDL, not a report), the
    * write-predicate columns are set, and the measured file-pruning win
    * on the workload's own predicates is asserted in-gate: the point
    * lookup must read STRICTLY fewer files than before, and no predicate
    * may get worse. The oracle checks the pruned reads return exactly
    * the unpruned row counts (the file-count win itself is
    * layout-dependent, so it lives in the require + spec, not SQL). */
  private val q245 = GQ(
    "q245_optimizer_apply",
    (s, dir) => {
      import s.implicits._
      import graft.tables.GraftTable
      val p = Scratch.dir("optapply")
      val o = Tables.t(s, dir, "orders")
      val t = GraftTable.create(s, p, o.schema)
      // Fragment count derived from DATA, not a flat 32 (guide §2.5/§6;
      // VERDICT r18 #2): at small SFs a flat 32 wrote 32 near-empty
      // files whose per-file commit/scheduling overhead INVERTED on core
      // count (isolated 9.65 s @32c vs 5.83 s @8c), and at large SFs it
      // would under-fragment. ~192 KB fragments keep the fixture "many
      // small files, each spanning the whole key range" at every scale;
      // round-robin repartition spans each file over the full key range
      // exactly as before.
      val srcBytes = java.nio.file.Files.size(
        java.nio.file.Paths.get(dir, "orders.parquet"))
      val nFrag = math.max(4L, math.min(64L, srcBytes / (192 * 1024))).toInt
      t.append(o.repartition(nFrag)) // every file spans the whole key range
      // target ~16 post-OPTIMIZE files at ANY test scale: a fixed byte
      // target collapses a tiny table to one file (nothing left to
      // prune) and over-splits a large one
      val totalBytes = t.filesAt()
        .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
      t.setProperties(Map("graft.targetFileSize" ->
        math.max(totalBytes / 16, 4 * 1024).toString))
      val preds = Seq(
        ("k42", "o_orderkey = 42"),
        ("date96", "o_orderdate >= TIMESTAMP '1996-01-01'"))
      // the pruning measure is the FRACTION of files read — OPTIMIZE may
      // change the file COUNT (targetFileSize resplit), so raw kept
      // counts aren't comparable across layouts
      def fracRead(): Seq[Double] = preds.map { case (_, pr) =>
        val (kept, total) = t.pruneFiles(pr)
        kept.size.toDouble / math.max(total, 1)
      }
      val before = fracRead()
      val strat = WorkloadOptimizer.buildStrategy(s, workload(dir),
          Map("orders" -> (t.read(), None)), minDistinct = 50,
          exactCardinality = true)
        .find(_.table == "orders")
        .getOrElse(sys.error("optimizer emitted no strategy for orders"))
      val g = new graft.sql.GraftSql(s, p + "-sql")
      g.register("orders", t)
      g.sql(strat.optimizeCommand) // the emitted command, verbatim
      WorkloadOptimizer.writePredicateColumns(t, strat.zorderCols)
      val after = fracRead()
      require(after.head < before.head,
        s"applied strategy did not improve point-lookup pruning: " +
          s"$before -> $after fraction-of-files read")
      // a wide range predicate (~60% selectivity) legitimately reads most
      // files under ANY layout; it must just not get materially worse
      require(after.zip(before).forall { case (a, b) => a <= b + 0.10 },
        s"applied strategy regressed a workload predicate: $before -> $after")
      preds.map { case (label, pr) => (label, t.read().filter(pr).count()) }
        .toDF("predicate", "n_rows").orderBy("predicate")
    },
    Some("""SELECT * FROM (
              SELECT 'k42' AS predicate, count(*) AS n_rows FROM orders
              WHERE o_orderkey = 42
              UNION ALL
              SELECT 'date96', count(*) FROM orders
              WHERE o_orderdate >= TIMESTAMP '1996-01-01')
            ORDER BY predicate""")
  )

  override def queries: Seq[GQ] = Seq(q120, q121, q245, q285, q286, q287)
}
