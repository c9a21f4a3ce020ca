package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.sql.GraftSql
import graft.streaming.StreamOps
import graft.tables.{GraftTable, MergeOps}

/** Remaining SURVEY.md §2 surface: materialized views, shallow clone,
  * change-feed streaming, stream multiplexing.
  */
object CoverageQueries extends QueryBatch {

  private def scratch(tag: String): String = {
    val p = Paths.get(Scratch.dir(tag))
    Files.createDirectories(p)
    p.toString
  }

  /** Materialized view: stored definition, recompute-on-REFRESH
    * (`DP/Step 6:140-152`). */
  private val q140 = GQ(
    "q140_materialized_view",
    (s, dir) => {
      val g = new GraftSql(s, scratch("mv"))
      g.createTable("cust", Tables.t(s, dir, "customer").schema)
      g.sql(s"COPY INTO cust FROM '$dir/customer.parquet' FILEFORMAT = PARQUET")
      g.sql("""CREATE MATERIALIZED VIEW seg_stats AS
               SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS total
               FROM cust GROUP BY c_mktsegment""")
      g.sql("DELETE FROM cust WHERE c_acctbal < 0")
      g.sql("REFRESH MATERIALIZED VIEW seg_stats")
      g.sql("SELECT * FROM seg_stats ORDER BY c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS total
            FROM customer WHERE c_acctbal >= 0
            GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  )

  /** Shallow clone: metadata-only copy reads the source's live files and
    * is isolated from later source writes (`10-migrations/05-uc-upgrade`). */
  private val q141 = GQ(
    "q141_shallow_clone",
    (s, dir) => {
      val src = GraftTable.createFrom(s, scratch("sc-src"),
        Tables.t(s, dir, "supplier"))
      val clone = src.shallowCloneTo(scratch("sc-dst"))
      src.append(Tables.t(s, dir, "supplier")) // clone must not see this
      clone.read().select("s_suppkey", "s_name").orderBy("s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name FROM supplier ORDER BY s_suppkey""")
  )

  /** Change feed as a stream source (`readChangeFeed`,
    * `DP/Advanced CDC:339-345`): CDF rows from an append + delete arrive
    * through a streaming read. */
  private val q142 = GQ(
    "q142_cdf_stream",
    (s, dir) => {
      val t = GraftTable.createFrom(s, scratch("cdfs"),
        Tables.t(s, dir, "region"),
        properties = Map("graft.enableChangeDataFeed" -> "true"))
      MergeOps.delete(t, "r_regionkey >= 3")
      val agg = StreamOps.changesStream(t).groupBy("_change_type").count()
      val sink = GraftTable.create(s, scratch("cdfsink"), agg.schema)
      StreamOps.completeToTable(agg, sink, scratch("cdfck"))
        .read().orderBy("_change_type")
    },
    Some("""SELECT * FROM (VALUES
              ('delete', (SELECT count(*) FROM region WHERE r_regionkey >= 3)),
              ('insert', (SELECT count(*) FROM region))
            ) c(_change_type, count) ORDER BY _change_type""")
  )

  /** Stream multiplexing: one source stream routed into N tables by a
    * column (`Multi-plexing with Autoloader`). */
  private val q143 = GQ(
    "q143_multiplex",
    (s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = s.read.parquet(s"$dir/events.parquet").schema
      val stream = s.readStream.schema(raw)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val clicks = GraftTable.create(s, scratch("mx-clicks"), raw)
      val errors = GraftTable.create(s, scratch("mx-errors"), raw)
      StreamOps.multiplex(stream, "event_type",
        Map("click" -> clicks, "error" -> errors), scratch("mx-ckpt"))
      import s.implicits._
      Seq(("click", clicks.read().count()), ("error", errors.read().count()))
        .toDF("route", "n").orderBy("route")
    },
    Some("""SELECT * FROM (VALUES
              ('click', (SELECT count(*) FROM events WHERE event_type = 'click')),
              ('error', (SELECT count(*) FROM events WHERE event_type = 'error'))
            ) m(route, n) ORDER BY route""")
  )

  /** The c360 churn-features gold table (`C360/01.1:257-273`): user dims ⋈
    * per-user order stats ⋈ per-user event stats, datediff features, and a
    * registered model-scoring UDF (`predict_churn` stub, §2.11). */
  private val q144 = GQ(
    "q144_churn_features",
    (s, dir) => {
      graft.functions.ModelUdf.registerChurnStub(s)
      val c = Tables.t(s, dir, "customer")
      val o = Tables.t(s, dir, "orders").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_spent"),
          max("o_orderdate").as("last_order"))
      val e = Tables.t(s, dir, "events").groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .join(e, col("c_custkey") === col("user_id"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spent"), lit(0.0)).as("total_spent"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(datediff(lit("2002-01-01").cast("date"), col("last_order")),
            lit(9999)).as("days_since_last_order"))
        .withColumn("churn_pred",
          expr("predict_churn(days_since_last_order, n_orders)"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey,
            coalesce(n_orders, 0) AS n_orders,
            coalesce(total_spent, 0.0) AS total_spent,
            coalesce(n_events, 0) AS n_events,
            coalesce(date_diff('day', CAST(last_order AS DATE), DATE '2002-01-01'), 9999)
              AS days_since_last_order,
            CASE WHEN coalesce(date_diff('day', CAST(last_order AS DATE), DATE '2002-01-01'), 9999) > 1500
                   OR coalesce(n_orders, 0) < 3 THEN 1 ELSE 0 END AS churn_pred
            FROM customer
            LEFT JOIN (SELECT o_custkey, count(*) AS n_orders,
                              round(sum(o_totalprice), 2) AS total_spent,
                              max(o_orderdate) AS last_order
                       FROM orders GROUP BY o_custkey) o ON c_custkey = o_custkey
            LEFT JOIN (SELECT user_id, count(*) AS n_events
                       FROM events GROUP BY user_id) e ON c_custkey = user_id
            ORDER BY c_custkey""")
  )

  /** Hive-style partitioned table (`PARTITIONED BY`, `DP/Step 1:164`):
    * partition values recovered from the k=v layout, partition-pruned
    * read equals the plain filter. */
  private val q145 = GQ(
    "q145_partitioned_table",
    (s, dir) => {
      val o = Tables.t(s, dir, "orders")
      val t = GraftTable.create(s, scratch("part"), o.schema,
        Map("graft.partitionBy" -> "o_orderstatus"))
      t.append(o)
      t.read().filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus FROM orders
            WHERE o_orderstatus = 'F' ORDER BY o_orderkey""")
  )

  /** Schema evolution on append (mergeSchema, `C360/01.5:161`): old rows
    * read null for late-added columns, both directions. */
  private val q146 = GQ(
    "q146_schema_evolution",
    (s, dir) => {
      val c = Tables.t(s, dir, "customer").select("c_custkey", "c_name")
      val t = GraftTable.createFrom(s, scratch("evo"), c)
      t.append(Tables.t(s, dir, "customer")
        .select(col("c_custkey") + 1000000, col("c_name"), col("c_acctbal"))
        .toDF("c_custkey", "c_name", "c_acctbal"))
      t.read().orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal FROM customer
            UNION ALL
            SELECT c_custkey + 1000000, c_name, c_acctbal FROM customer
            ORDER BY c_custkey""")
  )

  /** SQL session variables (`DECLARE/SET VARIABLE`, `DP/Step 15:56-183`) —
    * native in Spark 4; the variable drives a parameterized filter. */
  private val q147 = GQ(
    "q147_sql_variables",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("DECLARE OR REPLACE VARIABLE qty_floor DOUBLE DEFAULT 0.0")
      s.sql("SET VARIABLE qty_floor = 45.0")
      s.sql("""SELECT l_returnflag, count(*) AS n FROM lineitem
               WHERE l_quantity >= qty_floor
               GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag, count(*) AS n FROM lineitem
            WHERE l_quantity >= 45.0
            GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** Direct file query (``SELECT * FROM parquet.`path` ``, `C360/01.5:108`). */
  private val q148 = GQ(
    "q148_direct_file_query",
    (s, dir) => s.sql(
      s"SELECT r_regionkey, r_name FROM parquet.`$dir/region.parquet` ORDER BY r_regionkey"),
    Some("""SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""")
  )

  /** Deletion-vector (merge-on-read) deletes: two overlapping DELETEs add
    * (file, row-index) sidecars without rewriting a single data file —
    * asserted via the zero-files-changed history — then OPTIMIZE
    * materializes them; the survivors must match batch SQL both before
    * and after. */
  private val q149 = GQ(
    "q149_deletion_vectors",
    (s, dir) => {
      val t = GraftTable.createFrom(s, scratch("dvq"),
        Tables.t(s, dir, "lineitem"),
        properties = Map("graft.deletionVectors" -> "true"))
      MergeOps.delete(t, "l_quantity > 45")
      MergeOps.delete(t, "l_discount > 0.08")
      val deletesRewroteFiles = t.commits
        .filter(_.operation == "DELETE")
        .exists(c => c.addedFiles.nonEmpty || c.removedFiles.nonEmpty)
      require(!deletesRewroteFiles, "DV deletes must not rewrite data files")
      graft.tables.Maintenance.optimize(t)
      require(t.dvAt().isEmpty, "OPTIMIZE must clear deletion vectors")
      t.read()
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity") + lit(1e-9), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, count(*) AS n,
            round(sum(l_quantity) + 1e-9, 2) AS sum_qty
            FROM lineitem
            WHERE NOT (l_quantity > 45) AND NOT (l_discount > 0.08)
            GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** Incremental MV maintenance: the view is refreshed from append deltas
    * only (partial-aggregate MERGE; refresh cost ∝ new data) and must
    * equal the batch aggregation over the final source — the scale path
    * past the reference's full-recompute refresh. The incremental-path
    * requirement is asserted in-query. */
  private val q150 = GQ(
    "q150_incremental_mv",
    (s, dir) => {
      import graft.tables.IncrementalMv
      val o = Tables.t(s, dir, "orders")
      val src = GraftTable.createFrom(s, scratch("imv-src"),
        o.filter(col("o_orderkey") % 3 === 0))
      val view = IncrementalMv.create(s, scratch("imv"),
        src, Seq("o_orderstatus"), Seq("o_totalprice"))
      src.append(o.filter(col("o_orderkey") % 3 === 1))
      src.append(o.filter(col("o_orderkey") % 3 === 2))
      val r = IncrementalMv.refresh(src, view, Seq("o_orderstatus"), Seq("o_totalprice"))
      require(r.incremental, "append-only deltas must refresh incrementally")
      view.read()
        .select(col("o_orderstatus"), col("cnt"),
          round(col("sum_o_totalprice") + lit(1e-9), 2).as("sum_total"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, count(*) AS cnt,
            round(sum(o_totalprice) + 1e-9, 2) AS sum_total
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** Automatic MV rewrite (`plans/MvRewrite`, a Catalyst
    * `Rule[LogicalPlan]` on `experimental.extraOptimizations`): a
    * grouped count/sum/avg over the SOURCE table is transparently
    * rewritten to re-aggregate the key-cardinality IncrementalMv view —
    * the query author never names the view. The gate REQUIRES the
    * mechanism in-plan (the executed plan must scan the view's files
    * and not the source's) and the oracle checks the semantics against
    * the raw data, so a rewrite that fires with wrong rollup math
    * hash-mismatches and one that silently stops firing fails the
    * require. Grouping by a SUBSET of the view keys exercises the
    * rollup re-aggregation path; staleness/refresh toggling is pinned
    * in MvRewriteSpec. */
  private val q278 = GQ(
    "q278_mv_rewrite",
    (s, dir) => {
      import graft.plans.MvRewrite
      import graft.tables.IncrementalMv
      val o = Tables.t(s, dir, "orders")
      val src = GraftTable.createFrom(s, scratch("mvrw-src"), o)
      val view = IncrementalMv.create(s, scratch("mvrw-view"), src,
        Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"))
      MvRewrite.enable(s)
      MvRewrite.register(src, view,
        Seq("o_orderstatus", "o_orderpriority"), Seq("o_totalprice"))
      try {
        val q = src.read().groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            sum("o_totalprice").as("st"),
            avg("o_totalprice").as("at"))
        val plan = q.queryExecution.executedPlan.toString
        require(plan.contains("mvrw-view") && !plan.contains("mvrw-src"),
          s"the aggregate must scan the VIEW, not the source:\n$plan")
        q.select(col("o_orderstatus"), col("cnt"),
            round(col("st") + lit(1e-9), 2).as("sum_total"),
            round(col("at") + lit(1e-9), 4).as("avg_total"))
          .orderBy("o_orderstatus")
      } finally MvRewrite.clear()
    },
    Some("""SELECT o_orderstatus, count(*) AS cnt,
            round(sum(o_totalprice) + 1e-9, 2) AS sum_total,
            round(avg(o_totalprice) + 1e-9, 4) AS avg_total
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  override def queries: Seq[GQ] =
    Seq(q140, q141, q142, q143, q144, q145, q146, q147, q148, q149, q150,
      q230, q278)

  /** COPY INTO from ORC (`Ingest.copyInto` generic-format branch + the
    * SQL front-end's FILEFORMAT = ORC): the third columnar wire format a
    * migrating warehouse actually ships — same ledger idempotency as the
    * parquet/CSV/JSON paths (the double COPY INTO is a no-op). Oracle
    * reads the parquet original: the ORC round-trip must be lossless. */
  private val q230 = GQ(
    "q230_orc_ingest",
    (s, dir) => {
      val src = scratch("orcsrc")
      Tables.t(s, dir, "supplier").write.mode("overwrite").orc(src)
      val g = new GraftSql(s, scratch("orcsql"))
      g.createTable("sup", Tables.t(s, dir, "supplier").schema)
      g.sql(s"COPY INTO sup FROM '$src' FILEFORMAT = ORC PATTERN = '*.orc'")
      g.sql(s"COPY INTO sup FROM '$src' FILEFORMAT = ORC PATTERN = '*.orc'") // ledger no-op
      g.sql("""SELECT s_nationkey, count(*) AS n,
               round(sum(s_acctbal), 2) AS total
               FROM sup GROUP BY s_nationkey ORDER BY s_nationkey""")
    },
    Some("""SELECT s_nationkey, count(*) AS n,
            round(sum(s_acctbal), 2) AS total
            FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""")
  )
}
