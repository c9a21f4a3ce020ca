package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.tables._
import graft.tables.MergeOps._

/** The q62 workload's pieces (schema and input batches), kept apart from
  * the gate body below; `tools.Prof` profiles the gate itself, so it can
  * never measure a stale copy of the query. */
object Scd2AcDemo {
  import org.apache.spark.sql.types._

  val schema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("value", DoubleType),
    StructField("_start_at", TimestampType),
    StructField("_end_at", TimestampType),
    StructField("_is_current", BooleanType)))

  /** The two CDC batches: events split at the corpus midpoint. */
  def batches(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.t(s, dir, "events").select("user_id", "value", "ts")
    val mid = lit("2024-01-08 00:00:00").cast("timestamp")
    (ev.filter(col("ts") < mid), ev.filter(col("ts") >= mid))
  }
}

/** Table-layer operator coverage (SURVEY.md §2.4): every query scripts a
  * sequence of versioned-table operations against a scratch GraftTable
  * built from testdata, then returns a deterministic result the DuckDB
  * oracle reproduces with plain SQL. This is how MERGE / SCD2 / APPLY
  * CHANGES / COPY INTO / time travel / RESTORE / CDF / identity go through
  * the driver's hash-compare gate.
  */
object TableOps extends QueryBatch {

  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  /** Fresh scratch dir per call (under target/, never committed). */
  private def scratch(tag: String): String = Scratch.dir(tag)

  /** MERGE upsert: UPDATE * matched rows, INSERT * new rows
    * (`DP/Step 1:173-200`). */
  private val q50 = GQ(
    "q50_merge_upsert",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val tbl = GraftTable.createFrom(s, scratch("merge"), c)
      val updates = c.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100)
      val inserts = c.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000)
        .withColumn("c_mktsegment", lit("NEW"))
      MergeOps.mergeInto(
        tbl, updates.unionByName(inserts),
        "target.c_custkey = source.c_custkey",
        matched = Seq(WhenMatched(None, UpdateAll)),
        notMatched = Seq(WhenNotMatched(None, InsertAll)))
      tbl.read().orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name, c_nationkey,
            CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal,
            c_mktsegment
            FROM customer
            UNION ALL
            SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, 'NEW'
            FROM customer WHERE c_custkey % 7 = 0
            ORDER BY c_custkey""")
  )

  /** MERGE with conditional DELETE + conditional UPDATE clauses
    * (first-match-wins, extra predicates — `DP/Step 2:64-67`). */
  private val q51 = GQ(
    "q51_merge_clauses",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val tbl = GraftTable.createFrom(s, scratch("mergecl"), o)
      val source = o.filter(col("o_orderkey") % 5 === 0)
      MergeOps.mergeInto(
        tbl, source,
        "target.o_orderkey = source.o_orderkey",
        matched = Seq(
          WhenMatched(Some("target.o_orderstatus = 'F'"), DeleteAction),
          WhenMatched(None, UpdateSet(Map(
            "o_totalprice" -> "source.o_totalprice * 1.1")))),
        notMatched = Nil)
      tbl.read().select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus,
            CASE WHEN o_orderkey % 5 = 0 AND o_orderstatus <> 'F'
                 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice
            FROM orders
            WHERE NOT (o_orderkey % 5 = 0 AND o_orderstatus = 'F')
            ORDER BY o_orderkey""")
  )

  /** DELETE + UPDATE DML (`C360/01.5:305`, `DP/Step 1:195-199`). */
  private val q52 = GQ(
    "q52_delete_update",
    (s, dir) => {
      val p = t(s, dir, "part")
      val tbl = GraftTable.createFrom(s, scratch("dml"), p)
      MergeOps.delete(tbl, "p_size < 10")
      MergeOps.update(tbl, Map("p_retailprice" -> "p_retailprice * 2"), "p_size >= 45")
      tbl.read().select("p_partkey", "p_size", "p_retailprice").orderBy("p_partkey")
    },
    Some("""SELECT p_partkey, p_size,
            CASE WHEN p_size >= 45 THEN p_retailprice * 2 ELSE p_retailprice END AS p_retailprice
            FROM part WHERE p_size >= 10 ORDER BY p_partkey""")
  )

  /** COPY INTO idempotency: loading the same file twice lands it once
    * (`DP/Step 1:125-147`, `force=false` ledger semantics). */
  private val q53 = GQ(
    "q53_copy_into",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val tbl = GraftTable.create(s, scratch("copy"), li.schema)
      Ingest.copyInto(tbl, s"$dir/lineitem.parquet")
      Ingest.copyInto(tbl, s"$dir/lineitem.parquet") // no-op: already in ledger
      tbl.read().agg(
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"))
    },
    Some("""SELECT count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty FROM lineitem""")
  )

  /** Time travel `VERSION AS OF` (`DP/Step 1:235-239`). */
  private val q54 = GQ(
    "q54_time_travel",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val tbl = GraftTable.createFrom(s, scratch("tt"), o.filter(col("o_orderstatus") === "F"))
      tbl.append(o.filter(col("o_orderstatus") === "O"))
      tbl.read(versionAsOf = 1) // pre-append snapshot
        .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus FROM orders
            WHERE o_orderstatus = 'F' ORDER BY o_orderkey""")
  )

  /** RESTORE TABLE ... VERSION AS OF (`HF/transactions.py:420-449`). */
  private val q55 = GQ(
    "q55_restore",
    (s, dir) => {
      val o = t(s, dir, "orders")
      val tbl = GraftTable.createFrom(s, scratch("restore"), o.filter(col("o_orderstatus") === "F"))
      tbl.append(o.filter(col("o_orderstatus") === "O"))
      tbl.restoreTo(1)
      tbl.read().select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderstatus FROM orders
            WHERE o_orderstatus = 'F' ORDER BY o_orderkey""")
  )

  /** SCD2 merge: expire-and-insert with `_start_at/_end_at/_is_current`
    * bookkeeping (`DP/Step 12:159-236`). */
  private val q56 = GQ(
    "q56_scd2_merge",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val business = c.select("c_custkey", "c_name", "c_acctbal")
      val schema = org.apache.spark.sql.types.StructType(
        business.schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("_start_at", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_end_at", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_is_current", org.apache.spark.sql.types.BooleanType)))
      val tbl = GraftTable.create(s, scratch("scd2"), schema)
      val batch1 = business.withColumn("_seq", lit("2024-01-01"))
      Scd.scd2Merge(tbl, batch1, Seq("c_custkey"), Seq("c_name", "c_acctbal"), "_seq")
      val batch2 = business.filter(col("c_custkey") % 3 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 50)
        .withColumn("_seq", lit("2024-02-01"))
      Scd.scd2Merge(tbl, batch2, Seq("c_custkey"), Seq("c_name", "c_acctbal"), "_seq")
      tbl.read().orderBy("c_custkey", "_start_at")
    },
    Some("""SELECT c_custkey, c_name, c_acctbal, '2024-01-01' AS _start_at,
            CASE WHEN c_custkey % 3 = 0 THEN '2024-02-01' END AS _end_at,
            c_custkey % 3 <> 0 AS _is_current
            FROM customer
            UNION ALL
            SELECT c_custkey, c_name, c_acctbal + 50, '2024-02-01', NULL, true
            FROM customer WHERE c_custkey % 3 = 0
            ORDER BY c_custkey, _start_at""")
  )

  /** APPLY CHANGES INTO (SCD1): latest-per-key upsert with APPLY AS DELETE
    * WHEN (`CDC/01-Retail_DLT_CDC_SQL.sql:152-199`). The events table acts
    * as the CDC feed: key=user_id, sequence=ts, 'error' deletes the key. */
  private val q57 = GQ(
    "q57_apply_changes_scd1",
    (s, dir) => {
      val ev = t(s, dir, "events")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType)))
      val tbl = GraftTable.create(s, scratch("cdc"), schema)
      Scd.applyChangesScd1(tbl, ev, Seq("user_id"), "ts",
        deleteWhen = Some("event_type = 'error'"))
      tbl.read().select("user_id", "value").orderBy("user_id")
    },
    Some("""SELECT user_id, value FROM (
              SELECT user_id, value, event_type,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
              FROM events) x
            WHERE rn = 1 AND event_type <> 'error' ORDER BY user_id""")
  )

  /** OPTIMIZE ZORDER preserves data exactly (`DP/Step 1:224,297`);
    * clustering/pruning effects are benchmarked, content must not change. */
  private val q58 = GQ(
    "q58_optimize_zorder",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val tbl = GraftTable.createFrom(s, scratch("opt"), li)
      Maintenance.optimize(tbl, zorderBy = Seq("l_shipdate", "l_orderkey"))
      tbl.read().select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, CAST(l_shipdate AS TIMESTAMP) AS l_shipdate
            FROM lineitem ORDER BY l_orderkey, l_linenumber""")
  )

  /** OPTIMIZE with the HILBERT curve (the liquid-clustering-style 2-D
    * layout): content must not change — the oracle is the same
    * content-equality contract as q58 — while the layout claim (box
    * queries read fewer files than under the z-curve: 26 vs 37 on the
    * sf0.1 five-box workload, ProfHilbert) is measured and the curve
    * kernel's defining properties (bijectivity, unit-step locality,
    * clamping) are pinned in HilbertSpec. */
  private val q283 = GQ(
    "q283_optimize_hilbert",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val tbl = GraftTable.createFrom(s, scratch("hopt"), li)
      Maintenance.optimize(tbl, zorderBy = Seq("l_orderkey", "l_partkey"),
        curve = "hilbert")
      require(tbl.commits.last.operationParameters("curve") == "hilbert",
        "the commit must record the hilbert layout")
      tbl.read().select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_partkey", "l_linenumber", "l_quantity")
    },
    Some("""SELECT l_orderkey, l_partkey, l_linenumber, l_quantity
            FROM lineitem
            ORDER BY l_orderkey, l_partkey, l_linenumber, l_quantity""")
  )

  /** Change data feed: insert + delete change rows with `_change_type`
    * (`DP/Advanced CDC:271,395`). */
  private val q59 = GQ(
    "q59_change_feed",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val tbl = GraftTable.createFrom(s, scratch("cdf"), c.select("c_custkey", "c_name"),
        properties = Map("graft.enableChangeDataFeed" -> "true"))
      MergeOps.delete(tbl, "c_custkey % 5 = 0")
      tbl.changes(fromVersion = 0)
        .select("c_custkey", "_change_type")
        .orderBy("_change_type", "c_custkey")
    },
    Some("""SELECT c_custkey, _change_type FROM (
              SELECT c_custkey, 'insert' AS _change_type FROM customer
              UNION ALL
              SELECT c_custkey, 'delete' FROM customer WHERE c_custkey % 5 = 0) ch
            ORDER BY _change_type, c_custkey""")
  )

  /** Identity column assignment: GENERATED BY DEFAULT AS IDENTITY
    * (`DP/Step 1:39,64`; SYNC IDENTITY `DP/Step 13`). */
  private val q60 = GQ(
    "q60_identity",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("c_custkey", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_name", org.apache.spark.sql.types.StringType)))
      val tbl = GraftTable.create(s, scratch("ident"), schema,
        properties = Map("graft.identity.column" -> "id"))
      // sorted single-range input → identity order == custkey order
      tbl.append(c.select("c_custkey", "c_name").orderBy("c_custkey"))
      tbl.read().orderBy("id")
    },
    Some("""SELECT row_number() OVER (ORDER BY c_custkey) AS id, c_custkey, c_name
            FROM customer ORDER BY id""")
  )

  /** DESCRIBE HISTORY: version/operation ledger after a scripted DML
    * sequence (`DP/Step 1:235-239`). */
  private val q61 = GQ(
    "q61_history",
    (s, dir) => {
      val p = t(s, dir, "part")
      val tbl = GraftTable.createFrom(s, scratch("hist"), p)
      MergeOps.delete(tbl, "p_size < 5")
      Maintenance.optimize(tbl)
      tbl.truncate()
      tbl.history.select(col("version").cast("long").as("version"), col("operation"))
        .orderBy("version")
    },
    Some("""SELECT CAST(version AS BIGINT) AS version, operation FROM (VALUES
              (0, 'CREATE TABLE'), (1, 'CREATE TABLE AS SELECT'),
              (2, 'DELETE'), (3, 'OPTIMIZE'), (4, 'TRUNCATE')) h(version, operation)
            ORDER BY version""")
  )

  /** APPLY CHANGES INTO — STORED AS SCD TYPE 2 (`CDC/01` + `DP/Step 3`):
    * two CDC batches chain history rows; unchanged keys are not
    * re-versioned; keys seen only once stay single-version. */
  private val q62 = GQ(
    "q62_apply_changes_scd2",
    (s, dir) => {
      val tbl = GraftTable.create(s, scratch("scd2ac"), Scd2AcDemo.schema)
      val (b1, b2) = Scd2AcDemo.batches(s, dir)
      Scd.applyChangesScd2(tbl, b1, Seq("user_id"), "ts")
      Scd.applyChangesScd2(tbl, b2, Seq("user_id"), "ts")
      tbl.read().orderBy("user_id", "_start_at")
    },
    Some("""WITH b1 AS (SELECT user_id, value, ts FROM (
              SELECT user_id, value, ts, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) rn
              FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00') x WHERE rn = 1),
            b2 AS (SELECT user_id, value, ts FROM (
              SELECT user_id, value, ts, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) rn
              FROM events WHERE ts >= TIMESTAMP '2024-01-08 00:00:00') x WHERE rn = 1),
            bb AS (SELECT b1.user_id u, b1.value v1, b1.ts t1, b2.value v2, b2.ts t2
                     FROM b1 JOIN b2 ON b1.user_id = b2.user_id)
            SELECT user_id, value, _start_at, _end_at, _is_current FROM (
              SELECT u AS user_id, v1 AS value, CAST(t1 AS TIMESTAMP) AS _start_at,
                     CAST(t2 AS TIMESTAMP) AS _end_at, false AS _is_current
              FROM bb WHERE v1 IS DISTINCT FROM v2
              UNION ALL
              SELECT u, v2, CAST(t2 AS TIMESTAMP), NULL, true
              FROM bb WHERE v1 IS DISTINCT FROM v2
              UNION ALL
              SELECT u, v1, CAST(t1 AS TIMESTAMP), NULL, true
              FROM bb WHERE v1 IS NOT DISTINCT FROM v2
              UNION ALL
              SELECT b1.user_id, b1.value, CAST(b1.ts AS TIMESTAMP), NULL, true
              FROM b1 ANTI JOIN b2 USING (user_id)
              UNION ALL
              SELECT b2.user_id, b2.value, CAST(b2.ts AS TIMESTAMP), NULL, true
              FROM b2 ANTI JOIN b1 USING (user_id)
            ) r ORDER BY user_id, _start_at""")
  )

  override def queries: Seq[GQ] = Seq(
    q50, q51, q52, q53, q54, q55, q56, q57, q58, q59, q60, q61, q62, q283)
}
