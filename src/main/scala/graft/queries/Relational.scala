package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational operator coverage (SURVEY.md §2.2–2.8, §2.10).
  *
  * Every query is a declarative DataFrame program so Catalyst handles
  * predicate pushdown / column pruning / join strategy; small dimensions are
  * explicitly broadcast. Aggregated doubles are rounded (2–4 dp) so the
  * DuckDB oracle hash-matches despite summation-order ULP differences, and
  * every query ends in a deterministic ORDER BY.
  *
  * Scale notes (100 TB): group-bys here are partial-aggregated map-side by
  * Spark; joins on (orderkey, custkey) shuffle-hash/sort-merge on the join
  * key with AQE; dims (region, nation, buckets) are broadcast so the big
  * fact tables never shuffle for them.
  */
object Relational extends QueryBatch {

  private def t(s: SparkSession, dir: String, n: String) = Tables.t(s, dir, n)

  // ---- §2.5 aggregations -------------------------------------------------

  /** TPC-H Q1-shaped pricing summary: hash aggregate w/ partial combine.
    * Reference shape: gold-layer aggs `DP/Step 4:8-17`. */
  private val q01 = GQ(
    "q01_pricing_summary",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity") + lit(1e-9), 2).as("avg_qty"),
          round(avg("l_discount") + lit(1e-9), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
            round(sum(l_quantity), 2) AS sum_qty,
            round(sum(l_extendedprice), 2) AS sum_base_price,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
            round(avg(l_quantity) + 1e-9, 2) AS avg_qty,
            round(avg(l_discount) + 1e-9, 4) AS avg_disc,
            count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""")
  )

  /** Hourly gold rollup: GROUP BY expression (`date_trunc`), `DP/Step 4:11-16`. */
  private val q02 = GQ(
    "q02_hourly_stats",
    (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("sum_value"),
          round(avg("value") + lit(1e-9), 4).as("avg_value"))
        .orderBy("hour", "event_type")
    },
    Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
            count(*) AS n_events,
            round(sum(value), 2) AS sum_value,
            round(avg(value) + 1e-9, 4) AS avg_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** COUNT(DISTINCT) + conditional distinct count (`DP/Step 16:424-453`). */
  private val q03 = GQ(
    "q03_distinct_counts",
    (s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("value") > 100, col("user_id"))).as("n_high_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
            count(DISTINCT user_id) AS n_users,
            count(DISTINCT CASE WHEN value > 100 THEN user_id END) AS n_high_users,
            count(*) AS n_events
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** Min-max scaling via window min/max (delta-optimizer `OPT:1592-1624`). */
  private val q04 = GQ(
    "q04_minmax_scale",
    (s, dir) => {
      val w = Window.partitionBy("c_nationkey")
      t(s, dir, "customer")
        .withColumn("mn", min("c_acctbal").over(w))
        .withColumn("mx", max("c_acctbal").over(w))
        .select(
          col("c_custkey"),
          col("c_nationkey"),
          round((col("c_acctbal") - col("mn")) /
            when(col("mx") =!= col("mn"), col("mx") - col("mn")) + lit(1e-9), 4).as("scaled_bal"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_nationkey,
            round((c_acctbal - min(c_acctbal) OVER (PARTITION BY c_nationkey))
              / nullif(max(c_acctbal) OVER (PARTITION BY c_nationkey)
                     - min(c_acctbal) OVER (PARTITION BY c_nationkey), 0) + 1e-9, 4) AS scaled_bal
            FROM customer ORDER BY c_custkey""")
  )

  /** Unpivot via `stack` (delta-optimizer `OPT:1584-1588`). */
  private val q05 = GQ(
    "q05_unpivot_stack",
    (s, dir) => {
      t(s, dir, "part")
        .selectExpr(
          "p_partkey",
          "stack(2, 'retailprice', p_retailprice, 'size', cast(p_size as double)) AS (metric, val)")
        .orderBy("p_partkey", "metric")
    },
    Some("""SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS val FROM part
            UNION ALL
            SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
            ORDER BY p_partkey, metric""")
  )

  /** Sorted collect_list rendered as string (`OPT:1562,1825`). */
  private val q06 = GQ(
    "q06_collect_sorted",
    (s, dir) => {
      t(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(expr("array_join(transform(array_sort(collect_list(c_custkey)), x -> cast(x AS string)), ',')")
          .as("custkeys"))
        .orderBy("c_nationkey")
    },
    Some("""SELECT c_nationkey, string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY c_custkey) AS custkeys
            FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")
  )

  // ---- §2.3 joins --------------------------------------------------------

  /** 5-way star join: fact → dims with explicit broadcast of the small dims
    * (nation/region), shuffle join on the big keys (`DP/Step 14:46-58`). */
  private val q10 = GQ(
    "q10_star_revenue",
    (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name,
            round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
            count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name""")
  )

  /** LEFT OUTER join w/ null-filled aggregate (`DP/Step 16:172-204`). */
  private val q11 = GQ(
    "q11_left_join_orders",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val ostats = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total_spent"))
      c.join(ostats, col("c_custkey") === col("o_custkey"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey,
            coalesce(n_orders, 0) AS n_orders,
            coalesce(total_spent, 0.0) AS total_spent
            FROM customer LEFT JOIN (
              SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_spent
              FROM orders GROUP BY o_custkey) os ON c_custkey = o_custkey
            ORDER BY c_custkey""")
  )

  /** LEFT SEMI join — customers with at least one order (`HF/datavalidator.py:186-196`). */
  private val q12 = GQ(
    "q12_semi_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey""")
  )

  /** LEFT ANTI join — customers with no orders (`HF/datavalidator.py:162-171`). */
  private val q13 = GQ(
    "q13_anti_join",
    (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey""")
  )

  /** Cross join (columns × history shape, `OPT:1384-1392`). */
  private val q14 = GQ(
    "q14_cross_join",
    (s, dir) => {
      val r = t(s, dir, "region").select("r_name")
      val n = t(s, dir, "nation").select("n_name")
      r.crossJoin(n).orderBy("r_name", "n_name")
    },
    Some("""SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name""")
  )

  /** Inequality band join: account balance → bucket (`OPT:1485-1506`). The
    * bucket side is a tiny literal table → broadcast nested-loop join. */
  private val q15 = GQ(
    "q15_band_join",
    (s, dir) => {
      import s.implicits._
      val buckets = Seq(
        (-100000.0, 0.0, "negative"),
        (0.0, 3000.0, "low"),
        (3000.0, 7000.0, "mid"),
        (7000.0, 100000.0, "high")).toDF("lo", "hi", "bucket")
      t(s, dir, "customer")
        .join(broadcast(buckets), col("c_acctbal") >= col("lo") && col("c_acctbal") < col("hi"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("bucket")
    },
    Some("""SELECT bucket, count(*) AS n_customers
            FROM customer
            JOIN (VALUES (-100000.0, 0.0, 'negative'), (0.0, 3000.0, 'low'),
                         (3000.0, 7000.0, 'mid'), (7000.0, 100000.0, 'high')) b(lo, hi, bucket)
              ON c_acctbal >= lo AND c_acctbal < hi
            GROUP BY bucket ORDER BY bucket""")
  )

  // ---- §2.6 windows ------------------------------------------------------

  /** Canonical ROW_NUMBER dedup: latest event per (user_id, event_type)
    * (`DP/Step 1:184-190` merge-dedup idiom). */
  private val q20 = GQ(
    "q20_rownum_dedup",
    (s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT user_id, event_type, event_id, value FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) d
            WHERE rn = 1 ORDER BY user_id, event_type""")
  )

  /** DENSE_RANK top-10 customers by revenue (`DP/Step 14:164-171`).
    * Two-phase top-k (guide §2.4/§2.5): `dense_rank() <= 10` over an
    * unpartitioned window would push ALL |customers| aggregate rows
    * through ONE task at 100 TB. Instead the 10th-highest DISTINCT
    * revenue is found with ORDER+LIMIT (planned as TakeOrdered — per-
    * partition top-k, driver combine), and the rank window runs only
    * over the rows at-or-above that threshold (≤ 10 values + ties).
    * `rev >= 10th-highest-distinct-rev` ⇔ `dense_rank(rev desc) <= 10`
    * by definition of dense_rank, so the output is identical; with
    * fewer than 10 distinct revenues the threshold is the minimum and
    * every row keeps, same as before. A null revenue sorts last under
    * DESC, so the window ranks it ≤ 10 exactly when the 10 highest
    * distinct values include the null; the join keeps null rows then.
    * The aggregate subtree appears twice but shares one exchange
    * (ReusedExchange). */
  private val q21 = GQ(
    "q21_dense_rank_topk",
    (s, dir) => {
      val rev = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum("o_totalprice").as("rev"))
      val th = rev.select(col("rev")).distinct()
        .orderBy(col("rev").desc).limit(10)
        .agg(min("rev").as("__th"), (count(lit(1)) > count("rev")).as("__null"))
      rev.join(broadcast(th), col("rev") >= col("__th") || (col("rev").isNull && col("__null")))
        .withColumn("rnk", dense_rank().over(Window.orderBy(col("rev").desc)))
        .select(col("o_custkey"), round(col("rev"), 2).as("revenue"), col("rnk"))
        .orderBy("rnk", "o_custkey")
    },
    Some("""SELECT o_custkey, round(rev, 2) AS revenue, rnk FROM (
              SELECT o_custkey, sum(o_totalprice) AS rev,
                     dense_rank() OVER (ORDER BY sum(o_totalprice) DESC) AS rnk
              FROM orders GROUP BY o_custkey) r
            WHERE rnk <= 10 ORDER BY rnk, o_custkey""")
  )

  /** Moving average, 4-preceding frame (`DP/Step 4:22-67`). */
  private val q22 = GQ(
    "q22_moving_avg",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
      t(s, dir, "events")
        .select(
          col("user_id"), col("event_id"),
          round(avg("value").over(w) + lit(1e-9), 4).as("ma5"))
        .orderBy("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
            round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) + 1e-9, 4) AS ma5
            FROM events ORDER BY user_id, event_id""")
  )

  /** Bollinger bands: rolling avg ± 2·stddev (`DP/Step 16:272-278`). */
  private val q23 = GQ(
    "q23_bollinger",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-12, 0)
      t(s, dir, "events")
        .select(
          col("user_id"), col("event_id"),
          round(avg("value").over(w) + lit(1e-9), 4).as("mid"),
          round(avg("value").over(w) + lit(2) * stddev_samp("value").over(w) + lit(1e-9), 2).as("upper"),
          round(avg("value").over(w) - lit(2) * stddev_samp("value").over(w) + lit(1e-9), 2).as("lower"))
        .orderBy("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
            round(avg(value) OVER w + 1e-9, 4) AS mid,
            round(avg(value) OVER w + 2 * stddev_samp(value) OVER w + 1e-9, 2) AS upper,
            round(avg(value) OVER w - 2 * stddev_samp(value) OVER w + 1e-9, 2) AS lower
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 12 PRECEDING AND CURRENT ROW)
            ORDER BY user_id, event_id""")
  )

  /** MIN(ts) OVER partition — replay offset normalization (`REPLAY/00-Functions.py:413-426`). */
  private val q24 = GQ(
    "q24_min_over_offset",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
      t(s, dir, "events")
        .select(
          col("event_id"), col("user_id"),
          (unix_timestamp(col("ts")) - unix_timestamp(min("ts").over(w))).as("offset_s"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id,
            date_diff('second', min(ts) OVER (PARTITION BY user_id), ts) AS offset_s
            FROM events ORDER BY event_id""")
  )

  // ---- §2.7 sorts / top-k ------------------------------------------------

  /** ORDER BY + LIMIT top-k → TakeOrderedAndProject (`DP/Step 16:340-343`). */
  private val q30 = GQ(
    "q30_topk_orders",
    (s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },
    Some("""SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""")
  )

  // ---- §2.8 set operations ----------------------------------------------

  /** UNION ALL + distinct (SCD2 staging shape, `DP/Step 12:192-215`). */
  private val q31 = GQ(
    "q31_union_distinct",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      c.unionAll(su).distinct().orderBy("nk")
    },
    Some("""SELECT DISTINCT nk FROM (
              SELECT c_nationkey AS nk FROM customer
              UNION ALL SELECT s_nationkey FROM supplier) u ORDER BY nk""")
  )

  /** EXCEPT — nations with customers but no suppliers. */
  private val q32 = GQ(
    "q32_except",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      c.except(su).orderBy("nk")
    },
    Some("""SELECT c_nationkey AS nk FROM customer
            EXCEPT SELECT s_nationkey FROM supplier ORDER BY nk""")
  )

  /** INTERSECT — nations with both. */
  private val q33 = GQ(
    "q33_intersect",
    (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      c.intersect(su).orderBy("nk")
    },
    Some("""SELECT c_nationkey AS nk FROM customer
            INTERSECT SELECT s_nationkey FROM supplier ORDER BY nk""")
  )

  // ---- §2.2 predicates / projections / JSON ------------------------------

  /** JSON path projection `props:k::int` (`DP/Step 1:318-322`). */
  private val q40 = GQ(
    "q40_json_extract",
    (s, dir) => {
      t(s, dir, "events")
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(col("k")).as("n_k"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
            CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
            count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_k
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** CASE WHEN classification ladder (`DP/Step 16:498-548`). */
  private val q41 = GQ(
    "q41_case_ladder",
    (s, dir) => {
      t(s, dir, "events")
        .withColumn("tier",
          when(col("value") > 150, "high")
            .when(col("value") > 50, "mid")
            .otherwise("low"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"), round(avg("value") + lit(1e-9), 4).as("avg_value"))
        .orderBy("tier")
    },
    Some("""SELECT CASE WHEN value > 150 THEN 'high'
                        WHEN value > 50 THEN 'mid'
                        ELSE 'low' END AS tier,
            count(*) AS n, round(avg(value) + 1e-9, 4) AS avg_value
            FROM events GROUP BY 1 ORDER BY 1""")
  )

  /** Timestamp BETWEEN + LIKE predicates (`DP/Step 2:198-201`, `OPT:1069`). */
  private val q42 = GQ(
    "q42_filter_predicates",
    (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderdate").between(
          lit("1996-01-01").cast("timestamp"), lit("1997-12-31").cast("timestamp")))
        .filter(col("o_orderpriority").like("%URGENT%") || col("o_orderstatus").isin("F"))
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n
            FROM orders
            WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
              AND (o_orderpriority LIKE '%URGENT%' OR o_orderstatus IN ('F'))
            GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** datediff feature engineering (`C360/01.1:268-270`). */
  private val q43 = GQ(
    "q43_datediff",
    (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          round(avg(datediff(lit("2002-01-01").cast("date"), col("o_orderdate"))) + lit(1e-9), 2)
            .as("avg_days_before_2002"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
            round(avg(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')) + 1e-9, 2)
              AS avg_days_before_2002,
            count(*) AS n
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** Row-hash validation (DataValidator, `HF/datavalidator.py:18-51`):
    * sha2-256 over null-normalized concatenated row; doubles pinned to
    * DECIMAL(18,2) so both engines render identical strings. */
  private val q44 = GQ(
    "q44_row_hash",
    (s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          sha2(concat_ws("|",
            col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_acctbal").cast("decimal(18,2)"), col("c_mktsegment")), 256).as("row_sha"))
        .orderBy("c_custkey")
    },
    Some("""SELECT c_custkey,
            sha256(concat_ws('|', c_custkey, c_name, c_nationkey,
                             CAST(c_acctbal AS DECIMAL(18,2)), c_mktsegment)) AS row_sha
            FROM customer ORDER BY c_custkey""")
  )

  /** High-watermark incremental filter (`DP/Step 6:119-252`). */
  private val q45 = GQ(
    "q45_high_watermark",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT event_id, user_id, event_type
               FROM events
               WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
               ORDER BY event_id""")
    },
    Some("""SELECT event_id, user_id, event_type
            FROM events
            WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)
            ORDER BY event_id""")
  )

  /** String function battery: lower/substring/length/replace/regexp_replace/concat. */
  private val q46 = GQ(
    "q46_string_funcs",
    (s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          lower(col("p_type")).as("type_lc"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          length(col("p_brand")).as("brand_len"),
          regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
          concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
            lower(p_type) AS type_lc,
            substring(p_name, 1, 8) AS name_prefix,
            length(p_brand) AS brand_len,
            regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
            concat_ws('-', p_brand, p_type) AS brand_type
            FROM part ORDER BY p_partkey""")
  )

  /** STRUCT/MAP surface (`DP/Step 15:71-209`): named_struct field access,
    * map literals, map_keys/map_values. */
  private val q47 = GQ(
    "q47_struct_map",
    (s, dir) => {
      t(s, dir, "nation")
        .select(col("n_nationkey"),
          struct(col("n_name").as("name"), col("n_regionkey").as("rk")).as("info"),
          map(lit("nk"), col("n_nationkey").cast("long"),
            lit("rk"), col("n_regionkey").cast("long")).as("m"))
        .select(
          col("n_nationkey"),
          col("info.name").as("sname"),
          array_join(map_keys(col("m")), ",").as("ks"),
          expr("aggregate(map_values(m), 0L, (a, v) -> a + v)").as("vs"))
        .orderBy("n_nationkey")
    },
    Some("""SELECT n_nationkey,
            struct_pack(name := n_name, rk := n_regionkey).name AS sname,
            array_to_string(map_keys(MAP {'nk': n_nationkey, 'rk': n_regionkey}), ',') AS ks,
            CAST(list_sum(map_values(MAP {'nk': CAST(n_nationkey AS BIGINT),
                                          'rk': CAST(n_regionkey AS BIGINT)})) AS BIGINT) AS vs
            FROM nation ORDER BY n_nationkey""")
  )

  /** Custom typed UDAF: weighted average Aggregator (§2.11). */
  private val q48 = GQ(
    "q48_weighted_avg",
    (s, dir) => {
      graft.functions.WeightedAvg.register(s)
      Tables.registerAll(s, dir)
      s.sql("""SELECT l_returnflag,
               round(weighted_avg(l_extendedprice, l_quantity) + 1e-9, 2) AS wavg_price
               FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""SELECT l_returnflag,
            round(sum(l_extendedprice * l_quantity) / sum(l_quantity) + 1e-9, 2) AS wavg_price
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** Scalar-function battery 2 (`§2.10`): md5, initcap, split/reverse
    * 3-part-name normalization (`OPT:1448-1459`), unix_timestamp. */
  private val q49 = GQ(
    "q49_string_funcs2",
    (s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          md5(col("p_name")).as("name_md5"),
          initcap(lower(col("p_brand"))).as("brand_ic"),
          reverse(split(col("p_type"), " ")).getItem(0).as("last_word"),
          concat(lit("c."), col("p_brand")).as("three_part"))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey,
            md5(p_name) AS name_md5,
            upper(substr(lower(p_brand), 1, 1)) || lower(substr(lower(p_brand), 2)) AS brand_ic,
            string_split(p_type, ' ')[-1] AS last_word,
            'c.' || p_brand AS three_part
            FROM part ORDER BY p_partkey""")
  )

  /** Helper-API coverage: latestByKey + highWatermark + topKPerGroup
    * composed (`graft.relational.Helpers`). */
  private val q50h = GQ(
    "q63_helpers_compose",
    (s, dir) => {
      import graft.relational.Helpers
      val ev = t(s, dir, "events")
      val latest = Helpers.latestByKey(ev, Seq("user_id"), Seq("ts", "event_id"))
      val wm = Helpers.highWatermark(ev, "ts")
      val recent = Helpers.incrementalAfter(
        ev, "ts", wm.map(w => new java.sql.Timestamp(
          w.asInstanceOf[java.sql.Timestamp].getTime - 7L * 24 * 3600 * 1000)))
      val top = Helpers.topKPerGroup(
        ev.groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
          .withColumn("ord", col("n") * 1000000 - col("user_id")),
        Seq("event_type"), col("ord"), 1)
      import s.implicits._
      Seq((latest.count(), recent.count(), top.count())).toDF("n_latest", "n_recent", "n_top")
    },
    Some("""SELECT
            (SELECT count(DISTINCT user_id) FROM events) AS n_latest,
            (SELECT count(*) FROM events
             WHERE ts > (SELECT max(ts) - INTERVAL 7 DAY FROM events)) AS n_recent,
            (SELECT count(*) FROM (
               SELECT event_type, dense_rank() OVER (PARTITION BY event_type
                        ORDER BY n * 1000000 - user_id DESC) AS r
               FROM (SELECT event_type, user_id, count(*) AS n FROM events
                     GROUP BY event_type, user_id) g) rk
             WHERE r <= 1) AS n_top""")
  )

  // ---- §2.5 multi-dimensional aggregates ---------------------------------

  /** ROLLUP: per-(flag, status) subtotals, per-flag totals, grand total in
    * one pass — map-side partial aggregation replicates rows per grouping
    * level, no extra scans. grouping_id() disambiguates the null rows. */
  private val q34 = GQ(
    "q34_rollup",
    (s, dir) => t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity") + lit(1e-9), 2).as("sum_qty"),
        grouping_id().as("gid"))
      .orderBy("gid", "l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus, count(*) AS n,
            round(sum(l_quantity) + 1e-9, 2) AS sum_qty,
            GROUPING(l_returnflag, l_linestatus) AS gid
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY gid, l_returnflag, l_linestatus""")
  )

  /** GROUPING SETS: two independent breakdowns (by priority, by status)
    * plus the grand total in one aggregation. */
  private val q35 = GQ(
    "q35_grouping_sets",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
               round(sum(o_totalprice) + 1e-9, 2) AS sum_price
               FROM orders
               GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
               ORDER BY o_orderpriority, o_orderstatus, n""")
    },
    Some("""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
            round(sum(o_totalprice) + 1e-9, 2) AS sum_price
            FROM orders
            GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
            ORDER BY o_orderpriority, o_orderstatus, n""")
  )

  /** DataFrame pivot (CUBE's cousin the reference reaches via pandas):
    * order counts+revenue spread across status columns per priority.
    * Explicit pivot values keep the plan single-pass (no distinct scan). */
  private val q36 = GQ(
    "q36_pivot",
    (s, dir) => t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum("o_totalprice") + lit(1e-9), 2))
      .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
            round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) + 1e-9, 2) AS F,
            round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) + 1e-9, 2) AS O,
            round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) + 1e-9, 2) AS P
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** Exact percentiles/median per group via rank windows + straddle
    * interpolation, matching DuckDB `quantile_cont`. What this fixes vs
    * Spark's `percentile` aggregate: that operator BUFFERS every value of
    * a group in one reducer's memory; the window form streams through a
    * spillable external sort, so a hot group degrades to disk instead of
    * OOM. What it does NOT fix: each group's rows still route through one
    * task (inherent to exact per-group order statistics) — q193's
    * mergeable `percentile_approx` sketch stays the scale path when a
    * 0.5% error is acceptable. One exchange on the group key; the price
    * and quantity orderings share it. */
  private val q37 = GQ(
    "q37_percentiles",
    (s, dir) => {
      val wn = Window.partitionBy("l_returnflag")
      val wp = wn.orderBy("l_extendedprice")
      val wq = wn.orderBy("l_quantity")
      val ranked = t(s, dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity")
        .withColumn("n", count(lit(1)).over(wn))
        .withColumn("rp", row_number().over(wp))
        .withColumn("rq", row_number().over(wq))
      // quantile_cont: pos = 1 + q(n-1); value = x_lo + frac · (x_hi − x_lo)
      def q(p: Double, rank: org.apache.spark.sql.Column,
          x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val pos = lit(1.0) + lit(p) * (col("n") - 1)
        val lo = floor(pos)
        val xlo = max(when(rank === lo, x))
        val xhi = coalesce(max(when(rank === lo + 1, x)), max(when(rank === lo, x)))
        xlo + max(pos - lo) * (xhi - xlo)
      }
      ranked.groupBy(col("l_returnflag"))
        .agg(
          round(q(0.5, col("rp"), col("l_extendedprice")) + lit(1e-9), 2).as("p50"),
          round(q(0.9, col("rp"), col("l_extendedprice")) + lit(1e-9), 2).as("p90"),
          round(q(0.5, col("rq"), col("l_quantity")) + lit(1e-9), 2).as("med_qty"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag,
            round(quantile_cont(l_extendedprice, 0.5) + 1e-9, 2) AS p50,
            round(quantile_cont(l_extendedprice, 0.9) + 1e-9, 2) AS p90,
            round(median(l_quantity) + 1e-9, 2) AS med_qty
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  override def queries: Seq[GQ] = Seq(
    q01, q02, q03, q04, q05, q06,
    q10, q11, q12, q13, q14, q15,
    q20, q21, q22, q23, q24,
    q30, q31, q32, q33, q34, q35, q36, q37,
    q40, q41, q42, q43, q44, q45, q46, q47, q48, q49, q50h)
}
