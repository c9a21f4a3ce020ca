package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.Tables
import graft.streaming.{Expectations, Pipeline, StreamOps}
import graft.tables.GraftTable

/** Structured-streaming coverage (SURVEY.md §2.9): event-time windowed
  * aggregation, expectations, the foreachBatch-MERGE silver pattern,
  * DLT-style pipelines, and stream monitoring — all driven to completion
  * with `Trigger.AvailableNow` so the gate result is deterministic and
  * DuckDB-reproducible with batch SQL.
  */
object StreamQueries extends QueryBatch {

  private def scratch(tag: String): String = {
    val p = Paths.get(Scratch.dir(tag))
    Files.createDirectories(p)
    p.toString
  }

  /** Derived session with state-store partitioning sized for gate volume:
    * stateful streams run one state instance per shuffle partition and at
    * this volume checkpoint IO dominates, so the stateful gates fix the
    * count small — on an ISOLATED session (same SparkContext, own
    * SQLConf), never by mutating the caller's conf. A real deployment
    * makes the same per-query choice from expected key cardinality. */
  private def stateSized(s: SparkSession, n: Int = 8): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", n.toString)
    derived.synchronized { derived += ss }
    ss
  }

  /** Every session `stateSized` handed out: each has its OWN
    * StreamingQueryManager, so a harness safety net that only stops
    * `rootSession.streams.active` cannot see a stream wedged on one of
    * these. [[stopDerivedStreams]] is that net's hook. */
  private val derived = scala.collection.mutable.ArrayBuffer.empty[SparkSession]

  /** Stop any still-active stream on sessions handed out by `stateSized`
    * and forget them (gates await termination, so a live query here is a
    * wedge — e.g. a corrupt checkpoint — that would otherwise leak state
    * stores into everything that runs after). */
  def stopDerivedStreams(): Unit = derived.synchronized {
    derived.foreach(_.streams.active.foreach(_.stop()))
    derived.clear()
  }

  /** Streaming read of the events table (nanos ts → micros, like Tables.t). */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = s.read.parquet(s"$dir/events.parquet").schema
    // the streaming file source wants a directory: read the sf dir with a
    // glob restricted to the events table
    val st = s.readStream.schema(raw)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    raw("ts").dataType match {
      case LongType => st.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => st.withColumn("ts", col("ts").cast(TimestampType))
      case _ => st
    }
  }

  /** Tumbling-window streaming aggregation → GraftTable sink (complete
    * mode via foreachBatch overwrite — distributed write, nothing buffers
    * on the driver); epoch-aligned 1h windows equal batch
    * date_trunc('hour'). */
  private val q90 = GQ(
    "q90_stream_hourly",
    (s, dir) => {
      val agg = eventsStream(stateSized(s), dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      val sink = GraftTable.create(s, scratch("q90t"), agg.schema)
      StreamOps.completeToTable(agg, sink, scratch("q90ck"))
        .read()
        .select(col("window.start").as("hour"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("hour", "event_type")
    },
    Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
            count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** Expectations report: warn/drop rule violation counts
    * (`LOANS/02:127-142`). */
  private val q91 = GQ(
    "q91_expectations",
    (s, dir) => Expectations.report(
      Tables.t(s, dir, "lineitem"),
      Seq(
        Expectations.expectOrDrop("disc_le_8pct", "l_discount <= 0.08"),
        Expectations.expect("qty_in_range", "l_quantity BETWEEN 1 AND 50"),
        Expectations.expect("tax_nonneg", "l_tax >= 0")))
      .orderBy("rule"),
    Some("""SELECT * FROM (VALUES
              ('disc_le_8pct', 'drop',
               (SELECT count(*) FROM lineitem WHERE NOT (l_discount <= 0.08)),
               (SELECT count(*) FROM lineitem WHERE l_discount <= 0.08)),
              ('qty_in_range', 'warn',
               (SELECT count(*) FROM lineitem WHERE NOT (l_quantity BETWEEN 1 AND 50)),
               (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 1 AND 50)),
              ('tax_nonneg', 'warn',
               (SELECT count(*) FROM lineitem WHERE NOT (l_tax >= 0)),
               (SELECT count(*) FROM lineitem WHERE l_tax >= 0))
            ) r(rule, mode, violations, passed) ORDER BY rule""")
  )

  /** The flagship silver pattern: stream → foreachBatch ROW_NUMBER dedup →
    * MERGE into a versioned table (`DP/Step 5:208-296`). */
  private val q92 = GQ(
    "q92_stream_merge_silver",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id", LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("event_id", LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType)))
      val silver = GraftTable.create(s, scratch("silver"), schema)
      StreamOps.mergeStream(
        eventsStream(s, dir), silver,
        "target.user_id = source.user_id AND target.event_type = source.event_type",
        checkpoint = scratch("ckpt"),
        prepare = b => {
          val w = Window.partitionBy("user_id", "event_type")
            .orderBy(col("ts").desc, col("event_id").desc)
          b.select("user_id", "event_type", "event_id", "value", "ts")
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        })
      silver.read().select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT user_id, event_type, event_id, value FROM (
              SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) d
            WHERE rn = 1 ORDER BY user_id, event_type""")
  )

  /** DLT-style medallion pipeline: bronze → silver (expectations + dedup)
    * → gold, topologically executed (`DP/Step 3`, `CDC/04`). */
  private val q93 = GQ(
    "q93_pipeline_medallion",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val p = new Pipeline(s)
      p.table("bronze_events")(_ => Tables.t(s, dir, "events"))
      p.table("silver_events", deps = Seq("bronze_events"),
        expectations = Seq(
          Expectations.expectOrDrop("valid_user", "user_id >= 0"),
          Expectations.expect("has_value", "value IS NOT NULL"))) { live =>
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts").desc, col("event_id").desc)
        live("bronze_events")
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
      p.table("gold_user_stats", deps = Seq("silver_events")) { live =>
        live("silver_events")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      }
      p.run()("gold_user_stats").orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                               ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events) d
            WHERE rn = 1 AND user_id >= 0
            GROUP BY event_type ORDER BY event_type""")
  )

  /** Stream monitoring: per-batch progress totals
    * (`OBS/stream-monitoring:134-211`). The monitored query itself writes
    * to a table sink; the metric comes from the progress events. */
  private val q94 = GQ(
    "q94_stream_monitor",
    (s, dir) => {
      import s.implicits._
      val agg = eventsStream(s, dir).groupBy("event_type").count()
      val sink = GraftTable.create(s, scratch("q94t"), agg.schema)
      val q = agg.writeStream.outputMode("complete")
        .option("checkpointLocation", scratch("q94ck"))
        .foreachBatch { (b: DataFrame, _: Long) => sink.overwrite(b); () }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val total = q.recentProgress.map(_.numInputRows).sum
      Seq(("events_stream", total)).toDF("query_name", "total_input_rows")
    },
    Some("""SELECT 'events_stream' AS query_name, count(*) AS total_input_rows
            FROM events""")
  )

  /** Sliding event-time windows (2h window, 1h slide): each event lands in
    * two epoch-aligned windows (streaming-extension surface beyond the
    * reference's batch date_trunc bucketing). */
  private val q95 = GQ(
    "q95_sliding_window",
    (s, dir) => {
      val agg = eventsStream(stateSized(s), dir)
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
      val sink = GraftTable.create(s, scratch("q95t"), agg.schema)
      StreamOps.completeToTable(agg, sink, scratch("q95ck"))
        .read()
        .select(col("window.start").as("window_start"), col("n"), col("sum_value"))
        .orderBy("window_start")
    },
    Some("""SELECT date_trunc('hour', ts) - o * INTERVAL 1 HOUR AS window_start,
            count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events, UNNEST([0, 1]) t(o)
            GROUP BY 1 ORDER BY 1""")
  )

  /** Stream-static enrichment join (the DLT silver pattern,
    * `LOANS/02:116-123,150-154`): the events stream joins the static
    * customer dim in-flight (broadcastable at 100 TB — the dim is the
    * small side), enriched rows append to a silver table, and the gate
    * aggregates the silver table. */
  private val q96 = GQ(
    "q96_stream_static_join",
    (s, dir) => {
      val dim = Tables.t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val enriched = eventsStream(s, dir)
        .join(dim, col("user_id") === col("c_custkey"))
        .select("user_id", "event_type", "value", "c_mktsegment")
      val silver = GraftTable.create(s, scratch("q96t"), enriched.schema)
      StreamOps.appendStream(enriched, silver, scratch("q96ck"))
      silver.read()
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("value") + lit(1e-9), 2).as("sum_value"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS n,
            round(sum(value) + 1e-9, 2) AS sum_value
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  )

  /** DLT event-log analysis (`LOANS/03-Log-Analysis.sql:77-104`): the
    * pipeline persists flow_progress events with a JSON details column;
    * the gate queries it through the `details:path::type` rewrite,
    * extracting per-flow output rows and the silver flow's expectation
    * counters. */
  private val q97 = GQ(
    "q97_event_log_analysis",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val logPath = scratch("q97log")
      val p = new Pipeline(s, eventLogPath = Some(logPath))
      p.table("bronze_events")(_ => Tables.t(s, dir, "events"))
      p.table("silver_events", deps = Seq("bronze_events"),
        expectations = Seq(
          Expectations.expectOrDrop("valid_user", "user_id >= 0"),
          Expectations.expect("has_value", "value IS NOT NULL"))) { live =>
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts").desc, col("event_id").desc)
        live("bronze_events")
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
      }
      p.run(); p.release() // the gate reads the EVENT LOG, not the flows
      val g = new graft.sql.GraftSql(s, scratch("q97sql"))
      g.register("pipeline_events", GraftTable.load(s, logPath))
      g.sql("""SELECT
                 details:flow_progress.flow_name AS flow,
                 details:flow_progress.metrics.num_output_rows::bigint AS output_rows,
                 details:flow_progress.data_quality.expectations[0].name AS exp_name,
                 details:flow_progress.data_quality.expectations[0].failed_records::bigint AS failed,
                 details:flow_progress.data_quality.expectations[0].passed_records::bigint AS passed
               FROM pipeline_events
               WHERE event_type = 'flow_progress'
               ORDER BY flow""")
    },
    Some("""WITH dedup AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                             ORDER BY ts DESC, event_id DESC) AS rn
                FROM events) d WHERE rn = 1)
            SELECT * FROM (
              SELECT 'bronze_events' AS flow,
                     (SELECT count(*) FROM events) AS output_rows,
                     CAST(NULL AS VARCHAR) AS exp_name,
                     CAST(NULL AS BIGINT) AS failed, CAST(NULL AS BIGINT) AS passed
              UNION ALL
              SELECT 'silver_events',
                     (SELECT count(*) FROM dedup WHERE user_id >= 0),
                     'has_value',
                     (SELECT count(*) FROM dedup WHERE value IS NULL),
                     (SELECT count(*) FROM dedup)
                       - (SELECT count(*) FROM dedup WHERE value IS NULL))
            ORDER BY flow""")
  )

  /** Session windows (30-minute inactivity gap) — completes the
    * event-time window family (tumbling q90, sliding q95). Computed with
    * Spark's native session_window aggregation; the oracle replays the
    * session semantics (new session when the gap to the previous event is
    * ≥ the timeout — Spark's window is [first, last+gap)) as a
    * gaps-and-islands window query. */
  private val q98 = GQ(
    "q98_session_window",
    (s, dir) => Tables.t(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value") + lit(1e-9), 2).as("sum_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n"), col("sum_value"))
      .orderBy("user_id", "session_start"),
    Some("""WITH marked AS (
              SELECT user_id, ts, value, event_id,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                          >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_session
              FROM events),
            sessions AS (
              SELECT *, sum(new_session) OVER (PARTITION BY user_id
                ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked)
            SELECT min(ts) AS session_start, user_id,
                   count(*) AS n, round(sum(value) + 1e-9, 2) AS sum_value
            FROM sessions GROUP BY user_id, sid
            ORDER BY user_id, session_start""")
  )

  /** Quarantine pattern (inverse expectations, `LOANS/02:136-142`): rows
    * failing any rule land in a quarantine table; both splits persist and
    * the gate reads back their row counts plus a quarantined sample. */
  private val q99 = GQ(
    "q99_quarantine",
    (s, dir) => {
      import s.implicits._
      val li = Tables.t(s, dir, "lineitem")
      val (good, bad) = Expectations.quarantine(li, Seq(
        Expectations.expect("disc_le_8pct", "l_discount <= 0.08"),
        Expectations.expect("qty_le_45", "l_quantity <= 45")))
      val goodT = GraftTable.createFrom(s, scratch("q99good"), good)
      val badT = GraftTable.createFrom(s, scratch("q99bad"), bad)
      Seq(("good", goodT.read().count()), ("quarantined", badT.read().count()))
        .toDF("split", "n").orderBy("split")
    },
    Some("""SELECT * FROM (VALUES
              ('good', (SELECT count(*) FROM lineitem
                        WHERE l_discount <= 0.08 AND l_quantity <= 45)),
              ('quarantined', (SELECT count(*) FROM lineitem
                        WHERE NOT (l_discount <= 0.08 AND l_quantity <= 45)))
            ) q(split, n) ORDER BY split""")
  )

  /** Custom keyed state via mapGroupsWithState: per-user running event
    * count / value sum / 30-minute-gap session counter held in the state
    * store, driven availableNow through an update-mode keyed MERGE sink
    * (multi-batch state continuation is pinned in StatefulSpec). Oracle:
    * the q98-style gaps-and-islands SQL collapsed per user. */
  private val q151 = GQ(
    "q151_stateful_sessions",
    (s, dir) => {
      val upd = graft.streaming.Stateful.userSessions(eventsStream(s, dir), 30)
        .toDF()
      val sink = GraftTable.create(s, scratch("q151t"), upd.schema)
      StreamOps.updateToTable(upd, sink, Seq("user_id"), scratch("q151ck"))
        .read()
        .select(col("user_id"), col("n"),
          round(col("total_value") + lit(1e-9), 2).as("total_value"),
          col("sessions"))
        .orderBy("user_id")
    },
    Some("""WITH marked AS (
              SELECT user_id, value, ts,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                          >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_session
              FROM events)
            SELECT user_id, count(*) AS n,
                   round(sum(value) + 1e-9, 2) AS total_value,
                   CAST(sum(new_session) + 1 AS BIGINT) AS sessions
            FROM marked GROUP BY user_id ORDER BY user_id""")
  )

  /** Stream-stream interval self-join: each click joins the same user's
    * purchases within the following hour — both sides watermarked, the
    * event-time bound making join state evictable (without it, a
    * stream-stream join buffers both streams forever; with it, state is
    * bounded by the interval × arrival rate at any corpus size). Driven
    * availableNow; inner-join emission is deterministic, so batch SQL
    * over the same events reproduces it. */
  private val q210 = GQ(
    "q210_stream_stream_join",
    (s, dir) => {
      // a stream-stream join runs 4 state-store instances per shuffle
      // partition (see stateSized)
      val ss = stateSized(s)
      val clicks = eventsStream(ss, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 hour")
      val purchases = eventsStream(ss, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("click_ts") &&
          col("p_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select("user_id", "click_ts", "p_ts", "value")
      val sink = GraftTable.create(s, scratch("q210t"), joined.schema)
      StreamOps.appendStream(joined, sink, scratch("q210ck"))
      sink.read()
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          round(sum("value") + lit(1e-9), 2).as("sum_value"))
        .orderBy("user_id")
    },
    Some("""SELECT c.user_id, count(*) AS n_pairs,
                   round(sum(p.value) + 1e-9, 2) AS sum_value
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
            GROUP BY c.user_id ORDER BY c.user_id""")
  )

  /** Streaming deduplication: every event is doubled, then
    * `dropDuplicatesWithinWatermark` over the state store restores
    * exactly-once rows into the sink — the standard at-least-once→
    * exactly-once repair stage in front of a bronze table. The
    * within-watermark variant is what actually bounds state: plain
    * `dropDuplicates("event_id")` never evicts keys that lack the event-
    * time column, so its state grows with the full key universe; the
    * within-watermark form drops a key's state once the watermark passes
    * its first-seen event time (duplicates from at-least-once delivery
    * arrive within the delay window, so output is identical). The sink
    * must equal the batch DISTINCT. */
  private val q196 = GQ(
    "q196_stream_dedup",
    (s, dir) => {
      val doubled = eventsStream(stateSized(s), dir)
        .withColumn("__copy", explode(array(lit(1), lit(2))))
        .drop("__copy")
      val dedup = doubled
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      val sink = GraftTable.create(s, scratch("q196t"), dedup.schema)
      StreamOps.appendStream(dedup, sink, scratch("q196ck"))
      sink.read().groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_distinct"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, count(*) AS n,
            count(DISTINCT event_id) AS n_distinct
            FROM events GROUP BY 1 ORDER BY 1""")
  )

  /** Per-flow explain-plan capture in the pipeline event log: every flow
    * logs a `flow_definition` event carrying its physical plan (the
    * reference logs the Spark plan per DLT flow) — the gate extracts the
    * plan through the JSON-path syntax and asserts structural facts about
    * it (present for every flow; the aggregation flow's plan contains a
    * HashAggregate, the ingest flow's does not). */
  private val q203 = GQ(
    "q203_flow_explain",
    (s, dir) => {
      val logPath = scratch("q203log")
      val p = new Pipeline(s, eventLogPath = Some(logPath))
      p.table("bronze_docs")(_ => Tables.t(s, dir, "documents"))
      p.table("lang_counts", deps = Seq("bronze_docs")) { live =>
        live("bronze_docs").groupBy("lang").agg(count(lit(1)).as("n"))
      }
      p.run(); p.release() // the gate reads the EVENT LOG, not the flows
      val g = new graft.sql.GraftSql(s, scratch("q203sql"))
      g.register("pipeline_events", GraftTable.load(s, logPath))
      g.sql("""SELECT
                 details:flow_definition.flow_name AS flow,
                 CAST(length(details:flow_definition.explain) > 0 AS BOOLEAN) AS has_plan,
                 CAST(instr(details:flow_definition.explain, 'HashAggregate') > 0 AS BOOLEAN)
                   AS has_agg
               FROM pipeline_events
               WHERE event_type = 'flow_definition'
               ORDER BY flow""")
    },
    Some("""SELECT * FROM (
              SELECT 'bronze_docs' AS flow, true AS has_plan, false AS has_agg
              UNION ALL
              SELECT 'lang_counts', true, true)
            ORDER BY flow""")
  )

  /** The full production ingest loop, end to end: a document batch
    * STREAMS in, foreachBatch probes the PERSISTED shingle index
    * (`DedupIndex.dedupBatch` — corpus text never re-read), drops every
    * batch doc that near-duplicates the corpus or a lower-id batch doc
    * (greedy lowest-id-wins: any doc appearing as the d2 of a ≥threshold
    * pair loses), appends the SURVIVORS' postings back to the index, and
    * lands the survivors in a table. One input file + AvailableNow = one
    * deterministic micro-batch, so the oracle is the batch SQL over the
    * shared pair CTEs. The index append is asserted in-gate: a rerun of
    * the probe against the maintained index must kill every survivor
    * (each now collides with its own indexed copy at jaccard 1).
    *
    * Production-loop maintenance: per-batch appends accrete the batch's
    * posting files (one for a one-split batch); periodic
    * `Maintenance.optimize` of the index table compacts them with probe
    * results unchanged — pinned by
    * DedupIndexSpec's "ingest-loop compaction" case rather than run
    * in-gate, where it would only re-measure the optimizer. */
  private val q218 = GQ(
    "q218_stream_ingest_dedup",
    (s, dir) => {
      import graft.text.DedupIndex
      val d = Tables.t(s, dir, "documents").select("doc_id", "text")
      val idx = DedupIndex.build(d, scratch("ingidx"), n = 5)
      val in = scratch("ingsrc")
      // the shared near-copy batch ALL dies at threshold 0.5 (each doc
      // collides with its source); novel docs — per-doc-unique tokens, so
      // zero shingle overlap with anything — exercise the survivor path
      val novel = s.range(5).select((col("id") + 300000).as("doc_id"),
        concat_ws(" ", (0 until 6).map(j =>
          concat(lit("nv"), col("id").cast("string"), lit(s"w$j"))): _*).as("text"))
      TextQueries.ingestBatch(d).unionAll(novel)
        .coalesce(1).write.mode("overwrite").parquet(in)
      val survivors = GraftTable.create(s, scratch("ingout"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
      val stream = s.readStream.schema(survivors.schemaAt()).parquet(in)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", scratch("ingckpt"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          // persist the batch-bounded loser ids: kept is acted on TWICE
          // (survivor append + index append) and each action would
          // otherwise re-run the whole index probe (lazy plan)
          val losers = DedupIndex.dedupBatch(idx, b, threshold = 0.5)
            .select(col("d2").as("doc_id")).distinct().persist()
          try {
            val kept = b.join(losers, Seq("doc_id"), "left_anti")
            survivors.append(kept, "INGEST SURVIVORS")
            DedupIndex.append(idx, kept)
          } finally losers.unpersist()
          ()
        }.start()
      stream.awaitTermination()
      // maintenance proof: re-ingesting the survivors under FRESH ids
      // must kill every one against its own newly-indexed copy (same ids
      // would SUPERSEDE their own postings and prove nothing)
      val shifted = survivors.read()
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val reprobe = DedupIndex.dedupBatch(idx, shifted, 0.5)
        .select(col("d2").as("doc_id")).distinct()
      require(shifted.join(reprobe, Seq("doc_id"), "left_anti").isEmpty,
        "index append must make a re-ingest of the survivors collide")
      survivors.read().orderBy("doc_id")
    },
    Some(s"""${TextQueries.dedupPairsCte},
                 losers AS (SELECT DISTINCT d2 FROM pairs
                            JOIN sizes s1 ON s1.doc_id = d1
                            JOIN sizes s2 ON s2.doc_id = d2
                            WHERE inter::DOUBLE / (s1.sz + s2.sz - inter) >= 0.5
                              AND d2 >= 100000)
            SELECT b.doc_id, b.text
            FROM (SELECT * FROM batch
                  UNION ALL
                  SELECT 300000 + i,
                         'nv'||i||'w0 nv'||i||'w1 nv'||i||'w2 nv'||i||'w3 nv'||i||'w4 nv'||i||'w5'
                  FROM range(5) t(i)) b
            WHERE b.doc_id NOT IN (SELECT d2 FROM losers)
            ORDER BY doc_id""")
  )

  /** Streaming corpus-health maintenance: the monitoring twin of the
    * q218/q242/q259 ingest loops — documents stream in across ≥3
    * micro-batches and each batch APPENDS its (lang, word) count delta
    * to a [[graft.tables.LogAgg]] table, with compaction on a cadence
    * (every 2 deltas here, so the gate exercises append → compact →
    * append and the final read folds compacted rows + a pending delta).
    * A per-batch MERGE is the wrong shape for a uniform vocabulary key
    * space — every batch's key range covers every file of the stats
    * table, so the merge rewrites essentially the whole table per batch
    * (ProfLogAgg measures the amplification); the append-log costs
    * O(delta) per batch and pays the rewrite once per cadence. The
    * final report is computed FROM THE MAINTAINED TABLE ONLY, and the
    * oracle recomputes it from the raw corpus — the gate is exactly the
    * incremental == batch proof (a lost batch, a double-applied delta,
    * or a broken fold shifts a count and hash-mismatches). */
  private val q270 = GQ(
    "q270_stream_corpus_health",
    (s, dir) => {
      import graft.tables.LogAgg
      val d = Tables.t(s, dir, "documents").select("lang", "doc_id", "text")
      val in = scratch("healthsrc")
      // three files → three micro-batches under maxFilesPerTrigger=1
      d.filter(col("doc_id") % 3 === 0).coalesce(1)
        .write.mode("overwrite").parquet(in)
      d.filter(col("doc_id") % 3 === 1).coalesce(1)
        .write.mode("append").parquet(in)
      d.filter(col("doc_id") % 3 === 2).coalesce(1)
        .write.mode("append").parquet(in)
      val counts = LogAgg.create(s, scratch("healthtbl"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("word",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n", LongType))),
        keys = Seq("lang", "word"), counters = Seq("n"))
      val stream = s.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", scratch("healthckpt"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          val delta = b.select(col("lang"),
              explode(graft.text.TextOps.words(col("text"))).as("word"))
            .filter(length(col("word")) > 0)
            .groupBy("lang", "word").agg(count(lit(1)).as("n"))
          LogAgg.append(counts, delta)
          LogAgg.compactIfDue(counts, every = 2)
          ()
        }.start()
      stream.awaitTermination()
      // the incremental claim needs ≥ 3 applied batches AND a compaction
      // mid-stream (create + 3 deltas + 1 compact after the 2nd)
      require(counts.commits.count(_.operation == "LOGAGG DELTA") == 3,
        s"expected 3 micro-batch deltas, saw ${counts.commits.map(_.operation)}")
      require(counts.commits.exists(_.operation == "LOGAGG COMPACT"),
        "expected a mid-stream compaction")
      // delta appends must never rewrite the stats table — that's the
      // whole point of the shape
      require(counts.commits.filter(_.operation == "LOGAGG DELTA")
        .forall(_.removedFiles.isEmpty), "delta append rewrote files")
      val c = LogAgg.read(counts)
      val ranked = c.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(col("n").desc, col("word"))))
      val zipf = ranked.filter(col("rank") <= 100).groupBy("lang")
        .agg(regr_slope(log(col("n")), log(col("rank"))).as("slope"))
      c.groupBy("lang")
        .agg(sum("n").as("n_tokens"), count(lit(1)).as("n_types"))
        .join(zipf, Seq("lang"))
        .select(col("lang"), col("n_tokens"), col("n_types"),
          round(col("n_types").cast("double") / col("n_tokens") + lit(1e-9), 6)
            .as("ttr"),
          round(col("slope") + lit(1e-9), 4).as("zipf_slope"))
        .orderBy("lang")
    },
    Some("""WITH docs AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS ws
                          FROM documents),
            tok AS (SELECT lang, ws[CAST(t.i AS INT) + 1] AS word
                    FROM docs, UNNEST(range(len(ws))) AS t(i)
                    WHERE len(ws[CAST(t.i AS INT) + 1]) > 0),
            c AS (SELECT lang, word, count(*) AS n FROM tok GROUP BY 1, 2),
            r AS (SELECT lang, n, row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rank
                  FROM c),
            z AS (SELECT lang, regr_slope(ln(n), ln(rank)) AS slope
                  FROM r WHERE rank <= 100 GROUP BY 1),
            s AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
                         CAST(count(*) AS BIGINT) AS n_types
                  FROM c GROUP BY 1)
            SELECT s.lang, s.n_tokens, s.n_types,
                   round(CAST(s.n_types AS DOUBLE) / s.n_tokens + 1e-9, 6) AS ttr,
                   round(z.slope + 1e-9, 4) AS zipf_slope
            FROM s JOIN z ON z.lang = s.lang
            ORDER BY s.lang""")
  )

  /** Streaming drift monitor: the observability twin of the q279 drift
    * report — incoming micro-batches are each PSI-scored against a
    * fixed reference snapshot inside foreachBatch, and the
    * (batch-key, n_rows, total PSI) verdicts append to a monitoring
    * table the dashboard reads. Batch identity derives from the DATA
    * (each source file holds one o_orderkey residue class), never from
    * Spark's batch ids, so the output is deterministic whatever order
    * the files trigger in. The oracle recomputes every batch's
    * equi-width-binned, Laplace-smoothed PSI from the raw table — a
    * drifted bin rule, a lost batch, or a reference/current swap
    * shifts a score and hash-mismatches. The reference bin bounds are
    * derived ONCE (`Drift.bounds`) before the stream starts and pinned
    * into every batch's `Drift.psiWithBounds` call — the production
    * monitor shape: per batch, no reference min/max re-derivation. */
  private val q282 = GQ(
    "q282_stream_drift_monitor",
    (s, dir) => {
      val o = Tables.t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
      // the reference is re-BINNED by every batch's PSI call (by design —
      // psiWithBounds pays ref-bins + cur-bins per call); materialize the
      // one needed column once so the 1 bounds + 3 per-batch binning
      // passes read blocks instead of re-scanning/projecting the table
      // (guide §5: reuse beats recompute for a frame consumed 4×)
      val ref = o.filter(pmod(col("o_orderkey"), lit(4)) === 0)
        .select("o_totalprice").localCheckpoint()
      val in = scratch("driftsrc")
      (1 to 3).foreach { k =>
        o.filter(pmod(col("o_orderkey"), lit(4)) === k).coalesce(1)
          .write.mode(if (k == 1) "overwrite" else "append").parquet(in)
      }
      val monitor = GraftTable.create(s, scratch("driftmon"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("residue", LongType),
          org.apache.spark.sql.types.StructField("n_rows", LongType),
          org.apache.spark.sql.types.StructField("total_psi",
            org.apache.spark.sql.types.DoubleType))))
      val (refMn, refMx) = graft.services.Drift.bounds(ref, "o_totalprice")
      val stream = s.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1).parquet(in)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", scratch("driftckpt"))
        .foreachBatch { (b: DataFrame, _: Long) =>
          // one action for (rows, residue) instead of a count PLUS a
          // head — every row of a batch file shares the residue class
          // (the fixture writes one class per file), so min ≡ head's
          // value; the two separate actions scanned the batch twice and
          // doubled the per-batch driver latency (ProfJobs r19: q282 was
          // 48 jobs / 1.9 task-s — ~95% driver)
          val h = b.agg(count(lit(1)).as("n"),
            min(pmod(col("o_orderkey"), lit(4))).as("residue")).head()
          val rows = h.getLong(0)
          if (rows > 0) {
            val residue = h.getLong(1)
            val psi = graft.services.Drift.psiWithBounds(ref, b,
                "o_totalprice", refMn, refMx, bins = 4)
              .agg(sum("psi_term")).head().getDouble(0)
            import b.sparkSession.implicits._
            monitor.append(Seq((residue, rows, psi))
              .toDF("residue", "n_rows", "total_psi"), "DRIFT VERDICT")
          }
          ()
        }.start()
      stream.awaitTermination()
      require(monitor.commits.count(_.operation == "DRIFT VERDICT") == 3,
        s"expected 3 per-batch verdicts, saw ${monitor.commits.map(_.operation)}")
      monitor.read()
        .select(col("residue"), col("n_rows"),
          round(col("total_psi") + lit(1e-9), 6).as("total_psi"))
        .orderBy("residue")
    },
    Some {
      def arm(k: Int) =
        // the monitor sums Drift.psi's per-bin 6-dp-ROUNDED terms — the
        // oracle must round per bin before summing or the last digit
        // can disagree
        s"""SELECT $k AS residue, (SELECT count(*) FROM cur$k) AS n_rows,
                   (SELECT round(sum(round((cs - rs) * ln(cs / rs) + 1e-9, 6)) + 1e-9, 6)
                    FROM (SELECT (rn.n + 0.5) / ((SELECT sum(n) FROM rb$k) + 2.0) AS rs,
                                 (cn.n + 0.5) / ((SELECT sum(n) FROM cb$k) + 2.0) AS cs
                          FROM rb$k rn JOIN cb$k cn ON cn.bin = rn.bin)) AS total_psi"""
      def binned(k: Int) =
        s"""cur$k AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 4 = $k),
            craw$k AS (SELECT least(greatest(CAST(floor((v - mm.mn) / mm.w) AS INT), 0), 3) AS bin
                       FROM cur$k, mm WHERE v IS NOT NULL),
            rb$k AS (SELECT b.bin, count(rraw.bin) AS n
                     FROM bins b LEFT JOIN rraw ON rraw.bin = b.bin GROUP BY 1),
            cb$k AS (SELECT b.bin, count(craw$k.bin) AS n
                     FROM bins b LEFT JOIN craw$k ON craw$k.bin = b.bin GROUP BY 1)"""
      s"""WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 4 = 0),
          mm AS (SELECT min(v) AS mn, (max(v) - min(v)) / 4.0 AS w FROM ref),
          rraw AS (SELECT least(greatest(CAST(floor((v - mm.mn) / mm.w) AS INT), 0), 3) AS bin
                   FROM ref, mm WHERE v IS NOT NULL),
          bins AS (SELECT CAST(t.i AS INT) AS bin FROM UNNEST(range(4)) AS t(i)),
          ${binned(1)}, ${binned(2)}, ${binned(3)}
          ${arm(1)} UNION ALL ${arm(2)} UNION ALL ${arm(3)}
          ORDER BY residue"""
    }
  )

  override def queries: Seq[GQ] =
    Seq(q90, q91, q92, q93, q94, q95, q96, q97, q98, q99, q151, q196, q203,
      q210, q218, q270, q282)
}
