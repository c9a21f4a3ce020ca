package graft

import org.apache.spark.sql.SparkSession

/** Benchmark harness (shape of the reference's TPC-DS runner,
  * `TPCDS/notebooks/run_tpcds_benchmarking.py`): warm-up pass, repeated
  * timed runs, per-query seconds + QPM, one JSON line on stdout.
  *
  * Headline set = every catalogued query; repetition count trades accuracy
  * for wall-clock (default 3; result cache is not used — each run
  * re-executes the full plan). The per-query statistic is the MEDIAN of
  * the repeats (min kept as a secondary column): identical-code runs
  * showed ±2× run-to-run variance on DML/stream gates at repeat=2, where
  * a min-of-2 gate is a coin flip — the median of ≥3 is robust to one
  * outlier rep in either direction. Each query also reports its MAD
  * (median absolute deviation across the reps, `queries_mad`) so a
  * cross-round delta can be judged against that query's measured
  * run-to-run spread instead of re-litigated with isolated reruns.
  *
  * Gates whose in-run MAD exceeds both an absolute floor and k× the
  * catalog's median MAD get an extra ISOLATED pass (state reset + forced
  * GC before every rep) recorded as `queries_isolated` — the record
  * number for those gates; `tools/BenchDiff` prefers it automatically.
  * Gates known to amplify ambient host load (per-row CPU-dense media
  * codecs, the OPTIMIZE gates) are PINNED to that pass every round via
  * SPARK_GRAFT_ISOLATE_ALWAYS, and `value_quiet` reports the catalog
  * total with isolated medians substituted — the engine-attributable
  * total to compare round-over-round when the driver box is busy.
  * Tunables: SPARK_GRAFT_ISOLATE_MAD_K (default 10),
  * SPARK_GRAFT_ISOLATE_MAD_FLOOR (default 0.3 s).
  *
  * TIMEOUT-PROOFING (round 17 — BENCH_r16 was killed at rc=124 with the
  * summary JSON still unemitted, leaving the round without an official
  * bench record):
  *   1. After EVERY gate — catalog pass, isolated pass, each
  *      micro-experiment — a complete, valid summary JSON covering
  *      everything measured so far is atomically rewritten to
  *      `target/bench_full.json` (tmp + ATOMIC_MOVE, never a torn file).
  *      A kill at ANY point leaves the finished prefix parseable, with
  *      `"partial":true` marking the snapshot as mid-run.
  *   2. SPARK_GRAFT_BENCH_BUDGET_SEC (default 3000) degrades the run
  *      gracefully as the wall clock approaches the budget instead of
  *      being killed mid-flight: past 85% the remaining CATALOG gates
  *      drop to repeat=1 (every gate still gets a number — coverage is
  *      never cut); the concurrency pass is skipped past 80%; the
  *      isolated pass stops ADMITTING gates past 90% (already-recorded
  *      quiet numbers keep, the rest fall back to their in-run medians
  *      — `value_quiet_gates` reflects the actual substitution set as
  *      always); each micro-experiment is skipped past 95% (its fields
  *      emit -1 so the JSON shape is stable). Applied degradations are
  *      listed in the `degraded` array.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val wallT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - wallT0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    // malformed env values degrade to the default with a warning — they
    // must never abort the run and lose every measurement (review finding)
    def envDouble(name: String, default: Double): Double =
      sys.env.get(name).flatMap { v =>
        val p = scala.util.Try(v.toDouble).toOption
        if (p.isEmpty) System.err.println(
          s"[bench] ignoring malformed $name='$v', using $default")
        p
      }.getOrElse(default)
    val budgetSec = envDouble("SPARK_GRAFT_BENCH_BUDGET_SEC", 3000.0)
    val degraded = scala.collection.mutable.ArrayBuffer.empty[String]
    def overBudget(frac: Double, tag: String): Boolean = {
      val over = budgetSec > 0 && elapsed > frac * budgetSec
      if (over && !degraded.contains(tag)) {
        degraded += tag
        System.err.println(
          f"[bench] budget: $tag at ${elapsed}%.0f s / $budgetSec%.0f s")
      }
      over
    }
    val spark = graft.tools.Harness.session(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_ONLY=q149_...,q209_... restricts the run for targeted
    // iteration; the headline run leaves it unset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))

    // ---- incremental state + snapshot writer -------------------------
    // (name, median, min, mad) per catalog gate, appended as measured
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Double)]
    // (name, isolatedMedian, isolatedMad) per flagged gate
    val isolated = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    // per-gate wall-clock spent (reps + reset), keyed by gate name for the
    // catalog pass, "iso:<name>" for isolated reps, "__<phase>" for the
    // fixed phases — so a budget-degraded record shows WHERE the wall
    // went (VERDICT r17 #1b)
    val budgetSpent = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def spent[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body
      finally budgetSpent(key) =
        budgetSpent.getOrElse(key, 0.0) + (System.nanoTime() - t0) / 1e9
    }
    var concurrentQpm = 0.0
    val conc = sys.env.get("SPARK_GRAFT_CONCURRENCY")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(4)
    // micro-experiment fragments; placeholders keep the JSON shape stable
    // (and parseable) in every snapshot, measured or not
    var pruning = """"pruning":{"files_total":-1,"files_read":-1,"full_scan_sec":-1,"pruned_sec":-1}"""
    var pruning2d = """"pruning2d":{"files_total":-1,"boxes":-1,"files_read_zorder":-1,"files_read_range":-1}"""
    var mergeCmp = """"merge_fragmented_sec":-1,"merge_compacted_sec":-1"""
    var deleteCmp = """"delete_cow_sec":-1,"delete_dv_sec":-1"""

    def median(xs: Seq[Double]): Double = graft.tools.Harness.median(xs)

    /** Build the complete summary JSON from everything measured so far
      * and atomically rewrite target/bench_full.json. Called after every
      * gate so a kill at any point leaves the finished prefix on disk. */
    def snapshot(partial: Boolean): String = {
      val ok = results.filter(_._2 >= 0).toSeq
      val total = ok.map(_._2).sum
      val qpm = if (total > 0) ok.size * 60.0 / total else 0.0
      val totalMad = ok.map(_._4).sum
      val isoMed = isolated.map(i => i._1 -> i._2).toMap
      val totalQuiet = ok.map { case (n, med, _, _) =>
        isoMed.getOrElse(n, med) }.sum
      val quietGates = isolated.map(_._1).sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val qs = results.map { case (k, v, _, _) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      val qsMin = results.map { case (k, _, v, _) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      val qsMad = results.map { case (k, _, _, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      val qsIso = isolated.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }
        .mkString("{", ",", "}")
      val qsIsoMad = isolated.map { case (k, _, v) => "\"" + k + f"\":$v%.3f" }
        .mkString("{", ",", "}")
      // queries_effective: the isolated-preferred per-gate number — the
      // same value_quiet substitution rule, materialized per gate so a
      // PERF consumer can compare engine-attributable numbers without
      // re-deriving the substitution (VERDICT r18 #7; additions only)
      val qsEff = results.map { case (k, v, _, _) =>
        "\"" + k + f"\":${isoMed.getOrElse(k, v)}%.3f" }.mkString("{", ",", "}")
      val degradedJson = degraded.map("\"" + _ + "\"").mkString("[", ",", "]")
      val qsSpent = budgetSpent.map { case (k, v) => "\"" + k + f"\":$v%.2f" }
        .mkString("{", ",", "}")
      val full =
        f"""{"metric":"total_sec","value":$total%.2f,"value_quiet":$totalQuiet%.2f,"value_quiet_gates":$quietGates,"unit":"sec","stat":"median","total_mad":$totalMad%.2f,"qpm":$qpm%.1f,"concurrent_qpm":$concurrentQpm%.1f,"concurrency":$conc,$pruning,$pruning2d,$mergeCmp,$deleteCmp,"n_queries":${ok.size},"repeat":$repeat,"partial":$partial,"elapsed_sec":$elapsed%.1f,"budget_sec":$budgetSec%.0f,"degraded":$degradedJson,"queries":$qs,"queries_min":$qsMin,"queries_mad":$qsMad,"queries_isolated":$qsIso,"queries_isolated_mad":$qsIsoMad,"queries_effective":$qsEff,"budget_spent":$qsSpent,"sf":"$sfDir"}"""
      val dir = java.nio.file.Paths.get("target")
      java.nio.file.Files.createDirectories(dir)
      val tmp = dir.resolve("bench_full.json.tmp")
      java.nio.file.Files.write(tmp, full.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, dir.resolve("bench_full.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      full
    }

    // warm-up: JVM/codegen/file-listing caches, like the reference's
    // pre-warm SELECT * per table (TPCDS/README "Relevant Features")
    spent("__warmup") {
      Tables.all.foreach(n => Tables.t(spark, sfDir, n).count())
    }

    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Per-query state reset (tools.Harness — shared with the scaling
    // harnesses so a reset fix applies everywhere at once). Round-5 bench
    // showed 2-6× inflation on queries whose code hadn't changed (q121
    // 14.8 s in-run vs 2.4 s isolated): accumulated single-JVM run
    // state, not plan cost. GC is forced only every `gcEvery` queries —
    // between queries, never inside one.
    val gcEvery = 16
    def resetRunState(i: Int): Unit =
      graft.tools.Harness.resetRunState(spark, gc = i % gcEvery == gcEvery - 1)
    graft.tools.Harness.wipeScratch() // residue from earlier runs

    // Pin list: gates whose quiet numbers must exist EVERY round (see the
    // isolated-pass comment below for the per-family history). Defined
    // before the catalog pass because a budget-armed run measures them
    // isolated FIRST.
    val alwaysIsolate = sys.env.get("SPARK_GRAFT_ISOLATE_ALWAYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set("q58_optimize_zorder", "q245_optimizer_apply",
        // r19: the rest of the OPTIMIZE/layout + index-build family —
        // write-heavy gates whose in-run medians inflated vs their quiet
        // warm numbers on a busy box (r19 sitting: q285 8.08 in-run vs
        // 2.9 warm, q283 5.4 vs 3.7, q216 5.25 vs 4.0) while MAD stayed
        // small (correlated inflation, the q58 signature)
        "q121_stats_skipping", "q149_deletion_vectors",
        "q216_dedup_index_table", "q283_optimize_hilbert",
        "q285_between_prune", "q286_isnull_prune", "q287_optimize_where",
        "q246_image_decode", "q247_audio_decode", "q248_image_near_dup",
        "q249_video_decode", "q250_video_frame_sample",
        "q251_audio_near_dup", "q252_video_near_dup",
        "q253_media_quarantine", "q254_mp4_decode",
        "q255_media_quarantine_stages", "q256_mixed_container_near_dup",
        "q257_poster_frame_dedup", "q258_container_normalize",
        "q260_mp4_audio_demux", "q261_mixed_audio_decode",
        "q210_stream_stream_join", "q218_stream_ingest_dedup",
        "q242_stream_vector_ingest", "q259_stream_media_ingest",
        "q270_stream_corpus_health"))

    /** Isolated measurement of one gate: full state reset + forced GC
      * before every rep; recorded into `queries_isolated` unless every
      * rep failed (a -1 there would be preferred by BenchDiff as the
      * record number — review finding). */
    def isolateGate(name: String): Unit = spent("iso:" + name) {
      val fn = SparkEntry.queries(name)
      val times = (1 to repeat).map { _ =>
        resetRunState(gcEvery - 1)
        try timeOne(fn)
        catch { case e: Throwable =>
          System.err.println(s"[bench] isolated $name failed: ${e.getMessage}"); -1.0 }
      }.filter(_ >= 0)
      resetRunState(gcEvery - 1)
      if (times.nonEmpty) {
        val med = median(times)
        isolated += ((name, med, median(times.map(x => math.abs(x - med)))))
        snapshot(partial = true)
      }
    }

    // ---- budget-armed runs: pinned isolate pass FIRST -----------------
    // When a real wall-clock budget arms (the driver's 3000 s default —
    // local sittings set an effectively-off budget), the ambient-
    // sensitive pinned gates are measured ISOLATED before the catalog's
    // repeat-N pass, ordered by the PREVIOUS round's in-run MAD
    // (descending — noisiest first), so quiet numbers for the dozen
    // gates that need them exist even if the budget later truncates
    // everything (r17's driver record degraded to repeat-1 with the
    // isolated pass cut — VERDICT r17 #1a). Local unbudgeted sittings
    // keep the r10-r17 order (isolated AFTER the catalog, warm JVM) so
    // their numbers stay comparable across rounds.
    val isolateFirst = budgetSec > 0 &&
      budgetSec <= envDouble("SPARK_GRAFT_ISOLATE_FIRST_UNDER", 10000.0)
    if (isolateFirst) {
      val prevMad: Map[String, Double] = {
        val path = sys.env.get("SPARK_GRAFT_PREV_BENCH").orElse {
          val rs = Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
            .map(_.getName).filter(_.matches("BENCH_LOCAL_r\\d+\\.json"))
          if (rs.isEmpty) None
          else Some(rs.maxBy(_.replaceAll("\\D", "").toInt))
        }
        path.flatMap { p =>
          try {
            val root = new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(new java.io.File(p))
            Option(root.get("queries_mad")).map { m =>
              import scala.jdk.CollectionConverters._
              m.fields().asScala
                .map(e => e.getKey -> e.getValue.asDouble()).toMap
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        }.getOrElse(Map.empty)
      }
      val pinned = queries.map(_._1).filter(alwaysIsolate.contains)
        .sortBy(n => (-prevMad.getOrElse(n, 0.0), n))
      System.err.println(f"[bench] budget armed ($budgetSec%.0f s): isolating " +
        s"${pinned.size} pinned gates first (prev-MAD order)")
      // the pass itself is budget-capped: on a badly loaded box 22
      // pinned gates × reps could alone eat the whole budget before any
      // catalog measurement exists (review finding) — past 40% stop
      // admitting, the rest fall back to the late MAD-triggered pass
      pinned.foreach { n =>
        if (!overBudget(0.40, "isolate_first_truncated")) isolateGate(n)
      }
    }

    // ---- catalog pass -------------------------------------------------
    // median is the headline statistic; mad = median(|rep − median|) is
    // the per-query spread, so a future round can tell a real regression
    // (delta ≫ mad) from run-to-run noise (delta ≲ a few mad)
    // mechanically instead of re-litigating it with isolated reruns
    queries.zipWithIndex.foreach { case ((name, fn), i) =>
      spent(name) {
        // budget degrade #1: past 85% of the budget the remaining gates
        // run ONCE — a 1-rep median is noisier, never missing
        val reps = if (overBudget(0.85, "catalog_repeat_1")) 1 else repeat
        val times = (1 to reps).map { _ =>
          try timeOne(fn)
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
        }
        resetRunState(i)
        val okT = times.filter(_ >= 0)
        results += (if (okT.isEmpty) (name, -1.0, -1.0, -1.0)
        else {
          val med = median(okT)
          (name, med, okT.min, median(okT.map(x => math.abs(x - med))))
        })
      }
      snapshot(partial = true)
    }

    val ok = results.filter(_._2 >= 0).toSeq

    // concurrent QPM over the read-only relational subset (the reference's
    // throughput mode: N workers, cache off). DDL/scratch-table queries are
    // excluded — they share session temp-view names.
    // two-digit q0x–q4x only: the 3-digit q1xx/q2xx families are DDL,
    // streaming, and table-maintenance scripts, not the read-only subset
    val readOnly = queries.filter(q => q._1.matches("^q[0-4]\\d_.*"))
    // budget degrade #2: the concurrency pass is an extra full sweep of
    // the read-only subset — skip it past 80% (concurrent_qpm stays 0.0,
    // the same value a conc<=1 run reports)
    if (conc > 1 && readOnly.nonEmpty && !overBudget(0.80, "concurrency_skipped")) {
      spent("__concurrency") {
        import java.util.concurrent.Executors
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        val pool = Executors.newFixedThreadPool(conc)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val t0 = System.nanoTime()
        Await.result(Future.sequence(readOnly.map { case (_, fn) =>
          Future { try timeOne(fn) catch { case _: Throwable => -1.0 } }
        }), 30.minutes)
        pool.shutdown()
        concurrentQpm = readOnly.size * 60.0 / ((System.nanoTime() - t0) / 1e9)
      }
      snapshot(partial = true)
    }

    // ---- isolated-rep pass for high-MAD gates -------------------------
    // The catalog run times every gate in one long JVM session, so a
    // gate's median can be inflated by its NEIGHBORS (shuffle-file
    // cleanup, codegen cache churn, GC debt a previous query accrued) —
    // round 9's two worst-MAD gates were exactly the two in-gate
    // production loops, making round-over-round comparison of the
    // flagship gates the least trustworthy numbers in the file.
    // Mechanical answer: any gate whose MAD exceeds BOTH an absolute
    // floor and k× the catalog's median MAD is re-measured isolated —
    // full state reset + forced GC before every rep — and the quiet
    // number is recorded alongside (never replacing) the in-run median,
    // so BenchDiff can attribute a delta to neighbor noise without
    // re-litigation.
    val madK = envDouble("SPARK_GRAFT_ISOLATE_MAD_K", 10)
    val madFloor = envDouble("SPARK_GRAFT_ISOLATE_MAD_FLOOR", 0.3)
    val classMad = median(ok.map(_._4).filter(_ >= 0) match {
      case s if s.isEmpty => Seq(0.0); case s => s })
    // Pin-list rationale (the list itself is defined before the catalog
    // pass): gates that inflate under CO-LOCATED load outside this
    // JVM (q58's driver-run history: in-run 9.31/MAD 2.97 vs isolated
    // 3.73 across three rounds, while the full catalog run on a quiet
    // box measures 4.01/MAD 0.03 and stays ≤ 4.1 s under sustained
    // disk/cpu hogs — target/q58exp*). The MAD trigger only fires when
    // the interference hits the measured reps; pinning records the
    // quiet number EVERY round so BenchDiff never lacks it.
    // The media-codec family and q245 joined the list after the r11
    // driver sitting: per-row CPU-dense gates amplify ambient host
    // load the most (q252 in-run 90.8 s / MAD 45.7 vs 3.87 s isolated,
    // q245 16.7 vs 4.8, q250 8.4 vs 3.6 — same code measured 3.8/4.0/
    // 3.6 s on a quiet box), so their in-run medians are the least
    // trustworthy numbers in the file whenever the driver box is busy.
    // The heavy STREAMING loops are the other ambient-sensitive class
    // — not CPU-dense but wall-clock-bound (awaitTermination over
    // micro-batch triggers, so co-located load stretches every batch
    // boundary): a round-12 sitting read q210 at 11.05 s in-run vs
    // 3.75 s isolated. Pin the three heaviest so their quiet numbers
    // are on record even when interference hits all reps equally
    // (uniform inflation leaves MAD small and the trigger blind —
    // the q58 lesson).
    // Second trigger, for CORRELATED window inflation: when ambient load
    // hits every rep of a gate equally, MAD stays small (the reps agree
    // with each other) while median/min stretches — the q58/q62
    // signature that left the MAD rule blind (round 12: q62 3.97 s
    // in-run, MAD 0.157, rep-min 1.88 — no isolated number on record).
    // Any gate whose median exceeds divK× its own best rep by more than
    // the absolute floor gets the isolated pass too, so the quiet number
    // is always on record without growing the pin list one postmortem
    // at a time.
    val divK = envDouble("SPARK_GRAFT_ISOLATE_DIV_K", 1.8)
    val alreadyIsolated = isolated.map(_._1).toSet // the isolate-first pass
    val flagged = (ok.filter { case (_, med, mn, mad) =>
      (mad > madFloor && mad > madK * classMad) ||
        (mn > 0 && med / mn > divK && med - mn > madFloor) }.map(_._1) ++
      alwaysIsolate.filter(n => ok.exists(_._1 == n)))
      .distinct.filterNot(alreadyIsolated.contains)
    // budget degrade #3: stop ADMITTING gates to the isolated pass past
    // 90% — quiet numbers already recorded keep (on a budget-armed run
    // the pinned dozen were measured FIRST, so this truncation can only
    // cost MAD-triggered stragglers); the rest fall back to their in-run
    // medians, and value_quiet_gates names the actual substitution set
    // as always
    flagged.foreach { name =>
      if (!overBudget(0.90, "isolated_pass_truncated")) isolateGate(name)
    }

    resetRunState(gcEvery - 1) // clean slate (+GC) before the micro-experiments

    def rmTree(dir: java.nio.file.Path): Unit =
      graft.tables.GraftTable.deleteTree(dir)

    // budget degrade #4: each micro-experiment is skipped past 95% of
    // the budget — its placeholder fields (-1) keep the JSON shape
    // stable and readably mark the skip
    // ZORDER pruning comparison (the BASELINE.md point-lookup experiment:
    // clustered table, point predicate → files skipped + latency ratio)
    if (!overBudget(0.95, "micro_pruning_skipped")) spent("__micro_pruning") {
      import graft.tables.{GraftTable, Maintenance}
      val dir = java.nio.file.Files.createTempDirectory("bench-prune")
      val li = Tables.t(spark, sfDir, "lineitem")
      val t = GraftTable.createFrom(spark, dir.toString + "/t", li)
      t.setProperties(Map("graft.targetFileSize" -> (256 * 1024).toString))
      Maintenance.optimize(t, zorderBy = Seq("l_orderkey"))
      val (kept, totalFiles) = t.pruneFiles("l_orderkey = 4242")
      def tm(f: => Long): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val probe = org.apache.spark.sql.functions.col("l_orderkey") === 4242
      // readFiles passes no stats, so its scan opens every file
      val fullSec = tm(t.readFiles(t.filesAt()).filter(probe).count())
      val prunedSec = tm(t.read().filter(probe).count())
      pruning = f""""pruning":{"files_total":$totalFiles,"files_read":${kept.size},"full_scan_sec":$fullSec%.3f,"pruned_sec":$prunedSec%.3f}"""
      rmTree(dir); snapshot(partial = true)
    }

    // 2-column Z-order: interleaved z-curve layout vs lexicographic
    // range-cluster, same box predicate — the z-curve subdivides both
    // dimensions, so the box should read fewer files than the
    // leading-column-only pruning the lexicographic layout allows
    if (!overBudget(0.95, "micro_pruning2d_skipped")) spent("__micro_pruning2d") {
      import graft.tables.{GraftTable, Maintenance}
      val dir = java.nio.file.Files.createTempDirectory("bench-prune2d")
      val li = Tables.t(spark, sfDir, "lineitem")
      val Seq(okLo, okHi, pkLo, pkHi) = {
        val r = li.agg(
          org.apache.spark.sql.functions.min("l_orderkey"),
          org.apache.spark.sql.functions.max("l_orderkey"),
          org.apache.spark.sql.functions.min("l_partkey"),
          org.apache.spark.sql.functions.max("l_partkey")).head()
        Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      // boxes covering ~1/8 of each dimension at several offsets —
      // aggregate files read models a box-query workload (a single box
      // can land on a quad boundary where either layout happens to win)
      def pct(lo: Long, hi: Long, f: Double): Long = lo + ((hi - lo) * f).toLong
      val preds = Seq(0.05, 0.25, 0.45, 0.65, 0.85).map { f =>
        s"l_orderkey >= ${pct(okLo, okHi, f)} AND l_orderkey <= ${pct(okLo, okHi, f + 0.125)} AND " +
          s"l_partkey >= ${pct(pkLo, pkHi, f)} AND l_partkey <= ${pct(pkLo, pkHi, f + 0.125)}"
      }
      def mk(name: String, interleave: Boolean): (Int, Int) = {
        val t = GraftTable.createFrom(spark, dir.toString + "/" + name, li)
        t.setProperties(Map("graft.targetFileSize" -> (128 * 1024).toString))
        Maintenance.optimize(t, zorderBy = Seq("l_orderkey", "l_partkey"),
          interleave = interleave)
        (preds.map(p => t.pruneFiles(p)._1.size).sum, t.pruneFiles(preds.head)._2)
      }
      val (zKept, zTotal) = mk("z", interleave = true)
      val (rKept, _) = mk("r", interleave = false)
      pruning2d = s""""pruning2d":{"files_total":$zTotal,"boxes":${preds.size},"files_read_zorder":$zKept,"files_read_range":$rKept}"""
      rmTree(dir); snapshot(partial = true)
    }

    // merge-batch latency, fragmented vs compacted target (BASELINE.md
    // note (c): the Step-2 experiment)
    if (!overBudget(0.95, "micro_merge_skipped")) spent("__micro_merge") {
      import graft.tables.{GraftTable, Maintenance, MergeOps}
      import org.apache.spark.sql.functions.lit
      val dir = java.nio.file.Files.createTempDirectory("bench-merge")
      val o = Tables.t(spark, sfDir, "orders")
      val batch = o.limit(1000).withColumn("o_totalprice", lit(0.0))
      def mergeInto(t: GraftTable): Double = {
        val t0 = System.nanoTime()
        MergeOps.mergeInto(t, batch, "target.o_orderkey = source.o_orderkey",
          matched = Seq(MergeOps.WhenMatched(None, MergeOps.UpdateAll)))
        (System.nanoTime() - t0) / 1e9
      }
      val frag = GraftTable.create(spark, dir.toString + "/frag", o.schema)
      frag.append(o.repartition(64)) // 64 small files
      val fragSec = mergeInto(frag)
      val comp = GraftTable.createFrom(spark, dir.toString + "/comp", o)
      Maintenance.optimize(comp, zorderBy = Seq("o_orderkey"))
      val compSec = mergeInto(comp)
      mergeCmp = f""""merge_fragmented_sec":$fragSec%.3f,"merge_compacted_sec":$compSec%.3f"""
      rmTree(dir); snapshot(partial = true)
    }

    // DELETE latency: deletion-vector (merge-on-read) vs copy-on-write on
    // the same predicate — the DV value proposition is O(matched rows)
    // sidecar writes instead of file rewrites
    if (!overBudget(0.95, "micro_delete_skipped")) spent("__micro_delete") {
      import graft.tables.{GraftTable, MergeOps}
      val dir = java.nio.file.Files.createTempDirectory("bench-dv")
      val li = Tables.t(spark, sfDir, "lineitem")
      def timeDelete(t: GraftTable): Double = {
        val t0 = System.nanoTime()
        MergeOps.delete(t, "l_quantity > 48")
        (System.nanoTime() - t0) / 1e9
      }
      val cow = GraftTable.create(spark, dir.toString + "/cow", li.schema)
      cow.append(li.repartition(16))
      val cowSec = timeDelete(cow)
      val dv = GraftTable.create(spark, dir.toString + "/dv", li.schema,
        Map("graft.deletionVectors" -> "true"))
      dv.append(li.repartition(16))
      val dvSec = timeDelete(dv)
      deleteCmp = f""""delete_cow_sec":$cowSec%.3f,"delete_dv_sec":$dvSec%.3f"""
      rmTree(dir); snapshot(partial = true)
    }

    // The harness keeps only the last ~2000 chars of stdout: a JSON line
    // carrying all ~110 per-query timings is front-truncated there and
    // never parses. So: (1) the full map goes to a file + a prefixed
    // detail line (greppable, not mistakable for the metric line), and
    // (2) the FINAL line is a compact JSON — headline numbers plus the
    // slowest queries — sized to survive the tail buffer intact.
    val full = snapshot(partial = false)
    println(s"[bench-detail] $full")
    val okF = results.filter(_._2 >= 0).toSeq
    val total = okF.map(_._2).sum
    val qpm = if (total > 0) okF.size * 60.0 / total else 0.0
    val totalMad = okF.map(_._4).sum
    val isoMed = isolated.map(i => i._1 -> i._2).toMap
    val totalQuiet = okF.map { case (n, med, _, _) =>
      isoMed.getOrElse(n, med) }.sum
    val qsIso = isolated.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val slowestQ = okF.sortBy(-_._2).take(12)
    val slowest = slowestQ
      .map { case (k, v, _, _) => "\"" + k + f"\":$v%.2f" }.mkString("{", ",", "}")
    val slowestMad = slowestQ
      .map { case (k, _, _, v) => "\"" + k + f"\":$v%.2f" }.mkString("{", ",", "}")
    val slowestEff = slowestQ
      .map { case (k, v, _, _) => "\"" + k + f"\":${isoMed.getOrElse(k, v)}%.2f" }
      .mkString("{", ",", "}")
    val degradedJson = degraded.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(
      f"""{"metric":"total_sec","value":$total%.2f,"value_quiet":$totalQuiet%.2f,"unit":"sec","stat":"median","total_mad":$totalMad%.2f,"qpm":$qpm%.1f,"concurrent_qpm":$concurrentQpm%.1f,"concurrency":$conc,$pruning,$pruning2d,$mergeCmp,$deleteCmp,"n_queries":${okF.size},"repeat":$repeat,"degraded":$degradedJson,"queries":$slowest,"queries_mad":$slowestMad,"queries_isolated":$qsIso,"queries_effective":$slowestEff,"queries_full":"target/bench_full.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
