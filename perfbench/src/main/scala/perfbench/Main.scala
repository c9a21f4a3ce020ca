package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.JavaConverters._
import scala.collection.mutable

import graft.GraftSession
import graft.tables.GraftTable

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--scale <x>] [--corrupt 1] [--work-dir <d>] [--trace-out <f>]
  * }}}
  *
  * Prints human-readable lines, then one JSON line: with `--trace 0` the
  * end-to-end metrics, with `--trace 1` the per-layer metrics (see
  * perfbench/README.md). Exit code 0 means the run completed; the JSON's
  * `correct` says whether every check passed. */
object Main {

  val workloads: Seq[Workload] = Seq(LogChurn, StreamDedup)

  final case class Phase(rec: Recorder, wallS: Double, heapMb: Double, verdict: Verdict,
      storedBytes: Long, probe: SparkProbe, stream: StreamProbe,
      newCommits: Seq[graft.tables.Commit], endState: Map[String, Double],
      tablePaths: Seq[String])

  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workloads.find(x => a.get("workload").contains(x.name)).getOrElse {
      System.err.println(s"usage: --workload <${workloads.map(_.name).mkString("|")}> " +
        "--seed <n> --seconds <s> --trace <0|1>")
      sys.exit(2)
    }
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val scale = a.getOrElse("scale", "1").toDouble
    val workDir = Paths.get(a.getOrElse("work-dir", "bench-work")).toAbsolutePath
    val traceOut = a.get("trace-out")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // a traced run builds two copies of the state: one traced, one not
    val phases = if (traced) 2 else 1
    val b = new Bench(spark, seed, scale, workDir, a.get("corrupt").contains("1"), seconds * 4 + 20)

    try {
      // a traced run runs the sequence twice (traced, then untraced for the
      // overhead), each half as long, to stay within the same run time limit
      val fullOps = math.max(4, math.round(seconds * w.opsPerSecond).toInt)
      val nOps = if (traced) math.max(4, fullOps / 2) else fullOps
      val (in, genS) = timed(w.gen(b, nOps))
      val built = (0 until phases).map { r =>
        val d = b.dir(s"state$r")
        val (st, s) = timed(w.build(b, in, d))
        (d, st, s)
      }
      val setupS = sessionS + genS + Bench.median(built.map(_._3))
      println(f"[perfbench] ${w.name} seed=$seed ops=$nOps session=${sessionS}%.2fs " +
        f"inputs=${genS}%.2fs builds=${built.map(x => f"${x._3}%.2f").mkString("/")}s")

      // traced first, right after set up like an untraced run, so the
      // overhead it reports (traced minus untraced) errs high, not low
      val tracedPhase = if (traced) Some(phase(b, w)(in, built.head._2, nOps, traced = true)) else None
      val plain = phase(b, w)(in, built.last._2, nOps, traced = false)
      val runs = tracedPhase.toSeq :+ plain

      val e2e = endToEnd(w)(in, plain, setupS)
      val attempted = runs.map(_.rec.ops.size).sum
      val failedIds = runs.map(p => p.rec.ops.filter(o => !o.ok).map(_.id).toSet ++ p.verdict.failedOps)
      val failed = failedIds.map(_.size).sum
      val correct = failed == 0 && runs.forall(_.verdict.passed) && attempted >= nOps * phases
      runs.foreach(report)
      println(s"[perfbench] end_to_end ${json(e2e)}")
      extras(plain)
      println(f"[perfbench] error_rate=${failed.toDouble / math.max(1, attempted)}%.4f " +
        s"attempted=$attempted failed=$failed correct=$correct")
      val out: Metrics = tracedPhase.map { t =>
        val m = perLayer(t)
        println(f"[perfbench] attribution per traced op: wall ${m("attr.wall_ms_per_op")._1}%.1f ms = " +
          f"spark jobs ${m("attr.spark_job_ms_per_op")._1}%.1f + " +
          Seq("sql", "tables", "streaming", "text").map(l => f"$l ${m(s"attr.$l.self_ms_per_op")._1}%.1f").mkString(" + ") +
          f" + unattributed ${m("attr.unattributed_ms_per_op")._1}%.1f (${m("attr.unattributed_frac")._1 * 100}%.1f%%)")
        val te = endToEnd(w)(in, t, setupS)
        e2e.foreach { case (k, (v, u)) if k != "setup_s" =>
          m(s"trace.overhead.$k") = (te(k)._1 - v, u)
          case _ =>
        }
        traceOut.foreach(writeTrace(_, t))
        m
      }.getOrElse(e2e)
      println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${json(out)}}""")
    } finally {
      spark.stop()
      GraftTable.deleteTree(workDir)
    }
  }

  def timed[A](body: => A): (A, Double) = {
    val s = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - s) / 1e9)
  }

  def phase(b: Bench, w: Workload)(in: w.In, st: w.St, nOps: Int, traced: Boolean): Phase = {
    val rec = new Recorder(traced)
    val probe = new SparkProbe
    val stream = new StreamProbe
    val sc = b.spark.sparkContext
    if (traced) { sc.addSparkListener(probe); b.spark.streams.addListener(stream) }
    val before = w.tables(st).map(t => t.path -> t.currentVersion).toMap
    // every phase starts from a collected heap, whatever set up (one build
    // or two) or an earlier phase left behind
    heapMb()
    b.startPhase()
    val (_, wall) = timed(w.run(b, in, st, rec, nOps))
    if (traced) {
      org.apache.spark.perfbenchbridge.Listeners.drain(sc)
      sc.removeSparkListener(probe); b.spark.streams.removeListener(stream)
    }
    val heap = heapMb()
    val v0 = System.nanoTime()
    val tables = w.tables(st)
    val commits = tables.flatMap(t => t.commits.filter(_.version > before.getOrElse(t.path, -1L)))
    val endState = Map(
      "tables.log.bytes" -> tables.map(t => Bench.bytesUnder(s"${t.path}/_log")).sum.toDouble,
      "tables.log.checkpoint_bytes" -> tables.map(t => checkpointBytes(t.path)).sum.toDouble,
      "tables.log.versions" -> tables.map(_.currentVersion + 1).sum.toDouble,
      "tables.live_files" -> tables.map(_.filesAt().size).sum.toDouble,
      "tables.dv_files" -> tables.map(_.dvAt().size).sum.toDouble)
    val stored = tables.map(t => Bench.bytesUnder(t.path)).sum
    val verdict = w.verify(b, in, st, rec)
    println(f"[perfbench] ${if (traced) "traced" else "untraced"} phase: ops=${rec.ops.size} wall=${wall}%.2fs " +
      f"checks=${(System.nanoTime() - v0) / 1e9}%.2fs")
    Phase(rec, wall, heap, verdict, stored, probe, stream, commits, endState, tables.map(_.path))
  }

  def checkpointBytes(path: String): Long = {
    val d = Paths.get(path, "_log")
    if (!Files.isDirectory(d)) 0L
    else {
      val s = Files.list(d)
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("checkpoint")).map(Files.size).sum
      finally s.close()
    }
  }

  /** Heap in use after full GCs. Spark's ContextCleaner frees broadcast and
    * shuffle blocks asynchronously once their handles are collected, so it
    * gets time between the collections. */
  def heapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def endToEnd(w: Workload)(in: w.In, p: Phase, setupS: Double): Metrics = {
    val ops = p.rec.ops.toSeq
    val m: Metrics = mutable.LinkedHashMap()
    m("setup_s") = (setupS, "s")
    m("ops_per_s") = (ops.size / p.wallS, "1/s")
    m("op_p50_ms") = (Bench.median(ops.map(_.ms)), "ms")
    m("read_p50_ms") = (Bench.median(ops.filter(_.read).map(_.ms)), "ms")
    m("write_p50_ms") = (Bench.median(ops.filter(_.write).map(_.ms)), "ms")
    m("rows_per_s") = (ops.filter(_.ok).map(_.rows).sum / p.wallS, "rows/s")
    m("stored_bytes_per_user_byte") =
      (p.storedBytes.toDouble / w.userBytes(in), "ratio")
    m("driver_heap_mb") = (p.heapMb, "MB")
    m
  }

  /** Tail percentiles are printed only where at least ten samples lie
    * beyond them, with the sample count; they are not part of the JSON. */
  def extras(p: Phase): Unit = {
    val xs = p.rec.ops.map(_.ms).toSeq
    val tails = Seq(90.0, 99.0).filter(q => xs.size * (100 - q) / 100 >= 10)
      .map(q => f"op_p${q.toInt}_ms=${Bench.percentile(xs, q)}%.2f")
    println(s"[perfbench] samples=${xs.size} " +
      (if (tails.isEmpty) "op_p90_ms/op_p99_ms: fewer than 10 samples beyond, not reported"
       else tails.mkString(" ")))
  }

  def report(p: Phase): Unit = {
    val mode = if (p.rec.traced) "traced" else "untraced"
    p.rec.ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      println(f"[perfbench] $mode op=$k%-16s n=${os.size}%4d p50=${Bench.median(os.map(_.ms).toSeq)}%9.2fms " +
        s"failed=${os.count(!_.ok)}" + os.find(!_.ok).map(o => s" (${o.err})").getOrElse(""))
    }
    p.verdict.checks.foreach { case (n, ok, d) =>
      println(s"[perfbench] $mode check $n: ${if (ok) "ok" else "FAILED"} $d")
    }
  }

  def perLayer(p: Phase): Metrics = {
    val ops = p.rec.ops.toSeq
    val nOps = math.max(1, ops.size).toDouble
    val toNs: Long => Long = {
      val (ms0, ns0) = (System.currentTimeMillis(), System.nanoTime())
      ms => ns0 + (ms - ms0) * 1000000L
    }
    val inOp = (ms: Long) => { val t = toNs(ms); ops.exists(o => o.startNs <= t && t < o.endNs) }
    val jobs = p.probe.jobs.toSeq.filter(j => inOp(j.startMs))
    val totals = jobs.flatMap(j => p.probe.perJob.get(j.id))
    val split = Attribution.split(ops, p.rec.spans.toSeq, jobs.map(j => (toNs(j.startMs), toNs(j.endMs))))
    val wallMs = split.map(_.wallMs).sum
    val sparkMs = split.map(_.sparkMs).sum
    def med(name: String): Double = Bench.median(p.rec.spansNamed(name).map(s => (s.endNs - s.startNs) / 1e6))
    val m: Metrics = mutable.LinkedHashMap()
    m("spark.jobs_per_op") = (jobs.size / nOps, "count")
    m("spark.tasks_per_op") = (totals.map(_.tasks).sum / nOps, "count")
    m("spark.task_ms_per_op") = (totals.map(_.runMs).sum / nOps, "ms")
    m("spark.cpu_busy_frac") = (totals.map(_.cpuNs).sum / 1e6 / math.max(1.0, wallMs * 4), "frac")
    m("spark.driver_gap_ms_per_op") = ((wallMs - sparkMs) / nOps, "ms")
    m("spark.shuffle_bytes_per_op") = (totals.map(_.shuffleBytes).sum / nOps, "bytes")
    m("spark.spill_bytes") = (totals.map(_.spillBytes).sum.toDouble, "bytes")
    m("spark.gc_ms") = (totals.map(_.gcMs).sum.toDouble, "ms")
    m("sql.resolve_ms") = (med("sql.resolve"), "ms")
    m("sql.exec_ms") = (med("sql.exec"), "ms")
    m("tables.log.commit_ms") = (med("tables.log.commit"), "ms")
    m("tables.log.cold_load_ms") = (med("tables.log.cold_load"), "ms")
    m("tables.log.files_at_ms") = (med("tables.log.files_at"), "ms")
    m("tables.log.history_ms") = (med("tables.log.history"), "ms")
    Seq("tables.log.bytes" -> "bytes", "tables.log.checkpoint_bytes" -> "bytes",
      "tables.log.versions" -> "count").foreach { case (k, u) => m(k) = (p.endState(k), u) }
    m("tables.stats.prune_ms") = (Bench.median(p.rec.prunes.map(_._1).toSeq), "ms")
    m("tables.stats.files_kept_ratio") = (if (p.rec.prunes.isEmpty) 0.0
      else p.rec.prunes.map { case (_, k, t) => k.toDouble / math.max(1, t) }.sum / p.rec.prunes.size, "frac")
    // write amplification: data bytes of every commit but OPTIMIZE per user row changed or ingested
    val writes = p.newCommits.filter(_.operation != "OPTIMIZE")
    val merges = p.newCommits.filter(_.operation == "MERGE")
    val rowsChanged = ops.filter(o => o.ok && o.write).map(_.rows).sum
    m("tables.merge.ms") = (med("tables.merge"), "ms")
    m("tables.merge.files_rewritten_per_op") = (if (merges.isEmpty) 0.0
      else merges.map(_.removedFiles.size).sum.toDouble / merges.size, "count")
    m("tables.merge.bytes_written_per_row_changed") = (if (rowsChanged == 0) 0.0
      else writes.map(addedBytes(p, _)).sum.toDouble / rowsChanged, "bytes")
    m("tables.dml.delete_ms") = (med("tables.dml.delete"), "ms")
    m("tables.dml.update_ms") = (med("tables.dml.update"), "ms")
    m("tables.optimize.ms") = (med("tables.optimize"), "ms")
    m("tables.optimize.bytes_rewritten") = (p.newCommits.filter(_.operation == "OPTIMIZE")
      .map(_.metrics.getOrElse("bytesCompacted", 0L)).sum.toDouble, "bytes")
    m("tables.live_files") = (p.endState("tables.live_files"), "count")
    m("tables.dv_files") = (p.endState("tables.dv_files"), "count")
    val sb = p.stream.batches.toSeq
    def bench(id: Long): Double = p.rec.inBatchMs.getOrElse(id, 0.0)
    m("streaming.batch_ms") = (Bench.median(sb.map(x => x.triggerMs - bench(x.id))), "ms")
    m("streaming.add_batch_ms") = (Bench.median(sb.map(x => x.addBatchMs - bench(x.id))), "ms")
    m("streaming.overhead_ms") = (Bench.median(sb.map(x => (x.triggerMs - x.addBatchMs).toDouble)), "ms")
    m("text.dedup.probe_ms") = (med("text.dedup.probe"), "ms")
    m("text.dedup.index_append_ms") = (med("text.dedup.index_append"), "ms")
    m("text.dedup.survivor_append_ms") = (med("text.dedup.survivor_append"), "ms")
    val batchOut = ops.collect { case o if o.ok && o.kind == "micro_batch" => o.out }
      .collect { case (docs: Long, dropped: Long) => (docs, dropped) }
    m("text.dedup.drop_ratio") = (if (batchOut.isEmpty) 0.0
      else batchOut.map(_._2).sum.toDouble / math.max(1L, batchOut.map(_._1).sum), "frac")
    m("attr.wall_ms_per_op") = (wallMs / nOps, "ms")
    m("attr.spark_job_ms_per_op") = (sparkMs / nOps, "ms")
    Seq("sql", "tables", "streaming", "text").foreach { l =>
      m(s"attr.$l.self_ms_per_op") = (split.map(_.layerMs.getOrElse(l, 0.0)).sum / nOps, "ms")
    }
    val un = split.map(_.unattributedMs).sum
    m("attr.unattributed_ms_per_op") = (un / nOps, "ms")
    m("attr.unattributed_frac") = (if (wallMs == 0) 0.0 else un / wallMs, "frac")
    m
  }

  /** Bytes of the data files a commit added (paths are table-relative). */
  private def addedBytes(p: Phase, c: graft.tables.Commit): Long =
    c.addedFiles.map { f =>
      p.tablePaths.map(Paths.get(_, f)).find(Files.exists(_)).map(Files.size).getOrElse(0L)
    }.sum

  def writeTrace(path: String, p: Phase): Unit = {
    val sb = new StringBuilder
    p.rec.ops.foreach { o =>
      sb ++= s"""{"type":"op","id":${o.id},"kind":"${o.kind}","start_ns":${o.startNs},"end_ns":${o.endNs},"ok":${o.ok}}\n"""
    }
    p.rec.spans.foreach { s =>
      sb ++= s"""{"type":"span","id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}\n"""
    }
    p.probe.jobs.foreach { j =>
      sb ++= s"""{"type":"job","id":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs}}\n"""
    }
    val out = Paths.get(path)
    Option(out.getParent).foreach(Files.createDirectories(_))
    Files.write(out, sb.toString.getBytes("UTF-8"))
  }

  def json(m: Metrics): String = m.map { case (k, (v, u)) =>
    val x = if (v.isNaN || v.isInfinite) 0.0 else v
    s""""$k": {"value": $x, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}
