package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.tables.{GraftTable, Maintenance, MergeOps}

/** One table with a long commit history and many small live files, built
  * through the public API in set up: `Appends` appends of `FilesPerAppend`
  * files each, every one followed by `PropsPerAppend` property commits,
  * then `WarmCycles` untimed cycles of the op sequence. A cycle mixes
  * writers (tiny appends, no-op and point DELETEs, property commits, a
  * point UPDATE, a two-row MERGE upsert and an OPTIMIZE of the files the
  * cycles wrote) with readers (`filesAt` and `read` at seeded old
  * versions, `history`, and cold loads after
  * `GraftTable.clearAllCaches()`). Checks: every reader's answer and the
  * final table match a ledger of (live files, rows) per version derived
  * from the op sequence alone, and exactly the updated and merged rows
  * carry the marker the UPDATE and MERGE set. */
object LogChurn extends Workload {
  val name = "log_churn"
  /** 168 ops (six cycles) at `--seconds 24`. */
  val opsPerSecond = 7.0
  val RowsPerFile = 10
  /** `grp` value the point UPDATE and the MERGE's matched row set. */
  val Marker = -1
  /** Ids of the rows the MERGE inserts: above every appended id. */
  val MergeInsertBase = 1000000000L
  /** Cycles set up runs on the table itself before timing, so that the
    * timed cycles run the JVM's compiled code, as a long-lived service
    * does, rather than a warm-up whose length depends on the machine. */
  val WarmCycles = 2

  final case class In(dir: String, appends: Int, filesPerAppend: Int, propsPerAppend: Int,
      bytes: Long) {
    def setupFiles: Int = appends * filesPerAppend
    def setupVersions: Int = 1 + appends * (1 + propsPerAppend)
    /** Every id the cycles write (appends, MERGE) is at least this;
      * every id of the history is below it. */
    def timedIds: Long = setupFiles.toLong * RowsPerFile
  }
  /** `warm`: the ops of the warm-up cycles, which the ledger includes. */
  final case class St(t: GraftTable, warm: Seq[OpRec])

  /** Twenty-one of 28 ops touch only the log. The counts put each
    * median in the middle of one group of log ops rather than between two
    * groups: reads at the middle cold load, writes at the middle no-op
    * DELETE, all ops among the cold loads. The OPTIMIZE directly follows
    * the MERGE, whose output file count is the engine's choice, so no
    * reader sees the table between them. */
  val cycle = Seq("append", "cold_load", "set_props", "files_at_old", "cold_load",
    "noop_delete", "set_props", "cold_load", "history", "cold_load",
    "set_props", "point_delete", "cold_load", "noop_delete", "cold_load",
    "read_version", "set_props", "point_update", "cold_load", "noop_delete",
    "files_at_old", "cold_load", "set_props", "cold_load", "noop_delete",
    "cold_load", "merge_upsert", "optimize")
  val writers = Set("append", "noop_delete", "point_delete", "set_props", "point_update",
    "merge_upsert", "optimize")

  def rows(g: Gen, b: Bench, from: Long, n: Long, files: Int): DataFrame =
    b.spark.range(from, from + n, 1, files).select(col("id"), g.mod(80, 16, col("id")).cast("int").as("grp"),
      hex(g.h(81, col("id"))).as("payload"))

  def gen(b: Bench, nOps: Int): In = {
    val g = new Gen(b.seed)
    val in = In(b.dir("input"), b.n(6, 2), 10, b.n(49, 1), 0L)
    val appends = WarmCycles + cycles(nOps)
    require(2 * appends <= in.setupFiles, s"$nOps ops need more setup files than ${in.setupFiles}")
    val total = (in.setupFiles + appends).toLong * RowsPerFile
    rows(g, b, 0, total, 4).write.parquet(s"${in.dir}/rows")
    in.copy(bytes = Bench.bytesUnder(in.dir))
  }

  def build(b: Bench, in: In, dir: String): St = {
    val g = new Gen(b.seed)
    val t = GraftTable.create(b.spark, s"$dir/churn", rows(g, b, 0, 1, 1).schema)
    (0 until in.appends).foreach { j =>
      val n = in.filesPerAppend.toLong * RowsPerFile
      t.append(rows(g, b, j * n, n, in.filesPerAppend))
      (0 until in.propsPerAppend).foreach(p => t.setProperties(Map("churn.setup" -> s"$j.$p")))
    }
    val warm = new Recorder(false)
    runCycles(b, in, t, warm, 0, WarmCycles)
    St(t, warm.ops.toSeq)
  }

  /** Seeded op parameters: old versions to read (by op index, counted
    * from the first warm-up op), and setup rows to delete and to update
    * (one of each per cycle, each in a different setup file; they do not
    * depend on the op count). */
  final case class Params(versions: IndexedSeq[Long], victims: IndexedSeq[Long]) {
    def delete(c: Int): Long = victims(2 * c)
    def update(c: Int): Long = victims(2 * c + 1)
  }

  /** Whole cycles that issue at least `nOps` ops. */
  def cycles(nOps: Int): Int = math.ceil(nOps.toDouble / cycle.size).toInt

  def params(b: Bench, in: In, totalCycles: Int): Params = {
    val r = b.rng(3)
    val versions = (0 until totalCycles * cycle.size).map(_ => 1L + r.nextInt(in.setupVersions - 1))
    val v = b.rng(4)
    val victims = v.shuffle((0 until in.setupFiles).toVector)
      .map(f => f.toLong * RowsPerFile + v.nextInt(RowsPerFile))
    Params(versions, victims)
  }

  /** First id of the `c`-th cycle's append (the row the `c`-th MERGE matches). */
  def appendedId(in: In, c: Int): Long = in.timedIds + c.toLong * RowsPerFile

  def run(b: Bench, in: In, st: St, rec: Recorder, nOps: Int): Unit =
    runCycles(b, in, st.t, rec, WarmCycles, cycles(nOps))

  /** Cycles `from` until `from + n` of the op sequence. */
  def runCycles(b: Bench, in: In, t: GraftTable, rec: Recorder, from: Int, n: Int): Unit = {
    val g = new Gen(b.seed)
    val p = params(b, in, from + n)
    (from * cycle.size until (from + n) * cycle.size).foreach { i =>
      val c = i / cycle.size
      if (!b.overDeadline) cycle(i % cycle.size) match {
        case "append" =>
          rec.op("append", write = true, rows = RowsPerFile) {
            rec.span("tables.append")(t.append(rows(g, b, appendedId(in, c), RowsPerFile, 1))).version
          }
        case "files_at_old" =>
          rec.op("files_at_old", read = true) {
            (p.versions(i), rec.span("tables.log.files_at")(t.filesAt(p.versions(i))).size.toLong)
          }
        case "noop_delete" =>
          b.shadowPrune(rec, t, "id < 0")
          rec.op("noop_delete", write = true) {
            rec.span("tables.log.commit")(MergeOps.delete(t, "id < 0")).version
          }
        case "read_version" =>
          rec.op("read_version", read = true) {
            (p.versions(i), rec.span("tables.read_version")(t.read(p.versions(i)).count()))
          }
        case "point_delete" =>
          val pred = s"id = ${p.delete(c)}"
          b.shadowPrune(rec, t, pred)
          rec.op("point_delete", write = true, rows = 1) {
            rec.span("tables.dml.delete")(MergeOps.delete(t, pred)).version
          }
        case "point_update" =>
          val pred = s"id = ${p.update(c)}"
          b.shadowPrune(rec, t, pred)
          rec.op("point_update", write = true, rows = 1) {
            rec.span("tables.dml.update")(MergeOps.update(t, Map("grp" -> Marker.toString), pred)).version
          }
        case "merge_upsert" =>
          // one row of this cycle's append is updated, one new row inserted
          val src = b.spark.range(2).select(
            when(col("id") === 0, lit(appendedId(in, c))).otherwise(lit(MergeInsertBase + c)).as("id"),
            lit(Marker).as("grp"), lit("merged").as("payload"))
          rec.op("merge_upsert", write = true, rows = 2) {
            rec.span("tables.merge")(MergeOps.mergeInto(t, src, "target.id = source.id",
              matched = Seq(MergeOps.WhenMatched(None, MergeOps.UpdateAll)),
              notMatched = Seq(MergeOps.WhenNotMatched(None, MergeOps.InsertAll)))).version
          }
        case "optimize" =>
          val pred = s"id >= ${in.timedIds}"
          b.shadowPrune(rec, t, pred)
          rec.op("optimize", write = true) {
            rec.span("tables.optimize")(Maintenance.optimizeWhere(t, pred)).version
          }
        case "history" =>
          rec.op("history", read = true) { rec.span("tables.log.history")(t.history.count()) }
        case "set_props" =>
          rec.op("set_props", write = true) {
            rec.span("tables.log.commit")(t.setProperties(Map("churn.op" -> i.toString))).version
          }
        case "cold_load" =>
          rec.op("cold_load", read = true) {
            rec.span("tables.log.cold_load") {
              GraftTable.clearAllCaches()
              GraftTable.load(b.spark, t.path).filesAt().size.toLong
            }
          }
      }
    }
  }

  /** (live files, rows) after every version, from the op sequence alone.
    * The setup files stay as many: a point DELETE or UPDATE rewrites the
    * one 10-row file it touches into one file. The files holding
    * cycle-written ids grow by one per tiny append; the MERGE rewrites one
    * of them into as many files as the engine chooses (unknown: None), and
    * the OPTIMIZE that follows compacts them, when there are at least
    * two, into one (their bytes are far below the target file size). */
  def ledger(in: In, kinds: Seq[String]): IndexedSeq[(Option[Long], Long)] = {
    val perAppend = in.filesPerAppend.toLong
    val setup = (Option(0L), 0L) +: (0 until in.appends).flatMap { j =>
      val f = (j + 1) * perAppend
      Seq.fill(1 + in.propsPerAppend)((Option(f), f * RowsPerFile))
    }
    var timed = Option(0L)
    kinds.filter(writers).foldLeft(setup.toVector) { (l, k) =>
      val r = l.last._2
      val rows = k match {
        case "append" => timed = timed.map(_ + 1); r + RowsPerFile
        case "point_delete" => r - 1
        case "merge_upsert" => timed = None; r + 1
        case "optimize" => timed = Some(timed.fold(1L)(math.min(_, 1L))); r
        case _ => r
      }
      l :+ ((timed.map(_ + in.setupFiles), rows))
    }
  }

  /** Ids of the rows carrying `Marker` after the op sequence `kinds`. */
  def marked(in: In, kinds: Seq[String], p: Params): Seq[Long] =
    kinds.zipWithIndex.flatMap { case (k, i) =>
      val c = i / cycle.size
      k match {
        case "point_update" => Seq(p.update(c))
        case "merge_upsert" => Seq(appendedId(in, c), MergeInsertBase + c)
        case _ => Nil
      }
    }

  def verify(b: Bench, in: In, st: St, rec: Recorder): Verdict = {
    val fudge = if (b.corrupt) 1L else 0L
    val ops = rec.ops.toSeq
    val kinds = (st.warm ++ ops).map(_.kind)
    val led = ledger(in, kinds)
    // version current when op i ran = tip after the warm-up + writers before it
    val warmTip = in.setupVersions - 1L + st.warm.count(o => writers(o.kind))
    val tipAt = ops.scanLeft(warmTip)((v, o) => if (writers(o.kind)) v + 1 else v)
    val bad = ops.filter(_.ok).filter { o =>
      o.kind match {
        case "files_at_old" => val (v, n) = o.out.asInstanceOf[(Long, Long)]; !led(v.toInt)._1.contains(n - fudge)
        case "read_version" => val (v, n) = o.out.asInstanceOf[(Long, Long)]; n != led(v.toInt)._2 + fudge
        case "history" => o.out != tipAt(o.id) + 1 + fudge
        case "cold_load" => !led(tipAt(o.id).toInt)._1.contains(o.out.asInstanceOf[Long] - fudge)
        case k if writers(k) => o.out != tipAt(o.id) + 1
        case _ => false
      }
    }.map(_.id).toSet
    val (wantFiles, wantRows) = led.last
    val gotFiles = st.t.filesAt().size.toLong
    val gotRows = st.t.read().count()
    val finalOk = st.t.currentVersion == led.size - 1 && wantFiles.contains(gotFiles - fudge) && gotRows == wantRows
    val want = marked(in, kinds, params(b, in, WarmCycles + cycles(ops.size)))
    val got = st.t.read().where(col("grp") === Marker).agg(count(lit(1)), sum(col("id"))).head()
    val (gotN, gotSum) = (got.getLong(0), if (got.isNullAt(1)) 0L else got.getLong(1))
    val markedOk = gotN == want.size + fudge && gotSum == want.sum
    Verdict(Seq(
      ("warm-up ops succeeded", st.warm.forall(_.ok), s"${st.warm.count(!_.ok)} of ${st.warm.size} failed"),
      ("reader answers and commit versions match the ledger", bad.isEmpty, s"${bad.size} of ${ops.size} differ" +
        ops.filter(o => bad(o.id)).take(3).map(o => s"; op ${o.id} ${o.kind} saw ${o.out}").mkString),
      ("final table matches the ledger", finalOk,
        s"version ${st.t.currentVersion}/${led.size - 1} files $gotFiles/${wantFiles.getOrElse("?")} rows $gotRows/$wantRows"),
      ("exactly the updated and merged rows carry the marker", markedOk,
        s"rows $gotN/${want.size} id sum $gotSum/${want.sum}")),
      bad ++ (if (finalOk) Set.empty[Int] else ops.filter(o => writers(o.kind)).map(_.id).toSet) ++
        (if (markedOk) Set.empty[Int] else ops.filter(o => o.kind == "point_update" || o.kind == "merge_upsert")
          .map(_.id).toSet))
  }

  def userBytes(in: In): Long = in.bytes
  def tables(st: St): Seq[GraftTable] = Seq(st.t)
}
