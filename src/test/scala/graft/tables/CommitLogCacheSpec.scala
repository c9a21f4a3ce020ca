package graft.tables

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.{SparkTestBase, Tables}

/** Commit-log caching + checkpointing: after warm-up, table operations do
  * zero physical log reads; a cold start finds the tip by probing version
  * numbers, never listing `_log`, and reads checkpoint + tail instead of
  * every v*.json. The tip snapshot, extended commit by commit, and every
  * checkpoint-plus-tail snapshot equal a full replay at every version. A
  * log of another format is refused by every entry point. */
class CommitLogCacheSpec extends SparkTestBase {

  /** Versions of the checkpoint files in `t`'s log. */
  private def checkpoints(t: GraftTable): Seq[Long] =
    GraftTable.listDir(Paths.get(t.path, "_log")).map(_.getFileName.toString)
      .filter(_.startsWith("checkpoint-v"))
      .map(_.stripPrefix("checkpoint-v").stripSuffix(".json").toLong).sorted

  private def checkpointFile(t: GraftTable, c: Long) =
    Paths.get(t.path, "_log", f"checkpoint-v$c%020d.json")

  private def checkpointJson(t: GraftTable, c: Long): String =
    new String(Files.readAllBytes(checkpointFile(t, c)), "UTF-8").trim

  /** A cold load: exactly the newest checkpoint at or below the tip (none
    * below v10) plus the commits after it read, and the tip it found is
    * the tip (the next question reads nothing forward). */
  private def coldLoad(t: GraftTable, tag: String): GraftTable = {
    val tip = t.currentVersion
    val want = checkpoints(t).filter(_ <= tip).maxOption.fold(tip + 1)(c => 1 + tip - c)
    GraftTable.clearLogCache(t.path)
    val reads = GraftTable.logFileReads.get()
    val cold = GraftTable.load(spark, t.path)
    assert(GraftTable.logFileReads.get() - reads === want,
      s"$tag: a cold load reads the newest checkpoint plus its tail")
    assert(cold.currentVersion === tip, tag)
    assert(GraftTable.logFileReads.get() - reads === want, s"$tag: the cold load found the tip")
    cold
  }

  /** A cold load of `t` (reading what [[coldLoad]] allows) holds the
    * state the warm cache held: version, files with their stats, DV
    * files, schema, properties. */
  private def coldMatchesWarm(t: GraftTable, tag: String): GraftTable = {
    val w = t.snapshot
    val cold = coldLoad(t, tag)
    val c = cold.snapshot
    assert((c.version, c.timestampMs, c.schemaJson, c.properties, c.identityHighWatermark) ===
      (w.version, w.timestampMs, w.schemaJson, w.properties, w.identityHighWatermark), tag)
    assert(c.files.toSeq === w.files.toSeq && c.dvFiles.keys.toSeq === w.dvFiles.keys.toSeq, tag)
    cold
  }

  /** A table of `n + 1` versions committed without data: each commit adds
    * one file with stats, every third also removes the oldest live file. */
  private def fileOnlyTable(name: String, n: Int): GraftTable = {
    val schema = new StructType().add("k", LongType)
    val t = GraftTable.create(spark, scratch(name), schema)
    (1 to n).foreach(i => commitFile(t, i))
    t
  }

  private def commitFile(t: GraftTable, i: Int): Unit = {
    val f = s"data/c$i/part-0.parquet"
    val removed = if (i % 3 == 0) t.snapshot.files.keys.headOption.toSeq else Nil
    t.commit("WRITE", Seq(f), removed, t.schemaAt(),
      fileStats = Map(f -> Map("k" -> (i.toString, (i + 1).toString))))
  }

  /** Live (data files, DV files) at `v` by the insertion-ordered set fold
    * the snapshot replaced: removes, then adds, per commit. */
  private def setFold(cs: Seq[Commit], v: Long): (Seq[String], Seq[String]) = {
    val live = mutable.LinkedHashSet[String]()
    val dvs = mutable.LinkedHashSet[String]()
    cs.takeWhile(_.version <= v).foreach { c =>
      c.removedFiles.foreach(live -= _); c.addedFiles.foreach(live += _)
      c.removedDvFiles.foreach(dvs -= _); c.addedDvFiles.foreach(dvs += _)
    }
    (live.toSeq, dvs.toSeq)
  }

  test("the warm tip snapshot equals a full replay at every version (random commit sequences)") {
    val schema = new StructType().add("k", LongType)
    Seq(7L, 42L, 1009L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val t = GraftTable.create(spark, scratch(s"snapprop-$seed"), schema)
      val t2 = GraftTable.load(spark, t.path) // a second instance on the same path
      // every data file's stats as first written; files written without
      // stats map to none, and a RESTORE carries what the file had
      val statsOf = mutable.Map[String, FileStats.Stats]()
      var n = 0
      def fresh(dir: String): String = { n += 1; s"$dir/${seed}_$n/part-0.parquet" }
      def newFile(): String = {
        val f = fresh("data")
        if (rnd.nextInt(5) > 0) statsOf(f) = Map("k" -> (n.toString, (n + rnd.nextInt(9)).toString))
        f
      }
      def statsFor(fs: Seq[String]) = fs.flatMap(f => statsOf.get(f).map(f -> _)).toMap
      def pick[A](xs: Seq[A]): Option[A] = if (xs.isEmpty) None else Some(xs(rnd.nextInt(xs.size)))

      def expect(view: GraftTable, v: Long, tag: String): Unit = {
        val (files, dvs) = setFold(view.commits, v)
        val at = view.commits.takeWhile(_.version <= v).last
        val snap = view.snapshotAt(v)
        assert((snap.version, snap.timestampMs, snap.schemaJson, snap.properties,
            snap.identityHighWatermark) === (at.version, at.timestampMs, at.schemaJson, at.properties,
            at.identityHighWatermark), s"$tag state@$v")
        assert(view.filesAt(v) === files.map(f => Paths.get(view.path, f).toString), s"$tag files@$v")
        assert(view.dvAt(v) === dvs.map(f => Paths.get(view.path, f).toString), s"$tag dvs@$v")
        val stats = files.map(f => f -> statsOf.getOrElse(f, Map.empty))
        assert(view.statsAt(v).toSeq === stats, s"$tag stats@$v")
        val replayed = view.commits.takeWhile(_.version <= v).foldLeft(Snapshot.empty)(_ next _)
        assert(replayed.files.toSeq === stats && replayed.dvFiles.keys.toSeq === dvs,
          s"$tag replay@$v")
      }

      (1 to 120).foreach { step =>
        val w = if (rnd.nextBoolean()) t else t2
        val live = w.snapshot.files.keys.toSeq
        val liveDv = w.snapshot.dvFiles.keys.toSeq
        rnd.nextInt(9) match {
          case 0 | 1 => // append
            val fs = Seq.fill(1 + rnd.nextInt(3))(newFile())
            w.commit("WRITE", fs, Nil, schema, fileStats = statsFor(fs))
          case 2 => // one-file rewrite
            pick(live).foreach { old =>
              val f = newFile()
              w.commit("UPDATE", Seq(f), Seq(old), schema, fileStats = statsFor(Seq(f)))
            }
          case 3 => // deletion vector added
            w.commit("DELETE", Nil, Nil, schema, addedDv = Seq(fresh("dv")))
          case 4 => // deletion vector removed (an OPTIMIZE materialized it)
            pick(liveDv).foreach(d => w.commit("OPTIMIZE", Nil, Nil, schema, removedDv = Seq(d)))
          case 5 => // overwrite: every live data and DV file goes
            val fs = Seq.fill(1 + rnd.nextInt(2))(newFile())
            w.commit("OVERWRITE", fs, live, schema, fileStats = statsFor(fs), removedDv = liveDv)
          case 6 => // RESTORE to a random earlier version
            w.restoreTo(rnd.nextInt(w.currentVersion.toInt + 1).toLong)
          case 7 => // a live file re-added in place, or removed and re-added
            pick(live).foreach { f =>
              if (rnd.nextBoolean()) w.commit("WRITE", Seq(f), Nil, schema)
              else w.commit("REWRITE", Seq(f), Seq(f), schema)
            }
          case _ => // a writer outside this session: the next read re-lists
            val fs = Seq(newFile())
            val c = Commit(w.currentVersion + 1, System.currentTimeMillis(), "WRITE",
              Map.empty, fs, Nil, schema.json, w.properties, 0L, Map.empty, statsFor(fs))
            Files.write(Paths.get(w.path, "_log", f"v${c.version}%020d.json"),
              GraftTable.renderCommit(c).getBytes("UTF-8"))
        }
        expect(if (step % 2 == 0) t else t2, Long.MaxValue, s"seed $seed step $step tip")
      }
      val tip = t.currentVersion
      (0L to tip).foreach(v => expect(t, v, s"seed $seed warm"))

      // every checkpoint the session wrote is the state at its version:
      // its live files, not the history
      val ckpts = checkpoints(t)
      assert(ckpts.nonEmpty)
      ckpts.foreach { c =>
        val json = checkpointJson(t, c)
        assert(!json.startsWith("["), s"seed $seed checkpoint $c is a state")
        val s = GraftTable.parseCheckpoint(json)
        assert(s.version === c && s.files.toSeq === t.snapshotAt(c).files.toSeq &&
          s.dvFiles.keys.toSeq === t.snapshotAt(c).dvFiles.keys.toSeq, s"seed $seed checkpoint $c")
      }

      // cold load through the newest checkpoint plus its tail
      val cold = coldLoad(t, s"seed $seed")
      (0L to tip).foreach(v => expect(cold, v, s"seed $seed cold"))
    }
  }

  test("warm metadata ops do no log-file reads; cold start reads ckpt + tail") {
    val region = Tables.t(spark, sf, "region")
    val t = GraftTable.createFrom(spark, scratch("logcache"), region)
    // 120 metadata-only commits (append-only log; checkpoints every 10)
    (1 to 120).foreach(i => t.setProperties(Map("k" -> i.toString)))
    val nVersions = t.currentVersion
    assert(nVersions === 121L)

    val filesWarm = t.filesAt()
    t.history.count() // history is read from the commit files on first use
    val before = GraftTable.logFileReads.get()
    (1 to 10).foreach { _ =>
      t.filesAt(); t.schemaAt(); t.properties; t.history.count(); t.currentVersion
    }
    assert(GraftTable.logFileReads.get() === before, "warm ops must not re-read the log")

    // cold start (fresh JVM simulation): checkpoint + tail, not O(versions)
    GraftTable.clearLogCache(t.path)
    val coldBefore = GraftTable.logFileReads.get()
    val t2 = GraftTable.load(spark, t.path)
    val filesCold = t2.filesAt()
    val coldReads = GraftTable.logFileReads.get() - coldBefore
    assert(coldReads <= 12, s"cold start read $coldReads log files (expected ckpt + tail)")
    assert(filesCold === filesWarm)
    assert(t2.properties("k") === "120")

    // time travel still resolves through the cache
    assert(t2.schemaAt(0).fieldNames.toSeq === region.schema.fieldNames.toSeq)
    assert(t2.commitAt(60).operation === "SET TBLPROPERTIES")
  }

  test("warm tip questions read no log file; a cold load reads the newest checkpoint and its tail") {
    val region = Tables.t(spark, sf, "region")
    val t = GraftTable.createFrom(spark, scratch("nolist"), region)
    (1 to 25).foreach(i => t.setProperties(Map("k" -> i.toString)))
    val reads = GraftTable.logFileReads.get()
    (1 to 12).foreach { i =>
      t.filesAt(); t.schemaAt(); t.properties; t.currentVersion; t.identityHighWatermark
      if (i % 2 == 0) t.setProperties(Map("k" -> s"warm$i"))
      else MergeOps.delete(t, "r_regionkey < 0") // a no-op DELETE commits a version
    }
    assert(GraftTable.logFileReads.get() === reads, "warm tip questions must not read the log")
    assert(t.currentVersion === 38L && t.properties("k") === "warm12")

    // a cold load: the newest checkpoint (v30) and the 8 commits after it
    GraftTable.clearAllCaches()
    val coldReads = GraftTable.logFileReads.get()
    val cold = GraftTable.load(spark, t.path)
    assert(cold.filesAt() === t.filesAt() && cold.properties("k") === "warm12")
    assert(GraftTable.logFileReads.get() - coldReads === 1 + 8)
  }

  test("a cold load finds every tip by probing: 0, 1, around checkpoints and powers of two") {
    val tips = Seq(1, 9, 10, 11) ++ Seq(5, 6, 7).flatMap(k => Seq(-1, 0, 1).map(_ + (1 << k)))
    val t = fileOnlyTable("probe", 0)
    coldMatchesWarm(t, "tip 0")
    (1 to tips.max).foreach { i =>
      commitFile(t, i)
      if (tips.contains(i)) coldMatchesWarm(t, s"tip $i")
    }
    // a `_log` without v0 is an empty log, as a missing one is
    val empty = Paths.get(scratch("probe-empty"), "_log")
    Files.createDirectories(empty)
    Files.write(empty.resolve(f"v${1L}%020d.json"), Files.readAllBytes(
      Paths.get(t.path, "_log", f"v${1L}%020d.json")))
    intercept[IllegalArgumentException](GraftTable.load(spark, empty.getParent.toString))
  }

  test("a checkpoint lost to a crash: the cold load and time travel use the one below it") {
    val t = fileOnlyTable("lostckpt", 25)
    val lost = checkpointFile(t, 20)
    assert(Files.exists(lost))
    val at22 = t.snapshotAt(22)
    Files.delete(lost)
    val reads = GraftTable.logFileReads.get()
    val cold = coldMatchesWarm(t, "lost checkpoint")
    assert(GraftTable.logFileReads.get() - reads === 1 + 15, "checkpoint v10 plus v11..v25")
    val travel = GraftTable.logFileReads.get()
    val s = cold.snapshotAt(22)
    assert(GraftTable.logFileReads.get() - travel === 1 + 12, "checkpoint v10 plus v11..v22")
    assert(s.files.toSeq === at22.files.toSeq && s.properties === at22.properties)
  }

  test("stray commit temp files and the ingest ledger in _log change nothing") {
    val t = fileOnlyTable("stray", 23)
    val log = Paths.get(t.path, "_log")
    Seq(".commit123.tmp", ".commit-9f1c.tmp", ".ckpt77.tmp", "copied_files.txt",
        f"v${99L}%020d.json.tmp")
      .foreach(n => Files.write(log.resolve(n), "{truncated".getBytes("UTF-8")))
    val cold = coldMatchesWarm(t, "stray files")
    commitFile(cold, 24)
    assert(cold.currentVersion === 24L && t.currentVersion === 24L)
  }

  test("commitAt reads one log file; a view refresh reads only the commits it applies") {
    val region = Tables.t(spark, sf, "region")
    val t = fileOnlyTable("commitat", 37)
    GraftTable.clearLogCache(t.path)
    val cold = GraftTable.load(spark, t.path)
    val reads = GraftTable.logFileReads.get()
    assert(cold.commitAt(33).addedFiles === Seq("data/c33/part-0.parquet"))
    assert(GraftTable.logFileReads.get() - reads === 1)
    intercept[IllegalArgumentException](cold.commitAt(38))
    intercept[IllegalArgumentException](cold.commitAt(-1))

    val src = GraftTable.createFrom(spark, scratch("commitat-src"), region)
    val view = IncrementalMv.create(spark, scratch("commitat-mv"), src,
      Seq("r_regionkey"), Seq("r_regionkey"))
    Seq(1, 3).foreach { k =>
      (1 to k).foreach(_ => src.append(region))
      val before = GraftTable.logFileReads.get()
      assert(IncrementalMv.refresh(src, view, Seq("r_regionkey"), Seq("r_regionkey")).incremental)
      assert(GraftTable.logFileReads.get() - before === k, s"refresh after $k appends")
    }
    assert(view.read().agg(sum("cnt")).head().getLong(0) === 5L * 5)
  }

  test("history after a cold load equals history before it") {
    val region = Tables.t(spark, sf, "region")
    val t = GraftTable.createFrom(spark, scratch("history"), region)
    (1 to 12).foreach(i => t.setProperties(Map("k" -> i.toString)))
    MergeOps.delete(t, "r_regionkey = 1")
    t.append(region)
    t.restoreTo(3L)
    val before = t.history.collect().toSeq
    val commitsBefore = t.commits
    assert(before.size === 17)
    GraftTable.clearAllCaches()
    assert(t.history.collect().toSeq === before)
    assert(GraftTable.load(spark, t.path).commits === commitsBefore)
  }

  test("a log deleted and recreated shorter outside the session is reloaded, not extended") {
    val schema = new StructType().add("k", LongType)
    val t = GraftTable.create(spark, scratch("diverge"), schema)
    (1 to 24).foreach(i => t.commit("WRITE", Seq(s"data/old$i/part-0.parquet"), Nil, schema))
    assert(t.currentVersion === 24L && t.filesAt().size === 24)
    // another process drops the log and writes a shorter one in its place
    val log = Paths.get(t.path, "_log")
    GraftTable.listDir(log).foreach(Files.delete)
    Files.delete(log)
    Files.createDirectories(log)
    val fresh = Seq("data/new/part-0.parquet")
    Seq(Commit(0L, 1L, "CREATE TABLE", Map.empty, Nil, Nil, schema.json, Map.empty, 0L, Map.empty),
      Commit(1L, 2L, "WRITE", Map.empty, fresh, Nil, schema.json, Map("p" -> "1"), 0L, Map.empty))
      .foreach(c => Files.write(log.resolve(f"v${c.version}%020d.json"),
        GraftTable.renderCommit(c).getBytes("UTF-8")))
    assert(t.currentVersion === 1L)
    assert(t.filesAt() === fresh.map(f => Paths.get(t.path, f).toString))
    assert(t.properties === Map("p" -> "1"))
    assert(t.commits.map(_.operation) === Seq("CREATE TABLE", "WRITE"))
    // and it takes new commits on the recreated log
    t.commit("WRITE", Seq("data/new/part-1.parquet"), Nil, schema)
    assert(t.currentVersion === 2L && t.filesAt().size === 2)
  }

  test("a historical read(v) replays the log once; a tip read not at all") {
    val region = Tables.t(spark, sf, "region")
    val t = GraftTable.createFrom(spark, scratch("readv"), region)
    t.setProperties(Map("graft.deletionVectors" -> "true"))
    MergeOps.delete(t, "r_regionkey = 1") // a DV commit
    t.append(region)
    val expected = Map(1L -> 5L, 2L -> 5L, 3L -> 4L, 4L -> 9L)
    assert(t.currentVersion === 4L)
    expected.foreach { case (v, rows) =>
      val before = Snapshot.replays.get()
      val df = t.read(v)
      val replays = Snapshot.replays.get() - before
      assert(replays === (if (v == t.currentVersion) 0L else 1L), s"read($v)")
      assert(df.count() === rows, s"read($v)")
    }
  }

  test("a concurrent writer's new commits are picked up incrementally") {
    val region = Tables.t(spark, sf, "region")
    val t = GraftTable.createFrom(spark, scratch("logcache2"), region)
    t.commits // warm the cache
    // second instance (same cache key) appends
    val t2 = GraftTable.load(spark, t.path)
    t2.setProperties(Map("x" -> "1"))
    assert(t.currentVersion === 2L)
    assert(t.properties("x") === "1")
  }

  test("deleteTree evicts caches: a recreate at the same path serves fresh stats") {
    val path = scratch("recreate")
    val nation = Tables.t(spark, sf, "nation")
    val t1 = GraftTable.createFrom(spark, path, nation.filter(col("n_nationkey") < 10))
    // warm the stats cache through the pruning path
    assert(t1.read().filter("n_nationkey = 5").count() === 1L)
    GraftTable.deleteTree(java.nio.file.Paths.get(path))
    // same path, same commit sequence (=> same tip version), DISJOINT key
    // range: a stale cached stats map would prune key 12 away entirely and
    // claim files for key 5
    val t2 = GraftTable.createFrom(spark, path, nation.filter(col("n_nationkey") >= 10))
    assert(t2.read().filter("n_nationkey = 5").count() === 0L)
    assert(t2.read().filter("n_nationkey = 12").count() === 1L)
  }

  test("identity assignment stays dense across appends (footer-count path)") {
    val full = Tables.t(spark, sf, "customer")
    val cust = full.limit(100).drop("c_custkey")
    val t = GraftTable.create(spark, scratch("ident"), full.schema,
      Map("graft.identity.column" -> "c_custkey"))
    t.append(cust)
    t.append(cust)
    val ids = t.read().select("c_custkey").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (1L to 200L))
    assert(t.identityHighWatermark === 200L)
  }

  test("vacuum(retain) reads the checkpoint below the horizon, its tail and the retained commits") {
    val t = fileOnlyTable("vacuum", 59)
    (1 to 59).foreach { i =>
      val f = Paths.get(t.path, s"data/c$i/part-0.parquet")
      Files.createDirectories(f.getParent)
      Files.createFile(f)
    }
    // the reference: every file no version from the horizon on references,
    // by the whole history
    val keepFrom = t.currentVersion - 3
    val referenced = (t.snapshotAt(keepFrom).files.keys ++
      t.commits.filter(_.version > keepFrom).flatMap(_.addedFiles)).toSet
    val expected = (1 to 59).map(i => s"data/c$i/part-0.parquet").filterNot(referenced)
    assert(expected.nonEmpty)

    GraftTable.clearLogCache(t.path)
    val cold = GraftTable.load(spark, t.path)
    val reads = GraftTable.logFileReads.get()
    val deleted = cold.vacuum(3)
    assert(GraftTable.logFileReads.get() - reads <= 1 + 9 + 3,
      "one checkpoint, the commits after it up to the horizon, and the retained commits")
    assert(deleted.map(cold.relPath).sorted === expected.sorted)
  }

  test("a log of another format is refused by every entry point, and nothing is written to it") {
    import spark.implicits._
    val path = scratch("format")
    val t = GraftTable.createFrom(spark, path, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    (1 to 10).foreach(i => t.setProperties(Map("k" -> i.toString)))
    val tip = t.currentVersion
    val log = Paths.get(path, "_log")
    val mapper = new ObjectMapper()
    def rewrite(file: java.nio.file.Path)(edit: ObjectNode => Unit): Unit = {
      val n = mapper.readTree(Files.readAllBytes(file)).asInstanceOf[ObjectNode]
      edit(n)
      Files.write(file, mapper.writeValueAsBytes(n))
    }
    val logFiles = GraftTable.listDir(log)
    assert(logFiles.exists(_.getFileName.toString.startsWith("checkpoint-v")))
    logFiles.foreach(f => assert(mapper.readTree(Files.readAllBytes(f)).get("format").asInt() ===
      GraftTable.LogFormat, s"$f records the log format"))
    def tree(): Seq[String] = GraftTable.walkDir(Paths.get(path)).map(_.toString).sorted
    def refused(format: Int)(body: => Any): Unit = {
      val e = intercept[IllegalStateException](body)
      Seq(path, s"log format $format", s"log format ${GraftTable.LogFormat}")
        .foreach(w => assert(e.getMessage.contains(w), e.getMessage))
    }

    // a log without the field: format 1
    logFiles.foreach(rewrite(_)(_.remove("format")))
    GraftTable.clearAllCaches()
    val before = tree()
    refused(1)(GraftTable.load(spark, path))
    refused(1)(t.read())
    refused(1)(t.append(Seq((3L, "c")).toDF("id", "v")))
    refused(1)(MergeOps.delete(t, "id = 1"))
    refused(1)(GraftTable.load(spark, path)) // no refused state was cached
    assert(tree() === before, "a refused table is not written")

    // a log whose tip was written by a newer format
    logFiles.foreach(rewrite(_)(_.put("format", GraftTable.LogFormat)))
    rewrite(log.resolve(f"v$tip%020d.json"))(_.put("format", 3))
    refused(3)(GraftTable.load(spark, path))
    refused(3)(t.append(Seq((3L, "c")).toDF("id", "v")))
    assert(tree() === before, "a refused table is not written")

    GraftTable.deleteTree(Paths.get(path))
    val fresh = GraftTable.createFrom(spark, path, Seq((9L, "z")).toDF("id", "v"))
    assert(fresh.read().as[(Long, String)].collect().toSeq === Seq((9L, "z")))
  }
}
