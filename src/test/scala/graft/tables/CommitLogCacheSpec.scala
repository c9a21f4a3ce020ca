package graft.tables

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.{SparkTestBase, Tables}

/** Commit-log caching + checkpointing: after warm-up, table operations do
  * zero physical log reads; a cold start reads checkpoint + tail instead
  * of every v*.json. The tip snapshot kept beside the parsed log, extended
  * commit by commit, equals a full replay at every version. */
class CommitLogCacheSpec extends SparkTestBase {

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
        assert(view.filesAt(v) === files.map(f => Paths.get(view.path, f).toString), s"$tag files@$v")
        assert(view.dvAt(v) === dvs.map(f => Paths.get(view.path, f).toString), s"$tag dvs@$v")
        val stats = files.map(f => f -> statsOf.getOrElse(f, Map.empty))
        assert(view.statsAt(v).toSeq === stats, s"$tag stats@$v")
        val replayed = Snapshot.replay(view.commits.takeWhile(_.version <= v))
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

      // cold load through the newest checkpoint plus its tail
      val ckpt = GraftTable.listDir(Paths.get(t.path, "_log")).map(_.getFileName.toString)
        .filter(_.startsWith("checkpoint-v")).map(_.stripPrefix("checkpoint-v").stripSuffix(".json").toLong)
      assert(ckpt.nonEmpty)
      GraftTable.clearLogCache(t.path)
      val reads = GraftTable.logFileReads.get()
      val cold = GraftTable.load(spark, t.path)
      assert(cold.currentVersion === tip)
      assert(GraftTable.logFileReads.get() - reads === 1 + tip - ckpt.max,
        "a cold load reads the newest checkpoint plus its tail")
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
    assert(t1.readWhere("n_nationkey = 5").count() === 1L)
    GraftTable.deleteTree(java.nio.file.Paths.get(path))
    // same path, same commit sequence (=> same tip version), DISJOINT key
    // range: a stale cached stats map would prune key 12 away entirely and
    // claim files for key 5
    val t2 = GraftTable.createFrom(spark, path, nation.filter(col("n_nationkey") >= 10))
    assert(t2.readWhere("n_nationkey = 5").count() === 0L)
    assert(t2.readWhere("n_nationkey = 12").count() === 1L)
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
}
