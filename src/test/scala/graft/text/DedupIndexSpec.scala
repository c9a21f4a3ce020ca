package graft.text

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}
import graft.tables.GraftTable

/** Persisted dedup index semantics: reopen-from-storage equivalence to
  * the in-session incremental pipeline, append maintenance (a dedup
  * after append sees earlier batches), one posting file per one-split
  * append that leaves the index's properties as built, one index version
  * per append with the superseded postings still readable one version
  * back, two index scans and two SQL executions per probe, one for a
  * fresh-id append, and the n-from-properties contract. */
class DedupIndexSpec extends SparkTestBase {
  import spark.implicits._

  /** Records a probe may read per batch posting beyond its index scans:
    * the batch's cached shingle rows and the candidate cut. */
  private val BatchReadsPerRow = 4

  private def d = Tables.t(spark, sf, "documents").select("doc_id", "text")

  /** What the Spark work started on this thread while `body` ran did. */
  private final case class Observed(recordsRead: Long, sqlExecutions: Int)

  /** Input records (file scans and cached-block reads) of the tasks of
    * the Spark jobs, and the SQL executions (nested ones included),
    * started on this thread while `body` runs. Listener events arrive in
    * order, so a marker job run after `body` flushes every event `body`
    * caused. */
  private def observe(body: => Unit): Observed = {
    val group = s"dedup-obs-${java.util.UUID.randomUUID()}"
    val stageGroup = new ConcurrentHashMap[Int, String]()
    val read = new ConcurrentHashMap[String, java.lang.Long]()
    val execs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics))
          read.merge(g, m.inputMetrics.recordsRead, (a, b) => a + b)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          execs.incrementAndGet()
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!read.containsKey(group + "-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(read.containsKey(group + "-end"), "listener never saw the marker job")
      Observed(read.getOrDefault(group, 0L), execs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def batchOf(mod: Int, idOffset: Long, tail: String) =
    d.filter(col("doc_id") % mod === 0)
      .select((col("doc_id") + idOffset).as("doc_id"),
        concat(col("text"), lit(tail)).as("text"))

  test("a reopened index dedups identically to the in-session pipeline") {
    val path = scratch("dedupidx1")
    DedupIndex.build(d, path, n = 5)
    val batch = batchOf(15, 500000, " tail x")
    val viaTable = DedupIndex.dedupBatch(GraftTable.load(spark, path), batch, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val inSession = DedupOps.incrementalJaccardPairs(
        DedupOps.shingleTable(d, 5), batch, n = 5, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaTable == inSession)
    assert(viaTable.nonEmpty, "planted near-copies must be found")
  }

  test("append maintains the index: later batches dedup against earlier ones") {
    val path = scratch("dedupidx2")
    DedupIndex.build(d, path, n = 5)
    val t = GraftTable.load(spark, path)
    val first = batchOf(30, 500000, " tail y")
    DedupIndex.append(t, first)
    // second batch = near-copies of the FIRST batch (ids 700000+): only
    // an index that absorbed the append can pair them
    val second = first.select((col("doc_id") + 200000).as("doc_id"),
      concat(col("text"), lit(" z")).as("text"))
    val pairs = DedupIndex.dedupBatch(t, second, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    val vsFirst = pairs.filter { case (d1, d2, _) =>
      d1 >= 500000 && d1 < 700000 && d2 >= 700000 }
    assert(vsFirst.nonEmpty,
      s"appended batch postings must be probe-visible; got ${pairs.take(5)}")
  }

  test("append supersedes a re-ingested id instead of merging versions") {
    val path = scratch("dedupidx5")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    DedupIndex.build(corpus, path, n = 3)
    val t = GraftTable.load(spark, path)
    // doc 1 re-ingested with doc 2's text: its old postings must vanish
    DedupIndex.append(t, Seq((1L, "one two three four five six"))
      .toDF("doc_id", "text"))
    // probe with a copy of that text: BOTH docs must pair at exactly 1.0
    // — a merged v1+v2 shingle set for doc 1 would dilute its jaccard
    val probe = Seq((9L, "one two three four five six")).toDF("doc_id", "text")
    val pairs = DedupIndex.dedupBatch(t, probe, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs == Set((1L, 9L, 1.0), (2L, 9L, 1.0)), s"got $pairs")
  }

  test("ingest-loop compaction bounds file count with probes still green") {
    // the q218 production loop accretes posting files with every
    // micro-batch append; periodic OPTIMIZE of the index table must
    // compact them and leave probe results identical
    val path = scratch("dedupidx6")
    val corpus = d.filter(col("doc_id") < 100)
    val t = DedupIndex.build(corpus, path, n = 5)
    val built = t.filesAt().size
    (0 until 5).foreach { i =>
      DedupIndex.append(t, batchOf(7, 500000 + i * 10000, s" batch$i tail"))
    }
    val accreted = t.filesAt().size
    assert(accreted >= built + 5,
      s"appends should accrete files before compaction, got $accreted")
    val probe = batchOf(7, 800000, " batch0 tail")
    val before = DedupIndex.dedupBatch(t, probe, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    graft.tables.Maintenance.optimize(t)
    val after = t.filesAt().size
    // a few-KB index is one target-size file
    assert(after == 1, s"compaction must bound files, got $after (from $accreted)")
    val reprobe = DedupIndex.dedupBatch(GraftTable.load(spark, path), probe, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(reprobe == before, "compaction must not change probe results")
    assert(reprobe.nonEmpty)
  }

  test("an append of a one-partition batch adds exactly one posting file") {
    val t = DedupIndex.build(d.limit(200), scratch("dedupidx7"), n = 5)
    assert(t.schemaAt().fieldNames.toSeq == Seq("doc_id", "shingle"))
    assert(t.partitionColumns.isEmpty && !t.properties.contains("graft.dedup.bands"),
      s"no layout properties expected, got ${t.properties}")
    val before = t.filesAt().size
    val built = t.properties
    DedupIndex.append(t, batchOf(15, 500000, " tail a").coalesce(1))
    assert(t.filesAt().size == before + 1,
      s"one batch split must append one file, got ${t.filesAt().size - before}")
    assert(t.properties == built, "append must leave the index's properties as build wrote them")
  }

  test("a probe scans the index twice: candidate join and one verify cut") {
    val t = DedupIndex.build(d, scratch("dedupidx8"), n = 5)
    val indexRows = t.read().count()
    // an in-memory batch: its rows are read from no file
    val batch = batchOf(50, 500000, " tail r").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))).toDF("doc_id", "text")
    val batchRows = DedupOps.shingleTable(batch, 5).count()
    var pairs = 0L
    val read = observe {
      pairs = DedupIndex.dedupBatch(t, batch, 0.5).count()
    }.recordsRead
    assert(pairs > 0, "planted near-copies must be found")
    assert(read <= 2 * indexRows + BatchReadsPerRow * batchRows,
      s"read $read records for $indexRows index and $batchRows batch postings")
  }

  test("every append commits exactly one index version, fresh or superseding") {
    val t = DedupIndex.build(d.limit(200), scratch("dedupidx10"), n = 5)
    val v0 = t.currentVersion
    DedupIndex.append(t, batchOf(15, 500000, " tail f").coalesce(1))
    assert(t.currentVersion == v0 + 1, s"fresh ids: ${t.commits.drop(v0.toInt + 1).map(_.operation)}")
    val fresh = t.commitAt(v0 + 1)
    assert(fresh.addedFiles.size == 1 && fresh.removedFiles.isEmpty)
    // re-ingest one built id with another doc's text
    val Array((id, _), (_, text)) = d.orderBy("doc_id").limit(2).as[(Long, String)].collect()
    DedupIndex.append(t, Seq((id, text)).toDF("doc_id", "text"))
    assert(t.currentVersion == v0 + 2, s"colliding id: ${t.commits.drop(v0.toInt + 1).map(_.operation)}")
    val sup = t.commitAt(v0 + 2)
    assert(sup.operation == "DEDUP INDEX APPEND" && sup.removedFiles.nonEmpty,
      s"the superseded postings must leave in the same commit: $sup")
    val now = t.read().filter(col("doc_id") === id).select("shingle").as[Long].collect().toSet
    assert(now == DedupOps.shingleTable(Seq((id, text)).toDF("doc_id", "text"), 5)
      .select("shingle").as[Long].collect().toSet)
  }

  test("a superseding append on a DV, change-feed index is one version with its deletes in the feed") {
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val t = DedupIndex.build(corpus, scratch("dedupidx13"), n = 3)
    t.setProperties(Map("graft.deletionVectors" -> "true", "graft.enableChangeDataFeed" -> "true"))
    val v0 = t.currentVersion
    DedupIndex.append(t, Seq((1L, "one two three four five six")).toDF("doc_id", "text"))
    val c = t.commitAt(v0 + 1)
    assert(t.currentVersion == v0 + 1 && c.addedDvFiles.nonEmpty && c.removedFiles.isEmpty, s"$c")
    assert(t.read().filter(col("doc_id") === 1L).count() == 4 && t.read().count() == 8)
    val feed = t.changes(v0 + 1).groupBy("_change_type").count().as[(String, Long)].collect().toMap
    assert(feed == Map("insert" -> 4L, "delete" -> 4L), s"$feed")
  }

  test("the version before a superseding append still reads the old postings") {
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val t = DedupIndex.build(corpus, scratch("dedupidx11"), n = 3)
    def grams(v: Long) = t.read(v).filter(col("doc_id") === 1L)
      .select("shingle").as[Long].collect().toSet
    val old = grams(t.currentVersion)
    DedupIndex.append(t, Seq((1L, "one two three four five six")).toDF("doc_id", "text"))
    val v = t.currentVersion
    assert(grams(v - 1) == old && old.size == 4, s"time travel lost the old postings: ${grams(v - 1)}")
    assert(grams(v) == t.read(v).filter(col("doc_id") === 2L).select("shingle").as[Long].collect().toSet)
    assert(t.read(v).count() == 8 && t.read(v - 1).count() == 8)
  }

  test("a probe is two SQL executions and a fresh-id append is one") {
    val t = DedupIndex.build(d, scratch("dedupidx12"), n = 5)
    val batch = batchOf(50, 500000, " tail s").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))).toDF("doc_id", "text")
    DedupIndex.dedupBatch(t, batch, 0.5).count() // warm: first-use planning jobs
    val probe = observe { DedupIndex.dedupBatch(t, batch, 0.5) }.sqlExecutions
    assert(probe >= 1 && probe <= 2, s"a probe must be at most two actions, ran $probe SQL executions")
    val append = observe { DedupIndex.append(t, batch) }.sqlExecutions
    assert(append == 1, s"a fresh-id append must be the posting write alone, ran $append")
  }

  test("a non-index table is rejected with a clear error") {
    val path = scratch("dedupidx4")
    GraftTable.createFrom(spark, path, d.limit(5))
    val err = intercept[IllegalArgumentException] {
      DedupIndex.dedupBatch(GraftTable.load(spark, path),
        batchOf(15, 500000, " t"), 0.5)
    }
    assert(err.getMessage.contains("graft.dedup.n"))
  }
}
