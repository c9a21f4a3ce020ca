package graft.tables

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Snapshot reads plan from the commit log: `LogFileIndex` takes the
  * live file list as given, so planning a read starts no listing job,
  * its `_metadata.file_path` matches what a listed read reports (DV
  * records keep anti-joining), and two reads of one snapshot are the
  * same plan for the cache manager. */
class LogFileIndexSpec extends SparkTestBase {

  private def rows(n: Int): DataFrame =
    spark.range(n).select(col("id").as("doc_id"), (col("id") % 7).as("band"),
      concat(lit("doc "), col("id").cast("string")).as("text"))

  /** Table of `10 * nFiles` rows in `nFiles` live files. */
  private def manyFiles(tag: String, nFiles: Int,
      props: Map[String, String] = Map.empty): GraftTable = {
    val t = GraftTable.create(spark, scratch(tag), rows(0).schema, props)
    t.append(rows(10 * nFiles).repartition(nFiles))
    t
  }

  /** Spark jobs started on this thread while `body` runs. Listener
    * events arrive asynchronously but in order, so a marker job run
    * after `body` flushes every job start `body` caused. */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"lfi-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(group + "-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains(group + "-end"), "listener never saw the marker job")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("planning a read of 45 live files starts no Spark job") {
    val t = manyFiles("lfi-many", 45)
    assert(t.filesAt().size == 45)
    val jobs = jobsDuring {
      t.read().filter(col("band") === 3).queryExecution.executedPlan
    }
    assert(jobs == 0, s"read planning must not list the files: $jobs job(s)")
    assert(t.read().count() == 450)
  }

  test("planning a read of a table with 40 live DV files starts no Spark job") {
    val t = manyFiles("lfi-dv", 4, Map("graft.deletionVectors" -> "true"))
    // one DV sidecar per deleted row, as 40 single-row DELETEs leave them
    val dvFiles = (0 until 40).flatMap { i =>
      t.writeDv(t.readFilesWithPos(t.filesAt()).filter(col("doc_id") === i)
        .select(GraftTable.DvFileCol, GraftTable.DvPosCol).coalesce(1))._1
    }
    t.commit("DELETE", Nil, Nil, t.schemaAt(), addedDv = dvFiles)
    assert(t.dvAt().size == 40)
    val jobs = jobsDuring(t.read().queryExecution.executedPlan)
    assert(jobs == 0, s"read planning must not list the files: $jobs job(s)")
    assert(t.read().count() == 0)
  }

  test("_metadata.file_path matches a listed read under __part_k=v and a space") {
    val t = GraftTable.create(spark, scratch("lfi space"), rows(0).schema,
      Map("graft.partitionBy" -> "band", "graft.deletionVectors" -> "true"))
    t.append(rows(70))
    val files = t.filesAt()
    assert(files.exists(_.contains("/__part_band=")) && files.forall(_.contains("lfi space")))
    val fromIndex = t.readFilesWithPos(files).select(GraftTable.DvFileCol)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    val listed = spark.read.option("recursiveFileLookup", "true").parquet(files: _*)
      .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(fromIndex == listed)
    assert(fromIndex.size == files.size)
    // a DV record keyed the way a listed read named the file still hides
    // its row through the index
    val dvRows = spark.read.option("recursiveFileLookup", "true").parquet(files: _*)
      .filter(col("doc_id") === 12)
      .select(col("_metadata.file_path").as(GraftTable.DvFileCol),
        col("_metadata.row_index").as(GraftTable.DvPosCol))
    val (dvFiles, n) = t.writeDv(dvRows)
    assert(n == 1)
    t.commit("DELETE", Nil, Nil, t.schemaAt(), addedDv = dvFiles)
    assert(t.read().filter(col("doc_id") === 12).isEmpty)
    assert(t.read().count() == 69)
  }

  test("plain reads scan no provenance metadata; position reads and DV tables do") {
    val plain = manyFiles("lfi-plain", 2)
    def scanOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    assert(!scanOf(plain.read().select("doc_id")).contains("row_index"),
      scanOf(plain.read().select("doc_id")))
    assert(!scanOf(plain.readFiles(plain.filesAt())).contains("file_path"))
    assert(scanOf(plain.readFilesWithPos(plain.filesAt())).contains("row_index"))
    val dv = manyFiles("lfi-plaindv", 2, Map("graft.deletionVectors" -> "true"))
    MergeOps.delete(dv, "doc_id = 3")
    assert(scanOf(dv.read().select("doc_id")).contains("row_index"))
    assert(dv.read().columns.toSeq == Seq("doc_id", "band", "text"))
    assert(dv.read().count() == 19)
  }

  test("a non-nullable column added by a later append reads as null in older files") {
    val t = GraftTable.create(spark, scratch("lfi-evolve"), rows(0).schema)
    t.append(rows(10))
    t.append(rows(10).withColumn("extra", col("doc_id") + 1))
    assert(!t.schemaAt()("extra").nullable, "the fixture must declare the column non-nullable")
    assert(t.read().filter(col("extra").isNull).count() == 10)
  }

  test("two reads of one version are the same plan and share a persist") {
    val t = manyFiles("lfi-cache", 3)
    t.append(rows(10))
    val v = t.currentVersion
    val first = t.read(v)
    val second = t.read(v)
    assert(first.sameSemantics(second))
    assert(!first.sameSemantics(t.read(v - 1)), "another version must not match")
    first.persist()
    try {
      assert(first.count() == 40)
      val hits = second.queryExecution.withCachedData.collect {
        case r: InMemoryRelation => r
      }
      assert(hits.nonEmpty,
        s"second read must hit the persist:\n${second.queryExecution.withCachedData}")
      assert(second.count() == 40)
    } finally first.unpersist(blocking = true)
  }
}
